"""The session factory sizes Spark's generated-code cache to the
engine's working set, so a warm pass reuses the classes an earlier
pass compiled instead of recompiling them."""

from __future__ import annotations

from conftest import SF_DIR

from clinical_trials_data_pipeline_analyis_spark.session import CODEGEN_CACHE_ENTRIES
from clinical_trials_data_pipeline_analyis_spark.suite import spark_queries

#: the queries of the ``suite_operators`` benchmark workload: one pass
#: generates more distinct classes than Spark's default cache of 100
WARM_QUERIES = ("a21", "a45", "a90")


def compile_count(spark) -> int:
    """Janino compilations so far in this JVM (no job is launched)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_rerun_reuses_generated_classes(spark):
    """Building and collecting the workload a second time compiles
    (almost) nothing: every class the first run generated is still
    cached. A few may be new, for plans whose generated code embeds a
    value that differs between runs."""
    qs = spark_queries()
    names = [n for n in qs if n.split("_", 1)[0] in WARM_QUERIES]
    assert len(names) == len(WARM_QUERIES)

    def run() -> int:
        c0 = compile_count(spark)
        for name in names:
            qs[name](spark, SF_DIR).collect()
        return compile_count(spark) - c0

    run()
    assert run() <= 10

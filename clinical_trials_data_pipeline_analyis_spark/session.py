"""SparkSession factory.

Centralizes the session configuration used by tests, ``bench.py`` and ad-hoc
runs. The driver contract functions in ``__spark_entry__.py`` accept an
externally-owned session and never call this, so every query in the suite
must also behave correctly under a default-config session (in particular
under Spark 4's ANSI mode: we use ``try_cast``/guarded division everywhere
a failure is possible).

The generated-code cache is sized to the engine's working set. Spark
keeps 100 compiled whole-stage classes by default, while one pass over
the benchmark's ``medallion_csv`` operations generates 124 distinct
classes and one ``suite_operators`` pass 176, so the LRU cache thrashes
and every warm pass recompiles most of them in Janino (and then runs
them interpreted until the JIT picks them up again). A cold pass that
collects all 127 registered queries at sf0.001 compiles 3,095 times at
the default size for 1,855 distinct classes. ``CODEGEN_CACHE_ENTRIES``
leaves ~2.2x headroom over that; the classes live in JVM metaspace,
which held 194 MB after that pass against 181 MB at the default size.
Peak process RSS of a traced ``medallion_csv`` run on a 4-core host
does not move with the size either: 2,456-3,695 MB at 4,096 entries
against 2,491-3,555 MB at 100, four runs each.
The conf is static: it is fixed when the first session of the JVM
starts, so a session that ``getOrCreate`` returns from an earlier
builder keeps that builder's value, and an externally-owned session
(``__spark_entry__.py``) keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: ~2.2x the 1,855 distinct
#: generated classes of a full 127-query pass (see the module docstring).
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "clinical-trials-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are chosen for the local[] test/bench harness but every knob
    scales to a real cluster:

    - AQE on: runtime re-planning (partition coalescing, skew-join splitting,
      dynamic broadcast) is the main defense against skew at 100 TB.
    - shuffle.partitions: 32 locally; on a cluster this should be ~2-3x the
      total executor cores (or left to AQE's coalescing with a high initial
      value).
    - UTC session timezone: reproducible date/timestamp semantics.
    - driver memory: local[] mode runs everything in the driver JVM, whose
      1g default heap is shared by all 32 task threads — scale runs (50k+
      vector crossJoin scoring) OOM there. 8g default here; override via
      SPARK_GRAFT_DRIVER_MEM. Only effective at JVM creation (ignored by
      getOrCreate on an existing session, like all JVM-level settings).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]"
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        # If a caller upgrades lineage truncation to RELIABLE mode by
        # configuring a checkpoint dir (see checkpoint.cut_lineage), the
        # iterative operators write checkpoint files per loop round;
        # without the reference-tracking cleaner those files outlive
        # their frames and the directory grows without bound. No-op
        # when no checkpoint dir is ever set (the local[] default).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Parquet scans: 128MB splits are the right granularity for the
        # medallion tables both locally and on a cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Arrow for any toPandas()/applyInPandas boundary (multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Warm passes reuse generated classes instead of recompiling them.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

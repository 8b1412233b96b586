"""BENCH harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Emission contract (the driver captures only the last ~2,000 chars of
stdout and parses the FINAL line as JSON, so the summary must be small):

- one verbose JSON line per query as it finishes:
  {"query": full_name, "sec": t, "rows": n}  — these are for
  humans / logs (``rows`` is the materialized count);
- the full per-query record is also written to ``bench_full.json``
  next to this script (or to ``$SPARK_GRAFT_BENCH_OUT``);
- the LAST stdout line is ONE compact JSON summary
  {"metric":"suite_wall_clock","value":total,"unit":"sec",
   "queries":{short: sec},"sf":...,"calib_sec":...}
  where ``short`` is the query-id prefix (e.g. ``a21``, ``q06``,
  ``x05``) — unique across the suite and ~12 bytes per entry, keeping
  the line well under the tail-capture limit at 127 queries. If the
  line would still exceed the limit, the "queries" map is dropped and
  "queries_truncated": true marks the omission (full map remains in
  ``bench_full.json``).

Timing method — one, for every row: cached tables and the JVM heap are
cleared outside the timed window, then the query runs twice
back to back. Each sample times construction (building the DataFrame,
which for the iterative operators launches guard and loop jobs) and
execution (a count()-style full materialization) separately. The filed
number is the smaller sample total; ``bench_full.json`` keeps both
totals plus the construct/execute split, row count and Janino compile
count (``compiles``) of the filed sample, so every row carries its own
spread.

``SPARK_GRAFT_ONLY=a21,a45 python bench.py`` runs the matching subset
(substring match per token) with the same method, in a fresh process.

The summary also carries ``calib_sec`` — a fixed deterministic JVM-side
workload (``calibrate``) timed each run. Dividing per-query times by the
ratio of two runs' calib_sec normalizes away host-speed differences.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from their own path, which
# Spark builds from PYTHONPATH when the JVM starts: without this a query
# with a Python UDF fails in the workers unless run from the repo root.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from clinical_trials_data_pipeline_analyis_spark.session import get_spark
from clinical_trials_data_pipeline_analyis_spark.suite import spark_queries

HEADLINE = [
    "q01_pricing_summary",
    "q05_best_priority_agg",
    "q06_opportunity_rank",
    "q09_window_dedup",
    "q10_star_role_playing_dates",
    "q13_percentile_caps",
    "x01_dedup_exact",
    "x03_token_count",
    "x04_text_quality",
]


def short_id(name: str) -> str:
    """Query-id prefix before the first underscore (a21, q06, x05)."""
    return name.split("_", 1)[0]


def calibrate(spark) -> float:
    """Seconds for a fixed, deterministic JVM-side workload.

    xxhash64 over spark.range, whole-stage codegen, no I/O: identical
    code runs uniformly slower on a slower or busier host, which
    per-query rows alone cannot tell from a regression. Divide times by
    the calib ratio of two runs before comparing them.
    """
    c0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(cast(xxhash64(id) as double)) as s"  # double: ANSI-safe sum
    ).collect()
    return round(time.perf_counter() - c0, 4)


def compile_count(spark) -> int:
    """Janino compilations so far in this JVM, from Spark's
    ``CodegenMetrics`` counter; reading it launches no job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def warm(spark, qs, sf_dir: str, first: str) -> None:
    """Pay session startup and the Python-worker spinup before timing.

    Running one query warms the JVM and file listing; the mapInPandas
    warms the Arrow path, whose one-time worker spinup (~1.5s) would
    otherwise land on the first Arrow query in run order. No full-suite
    warm pass is needed: the session's codegen cache holds a whole
    suite's generated classes (``session.CODEGEN_CACHE_ENTRIES``), so
    each row's second sample reuses what its first one compiled.
    """
    qs[first](spark, sf_dir).count()
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()


def best_of_2(spark, build, sf_dir: str) -> dict:
    """Time ``build`` twice on a cleared heap; file the faster sample.

    Clearing cached tables and collecting garbage between rows keeps
    each row from paying for its predecessors' broadcast blocks and
    shuffle state in one long-lived local[] JVM. Generated classes stay
    on purpose: the codegen cache is sized to the suite's working set,
    so a row reuses the classes earlier rows and its own first sample
    compiled. ``compiles`` is the filed sample's Janino compile count.
    """
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    samples = []
    for _ in range(2):
        c0 = compile_count(spark)
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.count()
        t2 = time.perf_counter()
        samples.append((t1 - t0, t2 - t1, rows, compile_count(spark) - c0))
    construct, execute, rows, compiles = min(samples, key=lambda s: s[0] + s[1])
    return {
        "sec": round(construct + execute, 4),
        "samples": [round(c + e, 4) for c, e, _, _ in samples],
        "construct_s": round(construct, 4),
        "execute_s": round(execute, 4),
        "rows": rows,
        "compiles": compiles,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    qs = spark_queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        toks = [t.strip() for t in only.split(",") if t.strip()]
        names = [n for n in names if any(t in n for t in toks)]
        if not names:
            raise SystemExit(f"SPARK_GRAFT_ONLY={only!r} matched no queries")

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, qs, sf_dir, names[0])
    calib_sec = calibrate(spark)

    record: dict[str, dict] = {}
    for name in names:
        r = record[name] = best_of_2(spark, qs[name], sf_dir)
        print(json.dumps({"query": name, "sec": r["sec"], "rows": r["rows"]}))
    timings = {n: r["sec"] for n, r in record.items()}

    summary = {
        "metric": "suite_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calib_sec": calib_sec,
    }
    out_json = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(ROOT, "bench_full.json")
    )
    with open(out_json, "w") as f:
        json.dump({**summary, "queries": record}, f, indent=1, sort_keys=True)

    compact = {
        **summary,
        "queries": {short_id(n): round(t, 3) for n, t in timings.items()},
    }
    line = json.dumps(compact, separators=(",", ":"))
    # Hard guard: the driver tail-captures ~2,000 chars; never exceed it.
    if len(line) > 1900:
        compact.pop("queries")
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
        print(
            "bench: compact summary exceeded 1900 chars; per-query map "
            "dropped from the final line (see bench_full.json)",
            file=sys.stderr,
        )
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()

"""2.5M-vector rung: the SemDeDup broadcast->shuffle switch where it
BINDS (VERDICT r10 ask #4).

``SEMANTIC_DEDUP_BROADCAST_LIMIT`` (2M rows) gates the pair scan's join
strategy: broadcast below, cell-keyed repartition join above. The 1M
rung stays under it, so until this rung the cell-keyed path had only
equality tests below the limit — the same corpus-sized-model risk class
the 1M rung retired for RHP band bits and SemDeDup k. This leg runs the
SHIPPED auto path (``semdedup_auto_k(2.5M)`` -> k=2048 centroids,
default budget ON, default broadcast_limit) on 2,500,000 vectors from
the same generator geometry (Zipf cells, 5% dup chains), asserting
in-leg that:

- the corpus row count exceeds the broadcast limit (the switch binds);
- auto-k resolves 2048 (ceil(2.5M/2000)=1250 -> next pow2);
- the candidate budget does NOT fire (auto-k provisioning keeps
  sigma n(n-1)/2 under ``MAX_SEMDEDUP_CANDIDATE_ROWS``).

The cell-keyed join's PLAN shape (hashpartitioning on the cell key,
no broadcast of the corpus side) is pinned at unit scale by
``tests/test_plan_shapes.py::test_semdedup_shuffle_path_plan`` — this
leg proves COMPLETION at a rung where the broadcast path would carry a
~750 MB build side.

One process per leg (the 1M rung's lesson: accumulated session state
tips large checkpoint jobs into UNABLE_TO_ACQUIRE_MEMORY). Usage:
    python scripts/bench_2m5_rung.py [--dir testdata_2m5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

N_VECS = 2_500_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(REPO, "testdata_2m5"))
    args = ap.parse_args()

    os.makedirs(args.dir, exist_ok=True)
    vec_path = os.path.join(args.dir, "embeddings.parquet")
    import pyarrow.parquet as pq
    from bench_ann_scale import gen_embeddings

    if not os.path.exists(vec_path) or pq.read_metadata(vec_path).num_rows != N_VECS:
        t0 = time.time()
        gen_embeddings(vec_path, N_VECS)
        print(f"generated {N_VECS} embeddings in {time.time()-t0:.1f}s", flush=True)

    # 96g on the 128 GiB host: the first 48g attempt died in the CC
    # loop's labels aggregate (AGGREGATE_OUT_OF_MEMORY) while the
    # symmetrized edge list sat DESERIALIZED in the storage pool — the
    # code fix (serialized edge checkpoints, dedup.py
    # ``_EDGE_CHECKPOINT_LEVEL``) is the real remedy; the larger heap
    # gives the leg the same ~40 B/vector-of-heap ratio the 1M/32g leg
    # had, with room for the 2.5x edge volume.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "96g")
    import logging

    from pyspark.sql import functions as F

    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        SEMANTIC_DEDUP_BROADCAST_LIMIT,
        semantic_dedup,
        semdedup_auto_k,
    )
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _EMB_DIM,
        _SEMDEDUP_THRESHOLD,
    )

    assert N_VECS > SEMANTIC_DEDUP_BROADCAST_LIMIT, (
        "rung no longer exercises the shuffle path — the broadcast limit "
        f"moved ({SEMANTIC_DEDUP_BROADCAST_LIMIT})"
    )
    k_auto = semdedup_auto_k(N_VECS)
    assert k_auto == 2048, f"semdedup_auto_k(2.5M) moved: {k_auto}"

    # Capture the pair-scan budget number the guard computes anyway
    # (sigma n(n-1)/2) — the leg's candidate volume, for the record.
    budget_lines: list[str] = []

    class _Capture(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            budget_lines.append(record.getMessage())

    sim_log = logging.getLogger("clinical_trials_data_pipeline_analyis_spark.similarity")
    sim_log.setLevel(logging.INFO)
    sim_log.addHandler(_Capture())

    spark = get_spark(app_name="bench-2m5-rung")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(vec_path)
    emb.count()  # warm footers/page cache outside the timed leg

    calib = calibrate(spark)

    cent = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * k_auto))
    # Construction sits INSIDE the timed window (semantic_dedup
    # materializes eagerly: localCheckpoint + the CC loop run jobs
    # before the final count).
    t0 = time.perf_counter()
    out = semantic_dedup(emb, cent, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM)
    n = out.count()
    kept = out.filter(F.col("kept") == 1).count()
    sec = round(time.perf_counter() - t0, 1)
    print(
        json.dumps(
            {
                "metric": "rung_2m5_semdedup_shuffle_path",
                "vecs": N_VECS,
                "k_auto": k_auto,
                "broadcast_limit": SEMANTIC_DEDUP_BROADCAST_LIMIT,
                "sec": sec,
                "rows": n,
                "kept": kept,
                "calib_sec": calib,
                "budget_log": budget_lines,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

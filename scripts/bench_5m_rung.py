"""5M-vector rung: the shipped auto-sizing paths at their next
resolution point.

At 5,000,000 vectors (same generator/geometry as the 1M/2.5M rungs —
Zipf cells, 5% dup chains) the corpus-sized models resolve to values no
prior rung produced:

- ``rhp_auto_bits(5M, bands=4)`` = **68 bits (17-bit bands)** — the 1M
  rung ran 14-bit bands, the law's first step past the 16-bit band
  space (2^17 buckets/band);
- ``semdedup_auto_k(5M)`` = **4096 centroids**, deep in the
  cell-keyed-shuffle regime (SEMANTIC_DEDUP_BROADCAST_LIMIT = 2M) with
  the large-k flat-dot coarse assign (IVF_ASSIGN_FLAT_MIN_K = 512)
  carrying 4096 dots per row.

One leg per process (the 1M rung measured why: accumulated session
state tips checkpoint jobs into UNABLE_TO_ACQUIRE_MEMORY at rungs a
fresh session clears).

Usage:
    python scripts/bench_5m_rung.py --leg a53_rhp_auto [--dir testdata_5m]
    python scripts/bench_5m_rung.py --leg a45_auto_k   [--dir testdata_5m]
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

N_VECS = 5_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(REPO, "testdata_5m"))
    ap.add_argument(
        "--leg",
        choices=["a53_rhp_auto", "a53_rhp_min_recall", "a45_auto_k"],
        required=True,
    )
    args = ap.parse_args()

    os.makedirs(args.dir, exist_ok=True)
    vec_path = os.path.join(args.dir, "embeddings.parquet")
    import pyarrow.parquet as pq
    from bench_ann_scale import gen_embeddings

    if not os.path.exists(vec_path) or pq.read_metadata(vec_path).num_rows != N_VECS:
        t0 = time.time()
        gen_embeddings(vec_path, N_VECS)
        print(f"generated {N_VECS} embeddings in {time.time()-t0:.1f}s", flush=True)

    # 1 GB per task thread, the ratio the 1M/2.5M rungs settled on.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from pyspark.sql import functions as F

    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_auto_bits,
        rhp_near_duplicates,
        semantic_dedup,
        semdedup_auto_k,
    )
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _EMB_DIM,
        _SEMDEDUP_THRESHOLD,
    )

    spark = get_spark(app_name=f"bench-5m-{args.leg}")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(vec_path)
    assert emb.count() == N_VECS

    calib = calibrate(spark)

    escalation = None
    if args.leg.startswith("a53_rhp"):
        # the law must resolve the NEW 17-bit-band geometry here
        assert rhp_auto_bits(N_VECS, bands=4) == 68, rhp_auto_bits(N_VECS, bands=4)
        # a53_rhp_min_recall (round 13, VERDICT r12 ask #6): the same
        # auto call under a min_recall=0.90 floor. Phase 1's bit-widen
        # lands 19-bit x 4 bands (fits the budget, Charikar 0.8841 —
        # BELOW the floor), so phase 2's band-first repair must take
        # over: 19-bit x 5 bands is the widest-recall geometry the
        # decay model predicts fits (~484M of the 500M budget, recall
        # 0.9325). The leg asserts the repair path actually ran
        # (chosen_bands > law_bands) — the r12 leg showed the estimate
        # at scale; this one shows the REPAIR at scale.
        floor = {"min_recall": 0.90} if args.leg == "a53_rhp_min_recall" else {}
        t0 = time.perf_counter()
        n = rhp_near_duplicates(
            emb, 0.30, n_bits="auto", bands=4, dim=_EMB_DIM,
            row_count_hint=N_VECS, **floor,
        ).count()
        # Round 12: the escalation decision is part of the leg's output
        # — chosen geometry, measured masses, probe count, and the
        # Charikar recall estimate at the dup cosine (VERDICT r11 #1).
        from clinical_trials_data_pipeline_analyis_spark.operators import (
            similarity,
        )

        geom = similarity.LAST_ESCALATION
        if args.leg == "a53_rhp_min_recall":
            assert geom is not None and geom.bands > geom.law_bands, (
                "the min_recall leg exists to demonstrate the band-first "
                f"repair; got {geom}"
            )
            assert geom.recall_estimate >= 0.90, geom.recall_estimate
        if geom is not None:
            escalation = {
                "law_n_bits": geom.law_n_bits,
                "law_bands": geom.law_bands,
                "law_candidates": geom.law_estimate,
                "chosen_n_bits": geom.n_bits,
                "chosen_bands": geom.bands,
                "chosen_candidates": geom.candidate_estimate,
                "probes": [list(p) for p in geom.probes],
                "recall_cosine": geom.recall_cosine,
                "recall_estimate": round(geom.recall_estimate, 4),
                "law_recall_estimate": round(geom.law_recall_estimate, 4),
            }
    else:
        k_auto = semdedup_auto_k(N_VECS)
        assert k_auto == 4096, k_auto
        cent = emb.filter(
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * k_auto)
        )
        t0 = time.perf_counter()
        n = semantic_dedup(
            emb, cent, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
        ).count()
    sec = round(time.perf_counter() - t0, 1)
    print(
        json.dumps(
            {
                "metric": "rung_5m",
                "leg": args.leg,
                "vecs": N_VECS,
                "calib_sec": calib,
                "sec": sec,
                "rows": n,
                **({"escalation": escalation} if escalation else {}),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

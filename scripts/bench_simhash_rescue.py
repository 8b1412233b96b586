"""SimHash rescue_near marginal cost at 100x (500k docs) — the same
warm-session A/B discipline as the round-12 star-rescue measurement
(BASELINE "Near-dup recall": plain 134,981,661 pairs / 40.0s vs
rescued 135,067,027 / 32.7s at cap=2000).

The a23 cap of 2000 BINDS on this corpus (max half-bucket 3,645), so
the A/B measures the rescue exactly where it matters: how many pairs
the within-bucket finer-width escalation recovers on a real 500k
corpus, and what the skipped-bucket fingerprint dedup + two w-bit
sub-band joins cost next to the capped band join itself.

Usage: python scripts/bench_simhash_rescue.py [--dir testdata_sf10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_CAP = 2000  # the registered cap — binds at 500k (max 3,645)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(REPO, "testdata_sf10"))
    ap.add_argument(
        "--cap", type=int, default=DEFAULT_CAP,
        help="hot-bucket cap; 2000 is the registered generous cap, "
        "100 the harsh-cap regime where the depth-2 rescue earns its "
        "recall points",
    )
    args = ap.parse_args()
    CAP = args.cap

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )
    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark

    spark = get_spark(app_name="bench-simhash-rescue")
    spark.sparkContext.setLogLevel("ERROR")

    calib = calibrate(spark)

    docs = spark.read.parquet(os.path.join(args.dir, "documents.parquet"))
    n_docs = docs.count()
    # Sign once; every leg consumes the same checkpointed fingerprints
    # (simhash_near_duplicates cut_lineage()s its input again — cheap
    # no-op on an already-local frame).
    sims = simhash(docs, "doc_id", "text", bits=32).localCheckpoint()

    legs = {}
    for label, kwargs in (
        ("capped_plain", {}),
        ("star", {"rescue_identical": True}),
        ("star_plus_near", {"rescue_identical": True, "rescue_near": True}),
        # round 14: the level-2 escalation — joins run only on the hot
        # residue (sub-buckets the level-1 re-cap skipped)
        ("depth2", {"rescue_identical": True, "rescue_near": True,
                    "rescue_depth": 2}),
    ):
        # every leg pays the same cap probe (a constant ~1s aggregate),
        # so the deltas between legs stay the rescue's own
        t0 = time.perf_counter()
        n = simhash_near_duplicates(
            sims, "doc_id", 6, max_bucket=CAP, **kwargs
        ).count()
        legs[label] = {"pairs": n, "sec": round(time.perf_counter() - t0, 1)}
        print(label, legs[label], flush=True)

    print(
        json.dumps(
            {
                "metric": "simhash_rescue_500k",
                "docs": n_docs,
                "cap": CAP,
                "calib_sec": calib,
                "legs": legs,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

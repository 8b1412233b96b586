"""1M-vector rung for the SemDeDup watch item (BASELINE "a45 watch").

Runs, on a generated 1,000,000-vector corpus (same generator/geometry
as the sf10 sweep's 500k embeddings — Zipf cells, 5% dup chains):

- a45's REGISTERED form: k=128 fixed centroids (oracle-pinned) — the
  O(n^2/k) curve, expected ~4x the 500k leg;
- the K-SCALED form the cost model prescribes (k ~ n / target_cell):
  k=512 centroids from the same mod-97 seeding — expected ~1x-2x;
- a53 (RHP near-dup, 12-bit bands) — expected ~linear.

Round 10 (VERDICT r9 ask #2 — prove the SHIPPED auto paths at the rung
they were built for, not the hand-pinned equivalents):

- ``a45_auto_k``: centroid count computed by ``semdedup_auto_k(N)``
  (512 at 1M — asserted, not assumed) through ``semantic_dedup`` with
  its on-by-default candidate budget;
- ``a53_rhp_auto``: ``rhp_near_duplicates(n_bits="auto")`` with
  ``row_count_hint=N`` — ``rhp_auto_bits`` resolves 14-bit bands
  (56 bits / 4 bands) at 1M, asserted in-leg.

Emits one JSON line per leg and a final summary. Usage:
    python scripts/bench_1m_rung.py [--dir testdata_1m] [--leg NAME]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
)

N_VECS = 1_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_1m"))
    ap.add_argument(
        "--leg",
        choices=[
            "a45_registered_k128",
            "a45_kscaled_k512",
            "a53_rhp_neardup",
            "a45_auto_k",
            "a53_rhp_auto",
        ],
        default=None,
        help="run ONE leg in this process (default: all three). One "
        "process per leg is the recommended shape — a prior session's "
        "accumulated state (generator arrays, calib run, earlier legs' "
        "broadcast/codegen residue) tipped the checkpoint job into "
        "UNABLE_TO_ACQUIRE_MEMORY at 1M rows where a fresh session "
        "clears it comfortably.",
    )
    args = ap.parse_args()

    os.makedirs(args.dir, exist_ok=True)
    vec_path = os.path.join(args.dir, "embeddings.parquet")
    import pyarrow.parquet as pq
    from bench_ann_scale import gen_embeddings

    if not os.path.exists(vec_path) or pq.read_metadata(vec_path).num_rows != N_VECS:
        t0 = time.time()
        gen_embeddings(vec_path, N_VECS)
        print(f"generated {N_VECS} embeddings in {time.time()-t0:.1f}s")

    # 32g/32 cores (1 GB per core): the 1M x 64-float rung OOM'd a 16g
    # JVM in semantic_dedup's checkpoint job (UNABLE_TO_ACQUIRE_MEMORY).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from pyspark.sql import functions as F

    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
        semantic_dedup,
    )
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _EMB_DIM,
        _SEMDEDUP_THRESHOLD,
    )

    spark = get_spark(app_name="bench-1m-rung")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(vec_path)
    emb.count()  # warm footers/page cache outside the timed legs

    calib = calibrate(spark)

    results: dict[str, float] = {}

    def leg(name: str, make_df) -> None:
        # make_df is a THUNK: semantic_dedup materializes eagerly at
        # construction (localCheckpoint + CC's internal checkpoints run
        # jobs before any action), so construction must sit INSIDE the
        # timed window — the first cut timed only .count() and recorded
        # 1.0s for a ~20-minute leg.
        t0 = time.perf_counter()
        n = make_df().count()
        results[name] = round(time.perf_counter() - t0, 1)
        print(json.dumps({"leg": name, "sec": results[name], "rows": n}), flush=True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    want = lambda name: args.leg is None or args.leg == name  # noqa: E731

    if want("a45_registered_k128"):
        # a45 registered: 128 centroids (the oracle-pinned k)
        cent128 = emb.filter(
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * 128)
        )
        leg(
            "a45_registered_k128",
            lambda: semantic_dedup(
                emb, cent128, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
            ),
        )

    if want("a45_kscaled_k512"):
        # a45 k-scaled: k = 512 ~ n / 2000 target cell size (same seeding)
        cent512 = emb.filter(
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * 512)
        )
        leg(
            "a45_kscaled_k512",
            lambda: semantic_dedup(
                emb, cent512, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
            ),
        )

    if want("a53_rhp_neardup"):
        # a53's registered geometry: 48 bits / 4 bands (12-bit bands)
        leg(
            "a53_rhp_neardup",
            lambda: rhp_near_duplicates(emb, 0.30, n_bits=48, bands=4, dim=_EMB_DIM),
        )

    if want("a45_auto_k"):
        # round 10: the SHIPPED k∝n recipe end-to-end — k computed by
        # semdedup_auto_k, centroids from the same mod-97 seeding, the
        # default candidate budget left ON (it must not fire).
        from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
            semdedup_auto_k,
        )

        k_auto = semdedup_auto_k(N_VECS)
        assert k_auto == 512, f"semdedup_auto_k(1M) moved: {k_auto}"
        cent_auto = emb.filter(
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * k_auto)
        )
        leg(
            "a45_auto_k",
            lambda: semantic_dedup(
                emb, cent_auto, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
            ),
        )

    if want("a53_rhp_auto"):
        # round 10: the SHIPPED n_bits="auto" path — rhp_auto_bits must
        # resolve 14-bit bands (56/4) at this rung; asserted before the
        # timed leg so a sizing regression fails loudly, not slowly.
        from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
            rhp_auto_bits,
        )

        assert rhp_auto_bits(N_VECS, bands=4) == 56
        leg(
            "a53_rhp_auto",
            lambda: rhp_near_duplicates(
                emb,
                0.30,
                n_bits="auto",
                bands=4,
                dim=_EMB_DIM,
                row_count_hint=N_VECS,
            ),
        )

    print(
        json.dumps(
            {"metric": "rung_1m", "vecs": N_VECS, "calib_sec": calib, "legs": results}
        )
    )


if __name__ == "__main__":
    main()

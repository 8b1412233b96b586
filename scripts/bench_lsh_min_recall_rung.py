"""500k-doc MinHash min_recall binding leg (VERDICT r13 ask #7).

The RHP 5M leg proved the min_recall floor's repair direction at scale
(bands-first, recall-preserving). This leg completes the same
discipline for the TEXT family on the 500k template-heavy corpus
(same generator as `text_recall` / the sf10 corpus sweeps):

1. **The floor binds loudly** — a candidate budget chosen BETWEEN the
   measured 2-band and 4-band masses of the 8-hash signature forces
   ``bands="auto"`` to the 2x4 geometry (banding recall 0.7507 at the
   measured fixture Jaccard 0.84); under ``min_recall=0.90`` the call
   must REFUSE prescribing the 16-hash re-sign (no banding of 8 hashes
   fits the budget AND meets the floor).
2. **The prescription is followable** — round 14 widened
   ``minhash_signatures`` to 16 components (two more prefixed digests;
   components 0-7 byte-identical to every prior round). The leg
   re-signs at 16 hashes and re-runs the same auto call under the same
   budget: the repair lands whatever recall-maximal 16-hash banding
   fits, and the floor passes (4 bands x 4 rows predicts 0.9385).
3. **The prediction is verified** — measured candidate recall over the
   generator's planted near edges at the repaired geometry, next to
   banding theory evaluated BOTH at the 0.84 fixture anchor and at the
   corpus's own measured mean near-edge Jaccard; exact edges must land
   1.0000 (identical text ⇒ identical signatures).

Usage: python scripts/bench_lsh_min_recall_rung.py [--docs 500000]
Writes bench_500k_lsh_min_recall_r14.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

SHINGLE_K = 3
FLOOR = 0.90
ANCHOR_JACCARD = 0.84  # the recall harness's measured fixture mean


def band_mass(sigs, num_hashes: int, bands: int) -> int:
    """The operator's own candidate budget at one banding."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_band_table,
        pair_mass,
    )

    bt = lsh_band_table(sigs, num_hashes, bands)
    return pair_mass(bt, ["band", "bsig"])[0]


def banding_recall(s: float, num_hashes: int, bands: int) -> float:
    return 1.0 - (1.0 - s ** (num_hashes // bands)) ** bands


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "bench_500k_lsh_min_recall_r14.json"),
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from pyspark.sql import functions as F

    from bench_dedup_scale import gen_texts
    from clinical_trials_data_pipeline_analyis_spark.checkpoint import cut_lineage
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )
    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark

    spark = get_spark(app_name="bench-lsh-min-recall-500k")
    spark.sparkContext.setLogLevel("ERROR")

    calib = calibrate(spark)

    t0 = time.time()
    texts, edges = gen_texts(args.docs)
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    ).repartition(32).transform(cut_lineage())
    print(f"corpus {args.docs} docs in {time.time()-t0:.1f}s "
          f"({len(edges)} planted edges)", flush=True)

    out: dict = {
        "metric": "rung_500k_lsh_min_recall",
        "docs": args.docs,
        "calib_sec": calib,
        "floor": FLOOR,
    }

    # -- phase 1: masses of the 8-hash bandings; budget between 2x4
    # and 4x2 so auto (finest-first) is FORCED to the 2-band geometry
    sigs8 = minhash_signatures(docs, "doc_id", "text").transform(cut_lineage())
    masses8 = {b: band_mass(sigs8, 8, b) for b in (8, 4, 2, 1)}
    print(f"8-hash masses: {masses8}", flush=True)
    assert masses8[2] < masses8[4], masses8
    # The LARGEST budget that still forces the 2-band geometry at 8
    # hashes: maximally generous to the 16-hash repair (whose 4x4 mass
    # is ~2x the 2x4 mass — a midpoint budget would refuse it too,
    # which is the less informative outcome) while the floor still
    # binds at 8.
    budget = masses8[4] - 1
    out["masses_8hash"] = masses8
    out["budget"] = budget
    out["constrained_geometry"] = {
        "bands": 2,
        "rows": 4,
        "banding_recall_at_anchor": round(
            banding_recall(ANCHOR_JACCARD, 8, 2), 4
        ),
    }

    # -- phase 2: the floor binds -> loud refusal naming the re-sign
    try:
        lsh_candidate_pairs(
            sigs8, "doc_id", bands="auto", max_candidates=budget,
            min_recall=FLOOR, materialize=False,
        )
        raise AssertionError("the min_recall floor failed to bind")
    except ValueError as e:
        msg = str(e)
        assert "num_hashes=16" in msg, msg
        out["refusal"] = msg[:400]
        print(f"REFUSAL (as designed): {msg[:200]}...", flush=True)

    # -- phase 3: follow the prescription — re-sign at 16 hashes, same
    # budget, same floor
    sigs16 = minhash_signatures(
        docs, "doc_id", "text", num_hashes=16
    ).transform(cut_lineage())
    masses16 = {b: band_mass(sigs16, 16, b) for b in (16, 8, 4, 2, 1)}
    print(f"16-hash masses: {masses16}", flush=True)
    chosen = next(b for b in (16, 8, 4, 2, 1) if masses16[b] <= budget)
    rec_anchor = banding_recall(ANCHOR_JACCARD, 16, chosen)
    out["masses_16hash"] = masses16
    out["repaired_geometry"] = {
        "bands": chosen,
        "rows": 16 // chosen,
        "mass": masses16[chosen],
        "banding_recall_at_anchor": round(rec_anchor, 4),
    }
    if rec_anchor < FLOOR:
        # The honest alternative outcome: even the 16-hash re-sign
        # cannot fit this budget AND meet the floor — record the second
        # refusal (still a binding-regime demonstration, just the less
        # informative one) and stop.
        try:
            lsh_candidate_pairs(
                sigs16, "doc_id", num_hashes=16, bands="auto",
                max_candidates=budget, min_recall=FLOOR,
                materialize=False,
            )
            raise AssertionError("expected the 16-hash refusal")
        except ValueError as e:
            out["refusal_16hash"] = str(e)[:400]
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out), flush=True)
        return

    t0 = time.perf_counter()
    n_pairs = lsh_candidate_pairs(
        sigs16, "doc_id", num_hashes=16, bands="auto",
        max_candidates=budget, min_recall=FLOOR, materialize=False,
    ).count()
    out["repair_join_sec"] = round(time.perf_counter() - t0, 1)
    out["repair_pairs"] = n_pairs
    print(f"repaired join: {n_pairs} pairs in {out['repair_join_sec']}s",
          flush=True)

    # -- phase 4: measured recall at the repaired geometry vs theory
    edf = spark.createDataFrame(
        [(s, d, k) for s, d, k in edges], ["src", "dst", "kind"]
    )
    r = 16 // chosen
    blocks_a = [
        F.concat(*[F.col(f"a.h{b * r + j}") for j in range(r)])
        for b in range(chosen)
    ]
    blocks_b = [
        F.concat(*[F.col(f"b.h{b * r + j}") for j in range(r)])
        for b in range(chosen)
    ]
    collide = reduce(
        lambda acc, ab: acc | (ab[0] == ab[1]),
        zip(blocks_a, blocks_b),
        F.lit(False),
    )
    j = (
        edf.join(sigs16.alias("a"), F.col("src") == F.col("a.doc_id"))
        .join(sigs16.alias("b"), F.col("dst") == F.col("b.doc_id"))
        .select("kind", collide.alias("hit"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("hit").cast("long")).alias("hits"),
        )
        .collect()
    )
    rec = {row["kind"]: (int(row["hits"]), int(row["n"])) for row in j}
    assert rec["exact"][0] == rec["exact"][1], rec  # identical text => 1.0
    measured = rec["near"][0] / rec["near"][1]
    out["recall"] = {
        "exact": 1.0,
        "near_measured": round(measured, 4),
        "near_edges": rec["near"][1],
        "theory_at_anchor": round(rec_anchor, 4),
    }

    # the corpus's own mean near-edge Jaccard (shingle-set overlap),
    # so theory is also evaluated at the measured operating point
    sh = shingle_sets(docs, "doc_id", "text", SHINGLE_K).transform(
        cut_lineage()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    near = edf.filter(F.col("kind") == "near")
    inter = (
        near.join(
            sh.select(F.col("doc_id").alias("src"), "shingle"), "src"
        )
        .join(
            sh.select(F.col("doc_id").alias("dst"), "shingle"),
            ["dst", "shingle"],
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = (
        near.join(inter, ["src", "dst"], "left")
        .join(sizes.withColumnRenamed("doc_id", "src"), "src")
        .join(
            sizes.withColumnRenamed("doc_id", "dst")
            .withColumnRenamed("sz", "sz2"),
            "dst",
        )
        .select(
            (
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("sz") + F.col("sz2") - F.coalesce(F.col("i"), F.lit(0)))
            ).alias("jac")
        )
        .agg(F.avg("jac").alias("m"))
        .collect()[0]["m"]
    )
    out["recall"]["measured_mean_jaccard"] = round(float(jac), 4)
    out["recall"]["theory_at_measured_jaccard"] = round(
        banding_recall(float(jac), 16, chosen), 4
    )

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

"""500k-doc rung for the streaming SimHash near-dedup twin
(``streaming.dedup.simhash_near_dedup_stream``) — the completed-leg
discipline applied to the round-13 twin's scale claims, mirroring
``bench_stream_rung.py`` (the RHP twin's leg):

1. **Per-epoch cost is |batch| x half-bucket occupancy, never history x
   history**: 500k documents (the sf10 corpus) stream in five
   id-ordered 100k epochs; per-epoch candidate mass is recomputed from
   the epoch-partitioned fingerprint store and the SUM over epochs must
   equal the batch one-shot's Σ n(n−1)/2 over both halves EXACTLY —
   every unordered bucket pair is paid once, in the epoch its later id
   arrives (asserted).
2. **Flag parity at scale**: the stream's is_near_dup set must equal
   the UNCAPPED batch ``simhash_near_duplicates`` pair set's doc_b
   projection — asserted by anti-join counts, not samples. (Uncapped:
   the twin deliberately carries no max_bucket — per-epoch bucket
   counts differ from corpus counts, so capping would break parity;
   the per-epoch candidate budget is its guard instead.)
3. **Amortization price**: total stream wall vs the one-shot batch
   wall on the same corpus.

Usage:
    python scripts/bench_simhash_stream_rung.py [--dir testdata_sf10]
        [--leg stream|batch] [--epochs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

MAX_HAMMING = 6


def halves_mass(fps) -> int:
    """Candidate mass of the two 16-bit half-bucket joins together."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        pair_mass,
    )

    halves = (
        F.col("simhash") % 65536,
        F.expr("CAST(shiftright(simhash, 16) & 65535 AS BIGINT)"),
    )
    return sum(
        pair_mass(fps.select(h.alias("half")), ["half"])[0] for h in halves
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(_ROOT, "testdata_sf10"))
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--leg", choices=["stream", "batch"], default=None)
    ap.add_argument(
        "--work-dir", default=os.path.join(_ROOT, "testdata_stream_simhash")
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )
    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        simhash_near_dedup_stream,
    )

    spark = get_spark(app_name="bench-simhash-stream-rung")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(args.dir, "documents.parquet"))
    n_docs = docs.count()

    calib = calibrate(spark)

    out: dict = {"docs": n_docs, "epochs": args.epochs, "calib_sec": calib}
    want = lambda name: args.leg is None or args.leg == name  # noqa: E731

    os.makedirs(args.work_dir, exist_ok=True)
    chunk_dir = os.path.join(args.work_dir, "chunks")
    flags_path = os.path.join(args.work_dir, "flags")
    store_path = os.path.join(args.work_dir, "fpstore")
    ckpt_path = os.path.join(args.work_dir, "ckpt")

    if want("stream"):
        if not os.path.exists(chunk_dir):
            per = n_docs // args.epochs
            for e in range(args.epochs):
                # the last epoch takes the remainder so the stream and
                # the batch leg cover the SAME corpus (a dropped tail
                # would fail the parity asserts with a confusing
                # accounting mismatch)
                hi_bound = (
                    (e + 1) * per if e < args.epochs - 1 else n_docs + 1
                )
                docs.filter(
                    (F.col("doc_id") >= e * per) & (F.col("doc_id") < hi_bound)
                ).coalesce(1).write.parquet(f"{chunk_dir}/c{e:02d}")
        for p in (flags_path, store_path, ckpt_path):
            shutil.rmtree(p, ignore_errors=True)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunk_dir}/c*")
        )
        t0 = time.perf_counter()
        q = simhash_near_dedup_stream(
            stream,
            out_path=flags_path,
            store_path=store_path,
            checkpoint=ckpt_path,
            max_hamming=MAX_HAMMING,
            # the sf10 corpus's 35,692-doc half-bucket puts the
            # UNCAPPED one-shot at Σ ≈ 4.9e9 candidates, so late
            # epochs carry ~1-2e9 — deliberately above the default
            # per-epoch budget (whose binding-regime refusal is
            # unit-tested); the rung raises it because its job is the
            # accounting identity + flag parity at exactly this
            # hot-bucket scale
            max_candidates_per_epoch=5_000_000_000,
        ).start()
        q.awaitTermination()
        stream_wall = round(time.perf_counter() - t0, 1)

        progress = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        epoch_walls = {
            int(p["batchId"]): round(
                p["durationMs"]["triggerExecution"] / 1000, 1
            )
            for p in progress
            if p["numInputRows"] > 0
        }

        # per-epoch candidate mass from the epoch-partitioned store:
        # per half-bucket, n_e x n_<e + C(n_e, 2), summed over BOTH
        # halves — the mass of epochs <= e minus the mass of the epochs
        # before it (epochs without input rows add none)
        store = spark.read.parquet(store_path)
        epoch_cands: dict[int, int] = {}
        before = 0
        for e in sorted(epoch_walls):
            upto = halves_mass(store.filter(F.col("epoch_id") <= e))
            epoch_cands[e], before = upto - before, upto
            print(
                json.dumps(
                    {
                        "epoch": e,
                        "sec": epoch_walls[e],
                        "candidates": epoch_cands[e],
                    }
                ),
                flush=True,
            )

        flags = spark.read.parquet(flags_path)
        out["stream"] = {
            "wall_sec": stream_wall,
            "epoch_walls": epoch_walls,
            "epoch_candidates": epoch_cands,
            "sum_candidates": sum(epoch_cands.values()),
            "flagged": flags.filter(F.col("is_near_dup")).count(),
            "rows": flags.count(),
        }
        print(json.dumps({"leg": "stream", **out["stream"]}), flush=True)
        with open(os.path.join(args.work_dir, "stream_result.json"), "w") as fh:
            json.dump(out["stream"], fh)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    if want("batch"):
        t0 = time.perf_counter()
        fps = simhash(docs, "doc_id", "text")
        pairs = simhash_near_duplicates(fps, "doc_id", MAX_HAMMING)
        dup_b = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        n_flag_batch = dup_b.count()
        batch_wall = round(time.perf_counter() - t0, 1)
        out["batch"] = {"wall_sec": batch_wall, "flagged": n_flag_batch}

        # one-shot mass over both halves on the SAME fingerprints
        total = halves_mass(fps.localCheckpoint())
        out["batch"]["total_candidates"] = total
        print(json.dumps({"leg": "batch", **out["batch"]}), flush=True)

        prior = os.path.join(args.work_dir, "stream_result.json")
        if "stream" not in out and os.path.exists(prior):
            with open(prior) as fh:
                out["stream"] = json.load(fh)
        if "stream" in out:
            assert out["stream"]["sum_candidates"] == total, (
                out["stream"]["sum_candidates"],
                total,
            )
            out["candidates_identity"] = "exact"
        if os.path.exists(flags_path):
            flags = spark.read.parquet(flags_path)
            got = flags.filter(F.col("is_near_dup")).select("doc_id")
            miss = got.join(dup_b, "doc_id", "left_anti").count()
            extra = dup_b.join(got, "doc_id", "left_anti").count()
            assert miss == 0 and extra == 0, (miss, extra)
            out["flag_parity"] = "exact"

    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

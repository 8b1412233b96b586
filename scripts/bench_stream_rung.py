"""500k-vector rung for the streaming RHP near-dedup twin
(``streaming.similarity.rhp_near_dedup_stream``) — the completed-leg
discipline applied to the docstring's scale claims:

1. **Per-epoch cost is |batch| x bucket occupancy, never history x
   history**: 500k vectors stream in five id-ordered 100k epochs at the
   a53-registered geometry (48 bits / 4 bands / threshold 0.30 — the
   same corpus+geometry the batch sweep times at ~259s); per-epoch wall
   comes from the query's own progress events and per-epoch candidate
   mass is recomputed from the epoch-partitioned store. Expected shape:
   candidates grow ~linearly with accumulated history (epoch e pays
   n_e x n_<e + C(n_e,2)), and their SUM equals the batch operator's
   one-shot Sigma n(n-1)/2 guard estimate EXACTLY — every unordered pair
   is counted once, in the epoch its later id arrives. The leg asserts
   that accounting identity.
2. **Flag parity at scale**: the stream's is_near_dup set must equal
   the batch ``rhp_near_duplicates`` pair set's vec_b projection
   (keep-first contract) — asserted by anti-join counts, not samples.
3. **Amortization price**: total stream wall vs the one-shot batch wall
   on the same corpus (same process ordering caveats as every rung:
   one leg per process is the recommended shape; see bench_1m_rung).

Emits one JSON line per epoch and a final summary. Usage:
    python scripts/bench_stream_rung.py [--dir testdata_stream] \
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
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

N_VECS = 500_000
RHP_BITS = 48
RHP_BANDS = 4
THRESHOLD = 0.30


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(_ROOT, "testdata_stream"))
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--leg", choices=["stream", "batch"], default=None)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import pair_mass
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import rhp_near_duplicates
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.streaming import rhp_near_dedup_stream
    from bench import calibrate
    from bench_ann_scale import gen_embeddings

    vec_path = os.path.join(args.dir, "embeddings.parquet")
    if not os.path.exists(vec_path):
        t0 = time.time()
        gen_embeddings(vec_path, N_VECS)
        print(f"generated {N_VECS} embeddings in {time.time()-t0:.1f}s")

    spark = get_spark(app_name="bench-stream-rung")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(vec_path)
    emb.count()  # warm footers/page cache outside the timed legs

    calib = calibrate(spark)

    out: dict = {"vecs": N_VECS, "epochs": args.epochs, "calib_sec": calib}
    geometry = dict(n_bits=RHP_BITS, bands=RHP_BANDS, dim=64, seed=13)
    want = lambda name: args.leg is None or args.leg == name  # noqa: E731

    chunk_dir = os.path.join(args.dir, "chunks")
    flags_path = os.path.join(args.dir, "flags")
    store_path = os.path.join(args.dir, "sigstore")
    ckpt_path = os.path.join(args.dir, "ckpt")

    if want("stream"):
        # id-ordered epoch files (one micro-batch each)
        if not os.path.exists(chunk_dir):
            per = N_VECS // args.epochs
            for e in range(args.epochs):
                emb.filter(
                    (F.col("vec_id") >= e * per)
                    & (F.col("vec_id") < (e + 1) * per)
                ).coalesce(1).write.parquet(f"{chunk_dir}/c{e:02d}")
        for p in (flags_path, store_path, ckpt_path):
            shutil.rmtree(p, ignore_errors=True)

        stream = (
            spark.readStream.schema(emb.schema)
            # one file per epoch dir (coalesce(1) above); the file
            # source batches oldest-first, so triggers replay the
            # id-ordered epochs exactly
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunk_dir}/c*")
        )
        t0 = time.perf_counter()
        q = rhp_near_dedup_stream(
            stream,
            out_path=flags_path,
            store_path=store_path,
            checkpoint=ckpt_path,
            threshold=THRESHOLD,
            **geometry,
        ).start()
        q.awaitTermination()
        stream_wall = round(time.perf_counter() - t0, 1)

        # per-epoch wall from the query's own progress events
        # (recentProgress yields dicts or StreamingQueryProgress
        # objects depending on PySpark version — normalize via .json)
        progress = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        epoch_walls = {
            int(p["batchId"]): round(p["durationMs"]["triggerExecution"] / 1000, 1)
            for p in progress
            if p["numInputRows"] > 0
        }

        # per-epoch candidate mass, recomputed from the epoch-partitioned
        # store: epoch e pays n_e x n_<e + C(n_e, 2) per bucket — the
        # mass of epochs <= e minus the mass of the epochs before it
        # (epochs without input rows add none).
        store = spark.read.parquet(store_path)
        epoch_cands: dict[int, int] = {}
        before = 0
        for e in sorted(epoch_walls):
            upto = pair_mass(
                store.filter(F.col("epoch_id") <= e), ["band", "band_sig"]
            )[0]
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
        with open(os.path.join(args.dir, "stream_result.json"), "w") as fh:
            json.dump(out["stream"], fh)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    if want("batch"):
        t0 = time.perf_counter()
        pairs = rhp_near_duplicates(
            emb, THRESHOLD, id_col="vec_id", vec_col="embedding", **geometry
        )
        dup_b = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
        n_flag_batch = dup_b.count()
        batch_wall = round(time.perf_counter() - t0, 1)
        out["batch"] = {"wall_sec": batch_wall, "flagged": n_flag_batch}

        # one-shot guard accounting on the SAME signatures
        from clinical_trials_data_pipeline_analyis_spark.operators.similarity import rhp_signatures

        sigs = rhp_signatures(
            emb, RHP_BITS, RHP_BANDS, 64, 13, "vec_id", "embedding"
        )
        total = pair_mass(sigs, ["band", "band_sig"])[0]
        out["batch"]["total_candidates"] = total
        print(json.dumps({"leg": "batch", **out["batch"]}), flush=True)

        prior = os.path.join(args.dir, "stream_result.json")
        if "stream" not in out and os.path.exists(prior):
            with open(prior) as fh:
                out["stream"] = json.load(fh)
        if "stream" in out:
            # accounting identity: every unordered bucket pair is paid
            # once, in the epoch its later id arrives
            assert out["stream"]["sum_candidates"] == total, (
                out["stream"]["sum_candidates"],
                total,
            )
            out["candidates_identity"] = "exact"
        if os.path.exists(flags_path):
            # flag parity vs the stream's on-disk output, asserted by
            # anti-joins (not samples) — works when the stream leg ran
            # in an earlier process (one leg per process methodology)
            flags = spark.read.parquet(flags_path)
            got = flags.filter(F.col("is_near_dup")).select("vec_id")
            miss = got.join(dup_b, "vec_id", "left_anti").count()
            extra = dup_b.join(got, "vec_id", "left_anti").count()
            assert miss == 0 and extra == 0, (miss, extra)
            out["flag_parity"] = "exact"

    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

"""One rung harness for the near-dup families' scale claims.

Usage:
    SPARK_GRAFT_DRIVER_MEM=32g python scripts/bench_rung.py --rows N \\
        [--leg NAME] [--epochs 5] [--dir testdata_rung]

The harness generates the corpus under ``--dir``, or reuses it when its
row count matches ``--rows``. Vectors come from
``bench_ann_scale.gen_embeddings`` (Zipf cells, 5% dup chains) and
documents from ``bench_dedup_scale.gen_documents`` (the sf1/sf10 text
shape; ``--rows 500000`` is the sf10 documents table). It then starts
``get_spark``, times ``bench.calibrate`` and runs the selected legs, all
of them by default. Construction sits inside each leg's timed window:
``semantic_dedup`` and the RHP auto modes launch jobs while they build,
so timing only the final action once recorded 1.0 s for a ~20-minute
leg. Each leg prints one JSON line; a summary line comes last.

Legs:

- ``a45_k128``: SemDeDup at a45's registered 128 centroids, the
  O(n²/k) curve.
- ``a45_auto_k``: SemDeDup with ``semdedup_auto_k(N)`` centroids and the
  default candidate budget on (it must not fire). Both SemDeDup legs
  seed centroids with ``vec_id % 97 == 0 AND vec_id < 97*k`` and record
  the kept rows, the pair-scan join (``broadcast`` up to
  ``SEMANTIC_DEDUP_BROADCAST_LIMIT`` rows, the cell-keyed ``shuffle``
  above it) and the Σ n(n−1)/2 the budget guard logs (``budget_log``).
- ``a53_rhp``: RHP near-dup at a53's registered 48 bits / 4 bands.
- ``a53_rhp_auto``: ``n_bits="auto"`` with ``row_count_hint=N``; the
  ``escalation`` field is the ``LAST_ESCALATION`` record.
- ``a53_rhp_min_recall``: the same under ``min_recall=0.90``. At 5M the
  law's 17-bit bands fall below the floor, so the band-first repair must
  run (asserted: chosen bands > law bands).
- ``rhp_stream``/``rhp_batch``: ``rhp_near_dedup_stream`` at the a53
  geometry against the batch ``rhp_near_duplicates``.
- ``simhash_stream``/``simhash_batch``: ``simhash_near_dedup_stream``
  against the uncapped batch ``simhash_near_duplicates``.

A stream leg feeds the corpus in ``--epochs`` id-ordered epochs (id i in
epoch i·E // N, so every id streams) and records each epoch's wall and
candidate mass: ``pair_mass`` over the family's band table (the
``Banding`` its stream joins on) of the stored rows up to that epoch,
minus the mass before it. Its batch leg then asserts the
accounting identity (the epoch masses sum to the one-shot mass: every
unordered bucket pair is paid once, in the epoch its later id arrives)
and flag parity (the stream's flags are the batch pairs' later ids, by
anti-joins, not samples). It reads the stream leg's result from disk,
so the two may run in separate processes.

At 1M, 2.5M and 5M rows the sizing laws must resolve ``LAW_PINS``
before any leg runs.

Heap: ``get_spark`` reads ``SPARK_GRAFT_DRIVER_MEM`` (default 8g). On
32 cores the rungs needed 32g at 1M and 5M (16g ran semantic_dedup's
checkpoint job out of memory at 1M), 96g at 2.5M (48g died in the CC
loop's labels aggregate), and 32g for the 500k stream legs. From 1M up,
run one leg per process (``--leg``): at 1M the state an earlier leg
left behind (generator arrays, broadcast and codegen residue) tipped the
checkpoint job into UNABLE_TO_ACQUIRE_MEMORY where a fresh session
cleared it. Keep one ``--dir`` per size to avoid regenerating.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import sys
import time
from functools import partial

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEGS = (
    "a45_k128",
    "a45_auto_k",
    "a53_rhp",
    "a53_rhp_auto",
    "a53_rhp_min_recall",
    "rhp_stream",
    "rhp_batch",
    "simhash_stream",
    "simhash_batch",
)

#: What the corpus-sized models resolve at the recorded rung sizes
#: (``rhp_auto_bits`` at 4 bands).
LAW_PINS = {
    1_000_000: {"semdedup_auto_k": 512, "rhp_auto_bits": 56},
    2_500_000: {"semdedup_auto_k": 2048, "rhp_auto_bits": 64},
    5_000_000: {"semdedup_auto_k": 4096, "rhp_auto_bits": 68},
}

#: a53's registered RHP geometry, for the a53 and RHP stream legs.
RHP_GEOMETRY = {"n_bits": 48, "bands": 4, "dim": 64, "seed": 13}
RHP_THRESHOLD = 0.30
MIN_RECALL = 0.90
MAX_HAMMING = 6


def check_law_pins(rows: int) -> None:
    """Fail before any leg when a sizing law moved at a pinned size."""
    from clinical_trials_data_pipeline_analyis_spark.operators import (
        similarity,
    )

    want = LAW_PINS.get(rows)
    if want is not None:
        got = {
            "semdedup_auto_k": similarity.semdedup_auto_k(rows),
            "rhp_auto_bits": similarity.rhp_auto_bits(rows, bands=4),
        }
        assert got == want, f"sizing laws moved at {rows:,} rows: {got}"


def ensure_corpus(path: str, rows: int, generate, stale: str) -> None:
    """Generate ``path`` unless it holds ``rows`` rows. A new corpus
    drops ``stale``, the stream work its old rows produced."""
    import pyarrow.parquet as pq

    if os.path.exists(path) and pq.read_metadata(path).num_rows == rows:
        return
    shutil.rmtree(stale, ignore_errors=True)
    t0 = time.time()
    generate(path, rows)
    print(f"generated {rows} rows at {path} in {time.time() - t0:.1f}s")


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 1), out


def cut_epochs(df, id_col: str, rows: int, epochs: int, chunk_dir: str):
    """Write ``df`` as ``epochs`` id-ordered one-file parquet dirs, id i
    in epoch i·epochs // rows. Re-cuts unless the chunks on disk were
    cut for the same (rows, epochs)."""
    from pyspark.sql import functions as F

    marker = os.path.join(chunk_dir, "_cut.json")
    want = {"rows": rows, "epochs": epochs}
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh) == want:
                return
    shutil.rmtree(chunk_dir, ignore_errors=True)
    epoch = F.expr(f"{id_col} * {epochs} div {rows}")
    for e in range(epochs):
        # The file source replays the oldest file first, one per
        # trigger, so the epochs arrive in id order.
        part = df.filter(epoch == e).coalesce(1)
        part.write.parquet(f"{chunk_dir}/c{e:04d}")
    with open(marker, "w") as fh:
        json.dump(want, fh)


def stream_leg(
    name, spark, corpus, id_col, work, rows, epochs, start, banding
):
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        pair_mass,
    )

    chunks = os.path.join(work, "chunks")
    flags, store, ckpt, result = (
        os.path.join(work, d)
        for d in ("flags", "store", "ckpt", "stream_result.json")
    )
    cut_epochs(corpus, id_col, rows, epochs, chunks)
    for p in (flags, store, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    if os.path.exists(result):
        os.remove(result)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )

    def run():
        q = start(
            stream, out_path=flags, store_path=store, checkpoint=ckpt
        ).start()
        q.awaitTermination()
        return q

    sec, q = timed(run)
    # recentProgress yields dicts or StreamingQueryProgress objects
    # depending on the PySpark version
    progress = [
        p if isinstance(p, dict) else json.loads(p.json)
        for p in q.recentProgress
    ]
    epoch_walls = {
        int(p["batchId"]): round(p["durationMs"]["triggerExecution"] / 1000, 1)
        for p in progress
        if p["numInputRows"] > 0
    }
    stored = spark.read.parquet(store)
    epoch_cands: dict[int, int] = {}
    before = 0
    for e in sorted(epoch_walls):
        upto = stored.filter(F.col("epoch_id") <= e)
        upto = pair_mass(banding.table(upto), banding.keys)[0]
        epoch_cands[e], before = upto - before, upto
        line = {"leg": name, "epoch": e, "sec": epoch_walls[e]}
        print(json.dumps({**line, "candidates": epoch_cands[e]}), flush=True)
    flagged = spark.read.parquet(flags)
    record = {
        "wall_sec": sec,
        "epoch_walls": epoch_walls,
        "epoch_candidates": epoch_cands,
        "sum_candidates": sum(epoch_cands.values()),
        "flagged": flagged.filter(F.col("is_near_dup")).count(),
        "rows": flagged.count(),
    }
    with open(result, "w") as fh:
        json.dump(record, fh)
    return record


def batch_leg(spark, id_col, work, later_ids, signed, banding):
    """Time the batch operator's flagged ids (``later_ids()``), price
    ``signed()`` with the stream's ``banding``, then check both against
    the stream leg's result when one is on disk."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        pair_mass,
    )

    def run():
        dup = later_ids()
        return dup, dup.count()

    sec, (dup, flagged) = timed(run)
    total = pair_mass(banding.table(signed()), banding.keys)[0]
    record = {"wall_sec": sec, "flagged": flagged, "total_candidates": total}
    result = os.path.join(work, "stream_result.json")
    if os.path.exists(result):
        with open(result) as fh:
            streamed = json.load(fh)["sum_candidates"]
        assert streamed == total, (streamed, total)
        record["candidates_identity"] = "exact"
        got = (
            spark.read.parquet(os.path.join(work, "flags"))
            .filter(F.col("is_near_dup"))
            .select(id_col)
        )
        miss = got.join(dup, id_col, "left_anti").count()
        extra = dup.join(got, id_col, "left_anti").count()
        assert miss == 0 and extra == 0, (miss, extra)
        record["flag_parity"] = "exact"
    return record


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--leg", choices=LEGS, default=None)
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--dir", default=os.path.join(ROOT, "testdata_rung"))
    args = ap.parse_args()
    rows, legs = args.rows, [args.leg] if args.leg else list(LEGS)
    check_law_pins(rows)
    need_docs = any(leg.startswith("simhash") for leg in legs)
    need_emb = not all(leg.startswith("simhash") for leg in legs)

    from bench_ann_scale import gen_embeddings
    from bench_dedup_scale import gen_documents

    emb_path = os.path.join(args.dir, "embeddings.parquet")
    docs_path = os.path.join(args.dir, "documents.parquet")
    rhp_work = os.path.join(args.dir, "rhp_stream")
    simhash_work = os.path.join(args.dir, "simhash_stream")
    if need_emb:
        ensure_corpus(emb_path, rows, gen_embeddings, rhp_work)
    if need_docs:
        ensure_corpus(docs_path, rows, gen_documents, simhash_work)

    from pyspark.sql import functions as F

    from bench import calibrate
    from clinical_trials_data_pipeline_analyis_spark.operators import similarity
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        SEMANTIC_DEDUP_BROADCAST_LIMIT,
        rhp_near_duplicates,
        rhp_signatures,
        semantic_dedup,
        semdedup_auto_k,
    )
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        dedup as stream_dedup,
        rhp_near_dedup_stream,
        similarity as stream_similarity,
        simhash_near_dedup_stream,
    )
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _EMB_DIM,
        _SEMDEDUP_THRESHOLD,
    )

    # The budget guard's Σ n(n−1)/2, logged at INFO, for the SemDeDup legs.
    budget_log: list[str] = []

    class _Capture(logging.Handler):
        def emit(self, record: logging.LogRecord) -> None:
            budget_log.append(record.getMessage())

    sim_log = logging.getLogger(
        "clinical_trials_data_pipeline_analyis_spark.similarity"
    )
    sim_log.setLevel(logging.INFO)
    sim_log.addHandler(_Capture())

    spark = get_spark(app_name="bench-rung")
    spark.sparkContext.setLogLevel("ERROR")
    # reading once warms footers and the page cache outside the timed legs
    emb = spark.read.parquet(emb_path) if need_emb else None
    docs = spark.read.parquet(docs_path) if need_docs else None
    for corpus in (emb, docs):
        if corpus is not None:
            corpus.count()
    calib = calibrate(spark)

    def semdedup_leg(k: int, **fields):
        cent = emb.filter(
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * k)
        )
        budget_log.clear()
        sec, out = timed(
            lambda: semantic_dedup(
                emb, cent, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM
            )
            .agg(F.count(F.lit(1)).alias("rows"), F.sum("kept").alias("kept"))
            .first()
        )
        broadcast = rows <= SEMANTIC_DEDUP_BROADCAST_LIMIT
        return {
            "sec": sec,
            "rows": out["rows"],
            **fields,
            "kept": out["kept"],
            "broadcast_limit": SEMANTIC_DEDUP_BROADCAST_LIMIT,
            "pair_scan": "broadcast" if broadcast else "shuffle",
            "budget_log": list(budget_log),
        }

    def rhp_leg(**kw):
        similarity.LAST_ESCALATION = None
        geometry = {**RHP_GEOMETRY, **kw}
        sec, n = timed(
            lambda: rhp_near_duplicates(emb, RHP_THRESHOLD, **geometry).count()
        )
        record = {"sec": sec, "rows": n}
        geom = similarity.LAST_ESCALATION
        if geom is not None:
            record["escalation"] = {
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
        return record

    def min_recall_leg():
        record = rhp_leg(
            n_bits="auto", row_count_hint=rows, min_recall=MIN_RECALL
        )
        geom = similarity.LAST_ESCALATION
        assert geom.recall_estimate >= MIN_RECALL, geom
        if rows == 5_000_000:
            # 17-bit x 4 bands fit the budget at 0.8841 recall, below the
            # floor: the leg exists to show the band-first repair at scale
            assert geom.bands > geom.law_bands, geom
        return record

    def simhash_stream_leg():
        # The sf10 documents (--rows 500000) hold a 35,692-doc
        # fingerprint half-bucket: the uncapped one-shot pays Σ ≈ 4.9e9
        # candidates and late epochs ~1-2e9 each, past the default
        # per-epoch budget, whose refusal is unit-tested. This leg checks
        # the accounting identity and flag parity at exactly that
        # hot-bucket scale, so it raises the budget.
        stream_dedup.MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH = 5_000_000_000
        return stream_leg(
            "simhash_stream", spark, docs, "doc_id", simhash_work, rows,
            args.epochs,
            partial(simhash_near_dedup_stream, max_hamming=MAX_HAMMING),
            stream_dedup.SIMHASH_BANDING,
        )

    k_auto = semdedup_auto_k(rows)
    run_leg = {
        "a45_k128": lambda: semdedup_leg(128),
        "a45_auto_k": lambda: semdedup_leg(k_auto, k_auto=k_auto),
        "a53_rhp": rhp_leg,
        "a53_rhp_auto": lambda: rhp_leg(n_bits="auto", row_count_hint=rows),
        "a53_rhp_min_recall": min_recall_leg,
        "rhp_stream": lambda: stream_leg(
            "rhp_stream", spark, emb, "vec_id", rhp_work, rows, args.epochs,
            partial(
                rhp_near_dedup_stream, threshold=RHP_THRESHOLD, **RHP_GEOMETRY
            ),
            stream_similarity.RHP_BANDING,
        ),
        "rhp_batch": lambda: batch_leg(
            spark, "vec_id", rhp_work,
            lambda: rhp_near_duplicates(emb, RHP_THRESHOLD, **RHP_GEOMETRY)
            .select(F.col("vec_b").alias("vec_id"))
            .distinct(),
            lambda: rhp_signatures(emb, **RHP_GEOMETRY),
            stream_similarity.RHP_BANDING,
        ),
        "simhash_stream": simhash_stream_leg,
        "simhash_batch": lambda: batch_leg(
            spark, "doc_id", simhash_work,
            lambda: simhash_near_duplicates(
                simhash(docs, "doc_id", "text"), "doc_id", MAX_HAMMING
            )
            .select(F.col("doc_b").alias("doc_id"))
            .distinct(),
            lambda: simhash(docs, "doc_id", "text").localCheckpoint(),
            stream_dedup.SIMHASH_BANDING,
        ),
    }

    results: dict[str, dict] = {}
    for leg in legs:
        results[leg] = run_leg[leg]()
        print(json.dumps({"leg": leg, **results[leg]}), flush=True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    summary = {
        "metric": "rung",
        "rows": rows,
        "epochs": args.epochs,
        "calib_sec": calib,
        "legs": results,
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()

"""Corpus-family 100x scale sweep (VERDICT r6 ask #3): generate an
sf10-SHAPED documents/embeddings corpus (500k docs / 500k vectors —
100x the sf0.1 documents count, using the SAME realistic generators as
the sf1 corpus: preferential-attachment exact/near duplication for
text, Zipf-clustered geometry with 5% dup chains for vectors) and run
every corpus-family registered query on it.

The sf1 rung (10x) caught two real scale defects (corpus-proportional
quantizer models; hot-block pair serialization); this rung is where any
remaining n² term the 10x run was too small to expose has to show up.
Output: one JSON line per query {"query", "sec", "rows"} plus a final
summary with host calibration (``bench.calibrate``) so growth
factors can be computed against ``bench_sf1.json``'s calibrated times:

    per-input growth = (t10/calib10) / (t1/calib1) / 10

Queries are run in REGISTRY order. x08's exact-within-block pair scan
is EXPECTED to refuse here: the sf10 hot label exceeds the block guard
(``operators.similarity.MAX_EXACT_BLOCK``, 16,384 since commit
fc9c4a9), which is the guard doing its job; the routed form
(oversize="route") is benched in its place and the refusal is
recorded explicitly.

Usage: python scripts/bench_corpus_sf10.py [--dir testdata_sf10]
           [--docs 500000] [--vecs 500000] [--names substr ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every registered query whose oracle touches ONLY documents/embeddings
#: (computed from the registry; the relational/events core has its own
#: sf10 section in BASELINE.md from round 6).
def corpus_family_names() -> list[str]:
    import re

    from clinical_trials_data_pipeline_analyis_spark.suite import registry

    rel = "region nation customer supplier part orders lineitem events".split()
    out = []
    for n, reg in registry().items():
        sql = reg.oracle or ""
        if not sql:
            continue
        if any(re.search(rf"\b{t}\b", sql) for t in rel):
            continue
        if re.search(r"\bdocuments\b|\bembeddings\b", sql):
            out.append(n)
    return out


def ensure_corpus(dir_: str, n_docs: int, n_vecs: int) -> None:
    import pyarrow.parquet as pq

    from bench_ann_scale import gen_embeddings
    from bench_dedup_scale import gen_documents

    docs_path = os.path.join(dir_, "documents.parquet")
    if (
        not os.path.exists(docs_path)
        or pq.read_metadata(docs_path).num_rows != n_docs
    ):
        t0 = time.time()
        gen_documents(docs_path, n_docs)
        print(f"generated {n_docs} documents in {time.time()-t0:.1f}s")
    vec_path = os.path.join(dir_, "embeddings.parquet")
    if (
        not os.path.exists(vec_path)
        or pq.read_metadata(vec_path).num_rows != n_vecs
    ):
        t0 = time.time()
        gen_embeddings(vec_path, n_vecs)
        print(f"generated {n_vecs} embeddings in {time.time()-t0:.1f}s")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(REPO, "testdata_sf10"))
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--vecs", type=int, default=500_000)
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument(
        "--out", default=os.path.join(REPO, "bench_corpus_sf10.json")
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip queries already recorded in --out and keep its calib_sec "
        "(a ~2h sweep should survive an external kill; results are also "
        "flushed to --out after every query for the same reason)",
    )
    args = ap.parse_args()

    ensure_corpus(args.dir, args.docs, args.vecs)

    # Size the single local[] JVM for the corpus rung, same as
    # bench_ann_scale.py: 32 task threads over 500k x 64-float frames
    # need more than get_spark's 8g default (the round-8 a45 leg OOM'd
    # there even with serialized checkpoint blocks). On a real cluster
    # this is per-executor memory — ~0.5g per core is the equivalent
    # knob, and 8g/32 threads was a quarter of that.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    from bench import calibrate, warm
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark
    from clinical_trials_data_pipeline_analyis_spark.suite import spark_queries

    names = corpus_family_names()
    if args.names:
        names = [n for n in names if any(f in n for f in args.names)]

    spark = get_spark(app_name="corpus-sf10-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()

    warm(spark, qs, args.dir, "x01_dedup_exact")

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    guard_notes: dict[str, str] = {}
    calib_sec = None
    if args.resume and os.path.exists(args.out):
        with open(args.out) as f:
            prior = json.load(f)
        timings.update(prior.get("queries", {}))
        guard_notes.update(prior.get("guard_notes", {}))
        # Seed prior ERRORS too — otherwise a failure recorded before an
        # external kill silently vanishes from the final summary when its
        # query is skipped on the resumed run. A query that is re-run and
        # succeeds clears its stale error entry below.
        errors.update(prior.get("errors", {}))
        calib_sec = prior.get("calib_sec")
        print(
            f"resume: {len(timings)} queries already recorded, "
            f"{len(errors)} prior errors carried"
        )

    if calib_sec is None:
        calib_sec = calibrate(spark)

    def flush() -> dict:
        summary = {
            "metric": "corpus_sf10_wall_clock",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "errors": errors,
            "guard_notes": guard_notes,
            "docs": args.docs,
            "vecs": args.vecs,
            "calib_sec": calib_sec,
        }
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        return summary

    for name in names:
        done_name = (
            "x08_dedup_embedding_cosine(routed)"
            if name == "x08_dedup_embedding_cosine"
            else name
        )
        if done_name in timings:
            continue
        t0 = time.perf_counter()
        try:
            if name == "x08_dedup_embedding_cosine":
                # the registered exact form must REFUSE at this scale
                # (hot label > MAX_EXACT_BLOCK); assert that, then
                # bench the routed form as the operating point.
                from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
                    embedding_duplicate_pairs,
                )
                from clinical_trials_data_pipeline_analyis_spark.sources.parquet import (
                    read_table,
                )

                try:
                    qs[name](spark, args.dir).count()
                    errors[name] = "GUARD DID NOT FIRE (expected refusal)"
                    continue
                except ValueError as e:
                    guard_notes[name] = str(e)[:160]
                    print(
                        json.dumps(
                            {"query": name, "guard_refused": str(e)[:160]}
                        )
                    )
                t0 = time.perf_counter()
                emb = read_table(spark, args.dir, "embeddings")
                n = embedding_duplicate_pairs(
                    emb, block_col="label", top_n=50, oversize="route"
                ).count()
                name = "x08_dedup_embedding_cosine(routed)"
            else:
                n = qs[name](spark, args.dir).count()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(json.dumps({"query": name, "error": errors[name]}))
            continue
        timings[name] = round(time.perf_counter() - t0, 4)
        errors.pop(name, None)  # a success supersedes a carried error
        print(json.dumps({"query": name, "sec": timings[name], "rows": n}))
        sys.stdout.flush()
        flush()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    summary = flush()
    print(json.dumps({k: v for k, v in summary.items() if k != "queries"}))


if __name__ == "__main__":
    main()

"""Structured Streaming parity with the batch transforms + gold metrics."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from clinical_trials_data_pipeline_analyis_spark.plans import (
    dim_dates,
    dim_studies,
    fact_trials,
    silver_studies,
)
from clinical_trials_data_pipeline_analyis_spark.plans.metrics import (
    headline_measures,
    trials_per_year,
    yoy_growth,
)
from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS
from clinical_trials_data_pipeline_analyis_spark.streaming import (
    hourly_event_counts_stream,
    streaming_events_source,
)
from fixtures import make_bronze_fixtures


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Two micro-batch JSON files of synthetic events."""
    d = tmp_path_factory.mktemp("events_stream")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        {
            "event_id": i,
            "ts": (base + dt.timedelta(minutes=7 * i)).isoformat(),
            "user_id": i % 5,
            "event_type": ["view", "click", "purchase"][i % 3],
            "value": float(i) * 1.25,
            "props": json.dumps({"k": i}),
        }
        for i in range(200)
    ]
    for b, chunk in enumerate([rows[:100], rows[100:]]):
        with open(d / f"batch{b}.json", "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
    return str(d)


def test_streaming_window_agg_matches_batch(spark, events_dir, tmp_path):
    """The streaming windowed aggregation must equal the same aggregation
    run in batch over the same files (availableNow processes everything)."""
    stream = streaming_events_source(spark, events_dir)
    assert stream.isStreaming
    agg = hourly_event_counts_stream(stream, watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM hourly_counts").collect()
    }

    batch = (
        spark.read.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        )
    )
    want = {
        (r["w"]["start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def gold(spark):
    tables = make_bronze_fixtures(n_studies=300, seed=3)
    dfs = {
        n: spark.createDataFrame(
            [tuple(r.get(f.name) for f in BRONZE_SCHEMAS[n].fields) for r in recs],
            BRONZE_SCHEMAS[n],
        )
        for n, recs in tables.items()
    }
    ss = silver_studies(dfs["studies"])
    ds = dim_studies(ss)
    dd = dim_dates(spark)
    return ss, fact_trials(ss, ds, dd), ds, dd


def test_headline_measures(gold):
    ss, fact, ds, dd = gold
    row = headline_measures(fact, ds).collect()[0]
    assert row["total_trials"] == 300
    assert row["total_enrollment"] >= 0
    assert (
        row["late_phase_trial_count"] + row["early_phase_trial_count"]
        <= row["total_trials"]
    )


def test_trials_per_year_and_yoy(gold):
    ss, fact, ds, dd = gold
    per_year = trials_per_year(fact, dd).collect()
    assert sum(r["n_trials"] for r in per_year) == fact.filter(
        F.col("start_date_key") != 0
    ).count()
    yoy = {r["year"]: r for r in yoy_growth(fact, dd).collect()}
    years = sorted(yoy)
    assert yoy[years[0]]["yoy_growth"] is None  # no prior year
    for y in years[1:]:
        prev = yoy[y]["prev_year_trials"]
        if prev and prev > 0:
            expect = round((yoy[y]["n_trials"] - prev) / prev, 6)
            assert abs(yoy[y]["yoy_growth"] - expect) < 1e-9


def test_stateful_sessionization_stream(spark, events_dir, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions emitted by the
    stream must match the batch lag-window sessionization over the same
    data (excluding each user's final still-open session)."""
    from pyspark.sql import Window

    from clinical_trials_data_pipeline_analyis_spark.streaming.sessions import (
        sessionize_stream,
    )

    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    stream = spark.readStream.schema(schema).json(events_dir)
    sessions = sessionize_stream(stream.select("user_id", "ts"))
    q = (
        sessions.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }

    # batch reference: lag-window sessionization; drop each user's LAST
    # session (still open in the stream, not yet emitted)
    batch = spark.read.schema(schema).json(events_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        batch.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (
                    F.col("ts").cast("double") - F.col("prev").cast("double")
                    > 1800
                )
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    last = sess.groupBy("user_id").agg(F.max("sess_id").alias("last_id"))
    want_rows = sess.join(
        last,
        (sess.user_id == last.user_id) & (sess.sess_id == last.last_id),
        "left_anti",
    ).collect()
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in want_rows
    }
    assert len(got) > 0
    assert got == want


@pytest.fixture(scope="module")
def dup_events_dir(tmp_path_factory):
    """Events with replayed duplicates: every third event appears twice
    (once in each micro-batch file), as an at-least-once source would
    deliver them."""
    d = tmp_path_factory.mktemp("dup_events_stream")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        {
            "event_id": i,
            "ts": (base + dt.timedelta(minutes=2 * i)).isoformat(),
            "user_id": i % 5,
            "event_type": ["view", "click", "purchase"][i % 3],
            "value": float(i) * 1.25,
            "props": json.dumps({"k": i}),
        }
        for i in range(90)
    ]
    replays = [r for r in rows if r["event_id"] % 3 == 0]
    for b, chunk in enumerate([rows[:60], rows[60:] + replays]):
        with open(d / f"batch{b}.json", "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
    return str(d)


def test_streaming_dedup_matches_batch(spark, dup_events_dir, tmp_path):
    """dropDuplicatesWithinWatermark over the replayed stream must yield
    exactly the batch-distinct set of event ids."""
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        dedup_events_stream,
    )

    stream = streaming_events_source(spark, dup_events_dir)
    deduped = dedup_events_stream(
        stream, key_cols=("event_id",), event_time_col="ts", watermark="6 hours"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM deduped_events").collect()
    )
    assert got == list(range(90))  # each id exactly once despite replays


def test_streaming_near_dedup_matches_batch(spark, tmp_path):
    """Incremental near-dedup (per-micro-batch signatures banded against
    the accumulated store) must flag exactly the documents the batch
    pipeline flags — docs LSH-colliding with a lower-id doc."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        near_dedup_docs_stream,
    )
    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    schema = docs.schema

    # id-ordered chunks -> one micro-batch per file
    chunks = str(tmp_path / "chunks")
    n = docs.count()
    half = n // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(f"{chunks}/c2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = near_dedup_docs_stream(
        stream,
        out_path=str(tmp_path / "flags"),
        store_path=str(tmp_path / "sigstore"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)

    got = {
        r["doc_id"]: r["is_near_dup"]
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }

    # batch expectation: doc flagged iff it pairs with a smaller doc_id
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    dup = {r["doc_b"] for r in pairs.collect()}  # doc_a < doc_b by contract
    want = {r["doc_id"]: r["doc_id"] in dup for r in docs.select("doc_id").collect()}
    assert got == want
    # the store holds one signature row per document
    assert spark.read.parquet(str(tmp_path / "sigstore")).count() == n


def test_streaming_near_dedup_replay_is_idempotent(spark, tmp_path):
    """at-least-once safety for the near-dedup store: replaying the
    stream from a wiped checkpoint (every epoch re-runs) must leave the
    flag table AND the signature store bit-identical — one row per doc,
    same flags — because both are epoch-partitioned with dynamic
    overwrite and the store read bands only against epochs < current."""
    import shutil

    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        near_dedup_docs_stream,
    )

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "one two three four five six seven eight nine ten eleven",
        2: "spark plans joins shuffles broadcasts windows aggregates",
        3: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        4: "red orange yellow green blue indigo violet crimson amber",
        5: "one two three four five six seven eight nine ten eleven",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id BIGINT, text STRING"
    )
    chunks = str(tmp_path / "chunks")
    docs.filter(F.col("doc_id") < 3).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= 3).coalesce(1).write.parquet(f"{chunks}/c2")

    out_path = str(tmp_path / "flags")
    store_path = str(tmp_path / "sigstore")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = near_dedup_docs_stream(
            stream, out_path=out_path, store_path=store_path, checkpoint=ckpt
        ).start()
        q.awaitTermination(120)

    run()
    first = {
        r["doc_id"]: r["is_near_dup"]
        for r in spark.read.parquet(out_path).collect()
    }
    # exact copies of lower-id docs flag; nothing else does
    assert first[3] is True and first[5] is True
    assert not any(first[i] for i in (0, 1, 2, 4))

    # replay EVERY epoch: wipe the checkpoint, same files, same order
    shutil.rmtree(ckpt)
    run()
    flags = spark.read.parquet(out_path)
    assert flags.count() == len(texts), "replay must not duplicate flags"
    assert {
        r["doc_id"]: r["is_near_dup"] for r in flags.collect()
    } == first
    store = spark.read.parquet(store_path)
    assert store.count() == len(texts), "replay must not duplicate store"
    assert store.select("doc_id").distinct().count() == len(texts)


def test_streaming_span_cleaning_keep_first_and_idempotent(spark, tmp_path):
    """Incremental span cleaning (`clean_spans_stream`):

    1. within a micro-batch, duplicate runs clean SYMMETRICALLY (both
       copies cut — the batch operator's rule);
    2. across batches, KEEP-FIRST: a later copy of an earlier epoch's
       run is cut, the first arrival's text is untouched;
    3. a full replay from a wiped checkpoint leaves cleaned output and
       the window-hash store bit-identical (epoch-partitioned dynamic
       overwrite + history read of epochs < current)."""
    import shutil

    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.streaming import clean_spans_stream

    run_a = "alpha beta gamma delta epsilon zeta"          # 6 tokens
    b1 = [
        (0, f"{run_a} one two three"),                     # first arrival
        (1, "unique opening sentence with fresh tokens"),
    ]
    b2 = [
        (2, f"seven eight {run_a} nine ten"),              # later copy: cut
        (3, "red orange yellow green blue indigo violet"),  # in-batch pair
        (4, "red orange yellow green blue indigo violet"),  # in-batch pair
    ]
    schema = "doc_id BIGINT, text STRING"
    chunks = tmp_path / "chunks"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(chunks / "c1")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(chunks / "c2")
    )

    out_path = str(tmp_path / "cleaned")
    store_path = str(tmp_path / "ghstore")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chunks / "c*"))
        )
        q = clean_spans_stream(
            stream, out_path=out_path, store_path=store_path,
            checkpoint=ckpt, k=5,
        ).start()
        q.awaitTermination(120)

    run()
    got = {
        r["doc_id"]: r for r in spark.read.parquet(out_path).collect()
    }
    # keep-first: doc 0's text intact even though doc 2 repeats its run
    assert got[0]["tokens_removed"] == 0
    assert got[0]["clean_text"] == b1[0][1]
    assert got[1]["tokens_removed"] == 0
    # later copy: exactly the shared 6-token run cut
    assert got[2]["tokens_removed"] == 6
    assert got[2]["clean_text"] == "seven eight nine ten"
    # in-batch duplicates clean symmetrically (both copies)
    assert got[3]["clean_text"] == "" and got[4]["clean_text"] == ""
    assert got[3]["tokens_removed"] == 7

    # replay every epoch from scratch: identical output, no duplicates
    first = {k: (v["tokens_removed"], v["clean_text"]) for k, v in got.items()}
    shutil.rmtree(ckpt)
    run()
    replayed = spark.read.parquet(out_path)
    assert replayed.count() == 5
    assert {
        r["doc_id"]: (r["tokens_removed"], r["clean_text"])
        for r in replayed.collect()
    } == first
    store = spark.read.parquet(store_path)
    per_epoch = {
        r["epoch_id"]: r["n"]
        for r in store.groupBy("epoch_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_epoch) == {0, 1}, "one store partition per epoch"
    # store rows are DISTINCT hashes per epoch — replay must not inflate
    assert store.count() == store.select("epoch_id", "gh").distinct().count()


def test_streaming_curation_matches_batch(spark, tmp_path):
    """The streaming filter cascade (per-batch signals + cross-batch
    fingerprint store) must assign every document the same funnel stage
    as the batch curation operator over the full corpus."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.curation import (
        first_failed_rule,
    )
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        exact_duplicates,
    )
    from clinical_trials_data_pipeline_analyis_spark.operators.repetition import (
        repetition_features,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        curate_docs_stream,
    )
    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    schema = docs.schema

    chunks = str(tmp_path / "chunks")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(f"{chunks}/c2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = curate_docs_stream(
        stream,
        out_path=str(tmp_path / "verdicts"),
        store_path=str(tmp_path / "fpstore"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)

    got = {
        r["doc_id"]: r["stage"]
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }

    rep = repetition_features(docs).select(
        "doc_id", "n_tokens", "top_bigram_frac"
    )
    dup = exact_duplicates(docs, "doc_id", "text").select(
        "doc_id", "is_duplicate"
    )
    want = {
        r["doc_id"]: r["stage"]
        for r in first_failed_rule(
            rep.join(dup, "doc_id"),
            [
                ("too_short", F.col("n_tokens") < 20),
                ("repetitive", F.col("top_bigram_frac") > 0.10),
                ("exact_dup", F.col("is_duplicate")),
            ],
        ).collect()
    }
    assert got == want


def test_streaming_curation_replay_is_idempotent(spark, tmp_path):
    """at-least-once safety for the curation cascade: replaying the
    stream from a wiped checkpoint (every epoch re-runs) must leave one
    verdict per document, identical to the first run, because verdicts
    and fingerprints are epoch-partitioned with dynamic overwrite and
    the fingerprint read covers only epochs < current."""
    import shutil

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        curate_docs_stream,
    )

    # 25 distinct tokens: long enough and not repetitive, so only the
    # exact-dup stage can reject; docs 3-5 copy docs 0-2.
    originals = [
        " ".join(f"{tag}{j}" for j in range(25))
        for tag in ("alpha", "beta", "gamma")
    ]
    texts = dict(enumerate(originals + originals))
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id BIGINT, text STRING"
    )
    chunks = str(tmp_path / "chunks")
    docs.filter(F.col("doc_id") < 3).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= 3).coalesce(1).write.parquet(f"{chunks}/c2")

    out_path = str(tmp_path / "verdicts")
    store_path = str(tmp_path / "fpstore")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = curate_docs_stream(
            stream, out_path=out_path, store_path=store_path, checkpoint=ckpt
        ).start()
        q.awaitTermination(120)

    run()
    first = {
        r["doc_id"]: r["stage"] for r in spark.read.parquet(out_path).collect()
    }
    assert first == {
        0: "kept", 1: "kept", 2: "kept",
        3: "exact_dup", 4: "exact_dup", 5: "exact_dup",
    }

    shutil.rmtree(ckpt)
    run()
    verdicts = spark.read.parquet(out_path)
    assert verdicts.count() == len(texts), "replay must not duplicate verdicts"
    assert {r["doc_id"]: r["stage"] for r in verdicts.collect()} == first
    store = spark.read.parquet(store_path)
    assert store.count() == len(texts), "replay must not duplicate store"


def test_read_history_is_empty_before_first_write_and_loud_without_epochs(
    spark, tmp_path
):
    """The epoch-store history read: no parquet yet (absent path) reads
    as an empty history shaped like the batch; a store written without
    the ``epoch_id`` partition (a plain append sink) raises instead of
    silently reading as empty."""
    from pyspark.errors import AnalysisException

    from clinical_trials_data_pipeline_analyis_spark.streaming.store_meta import (
        read_history,
        write_epoch,
    )

    batch = spark.createDataFrame([(1, "a")], "doc_id BIGINT, fp STRING")
    empty = read_history(spark, str(tmp_path / "absent"), 0, batch)
    assert empty.columns == batch.columns and empty.count() == 0

    store = str(tmp_path / "store")
    write_epoch(batch, store, 0)
    assert read_history(spark, store, 0, batch).count() == 0
    assert read_history(spark, store, 1, batch).columns == batch.columns

    plain = str(tmp_path / "plain")
    batch.write.parquet(plain)
    with pytest.raises(AnalysisException):
        read_history(spark, plain, 1, batch)


def test_silver_studies_stream_matches_batch_and_replays(spark, tmp_path):
    """The micro-batch silver cleaner must write exactly
    ``silver_studies`` over the union of its micro-batches (one
    ``epoch_id`` partition per batch), and a replay from a wiped
    checkpoint must leave one row per ``nct_id``."""
    import shutil

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        silver_studies_stream,
    )

    schema = BRONZE_SCHEMAS["studies"]
    recs = make_bronze_fixtures(n_studies=60, seed=5)["studies"]
    bronze = spark.createDataFrame(
        [tuple(r.get(f.name) for f in schema.fields) for r in recs], schema
    )
    chunks = str(tmp_path / "chunks")
    cut = F.col("nct_id") < "NCT00000030"
    bronze.filter(cut).coalesce(1).write.parquet(f"{chunks}/c1")
    bronze.filter(~cut).coalesce(1).write.parquet(f"{chunks}/c2")

    out_path = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = silver_studies_stream(
            stream, out_path=out_path, checkpoint=ckpt
        ).start()
        q.awaitTermination(120)

    want_df = silver_studies(bronze)
    want = {r["nct_id"]: r.asDict() for r in want_df.collect()}

    def got():
        out = spark.read.parquet(out_path)
        assert out.count() == len(want), "one row per nct_id"
        epochs = {r["epoch_id"] for r in out.select("epoch_id").collect()}
        assert epochs == {0, 1}, "one epoch_id partition per micro-batch"
        return {
            r["nct_id"]: r.asDict()
            for r in out.select(*want_df.columns).collect()
        }

    run()
    assert got() == want
    shutil.rmtree(ckpt)
    run()
    assert got() == want


# ---------------------------------------------------------------------
# Streaming ANN cell assignment (streaming/similarity.py)
# ---------------------------------------------------------------------


def test_streaming_cell_assign_matches_batch(spark, tmp_path):
    """The row-local centroid fold over a stream must equal the batch
    crossJoin+window ivf_assign over the same vectors (same rounded
    cosine, same tiebreak), and its batch application must plan as a
    pure projection — no join, no exchange, no aggregate operator."""
    import json

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        ivf_assign,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        assign_cells_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 97 == 0)
    centroid_rows = [
        (r["vec_id"], list(r["embedding"])) for r in centroids.collect()
    ]
    expected = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in ivf_assign(emb, centroids).collect()
    }

    # batch application: value-equal AND row-local (no join/shuffle/agg)
    batch_out = assign_cells_stream(emb, centroid_rows)
    got_batch = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in batch_out.collect()
    }
    assert got_batch == expected
    optimized = batch_out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized
    assert "Exchange" not in optimized
    assert "Aggregate" not in optimized  # fold is an expression, not an op

    # streaming application over a JSON file source
    src = tmp_path / "emb_stream"
    src.mkdir()
    rows = emb.select("vec_id", "embedding").collect()
    with open(src / "part-0.json", "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                )
                + "\n"
            )
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>"
    ).json(str(src))
    assigned = assign_cells_stream(stream, centroid_rows)
    assert assigned.isStreaming
    q = (
        assigned.writeStream.format("memory")
        .queryName("cells_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in spark.table("cells_stream").collect()
    }
    assert got_stream == expected


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """Per-micro-batch decontamination against the static benchmark must
    flag exactly the documents (with identical hit counts) the batch
    operator flags over the full corpus — decontamination has no
    cross-batch state, so stream and batch results are equal by
    construction, and this pins it."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        decontaminate,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming.dedup import (
        decontaminate_docs_stream,
    )
    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # benchmark: every 17th doc plays the eval set (non-trivial overlap
    # with the corpus by construction — exact-duplicate chains exist)
    benchmark = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )

    chunks = str(tmp_path / "chunks")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(f"{chunks}/c2")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = decontaminate_docs_stream(
        stream,
        benchmark,
        out_path=str(tmp_path / "flags"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["n_bench_hits"], r["max_common"])
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }
    want = {
        r["doc_id"]: (r["n_bench_hits"], r["max_common"])
        for r in decontaminate(docs, benchmark).collect()
    }
    assert got == want and len(want) > 0


def test_nearest_centroid_literal_has_size_ceiling(spark):
    """The plan-literal centroid form must REFUSE index-scale centroid
    sets: past MAX_LITERAL_CENTROIDS the embedded literal degrades or
    breaks plan compilation with no clear error — the guard turns that
    into an actionable ValueError pointing at the foreachBatch variant
    (VERDICT r04 'What's wrong' #1)."""
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        MAX_LITERAL_CENTROIDS,
        nearest_centroid_expr,
    )

    oversized = [(i, [1.0, 0.0]) for i in range(MAX_LITERAL_CENTROIDS + 1)]
    with pytest.raises(ValueError, match="assign_cells_foreach_batch"):
        nearest_centroid_expr(oversized)
    # at the ceiling it still constructs
    nearest_centroid_expr(oversized[:MAX_LITERAL_CENTROIDS])


def test_cell_assign_zero_norm_vector_matches_batch(spark):
    """Degenerate zero-norm embeddings score NULL cosine against every
    centroid. The batch window (cosine DESC NULLS LAST, centroid_id ASC)
    assigns them the SMALLEST centroid id; the streaming fold must agree
    — the pre-fix fold kept replacing the accumulator on NULL, silently
    assigning the LAST centroid (ADVICE r04 #1)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        ivf_assign,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        assign_cells_stream,
    )

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),  # zero-norm: NULL cosine everywhere
            (2, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    cent = spark.createDataFrame(
        [(7, [0.0, 1.0, 0.0]), (5, [1.0, 0.0, 0.0]), (9, [0.0, 0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    expected = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in ivf_assign(emb, cent).collect()
    }
    centroid_rows = [
        (r["vec_id"], list(r["embedding"])) for r in cent.collect()
    ]
    got = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in assign_cells_stream(emb, centroid_rows).collect()
    }
    assert expected[1] == (5, None)  # smallest centroid id, NULL cosine
    assert got == expected


def test_foreach_batch_assign_refreshes_centroids_and_is_idempotent(
    spark, tmp_path
):
    """The broadcast-join streaming assignment (large-centroid path):

    1. per-epoch results equal the batch ``ivf_assign`` against the
       centroid table AS OF that epoch;
    2. overwriting the centroid table between micro-batches changes the
       NEXT epoch's assignments with no stream restart (refresh);
    3. re-running an epoch overwrites its own epoch partition instead of
       appending duplicates (at-least-once safety)."""
    import shutil

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        ivf_assign,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        assign_cells_foreach_batch,
    )

    src = tmp_path / "emb_stream"
    src.mkdir()
    cent_path = str(tmp_path / "centroids")
    out_path = str(tmp_path / "assigned")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(fname, rows):
        with open(src / fname, "w") as f:
            for vid, vec in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": vec}) + "\n")

    def run():
        stream = spark.readStream.schema(
            "vec_id LONG, embedding ARRAY<FLOAT>"
        ).json(str(src))
        q = assign_cells_foreach_batch(
            stream, cent_path, out_path, ckpt
        ).start()
        q.awaitTermination(120)

    def cent_df(rows):
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<FLOAT>"
        )

    batch1 = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])]
    cent_v1 = [(10, [1.0, 0.0]), (20, [0.0, 1.0])]
    cent_df(cent_v1).write.mode("overwrite").parquet(cent_path)
    write_batch("b1.json", batch1)
    run()

    got1 = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(out_path).collect()
    }
    want1 = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(
            spark.createDataFrame(batch1, "vec_id LONG, embedding ARRAY<FLOAT>"),
            cent_df(cent_v1),
        ).collect()
    }
    assert got1 == want1

    # replay: wipe the checkpoint so epoch 0 re-runs over the same file;
    # dynamic epoch-partition overwrite rewrites epoch_id=0 in place, so
    # the at-least-once redelivery leaves no duplicates
    shutil.rmtree(ckpt)
    run()
    replayed = spark.read.parquet(out_path)
    assert replayed.count() == len(batch1)
    assert (
        replayed.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )

    # retrain: overwrite the centroid table, then feed a second batch —
    # the SAME vectors as batch1 under new ids must land in the new cells
    cent_v2 = [(30, [0.7, 0.7]), (40, [-1.0, 0.0])]
    cent_df(cent_v2).write.mode("overwrite").parquet(cent_path)
    batch2 = [(11, [1.0, 0.0]), (12, [0.0, 1.0]), (13, [0.7, 0.7])]
    write_batch("b2.json", batch2)
    run()

    out = spark.read.parquet(out_path)
    got2 = {
        r["vec_id"]: r["centroid_id"]
        for r in out.filter(F.col("vec_id") > 10).collect()
    }
    assert set(got2.values()) == {30}  # every batch-2 vector: new centroid
    # epoch-1 rows are untouched by the refresh
    assert {
        r["vec_id"]: r["centroid_id"]
        for r in out.filter(F.col("vec_id") <= 10).collect()
    } == want1
    assert out.count() == len(batch1) + len(batch2)


def test_stream_stream_attribution_matches_batch(spark, events_dir, tmp_path):
    """Watermarked stream-stream interval join (view->action attribution)
    over availableNow file micro-batches equals the identical join run in
    batch over the same files. Events fixture: types cycle
    view/click/purchase every 7 minutes, so each click has exactly the
    views of the same user in the preceding gap (a user's events are 35
    minutes apart, so the 2-hour gap admits up to three prior views)."""
    from clinical_trials_data_pipeline_analyis_spark.streaming.events import (
        EVENTS_STREAM_SCHEMA,
        streaming_events_source,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming.joins import (
        attribute_actions_batch,
        attribute_actions_stream,
    )

    stream = streaming_events_source(spark, events_dir)
    views_s = stream.filter(F.col("event_type") == "view")
    actions_s = stream.filter(F.col("event_type").isin("click", "purchase"))
    attributed = attribute_actions_stream(
        views_s, actions_s, max_gap="2 hours", watermark="3 hours"
    )
    assert attributed.isStreaming
    q = (
        attributed.writeStream.format("memory")
        .queryName("attribution_stream")
        .option("checkpointLocation", str(tmp_path / "ck_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.table("attribution_stream")
        .select("action_event_id", "view_event_id", "gap_seconds")
        .collect()
    }

    batch = spark.read.schema(EVENTS_STREAM_SCHEMA).json(events_dir)
    views_b = batch.filter(F.col("event_type") == "view")
    actions_b = batch.filter(F.col("event_type").isin("click", "purchase"))
    want = {
        tuple(r)
        for r in attribute_actions_batch(views_b, actions_b, max_gap="2 hours")
        .select("action_event_id", "view_event_id", "gap_seconds")
        .collect()
    }
    assert got == want
    assert len(want) > 0
    # Spot-check semantics: every gap within [0, 2 h].
    for r in attribute_actions_batch(views_b, actions_b, max_gap="2 hours").collect():
        assert 0 <= r["gap_seconds"] <= 7200


def _near_dup_embeddings(spark, n_base=60, n_dups=20, dim=64):
    """Deterministic synthetic embeddings with PLANTED near-dups: the
    last ``n_dups`` vectors are noisy copies of the first ``n_dups``
    bases (cosine ~0.999 >> threshold), so the compared result sets are
    provably non-empty — an empty==empty pass can't masquerade as
    equality (the round-11 ADVICE vacuity lesson)."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.normal(size=(n_base, dim))
    dups = base[:n_dups] + rng.normal(scale=0.01, size=(n_dups, dim))
    vecs = np.vstack([base, dups])
    rows = [
        (i, [float(x) for x in vecs[i]]) for i in range(n_base + n_dups)
    ]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )


def test_streaming_rhp_near_dedup_matches_batch(spark, tmp_path):
    """Incremental RHP near-dedup (per-micro-batch signatures banded +
    cosine-verified against the accumulated store) must flag exactly
    the vectors the batch operator pairs as ``vec_b`` — the keep-first
    contract over an id-ordered stream."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        rhp_near_dedup_stream,
    )

    emb = _near_dup_embeddings(spark)
    n = emb.count()
    geometry = dict(n_bits=16, bands=2, dim=64, seed=13)

    # id-ordered chunks -> one micro-batch per file; the split at 70
    # puts 10 planted dups in epoch 0 (within-batch partners) and 10 in
    # epoch 1 (store partners) so BOTH collision paths are exercised.
    chunks = str(tmp_path / "chunks")
    emb.filter(F.col("vec_id") < 70).coalesce(1).write.parquet(f"{chunks}/c1")
    emb.filter(F.col("vec_id") >= 70).coalesce(1).write.parquet(f"{chunks}/c2")

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = rhp_near_dedup_stream(
        stream,
        out_path=str(tmp_path / "flags"),
        store_path=str(tmp_path / "sigstore"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.9,
        **geometry,
    ).start()
    q.awaitTermination(180)

    got = {
        r["vec_id"]: r["is_near_dup"]
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }

    pairs = rhp_near_duplicates(emb, threshold=0.9, **geometry)
    dup = {r["vec_b"] for r in pairs.collect()}  # vec_a < vec_b by contract
    assert len(dup) > 0, "fixture must produce real near-dup pairs"
    want = {i: i in dup for i in range(n)}
    assert got == want
    # every planted copy (ids 60..79) flags; every base id is kept
    assert all(got[i] for i in range(60, 80))
    assert not any(got[i] for i in range(60))
    # the store holds bands rows per vector (vector rides with its sig)
    store = spark.read.parquet(str(tmp_path / "sigstore"))
    assert store.count() == n * geometry["bands"]


def test_streaming_rhp_replay_idempotent_and_geometry_pinned(spark, tmp_path):
    """at-least-once safety + the geometry pin: replaying every epoch
    from a wiped checkpoint leaves flags and store bit-identical, and a
    restart with DIFFERENT geometry fails loudly instead of silently
    missing every cross-epoch duplicate (band sigs from different
    hyperplanes never collide meaningfully)."""
    import shutil

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        rhp_near_dedup_stream,
    )

    emb = _near_dup_embeddings(spark, n_base=30, n_dups=10)
    chunks = str(tmp_path / "chunks")
    emb.filter(F.col("vec_id") < 35).coalesce(1).write.parquet(f"{chunks}/c1")
    emb.filter(F.col("vec_id") >= 35).coalesce(1).write.parquet(f"{chunks}/c2")

    out_path = str(tmp_path / "flags")
    store_path = str(tmp_path / "sigstore")
    ckpt = str(tmp_path / "ckpt")

    def run(seed=13):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = rhp_near_dedup_stream(
            stream,
            out_path=out_path,
            store_path=store_path,
            checkpoint=ckpt,
            threshold=0.9,
            seed=seed,
        ).start()
        q.awaitTermination(120)
        return q

    run()
    first = {
        r["vec_id"]: r["is_near_dup"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert all(first[i] for i in range(30, 40))

    # replay EVERY epoch: wipe the checkpoint, same files, same order
    shutil.rmtree(ckpt)
    run()
    flags = spark.read.parquet(out_path)
    assert flags.count() == 40, "replay must not duplicate flags"
    assert {r["vec_id"]: r["is_near_dup"] for r in flags.collect()} == first
    store = spark.read.parquet(store_path)
    assert store.count() == 40 * 2
    assert store.select("vec_id").distinct().count() == 40

    # geometry change over a live store -> loud failure, not silence
    shutil.rmtree(ckpt)
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="geometry"):
        q = run(seed=99)


def test_streaming_rhp_budget_refuses_in_binding_regime(
    spark, tmp_path, monkeypatch
):
    """The per-epoch candidate budget must refuse LOUDLY where it binds
    (the house rule: every size-dependent guard gets a binding-regime
    test): a budget of 1 against a fixture whose first epoch already
    carries colliding planted dups fails the stream with the named
    prescription, not a silent spill."""
    from pyspark.errors import StreamingQueryException

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        rhp_near_dedup_stream,
        similarity as stream_similarity,
    )

    monkeypatch.setattr(
        stream_similarity, "MAX_RHP_STREAM_CANDIDATES_PER_EPOCH", 1
    )
    emb = _near_dup_embeddings(spark, n_base=30, n_dups=10)
    chunks = str(tmp_path / "chunks")
    emb.coalesce(1).write.parquet(f"{chunks}/c1")

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = rhp_near_dedup_stream(
        stream,
        out_path=str(tmp_path / "flags"),
        store_path=str(tmp_path / "sigstore"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.9,
    ).start()
    with pytest.raises(StreamingQueryException, match="candidate rows"):
        q.awaitTermination(120)


@pytest.mark.parametrize("family", ["minhash", "simhash", "rhp"])
def test_near_dup_streams_refuse_at_the_same_mass(
    spark, tmp_path, monkeypatch, family
):
    """The three near-dup streams price an epoch alike. Each is fed the
    same bucket sizes: two bucket tables (two bands, or SimHash's two
    halves) of one bucket each, filled by 4 identical rows in epoch 0
    and 3 more in epoch 1. The keep-first mass is then
    2·C(4, 2) = 12 for epoch 0 and 2·(3·4 + C(3, 2)) = 30 for epoch 1,
    so a budget of 29 refuses epoch 1 at 30 and a budget of 30 admits
    both epochs. Each budget is a module constant, read at each epoch."""
    from functools import partial

    from pyspark.errors import StreamingQueryException

    from clinical_trials_data_pipeline_analyis_spark import streaming
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        dedup as stream_dedup,
        similarity as stream_similarity,
    )

    def with_budget(module, constant, make):
        def start(stream, budget, **paths):
            monkeypatch.setattr(module, constant, budget)
            return make(stream, **paths)

        return start

    if family == "rhp":
        id_col = "vec_id"
        rows = spark.createDataFrame(
            [(i, [1.0] * 64) for i in range(7)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        make = with_budget(
            stream_similarity,
            "MAX_RHP_STREAM_CANDIDATES_PER_EPOCH",
            partial(
                streaming.rhp_near_dedup_stream,
                threshold=0.9, n_bits=16, bands=2, dim=64,
            ),
        )
    else:
        id_col = "doc_id"
        rows = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon") for i in range(7)],
            "doc_id BIGINT, text STRING",
        )
        make = {
            "minhash": with_budget(
                stream_dedup,
                "MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH",
                partial(streaming.near_dedup_docs_stream, num_hashes=8, bands=2),
            ),
            "simhash": with_budget(
                stream_dedup,
                "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH",
                streaming.simhash_near_dedup_stream,
            ),
        }[family]
    chunks = str(tmp_path / "chunks")
    rows.filter(F.col(id_col) < 4).coalesce(1).write.parquet(f"{chunks}/c1")
    rows.filter(F.col(id_col) >= 4).coalesce(1).write.parquet(f"{chunks}/c2")

    def run(budget):
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        out = tmp_path / f"budget{budget}"
        return make(
            stream,
            budget,
            out_path=str(out / "flags"),
            store_path=str(out / "store"),
            checkpoint=str(out / "ckpt"),
        ).start()

    q = run(29)
    with pytest.raises(
        StreamingQueryException, match=r"\(epoch 1\): measured ~30 candidate rows"
    ):
        q.awaitTermination(120)
    run(30).awaitTermination(120)
    flags = spark.read.parquet(str(tmp_path / "budget30" / "flags"))
    assert sorted(tuple(r) for r in flags.select(id_col, "is_near_dup").collect()) == [
        (0, False)
    ] + [(i, True) for i in range(1, 7)]

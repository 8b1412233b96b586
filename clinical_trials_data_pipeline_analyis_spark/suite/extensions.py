"""LLM-data-pipeline extension suite (dedup, similarity, text analysis).

These run on the ``documents`` and ``embeddings`` testdata tables. All
hashing uses md5 hex (identical across Spark and DuckDB) so even the
MinHash/SimHash signatures are exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..checkpoint import cut_lineage

from ..functions.text import (
    LANG_MARKERS,
    langid_scores,
    md5_fingerprint,
    normalized_text,
    quality_features,
    token_count,
    whitespace_tokens,
)
from ..operators.dedup import (
    connected_components,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ..operators.multimodal import attach_binary_payload, decode_image_metadata
from ..operators.similarity import (
    brute_force_topk,
    embedding_duplicate_pairs,
    ivf_assign,
)
from ..sources.parquet import read_table
from . import register
from . import tpch  # noqa: F401  (tpch registers first, whatever the import order)

#: DuckDB expression for the same normalization as functions.text.normalized_text
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

#: Embedding width of the fixtures' embeddings table. Passed as the
#: ``dim`` hint to every corpus-scale dot/norm — since round 8's
#: re-measure the hint is INERT by default (the flat-codegen form it
#: used to select measured 2-5x slower than the fold at both sf0.1 and
#: sf10; see functions/vectors.py for the numbers and mechanism). It is
#: still threaded through so the documented width stays declared at
#: each call site and the experiment stays one flag away.
_EMB_DIM = 64


#: Explicit schema for events.parquet: pins ``ts`` to TIMESTAMP_NTZ so
#: the wall-clock semantics do NOT depend on the session's
#: ``spark.sql.parquet.inferTimestampNTZ.enabled`` conf (default true in
#: Spark 4, but a driver session could disable it — then ts would arrive
#: as TIMESTAMP_LTZ and every event-time output would shift with the
#: session timezone while the DuckDB oracle stays wall-clock).
#: tests/test_events_contract.py asserts the parquet physical type this
#: schema assumes (TIMESTAMP(MICROS), no timezone).
_EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries ``ts`` as TIMESTAMP(MICROS); read with an
    explicit TIMESTAMP_NTZ schema (DuckDB reads the same file as
    TIMESTAMP) — both wall-clock types with no timezone attached, so all
    event-time math below stays timezone-free (date_trunc buckets,
    interval comparisons, formatted string outputs) and agrees between
    the engines regardless of the session timezone or parquet-inference
    conf the driver happens to run with."""
    return spark.read.schema(_EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet")


# =====================================================================
# x01 — exact deduplication: content-hash grouping, keep lowest doc_id.
# The canonical 100 TB exact-dedup plan: one shuffle on a 128-bit content
# hash (never on the raw text), row_number inside each hash bucket.
# =====================================================================
@register(
    "x01_dedup_exact",
    oracle=f"""
SELECT
    doc_id,
    fp,
    CAST(rn > 1 AS BOOLEAN) AS is_duplicate
FROM (
    SELECT
        doc_id,
        md5({_NORM_SQL}) AS fp,
        ROW_NUMBER() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
    FROM documents
)
""",
    covers=("X-DEDUP-EXACT", "W2"),
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5(normalized_text(F.col("text")).cast("binary"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select("doc_id", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "fp", (F.col("rn") > 1).alias("is_duplicate"))
    )


# =====================================================================
# x02 — document fingerprinting: md5-prefix content fingerprint (the
# "rolling hash" fingerprint surface; md5 keeps it engine-portable).
# =====================================================================
@register(
    "x02_doc_fingerprint",
    oracle=f"""
SELECT
    doc_id,
    substring(md5({_NORM_SQL}), 1, 16) AS fingerprint,
    CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
""",
    covers=("X-TEXT-FINGERPRINT",),
)
def x02_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


# =====================================================================
# x03 — token counting: whitespace tokens + BPE-ish regex tokens.
# regexp_extract_all with an RE2-safe pattern so Spark and DuckDB agree.
# =====================================================================
from ..functions.text import BPE_TOKEN_PATTERN as _BPE_PATTERN
from ..functions.text import bpe_ish_tokens


@register(
    "x03_token_count",
    oracle=f"""
SELECT
    doc_id,
    CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS bpe_tokens
FROM documents
""",
    covers=("X-TEXT-TOKENS",),
)
def x03_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).cast("long").alias("bpe_tokens"),
    )


# =====================================================================
# x04 — quality scoring: length / punctuation / stopword features and a
# composite keep-score, all JVM-side expressions.
# =====================================================================
@register(
    "x04_text_quality",
    oracle="""
WITH feats AS (
    SELECT
        doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
             t -> lower(t) IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stop_hits
    FROM documents
)
SELECT
    doc_id,
    n_chars,
    n_tokens,
    ROUND(stop_hits / GREATEST(n_tokens, 1)::DOUBLE, 6) AS stopword_ratio,
    ROUND(
        0.5 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
        + 0.5 * LEAST(stop_hits / GREATEST(n_tokens, 1)::DOUBLE * 5.0, 1.0),
        6
    ) AS quality_score
FROM feats
""",
    covers=("X-TEXT-QUALITY",),
)
def x04_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    base = docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.size(
            F.filter(
                whitespace_tokens(F.col("text")),
                lambda t: F.lower(t).isin(
                    "the", "a", "of", "and", "to", "in", "is", "it"
                ),
            )
        ).cast("long").alias("stop_hits"),
    )
    ratio = F.col("stop_hits") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    score = 0.5 * (
        F.when(F.col("n_tokens").between(20, 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    ) + 0.5 * F.least(ratio * 5.0, F.lit(1.0))
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


# =====================================================================
# Shared DuckDB SQL fragments for the shingle-based dedup oracles.
# Generated from the same parameters as the Spark operators.
# =====================================================================
_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           array_to_string(w[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
    FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
         UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
"""

_NUM_HASHES = 8
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

# chunked-digest scheme: mirrors operators.dedup.minhash_signatures —
# h_i = MIN of the i-th 8-hex-char chunk of md5(shingle) (i<4) or
# md5('x' || shingle) (i>=4).
_MINHASH_SIG_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        "MIN(substr(md5({src}), {off}, 8)) AS h{i}".format(
            src="shingle" if i < 4 else "'x' || shingle",
            off=(i % 4) * 8 + 1,
            i=i,
        )
        for i in range(_NUM_HASHES)
    )
    + " FROM sh GROUP BY doc_id"
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || ".join(f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
    + " AS bsig FROM sig"
    for b in range(_BANDS)
)


# =====================================================================
# x05 — MinHash + LSH near-duplicate candidate pairs.
# Scale shape: shingle explode -> 8-way min-hash aggregate (one shuffle on
# doc_id) -> banded equi-join on (band, signature) buckets. Candidate cost
# scales with bucket sizes, never O(n^2).
# =====================================================================
@register(
    "x05_dedup_minhash_lsh",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands AS a
JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
""",
    covers=("X-DEDUP-MINHASH", "A2", "J7"),
)
def x05_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, shingle_k=3
    )
    return lsh_candidate_pairs(sigs, "doc_id", num_hashes=_NUM_HASHES, bands=_BANDS)


# =====================================================================
# x06 — SimHash fingerprints (32-bit, per-bit majority vote over portable
# 32-bit token hashes).
# =====================================================================
_SIMHASH_BITS = 32
_SIMHASH_SUMS_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    + " FROM th GROUP BY doc_id"
)
_SIMHASH_VALUE_SQL = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(_SIMHASH_BITS)
)


@register(
    "x06_dedup_simhash",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL})
SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash
FROM sums
""",
    covers=("X-DEDUP-SIMHASH",),
)
def x06_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)


# =====================================================================
# x07 — exact n-gram Jaccard over the inverted-index pair join; top-50
# most similar pairs under a total (jaccard DESC, doc_a, doc_b) order.
# =====================================================================
# Hot-shingle bound for x07 (the broad-ranked variant; a25 is the tight
# max_df=5 twin). The round-7 sf10 sweep ran this query with max_df=None
# and the inverted-index self-join filled the disk at 500k docs: a
# shingle shared by df documents contributes df^2/2 join rows, and a
# preferential-attachment dup family makes df grow WITH the corpus —
# unbounded at 100 TB. max_df=100 caps every join bucket at 100 docs
# (bucket cost <= 5k pairs) while keeping every discriminative shingle:
# a shingle in >100 documents identifies boilerplate, not a near-dup
# pair. Jaccard is computed over the FILTERED sets on BOTH engines (the
# oracle's freq CTE mirrors filter_hot_shingles), so values stay exact.
# At the driver SFs the cap never binds (max shingle df is 25 at sf0.1 —
# results are unchanged from the unbounded rounds); the binding regime
# is parity-tested in tests/test_round8_ops.py. The operator itself now
# ALSO guards its join fan-out (MAX_JACCARD_JOIN_ROWS), so an unbounded
# registration can refuse loudly instead of repeating the incident.
_X07_MAX_DF = 100


@register(
    "x07_dedup_ngram_jaccard",
    oracle=f"""
WITH sh0 AS ({_SHINGLES_SQL}),
freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
sh AS (
    SELECT sh0.doc_id, sh0.shingle
    FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
    WHERE freq.df <= {_X07_MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh AS a
    JOIN sh AS b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT
    doc_a,
    doc_b,
    ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN sizes AS sa ON doc_a = sa.doc_id
JOIN sizes AS sb ON doc_b = sb.doc_id
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 50
""",
    covers=("X-DEDUP-NGRAM-JACCARD", "O1"),
)
def x07_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, top_n=50, max_df=_X07_MAX_DF
    )


# =====================================================================
# x08 — embedding near-duplicate pairs, blocked by label (the 100 TB shape
# blocks by LSH bucket / IVF cell instead); top-50 by rounded cosine.
# =====================================================================
_COS_SQL = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "x08_dedup_embedding_cosine",
    oracle=f"""
WITH embd AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT
    a.label,
    a.vec_id AS vec_a,
    b.vec_id AS vec_b,
    {_COS_SQL.format(a="a.e", b="b.e")} AS cosine
FROM embd AS a
JOIN embd AS b ON a.label = b.label AND a.vec_id < b.vec_id
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 50
""",
    covers=("X-DEDUP-EMBEDDING",),
)
def x08_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_duplicate_pairs(emb, block_col="label", top_n=50)


# =====================================================================
# x09 — brute-force cosine top-k ANN (the exact baseline; queries
# broadcast, candidates scanned in parallel, per-query window ranking).
# =====================================================================
@register(
    "x09_ann_cosine_topk",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM embd WHERE vec_id < 5),
scored AS (
    SELECT
        q.query_id,
        c.vec_id AS candidate_id,
        {_COS_SQL.format(a="q.qe", b="c.e")} AS cosine
    FROM q, embd AS c
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, candidate_id, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
       ) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 10
""",
    covers=("X-ANN-BRUTE", "W2", "O1"),
)
def x09_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10, dim=_EMB_DIM)


# =====================================================================
# x10 — IVF assignment (the ANN scale path): every vector assigned to its
# nearest of ~n/97 deterministic centroids; search then probes one cell.
# =====================================================================
@register(
    "x10_ann_ivf_assign",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
scored AS (
    SELECT
        v.vec_id,
        cent.centroid_id,
        {_COS_SQL.format(a="v.e", b="cent.ce")} AS cosine
    FROM embd AS v, cent
)
SELECT vec_id, centroid_id, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, centroid_id
    ) AS rn
    FROM scored
)
WHERE rn = 1
""",
    covers=("X-ANN-IVF",),
)
def x10_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = read_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416)
    )
    return ivf_assign(emb, centroids, dim=_EMB_DIM)


# =====================================================================
# x11 — language ID via marker-token hit counts with a deterministic
# argmax chain (priority order en > de > fr > es > zh on ties).
# =====================================================================
def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), "
        f"t -> t IN ({markers}))) AS BIGINT)"
    )


@register(
    "x11_text_langid",
    oracle=f"""
WITH scores AS (
    SELECT
        doc_id,
        lang,
        {_lang_score_sql('en')} AS s_en,
        {_lang_score_sql('de')} AS s_de,
        {_lang_score_sql('fr')} AS s_fr,
        {_lang_score_sql('es')} AS s_es,
        {_lang_score_sql('zh')} AS s_zh
    FROM documents
)
SELECT
    doc_id, s_en, s_de, s_fr, s_es, s_zh,
    CASE
        WHEN s_en >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'en'
        WHEN s_de >= GREATEST(s_fr, s_es, s_zh) THEN 'de'
        WHEN s_fr >= GREATEST(s_es, s_zh) THEN 'fr'
        WHEN s_es >= s_zh THEN 'es'
        ELSE 'zh'
    END AS predicted_lang,
    (CASE
        WHEN s_en >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'en'
        WHEN s_de >= GREATEST(s_fr, s_es, s_zh) THEN 'de'
        WHEN s_fr >= GREATEST(s_es, s_zh) THEN 'fr'
        WHEN s_es >= s_zh THEN 'es'
        ELSE 'zh'
    END) = lang AS is_match
FROM scores
""",
    covers=("X-TEXT-LANGID",),
)
def x11_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # langid_scores splits lower(text) on single spaces (not the \s+
    # tokenizer) so the token lists agree with the oracle's string_split.
    scores = langid_scores(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
        scores["zh"].alias("s_zh"),
    )
    pred = (
        F.when(
            F.col("s_en")
            >= F.greatest(F.col("s_de"), F.col("s_fr"), F.col("s_es"), F.col("s_zh")),
            "en",
        )
        .when(
            F.col("s_de") >= F.greatest(F.col("s_fr"), F.col("s_es"), F.col("s_zh")),
            "de",
        )
        .when(F.col("s_fr") >= F.greatest(F.col("s_es"), F.col("s_zh")), "fr")
        .when(F.col("s_es") >= F.col("s_zh"), "es")
        .otherwise("zh")
    )
    return base.select(
        "doc_id", "s_en", "s_de", "s_fr", "s_es", "s_zh",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_match"),
    ).drop("lang")


# =====================================================================
# x12 — tumbling-window event aggregation (batch form of the streaming
# pipeline in streaming/events.py; wall-clock hour buckets on the
# TIMESTAMP_NTZ column — date_trunc involves no timezone conversion,
# and the bucket is emitted as a formatted string so both engines hash
# the same value).
# =====================================================================
@register(
    "x12_events_hourly_window",
    oracle="""
SELECT
    event_type,
    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, hour_bucket
""",
    covers=("X-STREAM-WINDOW", "A4"),
)
def x12_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type",
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00"
            ).alias("hour_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        )
    )


# =====================================================================
# x13 — sessionization via lag windows: a >30min gap starts a new
# session. Timestamp difference yields a day-time interval in both
# engines; comparing against an INTERVAL literal keeps the gap test
# exact and timezone-free.
# =====================================================================
@register(
    "x13_events_sessionize",
    oracle="""
WITH ordered AS (
    SELECT
        user_id,
        ts,
        LAG(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
        ) AS prev_ts
    FROM events
)
SELECT
    user_id,
    CAST(SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
    CAST(COUNT(*) AS BIGINT) AS n_events
FROM ordered
GROUP BY user_id
""",
    covers=("X-STREAM-SESSION", "W2"),
)
def x13_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.col("ts"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return gaps.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts") - F.col("prev_ts")
                    > F.expr("INTERVAL 30 MINUTES")
                ),
                1,
            ).otherwise(0)
        ).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# =====================================================================
# x14 — JSON property extraction from the events props column.
# =====================================================================
@register(
    "x14_events_json_props",
    oracle="""
SELECT
    event_id,
    CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
FROM events
""",
    covers=("X-JSON",),
)
def x14_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
    )


# =====================================================================
# x15 — multimodal metadata extraction through the Arrow-batched
# mapInPandas decode path. Payloads carrying a real image signature get
# their TRUE header metadata (operators/multimodal.parse_image_header);
# everything else falls back to the deterministic byte-length FAKE. The
# oracle replicates BOTH branches — but only the GIF signature is
# reachable from a UTF-8 payload ('GIF87a'/'GIF89a' is plain ASCII;
# the PNG \x89 and JPEG \xff lead bytes cannot occur as the first byte
# of valid UTF-8), so the oracle mirrors exactly the GIF branch
# (little-endian u16 dims at bytes 7-10, NULL dims when truncated
# under 10 bytes) and parity holds on ANY text corpus, not just one
# with no 'GIF'-prefixed documents (ADVICE r6). hex() over the first
# 10 CHARS is enough: chars >= bytes/4, and any text of >= 10 bytes
# has its first 10 bytes inside its first 10 chars.
# =====================================================================
@register(
    "x15_multimodal_metadata",
    oracle="""
WITH p AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n,
           hex(encode(substr(text, 1, 10))) AS hx,
           text IS NULL AS is_null
    FROM documents
),
b AS (
    SELECT doc_id, n, hx, is_null,
           NOT is_null
           AND substr(hx, 1, 12) IN ('474946383761', '474946383961')
               AS is_gif
    FROM p
)
SELECT
    doc_id,
    CAST(CASE WHEN is_null THEN NULL ELSE n END AS BIGINT) AS n_bytes,
    CASE WHEN is_null THEN NULL
         WHEN is_gif THEN 'image/gif'
         ELSE 'fake/raw' END AS format,
    CAST(CASE WHEN is_null THEN NULL
              WHEN is_gif AND n >= 10
                  THEN CAST('0x' || substr(hx, 15, 2) || substr(hx, 13, 2)
                            AS INT)
              WHEN is_gif THEN NULL
              ELSE n % 640 + 1 END AS INT) AS width,
    CAST(CASE WHEN is_null THEN NULL
              WHEN is_gif AND n >= 10
                  THEN CAST('0x' || substr(hx, 19, 2) || substr(hx, 17, 2)
                            AS INT)
              WHEN is_gif THEN NULL
              ELSE n % 480 + 1 END AS INT) AS height
FROM b
""",
    covers=("X-MULTIMODAL",),
)
def x15_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return decode_image_metadata(attach_binary_payload(docs), "doc_id")


# =====================================================================
# x16 — full IVF search path: queries probe their nearest centroid's cell
# and rank only within it (the ANN scale path end-to-end; recall trades
# against the brute-force x09 baseline).
# =====================================================================
_ASSIGN_SQL = f"""
    SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cent.centroid_id
               ) AS rn
        FROM embd AS v, cent
    ) WHERE rn = 1
"""


@register(
    "x16_ann_ivf_topk",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
assign AS ({_ASSIGN_SQL}),
q AS (
    SELECT a.vec_id AS query_id, a.centroid_id, e.e AS qe
    FROM assign AS a JOIN embd AS e ON a.vec_id = e.vec_id
    WHERE a.vec_id < 5
),
cell AS (
    SELECT a.vec_id AS candidate_id, a.centroid_id, e.e AS ce2
    FROM assign AS a JOIN embd AS e ON a.vec_id = e.vec_id
),
scored AS (
    SELECT q.query_id, cell.candidate_id,
           {_COS_SQL.format(a="q.qe", b="cell.ce2")} AS cosine
    FROM q JOIN cell ON q.centroid_id = cell.centroid_id
    WHERE cell.candidate_id <> q.query_id
)
SELECT query_id, candidate_id, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
       ) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
""",
    covers=("X-ANN-IVF", "X-ANN-SEARCH"),
)
def x16_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = read_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416)
    )
    assign = ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id")

    emb_vecs = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("e_id"), F.col("embedding").alias("e")
    )
    with_vec = assign.join(emb_vecs, assign.vec_id == emb_vecs.e_id).select(
        "vec_id", "centroid_id", "e"
    )
    q = (
        with_vec.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("q_cent"),
            F.col("e").alias("qe"),
        )
    )
    cell = with_vec.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("centroid_id").alias("c_cent"),
        F.col("e").alias("ce2"),
    )
    scored = (
        F.broadcast(q)
        .join(cell, F.col("q_cent") == F.col("c_cent"))
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select(
            "query_id",
            "candidate_id",
            F.round(cosine_similarity("qe", "ce2"), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


# =====================================================================
# x17 — MinHash Jaccard ESTIMATE for the LSH candidate pairs: fraction of
# agreeing signature components (the cheap verify step between LSH
# candidate generation and exact verification).
# =====================================================================
_EST_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
)


@register(
    "x17_dedup_minhash_estimate",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands AS a
    JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
)
SELECT
    cand.doc_a,
    cand.doc_b,
    ROUND(({_EST_SQL}) / {_NUM_HASHES}.0, 6) AS jaccard_estimate
FROM cand
JOIN sig AS a ON cand.doc_a = a.doc_id
JOIN sig AS b ON cand.doc_b = b.doc_id
""",
    covers=("X-DEDUP-MINHASH", "X-DEDUP-VERIFY"),
)
def x17_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, shingle_k=3
    )
    # estimate-in-join (round 10): the signature rides the band sides
    # and the agreement count is computed in the band join's projection
    # — no re-join of signatures onto the candidate stream. The oracle
    # keeps the candidates-then-join formulation; values are identical
    # because the estimate is a deterministic function of the pair.
    return lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_NUM_HASHES, bands=_BANDS, estimate=True
    )


# =====================================================================
# x18 — AS-OF join: each click matched to the user's most recent STRICTLY
# prior purchase (operators/asof.py: union-tag + running last window —
# one shuffle on the key, no inequality join). Oracle uses DuckDB's
# native ASOF LEFT JOIN.
# =====================================================================
@register(
    "x18_asof_join",
    oracle="""
WITH purchases AS (
    SELECT user_id, ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
),
clicks AS (
    SELECT event_id, user_id, ts
    FROM events WHERE event_type = 'click'
)
SELECT
    c.event_id,
    c.user_id,
    strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
    ROUND(p.purchase_value, 6) AS purchase_value
FROM clicks AS c
ASOF LEFT JOIN purchases AS p ON c.user_id = p.user_id AND c.ts > p.ts
""",
    covers=("X-ASOF-JOIN",),
)
def x18_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    # ts is TIMESTAMP(MICROS) in both engines — the as-of ordering
    # compares wall-clock timestamps directly; the matched timestamp is
    # emitted as a microsecond-formatted string (NULL stays NULL) so the
    # value hashes agree across engines.
    ev = _read_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts"))
        .agg(F.max("value").alias("purchase_value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        ts_col="ts",
        value_cols=["purchase_value"],
        strict=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "asof_ts"
        ),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


# =====================================================================
# x19 — range (band) join: events binned into value tiers via a
# broadcast inequality join against a generated tier table. With the
# tier side broadcast this plans as BroadcastNestedLoopJoin — the right
# physical shape for small-band joins at scale.
# =====================================================================
@register(
    "x19_range_join",
    oracle="""
WITH tiers AS (
    SELECT CAST(i AS INT) AS tier_id,
           i * 100.0 AS lo,
           (i + 1) * 100.0 AS hi
    FROM (SELECT unnest(generate_series(0, 9)) AS i)
)
SELECT
    e.event_id,
    t.tier_id
FROM events AS e
LEFT JOIN tiers AS t ON e.value >= t.lo AND e.value < t.hi
""",
    covers=("X-RANGE-JOIN",),
)
def x19_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events(spark, sf_dir)
    tiers = (
        spark.range(0, 10)
        .select(
            F.col("id").cast("int").alias("tier_id"),
            (F.col("id") * 100.0).alias("lo"),
            ((F.col("id") + 1) * 100.0).alias("hi"),
        )
    )
    return ev.join(
        F.broadcast(tiers),
        (ev.value >= tiers.lo) & (ev.value < tiers.hi),
        "left",
    ).select("event_id", "tier_id")


# =====================================================================
# x20 — per-label embedding centroids (the k-means/IVF training
# primitive): posexplode -> decimal-exact per-dimension mean. Output one
# row per (label, dim) — array reconstruction is a downstream transform.
# =====================================================================
@register(
    "x20_label_centroids",
    oracle="""
SELECT
    label,
    CAST(i AS INT) AS dim,
    list_sum(list(CAST(embedding[CAST(i AS INT)] AS DOUBLE) ORDER BY vec_id))
        / COUNT(*) AS centroid_value
FROM embeddings,
     UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, i
""",
    covers=("X-EMBED-CENTROID",),
)
def x20_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arbitrary float32 inputs break the decimal-exact-sum trick (Spark's
    # string-based double->decimal rounding disagrees with DuckDB's
    # binary rounding on representation-boundary values), so determinism
    # comes from ORDER instead: collect (vec_id, v) per group, sort, and
    # fold sequentially — both engines then sum identical doubles in
    # identical order, bit-exactly.
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos0", "v"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("vec_id", "v"))),
            lambda s: s["v"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).cast("int").alias("dim"))
        .agg((ordered_sum / F.count(F.lit(1))).alias("centroid_value"))
    )


# =====================================================================
# a21 — near-duplicate CLUSTER assignment: MinHash/LSH candidate pairs
# (exactly x05's) promoted to connected components, so every document
# gets a cluster_id (= min doc_id reachable) and a cluster_size — the
# keep-one-per-cluster decision a training-data dedup pipeline actually
# executes. Spark side is operators.dedup.connected_components (at
# bench scale the edge list is under its budget, so union-find on the
# driver); the oracle reaches the same fixpoint declaratively with a
# recursive CTE.
# =====================================================================
@register(
    "a21_dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands AS a
    JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS e_src, doc_b AS e_dst FROM pairs
    UNION ALL
    SELECT doc_b AS e_src, doc_a AS e_dst FROM pairs
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.doc_id = e.e_src
),
comp AS (
    SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
)
SELECT
    doc_id,
    cluster_id,
    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
""",
    covers=("X-DEDUP-CC", "X-DEDUP-MINHASH"),
)
def a21_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Staged signatures -> pairs -> clusters: each stage materialized
    # once (operators.dedup.dedup_pipeline), so the MinHash/LSH pipeline
    # executes exactly once however many jobs the CC step launches.
    from ..operators.dedup import dedup_pipeline

    docs = read_table(spark, sf_dir, "documents")
    _sigs, _pairs, comp = dedup_pipeline(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, shingle_k=3
    )
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# =====================================================================
# a22 — TF-IDF top terms per document (whitespace tokens, natural-log
# idf = ln(N/df), top-3 by score). The quality-filtering / keyword
# surface of a text pipeline. Both engines compute tf * ln(N/df) with
# identical operand order and round to 6dp, and the per-document rank
# orders by the ROUNDED score with a token tiebreak, so ranking is
# total and engine-stable.
# =====================================================================
@register(
    "a22_text_tfidf",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
tf AS (
    SELECT doc_id, tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
idf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
n AS (
    SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
),
scored AS (
    SELECT
        tf.doc_id,
        tf.token,
        tf.tf,
        ROUND(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / idf.df), 6) AS tfidf
    FROM tf JOIN idf ON tf.token = idf.token CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token
    ) AS rn
    FROM scored
)
WHERE rn <= 3
""",
    covers=("X-TEXT-TFIDF", "A1", "W2"),
)
def a22_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale shape: tf is one shuffle on (doc_id, token); df is a
    # map-side-combinable recount of the (already distinct) tf rows on
    # token — no countDistinct shuffle of raw tokens. N arrives as a
    # broadcast 1-row aggregate, not a driver-side collect.
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(whitespace_tokens(normalized_text(F.col("text")))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    scored = (
        tf.join(idf, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf").cast("double") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "tfidf")
    )


# =====================================================================
# a23 — SimHash candidate pairs: documents sharing either 16-bit half of
# the 32-bit SimHash fingerprint (the standard Manku-style banding).
# Spark side is TWO hash equi-joins (one per half) unioned + distinct —
# never an OR-join, which would plan a BroadcastNestedLoopJoin
# (reference analog: duplicate-pair detection,
# aact_silver_layer.sql:588-590).
# Hot-bucket cap (round 8, same discipline as x07's max_df): the 16-bit
# space gives 65,536 buckets per band, but fingerprint-bit skew can
# concentrate one bucket — the round-8 audit measured a 35,692-doc
# half-bucket on the template-heavy sf10 corpus (Σn² ≈ 4.9e9 candidate
# rows, the x07 disk-fill shape). Buckets over 2,000 docs are skipped
# on BOTH engines; the cap never binds at the driver SFs (max bucket
# 291 at sf0.1, 28 at sf0.01 — results unchanged), and caps sf10 cost
# at Σn² ≈ 2.9e8.
# =====================================================================
_SIMHASH_MAX_BUCKET = 2000


def _simhash_halves_sql(cap: int) -> str:
    """The capped half-bucket CTEs at an arbitrary ``max_bucket`` —
    a23/a26 use the 2000 cap; a91 uses one that BINDS at the driver
    SFs so the rescue path is value-checked where it matters."""
    return f"""
halves AS (
    SELECT doc_id,
           simhash % 65536 AS lo,
           CAST((simhash >> 16) & 65535 AS BIGINT) AS hi
    FROM sims
),
lo_ok AS (
    SELECT doc_id, lo FROM (
        SELECT doc_id, lo, COUNT(*) OVER (PARTITION BY lo) AS n FROM halves
    ) WHERE n <= {cap}
),
hi_ok AS (
    SELECT doc_id, hi FROM (
        SELECT doc_id, hi, COUNT(*) OVER (PARTITION BY hi) AS n FROM halves
    ) WHERE n <= {cap}
)"""


_SIMHASH_HALVES_CAPPED_SQL = _simhash_halves_sql(_SIMHASH_MAX_BUCKET)


@register(
    "a23_dedup_simhash_pairs",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL}),
sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash FROM sums),
{_SIMHASH_HALVES_CAPPED_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM lo_ok AS a JOIN lo_ok AS b ON a.lo = b.lo AND a.doc_id < b.doc_id
UNION
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM hi_ok AS a JOIN hi_ok AS b ON a.hi = b.hi AND a.doc_id < b.doc_id
""",
    covers=("X-DEDUP-SIMHASH", "J7"),
)
def a23_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_candidates

    docs = read_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)
    return simhash_candidates(sims, "doc_id", max_bucket=_SIMHASH_MAX_BUCKET)


# =====================================================================
# a25 — n-gram Jaccard with the hot-shingle (stopword-shingle) document
# frequency bound: shingles appearing in more than MAX_DF documents are
# dropped before the inverted-index pair join, so every join bucket is
# at most MAX_DF documents wide — the bound that keeps the pair join
# finite at 100 TB. Jaccard is exact over the filtered shingle sets.
# =====================================================================
_NGRAM_MAX_DF = 5


@register(
    "a25_dedup_ngram_filtered",
    oracle=f"""
WITH sh0 AS ({_SHINGLES_SQL}),
freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
sh AS (
    SELECT sh0.doc_id, sh0.shingle
    FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
    WHERE freq.df <= {_NGRAM_MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh AS a
    JOIN sh AS b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT
    doc_a,
    doc_b,
    ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN sizes AS sa ON doc_a = sa.doc_id
JOIN sizes AS sb ON doc_b = sb.doc_id
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 50
""",
    covers=("X-DEDUP-NGRAM-JACCARD", "P5"),
)
def a25_dedup_ngram_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, top_n=50, max_df=_NGRAM_MAX_DF
    )


# =====================================================================
# a24 — one deterministic IVF k-means training iteration: assign every
# vector to its nearest seed centroid (vec_id % 97 = 0, as in x16), then
# recompute each centroid as the ordered-fold per-dimension mean of its
# members. This is operators.similarity.train_ivf with iters=1 — the
# assign (x10/x16) and update (x20) primitives composed into the
# training loop, value-checked end-to-end.
# =====================================================================
@register(
    "a24_ivf_train_step",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
assign AS ({_ASSIGN_SQL})
SELECT
    a.centroid_id,
    CAST(i AS INT) AS dim,
    list_sum(list(CAST(e.e[CAST(i AS INT)] AS DOUBLE) ORDER BY e.vec_id))
        / COUNT(*) AS centroid_value
FROM assign AS a
JOIN embd AS e ON a.vec_id = e.vec_id,
     UNNEST(generate_series(1, len(e.e))) AS t(i)
GROUP BY a.centroid_id, i
""",
    covers=("X-ANN-IVF", "X-EMBED-CENTROID"),
)
def a24_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import train_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    seeds = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    cents, _assign = train_ivf(emb, centroids=seeds, iters=1, dim=_EMB_DIM)
    return cents.select(
        "centroid_id", F.posexplode("centroid").alias("pos0", "centroid_value")
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("int").alias("dim"),
        "centroid_value",
    )


# =====================================================================
# a26 — verified SimHash near-duplicates: the banded candidates (a23)
# filtered by Hamming distance <= 6 over the 32-bit fingerprints — the
# Manku-style candidates -> verify pipeline end-to-end. The verify cost
# is bit_count(xor) per candidate, so it scales with the (already
# bounded) candidate count, never the corpus.
# =====================================================================
_SIMHASH_MAX_HAMMING = 6


@register(
    "a26_dedup_simhash_verified",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL}),
sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash FROM sums),
{_SIMHASH_HALVES_CAPPED_SQL},
cands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lo_ok AS a JOIN lo_ok AS b ON a.lo = b.lo AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM hi_ok AS a JOIN hi_ok AS b ON a.hi = b.hi AND a.doc_id < b.doc_id
)
SELECT
    c.doc_a,
    c.doc_b,
    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cands AS c
JOIN sims AS sa ON c.doc_a = sa.doc_id
JOIN sims AS sb ON c.doc_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_MAX_HAMMING}
""",
    covers=("X-DEDUP-SIMHASH", "J8"),
)
def a26_dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_duplicates

    docs = read_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)
    # the operator materializes the fingerprints once for its five joins;
    # hot half-buckets are capped like a23 (oracle mirrors the cap)
    return simhash_near_duplicates(
        sims, "doc_id", _SIMHASH_MAX_HAMMING, max_bucket=_SIMHASH_MAX_BUCKET
    )


# =====================================================================
# a27 — multimodal thumbnail sizing through the same Arrow/mapInPandas
# path as x15: integer aspect-fit math on the (fake-)decoded dims, so
# the whole Python crossing is value-exact against SQL.
# =====================================================================
@register(
    "a27_multimodal_resize",
    oracle="""
WITH dims AS (
    SELECT doc_id,
           octet_length(encode(text)) % 640 + 1 AS w,
           octet_length(encode(text)) % 480 + 1 AS h
    FROM documents
),
scaled AS (
    SELECT doc_id, w, h,
           least(64000 // w, 64000 // h, 1000) AS scale
    FROM dims
)
SELECT
    doc_id,
    CAST(w AS INT) AS width,
    CAST(h AS INT) AS height,
    CAST(greatest(w * scale // 1000, 1) AS INT) AS thumb_w,
    CAST(greatest(h * scale // 1000, 1) AS INT) AS thumb_h
FROM scaled
""",
    covers=("X-MULTIMODAL",),
)
def a27_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_image_metadata

    docs = read_table(spark, sf_dir, "documents")
    return resize_image_metadata(
        attach_binary_payload(docs), "doc_id", max_w=64, max_h=64
    )


# =====================================================================
# a28 — frame sampling over binary payloads (video/audio fan-out stage):
# every 2nd 64-byte frame's (index, byte offset), exploded INSIDE the
# pandas batch so the Python boundary is paid per batch, not per frame.
# =====================================================================
@register(
    "a28_multimodal_frames",
    oracle="""
WITH sizes AS (
    SELECT doc_id,
           (octet_length(encode(text)) + 63) // 64 AS n_frames
    FROM documents
)
SELECT
    doc_id,
    CAST(i AS INT) AS frame_idx,
    CAST(i * 64 AS BIGINT) AS byte_off
FROM sizes, UNNEST(generate_series(0, CAST(n_frames - 1 AS INT))) AS t(i)
WHERE i % 2 = 0
""",
    covers=("X-MULTIMODAL",),
)
def a28_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = read_table(spark, sf_dir, "documents")
    return sample_frames(
        attach_binary_payload(docs), "doc_id", frame_bytes=64, every_n=2
    )


# =====================================================================
# a29 — absmax int8 embedding quantization (the 4x storage compression
# an embedding store applies before writing at scale). Explicit
# floor(+0.5) rounding and a 6dp-rounded scale keep both engines
# bit-identical; row-local math, zero shuffles.
# =====================================================================
@register(
    "a29_embedding_quantize",
    oracle="""
WITH embd AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
scaled AS (
    SELECT vec_id,
           ROUND(list_max(list_transform(e, x -> abs(x))), 6) AS scale,
           e
    FROM embd
)
SELECT
    vec_id,
    CAST(i AS INT) AS dim,
    CAST(CASE WHEN scale = 0 THEN 0
              ELSE FLOOR(e[CAST(i AS INT)] * 127.0 / scale + 0.5)
         END AS INT) AS q,
    scale
FROM scaled, UNNEST(generate_series(1, len(e))) AS t(i)
""",
    covers=("X-EMBED-QUANTIZE",),
)
def a29_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    emb = read_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding")


# =====================================================================
# a30 — the end-to-end dedup DECISION: MinHash/LSH pairs -> connected
# components (a21's clusters) + quality scores (x04's features) ->
# keep exactly the highest-quality document per near-dup cluster
# (quality DESC, doc_id tiebreak). This is the materialization a
# training-data pipeline actually ships: every doc labeled with its
# cluster and a keep/drop bit.
# =====================================================================
@register(
    "a30_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands AS a
    JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS e_src, doc_b AS e_dst FROM pairs
    UNION ALL
    SELECT doc_b AS e_src, doc_a AS e_dst FROM pairs
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.doc_id = e.e_src
),
comp AS (
    SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
),
qual AS (
    SELECT
        doc_id,
        ROUND(
            0.5 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
            + 0.5 * LEAST(stop_hits / GREATEST(n_tokens, 1)::DOUBLE * 5.0, 1.0),
            6
        ) AS quality_score
    FROM (
        SELECT
            doc_id,
            CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(string_split_regex(text, '\\s+'),
                 t -> lower(t) IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stop_hits
        FROM documents
    )
)
SELECT
    c.doc_id,
    c.cluster_id,
    q.quality_score,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY c.cluster_id
        ORDER BY q.quality_score DESC, c.doc_id
    ) = 1 AS BOOLEAN) AS is_kept
FROM comp AS c
JOIN qual AS q ON c.doc_id = q.doc_id
""",
    covers=("X-DEDUP-CC", "X-TEXT-QUALITY", "X-DEDUP-KEEP"),
)
def a30_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_pipeline

    docs = read_table(spark, sf_dir, "documents")
    _sigs, _pairs, clusters = dedup_pipeline(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, shingle_k=3
    )
    feats = quality_features(F.col("text"))
    toks = whitespace_tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.lower(t).isin(
                "the", "a", "of", "and", "to", "in", "is", "it"
            ),
        )
    ).cast("long")
    ratio = F.col("stop_hits") / F.greatest(F.col("n_tokens"), F.lit(1)).cast(
        "double"
    )
    score = 0.5 * (
        F.when(F.col("n_tokens").between(20, 1000), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
    ) + 0.5 * F.least(ratio * 5.0, F.lit(1.0))
    qual = docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        stop_hits.alias("stop_hits"),
    ).select("doc_id", F.round(score, 6).alias("quality_score"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.select("doc_id", F.col("component").alias("cluster_id"))
        .join(qual, "doc_id")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality_score", "is_kept")
    )


# =====================================================================
# a31 — multi-probe IVF search: queries probe their nprobe=2 nearest
# cells instead of 1 (the standard IVF recall knob — single-probe
# misses neighbors just across a cell boundary). Candidates still come
# from their home cell only; a candidate reachable via both probes is
# deduplicated before ranking.
# =====================================================================
@register(
    "a31_ann_ivf_multiprobe",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
scored AS (
    SELECT v.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cent.centroid_id
           ) AS rn
    FROM embd AS v, cent
),
home AS (SELECT vec_id, centroid_id FROM scored WHERE rn = 1),
probes AS (SELECT vec_id, centroid_id FROM scored WHERE rn <= 2),
q AS (
    SELECT p.vec_id AS query_id, p.centroid_id, e.e AS qe
    FROM probes AS p JOIN embd AS e ON p.vec_id = e.vec_id
    WHERE p.vec_id < 5
),
cell AS (
    SELECT h.vec_id AS candidate_id, h.centroid_id, e.e AS ce2
    FROM home AS h JOIN embd AS e ON h.vec_id = e.vec_id
),
pairs AS (
    SELECT DISTINCT q.query_id, cell.candidate_id,
           {_COS_SQL.format(a="q.qe", b="cell.ce2")} AS cosine
    FROM q JOIN cell ON q.centroid_id = cell.centroid_id
    WHERE cell.candidate_id <> q.query_id
)
SELECT query_id, candidate_id, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
       ) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 5
""",
    covers=("X-ANN-IVF", "X-ANN-SEARCH"),
)
def a31_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity
    from ..operators.similarity import ivf_assign_topp

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))

    home = ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id")
    probes = ivf_assign_topp(emb, centroids, 2, dim=_EMB_DIM).select(
        "vec_id", "centroid_id"
    )

    emb_vecs = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("e_id"), F.col("embedding").alias("e")
    )
    q = (
        probes.filter(F.col("vec_id") < 5)
        .join(emb_vecs, probes.vec_id == emb_vecs.e_id)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("q_cent"),
            F.col("e").alias("qe"),
        )
    )
    cell = home.join(emb_vecs, home.vec_id == emb_vecs.e_id).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("centroid_id").alias("c_cent"),
        F.col("e").alias("ce2"),
    )
    pairs = (
        F.broadcast(q)
        .join(cell, F.col("q_cent") == F.col("c_cent"))
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select(
            "query_id",
            "candidate_id",
            F.round(cosine_similarity("qe", "ce2"), 6).alias(
                "cosine"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# =====================================================================
# a32/a33 — product quantization: encode the corpus against per-subspace
# codebooks (m=4 subspaces of 16 dims, codes seeded from every 61st
# vector), then answer top-k queries by asymmetric distance computation
# (per-query LUT joined to the stored codes — no vector math touches
# the corpus at query time). Composes with IVF (x10/x16/a31) as IVFADC.
# =====================================================================
_PQ_M = 4

#: Cap on the mod-sampled ANN QUERY sets (vec_id % 200 = 0 AND
#: vec_id < 2000 → exactly the 10 queries the sf0.1 fixture yields).
#: Same scale rule as the round-7 quantizer-model caps, found the same
#: way: "every Nth row" grows WITH the corpus, so the round-8 sf10
#: sweep ran a33's full-corpus ADC with 2,500 queries x 500k candidates
#: (n²/200) and the JVM heap died. The driver SFs all have vec_id <
#: 2000, so the cap changes NOTHING at sf0.001/0.01/0.1 (no re-baseline);
#: at sf10+ the query set is a fixed benchmark workload, as a real ANN
#: evaluation would be. Mirrored verbatim in every oracle.
_PQ_QUERY_CAP = 2000
_PQ_SUB = 16  # 64 dims / 4 subspaces

_PQ_SUBS_SQL = f"""
    SELECT vec_id, CAST(s AS INT) AS subspace,
           e[CAST(s * {_PQ_SUB} + 1 AS INT):CAST(s * {_PQ_SUB} + {_PQ_SUB} AS INT)] AS sv
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         UNNEST(generate_series(0, {_PQ_M} - 1)) AS t(s)
"""


def _l2sq_sql(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}), 6)"
    )


_PQ_ENCODE_SQL = f"""
subs AS ({_PQ_SUBS_SQL}),
cb AS (SELECT subspace, vec_id AS code_id, sv AS cv FROM subs WHERE vec_id % 61 = 0 AND vec_id < 15616),
scored AS (
    SELECT v.vec_id, v.subspace, cb.code_id,
           {_l2sq_sql("v.sv", "cb.cv")} AS dist2,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id, v.subspace
               ORDER BY {_l2sq_sql("v.sv", "cb.cv")}, cb.code_id
           ) AS rn
    FROM subs AS v JOIN cb ON v.subspace = cb.subspace
)
"""


@register(
    "a32_pq_encode",
    oracle=f"""
WITH {_PQ_ENCODE_SQL}
SELECT vec_id, subspace, code_id, dist2 FROM scored WHERE rn = 1
""",
    covers=("X-ANN-PQ", "X-EMBED-QUANTIZE"),
)
def a32_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes for every vector: 4 bytes/vector at k<=256 vs 256 bytes
    of float32 — the storage format an ANN index keeps at 100 TB."""
    from ..operators.pq import pq_encode, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    cb = seed_codebooks(emb, m=_PQ_M, mod=61)
    return pq_encode(emb, cb, m=_PQ_M, sub_dim=_EMB_DIM // _PQ_M)


@register(
    "a33_pq_adc_topk",
    oracle=f"""
WITH {_PQ_ENCODE_SQL},
codes AS (SELECT vec_id, subspace, code_id FROM scored WHERE rn = 1),
lut AS (
    SELECT q.vec_id AS query_id, q.subspace, cb.code_id,
           CAST({_l2sq_sql("q.sv", "cb.cv")} AS DECIMAL(18,6)) AS d2
    FROM subs AS q JOIN cb ON q.subspace = cb.subspace
    WHERE q.vec_id % 200 = 0 AND q.vec_id < 2000
),
summed AS (
    SELECT l.query_id, c.vec_id AS candidate_id, CAST(SUM(l.d2) AS DOUBLE) AS adc
    FROM codes AS c
    JOIN lut AS l ON c.subspace = l.subspace AND c.code_id = l.code_id
    WHERE c.vec_id <> l.query_id
    GROUP BY l.query_id, c.vec_id
)
SELECT query_id, candidate_id, adc,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc, candidate_id
       ) AS BIGINT) AS rank
FROM summed
QUALIFY rank <= 5
""",
    covers=("X-ANN-PQ", "X-ANN-SEARCH"),
)
def a33_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5: LUT over the broadcast codebook, one equi-join on the
    codes table, decimal-exact subspace sum."""
    from ..operators.pq import pq_adc_topk, pq_encode, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    cb = seed_codebooks(emb, m=_PQ_M, mod=61)
    codes = pq_encode(emb, cb, m=_PQ_M, sub_dim=_EMB_DIM // _PQ_M).select("vec_id", "subspace", "code_id")
    queries = emb.filter((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < _PQ_QUERY_CAP))
    return pq_adc_topk(queries, codes, cb, m=_PQ_M, k=5)


# =====================================================================
# a34 — one PQ codebook training iteration (per-subspace Lloyd update):
# re-center every code on the ordered mean of its assigned subvectors.
# The per-subspace analog of a24's k-means step; iterate with pq_encode
# to train the quantizer.
# =====================================================================
@register(
    "a34_pq_train_step",
    oracle=f"""
WITH {_PQ_ENCODE_SQL},
assign AS (SELECT vec_id, subspace, code_id FROM scored WHERE rn = 1)
SELECT a.subspace, a.code_id, CAST(i AS INT) AS dim,
       list_sum(list(CAST(s.sv[CAST(i AS INT)] AS DOUBLE) ORDER BY s.vec_id))
           / COUNT(*) AS codebook_value
FROM assign AS a
JOIN subs AS s ON a.vec_id = s.vec_id AND a.subspace = s.subspace,
     UNNEST(generate_series(1, {_PQ_SUB})) AS t(i)
GROUP BY a.subspace, a.code_id, i
""",
    covers=("X-ANN-PQ", "X-EMBED-CENTROID"),
)
def a34_pq_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_train_step, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    cb = seed_codebooks(emb, m=_PQ_M, mod=61)
    return pq_train_step(emb, cb, m=_PQ_M)


# =====================================================================
# a35 — train/eval decontamination: training docs (doc_id % 50 <> 0)
# sharing >= 2 3-word shingles with any benchmark doc (doc_id % 50 = 0).
# The benchmark shingle set is broadcast — the corpus side never
# shuffles its text.
# =====================================================================
@register(
    "a35_decontaminate",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 50 <> 0),
ev AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
hits AS (
    SELECT train_id, bench_id, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM tr JOIN ev USING (shingle)
    GROUP BY train_id, bench_id
    HAVING COUNT(*) >= 2
)
SELECT train_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       MAX(n_common) AS max_common
FROM hits
GROUP BY train_id
""",
    covers=("X-DEDUP-NGRAM-JACCARD", "X-DECONTAMINATE"),
)
def a35_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, k=3, min_common=2)


# =====================================================================
# a36 — deterministic stratified sampling (domain mixing): keep 60% of
# en, 30% of de, 10% of every other language, decided purely by the
# md5 hash of doc_id — reproducible across engines, reruns, and
# cluster layouts. Row-local: scan -> project -> filter, no shuffle.
# =====================================================================
_BUCKET_SQL = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"


@register(
    "a36_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, bucket, rate_pct
FROM (
    SELECT doc_id, lang,
           {_BUCKET_SQL} AS bucket,
           CAST(CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30 ELSE 10 END AS INT)
               AS rate_pct
    FROM documents
)
WHERE bucket < rate_pct
""",
    covers=("X-SAMPLE-STRATIFIED",),
)
def a36_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "doc_id", "lang", rates={"en": 60, "de": 30}, default_pct=10
    ).select("doc_id", "lang", "bucket", "rate_pct")


# =====================================================================
# a37 — sequence packing (concat-and-split): each document's global
# running token offset and the fixed-size context chunk it starts in.
# Spark side is the two-phase prefix sum (per-bucket windows + broadcast
# bucket offsets) — the oracle's single global window is the semantics,
# not the plan.
# =====================================================================
_PACK_CAPACITY = 512


@register(
    "a37_sequence_pack",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_tokens AS BIGINT) AS global_start
    FROM toks
)
SELECT doc_id, n_tokens, global_start,
       global_start // {_PACK_CAPACITY} AS chunk_id
FROM cum
""",
    covers=("X-SEQUENCE-PACK", "W2"),
)
def a37_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens", capacity=_PACK_CAPACITY)


# =====================================================================
# a38 — IVFADC: the full two-stage ANN index. IVF coarse quantizer
# (cosine, centroids = every 97th vector, nprobe=2) restricts each
# query (every 200th vector) to its probed cells; PQ asymmetric
# distances rank only those candidates. All small sides (centroids,
# probes, LUT, candidate pairs) broadcast; the corpus-sized codes and
# assignment tables never shuffle before the final partial-agg sum.
# =====================================================================
#: The IVF-probe + ADC-sum CTE chain shared by the a38 oracle and the
#: a70 rerank oracle (which widens the shortlist and refines it).
_IVFPQ_CHAIN_SQL = f"""{_PQ_ENCODE_SQL},
codes AS (SELECT vec_id, subspace, code_id FROM scored WHERE rn = 1),
embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
iscored AS (
    SELECT v.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cent.centroid_id
           ) AS crank
    FROM embd AS v, cent
),
home AS (SELECT vec_id, centroid_id FROM iscored WHERE crank = 1),
probes AS (
    SELECT vec_id AS query_id, centroid_id
    FROM iscored WHERE crank <= 2 AND vec_id % 200 = 0 AND vec_id < 2000
),
cands AS (
    SELECT DISTINCT p.query_id, h.vec_id AS candidate_id
    FROM probes AS p JOIN home AS h ON p.centroid_id = h.centroid_id
    WHERE h.vec_id <> p.query_id
),
lut AS (
    SELECT q.vec_id AS query_id, q.subspace, cb.code_id,
           CAST({_l2sq_sql("q.sv", "cb.cv")} AS DECIMAL(18,6)) AS d2
    FROM subs AS q JOIN cb ON q.subspace = cb.subspace
    WHERE q.vec_id % 200 = 0 AND q.vec_id < 2000
),
summed AS (
    SELECT cd.query_id, cd.candidate_id, CAST(SUM(l.d2) AS DOUBLE) AS adc
    FROM cands AS cd
    JOIN codes AS c ON c.vec_id = cd.candidate_id
    JOIN lut AS l ON l.query_id = cd.query_id
                 AND l.subspace = c.subspace AND l.code_id = c.code_id
    GROUP BY cd.query_id, cd.candidate_id
)"""


@register(
    "a38_ivfpq_topk",
    oracle=f"""
WITH {_IVFPQ_CHAIN_SQL}
SELECT query_id, candidate_id, adc,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc, candidate_id
       ) AS BIGINT) AS rank
FROM summed
QUALIFY rank <= 5
""",
    covers=("X-ANN-PQ", "X-ANN-IVF", "X-ANN-SEARCH"),
)
def a38_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged-index search: codes + cell assignments are built once
    (here inline for the oracle), queries pay only probed cells."""
    from ..operators.pq import ivfpq_topk, pq_encode, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    cb = seed_codebooks(emb, m=_PQ_M, mod=61)
    codes = pq_encode(emb, cb, m=_PQ_M, sub_dim=_EMB_DIM // _PQ_M).select("vec_id", "subspace", "code_id")
    assignments = ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id")
    queries = emb.filter((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < _PQ_QUERY_CAP))
    return ivfpq_topk(
        queries, codes, assignments, cb, centroids, m=_PQ_M, k=5, nprobe=2
    )


# =====================================================================
# a39 — repetition quality signals (Gopher/Dolma filter family):
# type-token ratio, most-common-bigram fraction, and longest identical-
# token run per document. Windows/aggs keyed by doc_id — dense,
# skew-bounded by max doc length; raw text never shuffles.
# =====================================================================
@register(
    "a39_text_repetition",
    oracle=r"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS arr
    FROM documents
),
toks AS (
    SELECT doc_id, CAST(i AS INT) AS pos, arr[CAST(i AS INT)] AS tok,
           CASE WHEN i < len(arr) THEN arr[CAST(i AS INT) + 1] END AS nxt,
           CASE WHEN i > 1 THEN arr[CAST(i AS INT) - 1] END AS prv
    FROM base, UNNEST(generate_series(1, len(arr))) AS t(i)
),
runs AS (
    SELECT doc_id, tok,
           SUM(CASE WHEN prv IS NULL OR prv <> tok THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
    FROM toks
),
run_stats AS (
    SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM (SELECT doc_id, run_id, COUNT(*) AS run_len
          FROM runs GROUP BY doc_id, run_id)
    GROUP BY doc_id
),
tok_stats AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM toks GROUP BY doc_id
),
bigram_stats AS (
    SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) AS top_cnt,
           CAST(SUM(cnt) AS DOUBLE) AS total_bi
    FROM (SELECT doc_id, tok || ' ' || nxt AS bigram, COUNT(*) AS cnt
          FROM toks WHERE nxt IS NOT NULL GROUP BY doc_id, bigram)
    GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       ROUND(t.n_distinct / CAST(t.n_tokens AS DOUBLE), 6) AS distinct_ratio,
       ROUND(COALESCE(b.top_cnt / b.total_bi, 0.0), 6) AS top_bigram_frac,
       r.max_run
FROM tok_stats AS t
JOIN run_stats AS r ON t.doc_id = r.doc_id
LEFT JOIN bigram_stats AS b ON t.doc_id = b.doc_id
""",
    covers=("X-TEXT-REPETITION", "X-TEXT-QUALITY", "W2"),
)
def a39_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.repetition import repetition_features

    docs = read_table(spark, sf_dir, "documents")
    return repetition_features(docs, "doc_id", "text")


# =====================================================================
# a40 — curation funnel: the ordered filter cascade a corpus release
# ships, with first-fail attribution so per-stage drop counts are
# additive (too_short -> repetitive -> exact_dup -> kept). Signals are
# pre-joined; the verdict is one row-local CASE chain and the report
# one low-cardinality groupBy.
# =====================================================================
@register(
    "a40_curation_funnel",
    oracle=rf"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS arr
    FROM documents
),
toks AS (
    SELECT doc_id, CAST(i AS INT) AS pos, arr[CAST(i AS INT)] AS tok,
           CASE WHEN i < len(arr) THEN arr[CAST(i AS INT) + 1] END AS nxt
    FROM base, UNNEST(generate_series(1, len(arr))) AS t(i)
),
tok_stats AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY doc_id
),
bigram_stats AS (
    SELECT doc_id,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS tb
    FROM (SELECT doc_id, tok || ' ' || nxt AS bigram, COUNT(*) AS cnt
          FROM toks WHERE nxt IS NOT NULL GROUP BY doc_id, bigram)
    GROUP BY doc_id
),
dup AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id
           ) > 1 AS is_duplicate
    FROM documents
),
verdict AS (
    SELECT CASE
               WHEN t.n_tokens < 20 THEN 'too_short'
               WHEN COALESCE(b.tb, 0.0) > 0.10 THEN 'repetitive'
               WHEN d.is_duplicate THEN 'exact_dup'
               ELSE 'kept'
           END AS stage
    FROM tok_stats AS t
    LEFT JOIN bigram_stats AS b ON t.doc_id = b.doc_id
    JOIN dup AS d ON t.doc_id = d.doc_id
)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM verdict GROUP BY stage
""",
    covers=("X-CURATION-FUNNEL", "X-TEXT-QUALITY", "X-DEDUP-EXACT"),
)
def a40_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curation_report, first_failed_rule
    from ..operators.dedup import exact_duplicates
    from ..operators.repetition import repetition_features

    docs = read_table(spark, sf_dir, "documents")
    rep = repetition_features(docs, "doc_id", "text").select(
        "doc_id", "n_tokens", "top_bigram_frac"
    )
    dup = exact_duplicates(docs, "doc_id", "text").select(
        "doc_id", "is_duplicate"
    )
    signals = rep.join(dup, "doc_id")
    verdict = first_failed_rule(
        signals,
        [
            ("too_short", F.col("n_tokens") < 20),
            ("repetitive", F.col("top_bigram_frac") > 0.10),
            ("exact_dup", F.col("is_duplicate")),
        ],
    )
    return curation_report(verdict)


# =====================================================================
# a41 — residual PQ encoding (the IVFADC refinement): subtract each
# vector's home centroid before quantizing, so the per-subspace
# codebooks only have to cover within-cell variation. Residual =
# row-local zip_with after one broadcast centroid lookup; the PQ stage
# is byte-identical to a32 with the residual frame swapped in.
# =====================================================================
@register(
    "a41_pq_residual_encode",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
iscored AS (
    SELECT v.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cent.centroid_id
           ) AS crank
    FROM embd AS v, cent
),
home AS (SELECT vec_id, centroid_id FROM iscored WHERE crank = 1),
res AS (
    SELECT v.vec_id,
           list_transform(list_zip(v.e, c.ce), x -> x[1] - x[2]) AS e
    FROM embd AS v
    JOIN home AS h ON v.vec_id = h.vec_id
    JOIN cent AS c ON h.centroid_id = c.centroid_id
),
subs AS (
    SELECT vec_id, CAST(s AS INT) AS subspace,
           e[CAST(s * {_PQ_SUB} + 1 AS INT):CAST(s * {_PQ_SUB} + {_PQ_SUB} AS INT)] AS sv
    FROM res, UNNEST(generate_series(0, {_PQ_M} - 1)) AS t(s)
),
cb AS (SELECT subspace, vec_id AS code_id, sv AS cv FROM subs WHERE vec_id % 61 = 0 AND vec_id < 15616),
scored AS (
    SELECT v.vec_id, v.subspace, cb.code_id,
           {_l2sq_sql("v.sv", "cb.cv")} AS dist2,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id, v.subspace
               ORDER BY {_l2sq_sql("v.sv", "cb.cv")}, cb.code_id
           ) AS rn
    FROM subs AS v JOIN cb ON v.subspace = cb.subspace
)
SELECT vec_id, subspace, code_id, dist2 FROM scored WHERE rn = 1
""",
    covers=("X-ANN-PQ", "X-ANN-IVF", "X-EMBED-QUANTIZE"),
)
def a41_pq_residual_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_encode, residual_vectors, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    assignments = ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id")
    res = residual_vectors(emb, assignments, centroids)
    cb = seed_codebooks(res, m=_PQ_M, mod=61, vec_col="residual")
    return pq_encode(res, cb, m=_PQ_M, vec_col="residual", sub_dim=_EMB_DIM // _PQ_M)


# =====================================================================
# a42 — domain-mixture rates: per-language keep fractions that reshape
# the observed language counts into a 60/25/15 en/de/fr release by
# downsampling only (N* = min n_s/w_s; binding stratum keeps 100%).
# One count aggregation + a broadcast scalar — the corpus is scanned
# once.
# =====================================================================
@register(
    "a42_mixture_rates",
    oracle="""
WITH c AS (
    SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY lang
),
t AS (
    SELECT lang, n,
           CASE lang WHEN 'en' THEN 0.6 WHEN 'de' THEN 0.25
                     WHEN 'fr' THEN 0.15 END AS w
    FROM c
),
s AS (SELECT MIN(n / w) AS nstar FROM t WHERE w IS NOT NULL)
SELECT lang, CAST(n AS BIGINT) AS n_docs, ROUND(w, 6) AS target_w,
       ROUND(LEAST(w * nstar / n, 1.0), 6) AS keep_rate
FROM t, s
WHERE w IS NOT NULL
""",
    covers=("X-SAMPLE-STRATIFIED", "X-MIXTURE-RATES"),
)
def a42_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_rates

    docs = read_table(spark, sf_dir, "documents")
    return mixture_rates(docs, "lang", {"en": 0.6, "de": 0.25, "fr": 0.15})


# =====================================================================
# a43 — textbook residual IVFADC search: the index stores residual-
# encoded PQ codes; each query builds one LUT PER PROBED CELL (its
# residual differs per cell), and a candidate is scored with the LUT of
# its home cell. The recall-accurate composition of a38 + a41.
# =====================================================================
@register(
    "a43_ivfpq_residual_topk",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
iscored AS (
    SELECT v.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cent.centroid_id
           ) AS crank
    FROM embd AS v, cent
),
home AS (SELECT vec_id, centroid_id FROM iscored WHERE crank = 1),
res AS (
    SELECT v.vec_id, h.centroid_id AS home_cell,
           list_transform(list_zip(v.e, c.ce), x -> x[1] - x[2]) AS e
    FROM embd AS v
    JOIN home AS h ON v.vec_id = h.vec_id
    JOIN cent AS c ON h.centroid_id = c.centroid_id
),
subs AS (
    SELECT vec_id, home_cell, CAST(s AS INT) AS subspace,
           e[CAST(s * {_PQ_SUB} + 1 AS INT):CAST(s * {_PQ_SUB} + {_PQ_SUB} AS INT)] AS sv
    FROM res, UNNEST(generate_series(0, {_PQ_M} - 1)) AS t(s)
),
cb AS (SELECT subspace, vec_id AS code_id, sv AS cv FROM subs WHERE vec_id % 61 = 0 AND vec_id < 15616),
enc AS (
    SELECT v.vec_id, v.home_cell, v.subspace, cb.code_id,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id, v.subspace
               ORDER BY {_l2sq_sql("v.sv", "cb.cv")}, cb.code_id
           ) AS rn
    FROM subs AS v JOIN cb ON v.subspace = cb.subspace
),
codes AS (SELECT vec_id, home_cell, subspace, code_id FROM enc WHERE rn = 1),
probes AS (
    SELECT vec_id AS query_id, centroid_id AS cell
    FROM iscored WHERE crank <= 2 AND vec_id % 200 = 0 AND vec_id < 2000
),
qres AS (
    SELECT p.query_id, p.cell,
           list_transform(list_zip(e.e, c.ce), x -> x[1] - x[2]) AS qe
    FROM probes AS p
    JOIN embd AS e ON p.query_id = e.vec_id
    JOIN cent AS c ON p.cell = c.centroid_id
),
qsubs AS (
    SELECT query_id, cell, CAST(s AS INT) AS subspace,
           qe[CAST(s * {_PQ_SUB} + 1 AS INT):CAST(s * {_PQ_SUB} + {_PQ_SUB} AS INT)] AS sv
    FROM qres, UNNEST(generate_series(0, {_PQ_M} - 1)) AS t(s)
),
lut AS (
    SELECT q.query_id, q.cell, q.subspace, cb.code_id,
           CAST({_l2sq_sql("q.sv", "cb.cv")} AS DECIMAL(18,6)) AS d2
    FROM qsubs AS q JOIN cb ON q.subspace = cb.subspace
),
cands AS (
    SELECT DISTINCT p.query_id, h.vec_id AS candidate_id, h.centroid_id AS home_cell
    FROM probes AS p JOIN home AS h ON p.cell = h.centroid_id
    WHERE h.vec_id <> p.query_id
),
summed AS (
    SELECT cd.query_id, cd.candidate_id, CAST(SUM(l.d2) AS DOUBLE) AS adc
    FROM cands AS cd
    JOIN codes AS c ON c.vec_id = cd.candidate_id
    JOIN lut AS l ON l.query_id = cd.query_id AND l.cell = cd.home_cell
                 AND l.subspace = c.subspace AND l.code_id = c.code_id
    GROUP BY cd.query_id, cd.candidate_id
)
SELECT query_id, candidate_id, adc,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc, candidate_id
       ) AS BIGINT) AS rank
FROM summed
QUALIFY rank <= 5
""",
    covers=("X-ANN-PQ", "X-ANN-IVF", "X-ANN-SEARCH"),
)
def a43_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import (
        ivfpq_topk_residual,
        pq_encode,
        residual_vectors,
        seed_codebooks,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    # A real deployment builds the index ONCE and reads it back; the
    # inline build is materialized (localCheckpoint) so the search plan
    # consumes staged artifacts instead of re-executing the centroid
    # scoring in every branch that references them. A lazy truncation
    # was A/B-measured here in round 14 and LOST (4.3s -> 6.0s warm):
    # the search plan's branches race to materialize the shared blocks
    # inside one job, double-computing partitions; the eager build
    # stays.
    assignments = (
        ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id").transform(cut_lineage())
    )
    res = residual_vectors(emb, assignments, centroids)
    cb = seed_codebooks(res, m=_PQ_M, mod=61, vec_col="residual").transform(cut_lineage())
    codes = (
        pq_encode(res, cb, m=_PQ_M, vec_col="residual", sub_dim=_EMB_DIM // _PQ_M)
        .select("vec_id", "subspace", "code_id")
        .transform(cut_lineage())
    )
    queries = emb.filter((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < _PQ_QUERY_CAP))
    return ivfpq_topk_residual(
        queries, codes, assignments, cb, centroids, m=_PQ_M, k=5, nprobe=2
    )


# =====================================================================
# a44 — packed-chunk assembly: expand the a37 packing into the
# chunk -> document-span map a training loader consumes (which slice of
# which doc builds each fixed-size context). Explode fan-out is bounded
# by ceil(doc_len / capacity) + 1 per doc, never by corpus size.
# =====================================================================
@register(
    "a44_chunk_spans",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_tokens AS BIGINT) AS global_start
    FROM toks
),
spans AS (
    SELECT doc_id, n_tokens, global_start, CAST(ch AS BIGINT) AS chunk_id
    FROM cum,
         UNNEST(generate_series(
             global_start // {_PACK_CAPACITY},
             (global_start + n_tokens - 1) // {_PACK_CAPACITY}
         )) AS t(ch)
    WHERE n_tokens > 0
)
SELECT chunk_id, doc_id,
       GREATEST(global_start, chunk_id * {_PACK_CAPACITY})
           - global_start AS doc_offset,
       GREATEST(global_start, chunk_id * {_PACK_CAPACITY})
           - chunk_id * {_PACK_CAPACITY} AS span_start,
       LEAST(global_start + n_tokens, (chunk_id + 1) * {_PACK_CAPACITY})
           - GREATEST(global_start, chunk_id * {_PACK_CAPACITY}) AS span_len
FROM spans
""",
    covers=("X-SEQUENCE-PACK", "W2"),
)
def a44_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.packing import chunk_spans, pack_sequences

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", capacity=_PACK_CAPACITY)
    return chunk_spans(packed, "doc_id", "n_tokens", capacity=_PACK_CAPACITY)


# =====================================================================
# a45 — SemDeDup (Abbas et al. 2023): semantic dedup by embedding
# similarity. IVF cells bound the O(n^2) pair scan (the paper's own
# blocking trick); links above the cosine threshold become duplicate
# groups via connected components; the survivor per group is the point
# FARTHEST from its centroid (lowest cosine-to-centroid, id tiebreak).
# =====================================================================
_SEMDEDUP_THRESHOLD = 0.40


@register(
    "a45_semantic_dedup",
    oracle=f"""
WITH RECURSIVE
embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
sc AS (
    SELECT v.vec_id, cid, {_COS_SQL.format(a="v.e", b="cent.ce")} AS cosc,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cid
           ) AS rn
    FROM embd AS v, cent
),
home AS (SELECT vec_id, cid, cosc FROM sc WHERE rn = 1),
p AS (
    SELECT a.vec_id AS va, b.vec_id AS vb
    FROM home AS a
    JOIN home AS b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN embd AS ea ON ea.vec_id = a.vec_id
    JOIN embd AS eb ON eb.vec_id = b.vec_id
    WHERE {_COS_SQL.format(a="ea.e", b="eb.e")} >= {_SEMDEDUP_THRESHOLD}
),
edges AS (
    SELECT va AS e_src, vb AS e_dst FROM p
    UNION ALL
    SELECT vb AS e_src, va AS e_dst FROM p
),
walk(vec_id, label) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.vec_id = e.e_src
),
comp AS (SELECT vec_id, MIN(label) AS component FROM walk GROUP BY vec_id)
SELECT c.vec_id, c.component, h.cosc AS cos_centroid,
       CAST(CASE WHEN ROW_NUMBER() OVER (
           PARTITION BY c.component ORDER BY h.cosc ASC, c.vec_id ASC
       ) = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM comp AS c JOIN home AS h ON c.vec_id = h.vec_id
""",
    covers=("X-DEDUP-EMBEDDING", "X-DEDUP-CC", "X-ANN-IVF"),
)
def a45_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    return semantic_dedup(emb, centroids, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM)


# =====================================================================
# a46 — corpus bigram LM statistics: top-10 bigrams per language with
# occurrence count and document frequency. The shuffle carries distinct
# (lang, bigram) rows — partial-combined map-side — never token
# instances; the top-k window runs over the aggregated vocabulary-sized
# table.
# =====================================================================
@register(
    "a46_corpus_bigrams",
    oracle=r"""
WITH base AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS arr
    FROM documents
),
grams AS (
    SELECT lang, doc_id,
           arr[CAST(i AS INT)] || ' ' || arr[CAST(i AS INT) + 1] AS ngram
    FROM base, UNNEST(generate_series(1, len(arr) - 1)) AS t(i)
),
per_doc AS (
    SELECT lang, ngram, doc_id, COUNT(*) AS c
    FROM grams GROUP BY lang, ngram, doc_id
),
agg AS (
    SELECT lang, ngram,
           CAST(SUM(c) AS BIGINT) AS cnt,
           CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM per_doc GROUP BY lang, ngram
)
SELECT lang, ngram, cnt, doc_freq,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY cnt DESC, ngram ASC
       ) AS BIGINT) AS rank
FROM agg
QUALIFY rank <= 10
""",
    covers=("X-TEXT-REPETITION", "A5", "O1"),
)
def a46_corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.repetition import corpus_ngram_topk

    docs = read_table(spark, sf_dir, "documents")
    return corpus_ngram_topk(docs, "lang", n=2, k=10)


# =====================================================================
# a47 — length-bucketed inference batching: similar-length docs batch
# together so each batch pads to its own max, not the corpus max.
# Deterministic md5 sharding keeps batch numbering parallel (windows
# keyed by (bucket, shard), never global); pad_waste quantifies the
# saved padding.
# =====================================================================
@register(
    "a47_length_batches",
    oracle=r"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
               AS BIGINT) AS n_tokens
    FROM documents
),
rows_ AS (
    SELECT doc_id, n_tokens,
           n_tokens // 16 AS bucket,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 4 AS shard
    FROM toks
),
batched AS (
    SELECT bucket, shard, n_tokens,
           (ROW_NUMBER() OVER (
               PARTITION BY bucket, shard ORDER BY n_tokens, doc_id
           ) - 1) // 8 AS batch_id
    FROM rows_
)
SELECT bucket, shard, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM batched
GROUP BY bucket, shard, batch_id
""",
    covers=("X-SEQUENCE-PACK", "A4", "W2"),
)
def a47_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.packing import length_bucket_batches

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return length_bucket_batches(
        docs, "doc_id", "n_tokens", bucket_width=16, batch_size=8, num_shards=4
    )


# =====================================================================
# a48 — deterministic corpus shuffle: seeded md5 rank as the global
# permutation (uniform keys -> even range partitions, no skew), two-
# phase scalable rank (never a global window), plus the shard-file
# assignment of the shuffled corpus.
# =====================================================================
@register(
    "a48_corpus_shuffle",
    oracle="""
WITH keyed AS (
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '-42') AS skey
    FROM documents
),
ranked AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS BIGINT)
               AS shuffle_pos
    FROM keyed
)
SELECT doc_id, shuffle_pos, (shuffle_pos - 1) // 64 AS shard
FROM ranked
""",
    covers=("W1", "O2", "X-SAMPLE-STRATIFIED"),
)
def a48_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_shuffle

    docs = read_table(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id", seed=42, shard_size=64)


# =====================================================================
# a49 — recall@k: the ANN quality loop closed. Exact brute-force top-k
# (x09's plan) is the ground truth; the single-probe IVF search (x16's
# plan) is the approximation; recall@5 per query is one tiny join + one
# aggregate over two |queries| x k tables — cost independent of corpus
# size. The quality number a production ANN deployment ships alongside
# its latency (Jegou et al., TPAMI 2011, report exactly this curve).
# =====================================================================
@register(
    "a49_ann_recall_at_k",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
q AS (SELECT vec_id AS query_id, e AS qe FROM embd WHERE vec_id < 5),
exact_topk AS (
    SELECT query_id, candidate_id FROM (
        SELECT q.query_id, c.vec_id AS candidate_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COS_SQL.format(a="q.qe", b="c.e")} DESC, c.vec_id
               ) AS rank
        FROM q, embd AS c
        WHERE c.vec_id <> q.query_id
    ) WHERE rank <= 5
),
assign AS ({_ASSIGN_SQL}),
iq AS (
    SELECT a.vec_id AS query_id, a.centroid_id, e.e AS qe
    FROM assign AS a JOIN embd AS e ON a.vec_id = e.vec_id
    WHERE a.vec_id < 5
),
cell AS (
    SELECT a.vec_id AS candidate_id, a.centroid_id, e.e AS ce2
    FROM assign AS a JOIN embd AS e ON a.vec_id = e.vec_id
),
approx_topk AS (
    SELECT query_id, candidate_id FROM (
        SELECT iq.query_id, cell.candidate_id,
               ROW_NUMBER() OVER (
                   PARTITION BY iq.query_id
                   ORDER BY {_COS_SQL.format(a="iq.qe", b="cell.ce2")} DESC,
                            cell.candidate_id
               ) AS rank
        FROM iq JOIN cell ON iq.centroid_id = cell.centroid_id
        WHERE cell.candidate_id <> iq.query_id
    ) WHERE rank <= 5
),
hits AS (
    SELECT e.query_id, COUNT(*) AS hits
    FROM exact_topk AS e
    JOIN approx_topk AS a
      ON e.query_id = a.query_id AND e.candidate_id = a.candidate_id
    GROUP BY e.query_id
)
SELECT qs.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 6) AS recall
FROM (SELECT DISTINCT query_id FROM exact_topk) AS qs
LEFT JOIN hits AS h ON qs.query_id = h.query_id
""",
    covers=("X-ANN-RECALL", "X-ANN-SEARCH", "J9", "A1"),
)
def a49_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import recall_at_k

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5, dim=_EMB_DIM)
    approx = x16_ann_ivf_topk(spark, sf_dir)
    return recall_at_k(approx, exact, k=5)


# =====================================================================
# a50 — row-local IVF assignment (the streaming/ingest form): identical
# output to x10's crossJoin+window plan, but the argmax is an
# F.aggregate fold over a centroid literal — a pure projection with
# ZERO exchanges (plan-asserted in the stream=batch test). At 100 TB
# this is the assignment shape an ingest pipeline runs per arriving
# vector; the window form exists because it is the direct SQL analog.
# =====================================================================
@register(
    "a50_cell_assign_rowlocal",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
scored AS (
    SELECT
        v.vec_id,
        cent.centroid_id,
        {_COS_SQL.format(a="v.e", b="cent.ce")} AS cosine
    FROM embd AS v, cent
)
SELECT vec_id, centroid_id, cosine
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, centroid_id
    ) AS rn
    FROM scored
)
WHERE rn = 1
""",
    covers=("X-ANN-IVF", "X-STREAM-ASSIGN"),
)
def a50_cell_assign_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.similarity import assign_cells_stream

    emb = read_table(spark, sf_dir, "embeddings")
    # NULL embeddings cannot serve as centroids (no direction to
    # compare against) — filtered before the collect so a degenerate
    # table raises nearest_centroid_expr's explicit empty-index error
    # instead of a TypeError mid-listcomp.
    centroid_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(
            ((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416)) & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    ]
    return assign_cells_stream(emb, centroid_rows)


# =====================================================================
# a51 — PII redaction: the scrubbing pass an LLM pipeline runs before a
# corpus ships (emails / IPv4 / intl phone numbers -> typed placeholder
# tokens) plus the per-kind audit counts. Row-local regexp chain inside
# whole-stage codegen — no shuffle, no UDF. PII is injected
# deterministically per doc_id so the redaction itself is value-checked
# (the fixture texts carry none). Patterns restricted to the
# Java/RE2-identical regex subset so Spark and DuckDB agree exactly.
# =====================================================================
_PII_INJECT_SQL = """
    SELECT doc_id,
        text
        || CASE WHEN doc_id % 2 = 0
                THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
                ELSE '' END
        || CASE WHEN doc_id % 3 = 0
                THEN ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' call +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
                ELSE '' END AS t
    FROM documents
"""


def _pii_oracle_sql() -> str:
    """a51 oracle, interpolated from the SAME ``PII_PATTERNS`` constants
    the Spark operator compiles — editing a pattern in functions/text.py
    cannot desync the two sides (ADVICE r04 #5). The patterns live in
    the Java/RE2-common subset, so both engines match identically (note
    the ipv4 ``\\d{1,3}`` octets accept out-of-range values like 999 —
    a deliberate simplification, consistent across engines)."""
    from ..functions.text import PII_PATTERNS

    redacted = "t"
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ",\n    ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    return (
        "WITH inj AS (\n"
        + _PII_INJECT_SQL
        + f"\n)\nSELECT doc_id,\n    {redacted} AS redacted,\n    {counts}\nFROM inj\n"
    )


@register(
    "a51_pii_redaction",
    oracle=_pii_oracle_sql(),
    covers=("F5", "X-TEXT-PII"),
)
def a51_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import pii_counts, redact_pii

    docs = read_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" from 10.2."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1555"),
                F.lpad(F.col("doc_id").cast("string"), 7, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    with_t = docs.select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    return with_t.select(
        "doc_id",
        redact_pii(F.col("t")).alias("redacted"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
    )


# =====================================================================
# a52 — sliding-window chunking: fixed-size overlapping token windows
# WITHIN each document (the RAG/retrieval chunking op; a37/a44 pack
# ACROSS documents, retrieval chunking must never cross a boundary).
# Row-local tokenize + sequence + explode; per-doc fan-out bounded by
# ceil(n_tokens / stride).
# =====================================================================
_CHUNK_SIZE = 16
_CHUNK_OVERLAP = 4
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@register(
    "a52_sliding_chunks",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
    FROM documents
),
nz AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
st AS (
    SELECT doc_id, tk, n,
           CAST(s AS BIGINT) AS start_tok,
           CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id
    FROM nz, UNNEST(generate_series(0, CAST(n - 1 AS BIGINT), {_CHUNK_STRIDE})) AS t(s)
)
SELECT doc_id, chunk_id, start_tok,
       CAST(LEAST(start_tok + {_CHUNK_SIZE}, n) AS BIGINT) AS end_tok,
       CAST(LEAST(start_tok + {_CHUNK_SIZE}, n) - start_tok AS BIGINT) AS n_chunk_tokens,
       array_to_string(
           tk[CAST(start_tok + 1 AS INT):CAST(LEAST(start_tok + {_CHUNK_SIZE}, n) AS INT)],
           ' '
       ) AS chunk_text
FROM st
""",
    covers=("X-SEQUENCE-PACK", "X-CHUNK-SLIDING"),
)
def a52_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import sliding_chunks

    docs = read_table(spark, sf_dir, "documents")
    return sliding_chunks(docs, size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)


# =====================================================================
# a53 — random-hyperplane LSH embedding near-dup: the LABEL-FREE scale
# path for embedding-cosine near-duplicate detection (x08 blocks by a
# given label column; a real corpus has no labels — this derives its
# buckets from the geometry itself via Charikar sign-bit LSH). Sign the
# corpus row-locally against shared deterministic hyperplanes, band the
# bits into integer keys, equi-join colliding buckets, verify exact
# cosine. The hyperplanes are splitmix64-derived plan literals, so both
# engines compute bit-identical signatures.
# =====================================================================
#: 12-bit bands (48 bits / 4 bands = 4,096 signatures per band) — the
#: SAME band geometry as ``_rhp_block_pairs``, and for the same reason:
#: the round-7 sf10 sweep OOM'd this query at 500k Zipf-clustered
#: vectors with the original 8-bit bands (256 buckets/band put O(10^4+)
#: vectors in hot buckets — near-quadratic candidate pairs, i.e. the
#: exact scan wearing an LSH hat). Near-dup pairs (cosine ~0.98) still
#: collide per 12-bit band with p ~ 0.45, so 4 bands keep ~91% recall
#: (Charikar bound); exact duplicates always collide. The oracle below
#: regenerates from these constants, so parity holds by construction.
_RHP_BITS = 48
_RHP_BANDS = 4
#: Verify threshold calibrated to the driver fixture: its embeddings are
#: near-orthogonal with NO true near-dups (max pair cosine ~0.51 at
#: sf0.01), so a production 0.95 would verify zero pairs and the driver
#: row would prove nothing. 0.30 keeps the verify stage live even at the
#: narrower 12-bit bands (measured on the fixture after the band-width
#: change; counts recorded in tests/test_oracle_parity.py's run); real
#: corpora pass their own threshold to the operator.
_RHP_THRESHOLD = 0.30


def _rhp_oracle_sql() -> str:
    from ..operators.similarity import rhp_plan_vectors

    planes = rhp_plan_vectors(_RHP_BITS, 64)
    per_band = _RHP_BITS // _RHP_BANDS

    def bit_sql(b: int) -> str:
        arr = "[" + ", ".join(repr(x) for x in planes[b]) + "]"
        return (
            f"(CASE WHEN COALESCE(list_dot_product(e, {arr}::DOUBLE[]), 0)"
            " >= 0 THEN 1 ELSE 0 END)"
        )

    band_selects = " UNION ALL ".join(
        "SELECT vec_id, {band} AS band, CAST({expr} AS BIGINT) AS band_sig FROM embd".format(
            band=band,
            expr=" + ".join(
                f"{bit_sql(band * per_band + i)} * {2 ** i}"
                for i in range(per_band)
            ),
        )
        for band in range(_RHP_BANDS)
    )
    cos = _COS_SQL.format(a="va.e", b="vb.e")
    return f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sigs AS ({band_selects}),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM sigs a JOIN sigs b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id
)
SELECT cand.vec_a, cand.vec_b, {cos} AS cosine
FROM cand
JOIN embd va ON cand.vec_a = va.vec_id
JOIN embd vb ON cand.vec_b = vb.vec_id
WHERE {cos} >= {_RHP_THRESHOLD}
"""


@register(
    "a53_rhp_embedding_neardup",
    oracle=_rhp_oracle_sql(),
    covers=("X-DEDUP-EMBED", "X-ANN-LSH"),
)
def a53_rhp_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import rhp_near_duplicates

    emb = read_table(spark, sf_dir, "embeddings")
    return rhp_near_duplicates(
        emb, _RHP_THRESHOLD, n_bits=_RHP_BITS, bands=_RHP_BANDS
    )


# =====================================================================
# a54 — duplicate n-gram coverage: per-document fraction of distinct
# 3-word shingles shared with ANY other document (RefinedWeb/Dolma-style
# boilerplate signal). Inverted-index shape — cost O(shingle instances),
# never O(docs^2); the df aggregate map-side-combines to distinct
# shingles before the shuffle.
# =====================================================================
@register(
    "a54_dup_ngram_coverage",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
SELECT
    s.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_shingles,
    CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
    ROUND(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
          / CAST(COUNT(*) AS DOUBLE), 6) AS dup_coverage
FROM sh AS s JOIN dfreq AS d USING (shingle)
GROUP BY s.doc_id
""",
    covers=("X-DEDUP-NGRAM",),
)
def a54_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_ngram_coverage

    docs = read_table(spark, sf_dir, "documents")
    return dup_ngram_coverage(docs, "doc_id", "text", k=3)


# =====================================================================
# a55 — SCD2 dimension build from a change log: collapse per-entity
# observation streams (events as a CDC feed: user_id observed with
# event_type at ts) into validity intervals with version counters and
# a current flag. The warehouse-grade upgrade of the reference's SCD1
# gold dims (aact_gold_layer.sql:25-120 keeps latest state only).
# Both windows partition on the natural key — no global window.
# =====================================================================
@register(
    "a55_scd2_dimension",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_attr
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered
    WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr
),
ver AS (
    SELECT user_id,
           event_type AS attr,
           ts AS vf,
           LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS vt,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS version
    FROM changes
)
SELECT
    user_id,
    attr,
    strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
    strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
    CAST(version AS BIGINT) AS version,
    vt IS NULL AS is_current
FROM ver
""",
    covers=("X-SCD2", "W2", "J4"),
)
def a55_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_from_log

    ev = _read_events(spark, sf_dir)
    out = scd2_from_log(ev, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "user_id",
        "attr",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "version",
        "is_current",
    )


#: Vocabulary coverage target in basis points (99.5% of token
#: instances). Integer cutoff arithmetic — shared verbatim by operator
#: and oracle so a boundary token cannot flip between engines.
_VOCAB_COVERAGE_BP = 9950

def _doc_tokens_sql(extra_cols: str = "") -> str:
    """DuckDB mirror of operators.vocab._doc_tokens: BPE-ish instance
    tokenization over the shared normalization. ``extra_cols`` is an
    explicit comma-led addition to the select list (e.g. ``", source"``)
    — an explicit parameter instead of the former post-hoc
    ``.replace("SELECT doc_id,", ...)`` idiom, which silently no-ops if
    the base select list is ever reworded (ADVICE r6)."""
    return f"""
    SELECT doc_id{extra_cols},
           unnest(regexp_extract_all({_NORM_SQL}, '{_BPE_PATTERN}')) AS token
    FROM documents
"""


_DOC_TOKENS_SQL = _doc_tokens_sql()


# =====================================================================
# a56 — vocabulary-coverage OOV rates: corpus token frequencies ->
# smallest most-frequent-first vocabulary covering 99.5% of instances
# -> per-document out-of-vocabulary rate against it (tokenizer-prep +
# routing signal). The Spark prefix sum is the two-phase range-
# partitioned form (operators/vocab.ranked_cumsum) — same totals as
# the oracle's single window, no single-task global window.
# =====================================================================
@register(
    "a56_vocab_oov_rates",
    oracle=f"""
WITH toks AS ({_DOC_TOKENS_SQL}),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
ranked AS (
    SELECT token, cnt,
           SUM(cnt) OVER (
               ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING
           ) AS cum,
           SUM(cnt) OVER () AS total
    FROM counts
),
vocab AS (
    SELECT token FROM ranked
    WHERE (cum - cnt) * 10000 < {_VOCAB_COVERAGE_BP} * total
),
per_doc AS (
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
    FROM toks AS t LEFT JOIN vocab AS v USING (token)
    GROUP BY t.doc_id
)
SELECT
    d.doc_id,
    CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
    CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
    ROUND(p.n_oov / CAST(p.n_tokens AS DOUBLE), 6) AS oov_rate
FROM documents AS d LEFT JOIN per_doc AS p USING (doc_id)
""",
    covers=("X-VOCAB", "A1"),
)
def a56_vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.vocab import (
        oov_stats,
        token_frequencies,
        vocab_by_coverage,
    )

    docs = read_table(spark, sf_dir, "documents")
    counts = token_frequencies(docs, "doc_id", "text")
    vocab = vocab_by_coverage(counts, coverage_bp=_VOCAB_COVERAGE_BP)
    return oov_stats(docs, "doc_id", "text", vocab)


# =====================================================================
# a57 — per-dimension embedding distribution QC (dead-dimension / scale-
# shift detection after an encoder change). Sums accumulate in
# DECIMAL(38,10) so merge order cannot perturb them; mean/var derive
# from the exact sums in plain double arithmetic. posexplode fans out
# rows x dims, but the partial aggregate combines map-side to |dims|
# rows per partition before the shuffle.
# =====================================================================
@register(
    "a57_embedding_dim_stats",
    oracle="""
WITH ex AS (
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           CAST(e[CAST(i AS INT)] AS DOUBLE) AS x
    FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         UNNEST(generate_series(1, len(e))) AS t(i)
),
agg AS (
    SELECT dim,
           COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(38,10))) AS s1,
           SUM(CAST(x * x AS DECIMAL(38,10))) AS s2,
           MIN(x) AS min_v,
           MAX(x) AS max_v
    FROM ex GROUP BY dim
)
SELECT
    dim,
    CAST(n AS BIGINT) AS n,
    ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean,
    ROUND(CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS var,
    min_v,
    max_v
FROM agg
""",
    covers=("X-EMBED-QC", "A7"),
)
def a57_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_dim_stats

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb, "embedding")


#: Histogram bin width for the a58 quantile sketch (events.value spans
#: ~[0, 330] — ~33 bins).
_SKETCH_BIN_WIDTH = 10.0


# =====================================================================
# a58 — mergeable binned-quantile sketch: p50/p90/p99 per event_type
# read off cumulative fixed-width bin counts. The scale-path answer to
# q13's exact percentiles — the shuffle carries |groups| x |bins|
# partial counts instead of every row, and the sketch merges
# associatively across partitions/days/clusters. Threshold test is
# integer math (cum * 10000 >= q_bp * total): no boundary float flip.
# =====================================================================
@register(
    "a58_binned_quantiles",
    oracle=f"""
WITH binned AS (
    SELECT event_type,
           CAST(FLOOR(value / {_SKETCH_BIN_WIDTH}) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, bin
),
cum AS (
    SELECT event_type, bin, cnt,
           SUM(cnt) OVER (
               PARTITION BY event_type ORDER BY bin
               ROWS UNBOUNDED PRECEDING
           ) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS total
    FROM binned
)
SELECT
    c.event_type,
    CAST(q.q_bp AS BIGINT) AS q_bp,
    ROUND((MIN(c.bin) + 1) * {_SKETCH_BIN_WIDTH}, 6) AS est
FROM cum AS c,
     (SELECT UNNEST([5000, 9000, 9900]) AS q_bp) AS q
WHERE c.cum * 10000 >= q.q_bp * c.total
GROUP BY c.event_type, q.q_bp
""",
    covers=("X-SKETCH", "A8"),
)
def a58_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import binned_quantiles

    ev = _read_events(spark, sf_dir)
    return binned_quantiles(
        ev, "event_type", "value", _SKETCH_BIN_WIDTH,
        quantiles_bp=(5000, 9000, 9900),
    )


#: a59 window length (tokens) for duplicate-span detection.
_SPAN_K = 5


# =====================================================================
# a59 — duplicate-span detection: maximal token spans whose every
# 5-token window recurs elsewhere in the corpus (the span-level
# exact-substring dedup of Lee et al. 2022, k-gram rolling form).
# Downstream these spans are CUT from training text, not whole-doc
# dropped. Hash-keyed shuffle (never raw text), equi-join back, then
# per-document gap-flag/cumsum island merge — O(token instances).
# =====================================================================
@register(
    "a59_dup_spans",
    oracle=f"""
WITH base AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
),
win AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           md5(array_to_string(
               w[CAST(i AS INT):CAST(i AS INT) + {_SPAN_K - 1}], ' '
           )) AS gh
    FROM base, UNNEST(generate_series(1, len(w) - {_SPAN_K - 1})) AS t(i)
    WHERE len(w) >= {_SPAN_K}
),
dup AS (SELECT gh FROM win GROUP BY gh HAVING COUNT(*) >= 2),
marked AS (SELECT w.doc_id, w.pos FROM win AS w JOIN dup USING (gh)),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     IS NULL
                  OR pos - LAG(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos
                     ) > {_SPAN_K}
                THEN 1 ELSE 0 END AS newf
    FROM marked
),
isl AS (
    SELECT doc_id, pos,
           SUM(newf) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
           ) AS island
    FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_SPAN_K} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {_SPAN_K} - MIN(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
""",
    covers=("X-DEDUP-SPANS", "W2"),
)
def a59_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", k=_SPAN_K)


# =====================================================================
# a60 — leakage-safe train/test split: the near-dup CLUSTER's hash
# decides the side, so no near-duplicate pair ever straddles train and
# eval (the contamination a row-level split silently creates). Rides
# a21's staged MinHash/LSH -> connected-components pipeline; the split
# itself is one row-local projection on top.
# =====================================================================
@register(
    "a60_leakage_safe_split",
    oracle=f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands AS a
    JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS e_src, doc_b AS e_dst FROM pairs
    UNION ALL
    SELECT doc_b AS e_src, doc_a AS e_dst FROM pairs
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.doc_id = e.e_src
),
comp AS (
    SELECT doc_id, MIN(label) AS component FROM walk GROUP BY doc_id
)
SELECT
    doc_id,
    component,
    CAST(CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8) AS BIGINT)
         % 100 AS BIGINT) AS bucket,
    CASE WHEN CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8) AS BIGINT)
              % 100 < 10
         THEN 'test' ELSE 'train' END AS side
FROM comp
""",
    covers=("X-SPLIT-LEAKAGE", "X-DEDUP-CC"),
)
def a60_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_pipeline
    from ..operators.sampling import leakage_safe_split

    docs = read_table(spark, sf_dir, "documents")
    _sigs, _pairs, comp = dedup_pipeline(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, shingle_k=3
    )
    out = leakage_safe_split(comp, "doc_id", "component", test_pct=10)
    return out.withColumn("bucket", F.col("bucket").cast("long"))


# =====================================================================
# a61 — per-source reputation rollup: exact-dup rate + quality signals
# aggregated by origin (domain/feed). Pipelines drop or downweight
# whole SOURCES on these numbers — the curation decision one level
# above per-document filtering. Join of two aggregates over the same
# scan; shuffle carries |sources| rows.
# =====================================================================
@register(
    "a61_source_reputation",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, source,
           md5({_NORM_SQL}) AS fp,
           length(text) AS n_chars,
           len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tokens
    FROM documents
),
dupmark AS (
    SELECT doc_id, source, n_chars, n_tokens,
           CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY fp ORDER BY doc_id
                ) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM fp
)
SELECT
    source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(is_dup) AS BIGINT) AS n_dups,
    ROUND(SUM(is_dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
    ROUND(SUM(CAST(n_chars AS DECIMAL(18,4)))
          / CAST(COUNT(*) AS DOUBLE), 6) AS mean_chars,
    ROUND(SUM(CAST(n_tokens AS DECIMAL(18,4)))
          / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
FROM dupmark
GROUP BY source
""",
    covers=("X-SOURCE-REP", "J9", "A4"),
)
def a61_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalized_text
    from ..operators.dedup import _md5

    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = (
        docs.select(
            "doc_id",
            "source",
            _md5(normalized_text(F.col("text"))).alias("fp"),
            F.length("text").alias("n_chars"),
            F.size(toks).alias("n_tokens"),
        )
        .withColumn(
            "is_dup",
            F.when(F.row_number().over(w) > 1, 1).otherwise(0),
        )
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_chars"),
        F.round(
            F.sum(F.col("n_tokens").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_tokens"),
    )


#: Linear-counting bucket count for a62 (distinct tokens per source run
#: in the low hundreds at sf0.01 — m=1024 keeps occupancy < 40%).
_LC_M = 1024

_LC_BUCKET_SQL = (
    "CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % " + str(_LC_M)
)


# =====================================================================
# a62 — mergeable approximate COUNT(DISTINCT) via linear counting:
# distinct tokens per source, estimated from md5-bucket occupancy next
# to the exact count and relative error. The sketch's shuffle carries
# <= m occupied buckets per group (constant in corpus size) and merges
# by set union — the incremental/approximate path where exact
# COUNT(DISTINCT) reshuffles every distinct value. Deterministic hash
# -> the ESTIMATE itself is value-oracled, not just bounded.
# =====================================================================
@register(
    "a62_linear_count_distinct",
    oracle=f"""
WITH toks AS ({_doc_tokens_sql(", source")}),
agg AS (
    SELECT source,
           COUNT(DISTINCT {_LC_BUCKET_SQL}) AS d,
           COUNT(DISTINCT token) AS exact_distinct
    FROM toks
    GROUP BY source
)
SELECT
    source,
    CAST(d AS BIGINT) AS d_buckets,
    CASE WHEN d < {_LC_M}
         THEN ROUND(-{_LC_M} * ln(1.0 - CAST(d AS DOUBLE) / {_LC_M}), 6)
    END AS est_distinct,
    CAST(exact_distinct AS BIGINT) AS exact_distinct,
    ROUND(abs(CASE WHEN d < {_LC_M}
                   THEN ROUND(-{_LC_M} * ln(1.0 - CAST(d AS DOUBLE) / {_LC_M}), 6)
              END - exact_distinct) / exact_distinct, 6) AS rel_err
FROM agg
""",
    covers=("X-SKETCH-DISTINCT", "A5"),
)
def a62_linear_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import linear_counting_distinct
    from ..operators.vocab import _doc_tokens

    from ..functions.text import bpe_ish_tokens

    docs = read_table(spark, sf_dir, "documents")
    # carry the grouping column through the explode row-locally — a
    # join back to the corpus to re-attach it would shuffle |docs| rows
    toks = docs.select(
        "source",
        F.explode(
            bpe_ish_tokens(normalized_text(F.col("text")))
        ).alias("token"),
    )
    return linear_counting_distinct(toks, "source", "token", m=_LC_M)


# =====================================================================
# a63 — BM25 top-k lexical retrieval: score documents against a fixed
# keyword-query table (Okapi BM25, Lucene "plus one" idf) and return the
# 5 best documents per query. The retrieval surface of a RAG / curation
# pipeline; the scaled-up form of the reference's ILIKE search scans
# (aact_silver_layer.sql:417-530). Per-term contributions round to 6dp
# and sum as DECIMAL(18,6), so scores are bit-identical across engines
# and the rank order (score DESC, doc_id ASC) is total.
# =====================================================================

#: Fixed query-term table for a63 — plan literal on the Spark side,
#: VALUES list in the oracle, both interpolated from this one constant.
_BM25_QUERY_TERMS: list[tuple[int, str]] = [
    (0, "spark"), (0, "shuffle"), (0, "partition"),
    (1, "hash"), (1, "join"), (1, "merge"),
    (2, "window"), (2, "sort"), (2, "batch"),
]


def _a63_oracle() -> str:
    from ..operators.retrieval import bm25_topk_oracle_sql

    return bm25_topk_oracle_sql(_BM25_QUERY_TERMS, k=5, norm_sql=_NORM_SQL)


@register(
    "a63_bm25_topk",
    oracle=_a63_oracle(),
    covers=("X-RETRIEVAL-BM25", "A1", "W2", "O1"),
)
def a63_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id BIGINT, term STRING"
    )
    return bm25_topk(docs, queries, k=5)


# =====================================================================
# a64 — BPE tokenizer-training step: corpus-weighted adjacent character
# pair counts over the word-frequency dictionary, ranked — the merge
# candidates of Sennrich-style BPE (the iterative trainer is
# operators.bpe.bpe_train; this registers its first, oracle-exact
# step). Scale shape: the ONLY corpus pass is the word-frequency
# groupBy; pair extraction is a row-local transform over DISTINCT words
# and the pair shuffle carries |alphabet|^2 keys. The global rank
# window sits on that tiny aggregate, not the corpus.
# =====================================================================
@register(
    "a64_bpe_pair_counts",
    oracle=f"""
WITH words AS (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
),
wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM words WHERE word <> '' GROUP BY word
),
pairs AS (
    SELECT substr(word, i, 1) AS left_sym, substr(word, i + 1, 1) AS right_sym, freq
    FROM wf, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i) t
    WHERE length(word) >= 2
),
counts AS (
    SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY left_sym, right_sym
)
SELECT left_sym, right_sym, pair_count, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY pair_count DESC, left_sym, right_sym
    ) AS rn FROM counts
)
WHERE rn <= 20
""",
    covers=("X-BPE-TRAIN", "A1", "W1", "O1"),
)
def a64_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import top_pair_candidates

    docs = read_table(spark, sf_dir, "documents")
    return top_pair_candidates(docs, k=20)


# =====================================================================
# a65 — hybrid retrieval: Reciprocal Rank Fusion (Cormack et al., SIGIR
# 2009) of the BM25 lexical ranking (a63's terms, k=10) and the
# brute-force embedding-cosine ranking (x09's shape, queries vec_id<3
# matching the lexical query ids; documents/embeddings ids align 1:1).
# RRF uses only ranks — the two systems' scores are incomparable — and
# both input rankings are top-k-per-query tables, so fusion cost is
# independent of corpus size. Contributions 1/(60+rank) round to 6dp
# and sum as DECIMAL(18,6) for engine-exact ordering.
# =====================================================================
def _a65_oracle() -> str:
    from ..operators.retrieval import bm25_topk_oracle_sql

    lex = bm25_topk_oracle_sql(_BM25_QUERY_TERMS, k=10, norm_sql=_NORM_SQL)
    return f"""
WITH lex AS (
    SELECT query_id, doc_id, rank FROM ({lex})
),
embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
qv AS (SELECT vec_id AS query_id, e AS qe FROM embd WHERE vec_id < 3),
sem_scored AS (
    SELECT
        qv.query_id,
        c.vec_id AS doc_id,
        {_COS_SQL.format(a="qv.qe", b="c.e")} AS cosine
    FROM qv, embd AS c
    WHERE c.vec_id <> qv.query_id
),
sem AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, doc_id
               ) AS BIGINT) AS rank
        FROM sem_scored
    ) WHERE rank <= 10
),
unioned AS (
    SELECT * FROM lex UNION ALL SELECT * FROM sem
),
fused AS (
    SELECT query_id, doc_id,
           SUM(CAST(ROUND(CAST(1.0 AS DOUBLE) / (60.0 + CAST(rank AS DOUBLE)), 6)
                    AS DECIMAL(18,6))) AS rrf_dec,
           CAST(COUNT(*) AS BIGINT) AS n_systems
    FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_systems,
       CAST(rrf_dec AS DOUBLE) AS rrf_score,
       CAST(rn AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_dec DESC, doc_id
    ) AS rn FROM fused
)
WHERE rn <= 10
"""


@register(
    "a65_hybrid_rrf",
    oracle=_a65_oracle(),
    covers=("X-RETRIEVAL-RRF", "X-RETRIEVAL-BM25", "X-ANN-BRUTE", "A4", "W2", "O1"),
)
def a65_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk, rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id BIGINT, term STRING"
    )
    lex = bm25_topk(docs, queries, k=10).select("query_id", "doc_id", "rank")
    sem = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=10, dim=_EMB_DIM).select(
        "query_id", F.col("candidate_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(lex.unionByName(sem), k0=60, k=10)


# =====================================================================
# a66 — DSIR importance scores (Xie et al., NeurIPS 2023): hashed-
# unigram log-likelihood ratio of a target domain (here: the English
# subset) vs the whole corpus, summed per document. The data-SELECTION
# operator: rank raw documents by how target-like they are, then keep
# the top mass. Everything corpus-sized stays in one (doc, bucket)
# partial aggregate; the 512-bucket model is broadcast.
# =====================================================================
def _a66_oracle() -> str:
    from ..operators.importance import dsir_oracle_sql

    return dsir_oracle_sql("lang = 'en'", _NORM_SQL)


@register(
    "a66_dsir_importance",
    oracle=_a66_oracle(),
    covers=("X-DSIR", "A3", "A4", "J1"),
)
def a66_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.importance import dsir_scores

    docs = read_table(spark, sf_dir, "documents")
    return dsir_scores(docs, F.col("lang") == "en")


# =====================================================================
# a67 — count-min sketch heavy hitters: the 20 most frequent tokens
# with exact counts next to the CMS estimate (min over d salted-md5
# hash rows of a d x w counter grid). The sketch's shuffle carries at
# most d*w cells per partition regardless of corpus size and merges by
# cell-wise addition — the streaming/incremental path for "what are the
# hot keys", where the exact branch exists here only to expose the
# collision error. Deterministic md5 hashing -> exactly oracle-checkable.
# =====================================================================
def _a67_oracle() -> str:
    from ..operators.sketches import CMS_DEPTH, CMS_WIDTH

    bucket = (
        "CAST('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || value), 1, 8) "
        f"AS BIGINT) % {CMS_WIDTH}"
    )
    return f"""
WITH toks AS (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS value FROM documents
),
vals AS (SELECT value FROM toks WHERE value <> ''),
hash_rows AS (
    SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS row
),
cells AS (
    SELECT row, {bucket} AS col, CAST(COUNT(*) AS BIGINT) AS cell_count
    FROM vals, hash_rows GROUP BY 1, 2
),
exact AS (
    SELECT value, CAST(COUNT(*) AS BIGINT) AS exact_count
    FROM vals GROUP BY value
    ORDER BY exact_count DESC, value LIMIT 20
),
probes AS (
    SELECT value, exact_count, row, {bucket} AS col
    FROM exact, hash_rows
),
est AS (
    SELECT value, exact_count, MIN(cell_count) AS cms_estimate
    FROM probes JOIN cells USING (row, col)
    GROUP BY value, exact_count
)
SELECT value, exact_count, cms_estimate,
       cms_estimate - exact_count AS overestimate,
       CAST(ROW_NUMBER() OVER (ORDER BY exact_count DESC, value) AS BIGINT)
           AS rank
FROM est
"""


@register(
    "a67_cms_heavy_hitters",
    oracle=_a67_oracle(),
    covers=("X-CMS", "A1", "O1", "W1"),
)
def a67_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_topk_estimates

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            whitespace_tokens(normalized_text(F.col("text")))
        ).alias("token")
    )
    return cms_topk_estimates(toks, "token", k=20)


# =====================================================================
# a68 — quality-filter retention curve: for each candidate cutoff over
# the x04 quality score, the document count and token mass surviving
# ``score >= t``. One corpus pass answers every threshold at once (the
# groupBy has <= 20 groups; the cumulative windows run on that
# aggregate) — the operating-point tuning artifact of any quality
# classifier rollout.
# =====================================================================
_RETENTION_BINS = 20

_X04_SCORE_SQL = """
    SELECT
        doc_id,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
        ROUND(
            0.5 * (CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
            + 0.5 * LEAST(
                len(list_filter(string_split_regex(text, '\\s+'),
                    t -> lower(t) IN ('the','a','of','and','to','in','is','it')))
                / GREATEST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), 1)::DOUBLE * 5.0,
                1.0),
            6
        ) AS quality_score
    FROM documents
"""


@register(
    "a68_retention_curve",
    oracle=f"""
WITH scored AS ({_X04_SCORE_SQL}),
binned AS (
    SELECT GREATEST(
               LEAST(CAST(FLOOR(quality_score * {_RETENTION_BINS}) AS BIGINT),
                     {_RETENTION_BINS - 1}),
               0) AS bin,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS weight
    FROM scored WHERE quality_score IS NOT NULL
    GROUP BY 1
),
cum AS (
    SELECT bin,
           CAST(SUM(docs) OVER (ORDER BY bin DESC) AS BIGINT) AS docs_retained,
           CAST(SUM(weight) OVER (ORDER BY bin DESC) AS BIGINT) AS weight_retained,
           CAST(SUM(docs) OVER () AS BIGINT) AS docs_total,
           CAST(SUM(weight) OVER () AS BIGINT) AS weight_total
    FROM binned
)
SELECT CAST(bin * 10000 / {_RETENTION_BINS} AS BIGINT) AS threshold_bp,
       docs_retained,
       weight_retained,
       ROUND(docs_retained / docs_total::DOUBLE, 6) AS docs_frac,
       CASE WHEN weight_total = 0 THEN NULL
            ELSE ROUND(weight_retained / weight_total::DOUBLE, 6) END
           AS weight_frac
FROM cum
""",
    covers=("X-RETENTION", "A3", "W2", "F1"),
)
def a68_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import retention_curve

    docs = read_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    toks = whitespace_tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.lower(t).isin(
                "the", "a", "of", "and", "to", "in", "is", "it"
            ),
        )
    ).cast("long")
    n_tokens = feats["n_tokens"]
    ratio = stop_hits / F.greatest(n_tokens, F.lit(1)).cast("double")
    score = 0.5 * (
        F.when(n_tokens.between(20, 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    ) + 0.5 * F.least(ratio * 5.0, F.lit(1.0))
    scored = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(score, 6).alias("quality_score"),
    )
    return retention_curve(
        scored, "quality_score", "n_tokens", bins=_RETENTION_BINS
    )


# =====================================================================
# a69 — bigram-LM document scores (CCNet-style perplexity filtering,
# Wenzek et al. 2020): every document scored under the corpus's own
# add-alpha bigram model. The "model" is a DataFrame of n-gram counts;
# training and inference are each one shuffle on n-gram keys, nothing
# corpus-sized is broadcast or collected.
# =====================================================================
def _a69_oracle() -> str:
    from ..operators.lm import bigram_lm_oracle_sql

    return bigram_lm_oracle_sql(_NORM_SQL)


@register(
    "a69_bigram_lm_scores",
    oracle=_a69_oracle(),
    covers=("X-LM-SCORE", "A1", "J8", "F17"),
)
def a69_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bigram_lm_scores

    docs = read_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


# =====================================================================
# a70 — IVFADC + exact rerank (IVFADC+R, Jegou et al. 2011): the a38
# compressed-index search widened to a 10-candidate shortlist, then
# refined by exact cosine over the full-precision vectors to the final
# top-5. The standard accuracy/cost dial of production ANN: the
# quantized index pays the scan, the refine pass costs
# |queries| x shortlist regardless of corpus size (shortlist broadcast
# probes the embedding table, nothing corpus-sized shuffles).
# =====================================================================
@register(
    "a70_ivfadc_rerank",
    oracle=f"""
WITH {_IVFPQ_CHAIN_SQL},
shortlist AS (
    SELECT query_id, candidate_id FROM (
        SELECT query_id, candidate_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc, candidate_id
               ) AS arank
        FROM summed
    ) WHERE arank <= 10
),
rescored AS (
    SELECT s.query_id, s.candidate_id,
           {_COS_SQL.format(a="q.e", b="c.e")} AS cosine
    FROM shortlist AS s
    JOIN embd AS q ON q.vec_id = s.query_id
    JOIN embd AS c ON c.vec_id = s.candidate_id
)
SELECT query_id, candidate_id, cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY cosine DESC NULLS LAST, candidate_id
       ) AS BIGINT) AS rank
FROM rescored
QUALIFY rank <= 5
""",
    covers=("X-ANN-PQ", "X-ANN-IVF", "X-ANN-SEARCH", "X-ANN-RERANK"),
)
def a70_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import adc_rerank_topk, ivfpq_topk, pq_encode, seed_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    cb = seed_codebooks(emb, m=_PQ_M, mod=61)
    codes = pq_encode(emb, cb, m=_PQ_M, sub_dim=_EMB_DIM // _PQ_M).select("vec_id", "subspace", "code_id")
    assignments = ivf_assign(emb, centroids, dim=_EMB_DIM).select("vec_id", "centroid_id")
    queries = emb.filter((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < _PQ_QUERY_CAP))
    shortlist = ivfpq_topk(
        queries, codes, assignments, cb, centroids, m=_PQ_M, k=10, nprobe=2
    )
    return adc_rerank_topk(shortlist, queries, emb, k=5)


# =====================================================================
# a71 — temperature-based mixture reweighting (mBERT/XLM-R/mC4
# sampling rule): per-language target shares derived as
# n^alpha / sum(n^alpha) with alpha=0.3 (tail languages upweighted),
# then the same no-upsampling keep-rate rule as a42. The whole
# computation after the one corpus count is |strata|-sized.
# =====================================================================
_TEMP_ALPHA = 0.3


@register(
    "a71_temperature_mixture",
    oracle=f"""
WITH counts AS (
    SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n
    FROM documents GROUP BY lang
),
shares AS (
    SELECT lang, n,
           ROUND(pow(n, {_TEMP_ALPHA}) /
                 (SELECT SUM(pow(n, {_TEMP_ALPHA})) FROM counts), 6) AS w
    FROM counts
),
nstar AS (SELECT MIN(n / w) AS ns FROM shares)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       w AS target_w,
       ROUND(LEAST(w * ns / n, 1.0), 6) AS keep_rate
FROM shares, nstar
""",
    covers=("X-MIXTURE", "A1", "J6"),
)
def a71_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mixture_rates

    docs = read_table(spark, sf_dir, "documents")
    return temperature_mixture_rates(docs, "lang", alpha=_TEMP_ALPHA)


# =====================================================================
# a72 — fixed-point PageRank over the order/part co-purchase graph:
# 5 damped iterations in BIGINT parts-per-billion, so the iterative
# ranking is bit-identical across engines and partitionings (float
# PageRank is partition-order nondeterministic — not oracle-checkable).
# The canonical-entity-selection move for clusters/graphs: CC says what
# belongs together, PageRank says which member is central.
# =====================================================================
_PAGERANK_EDGES_SQL = (
    "SELECT DISTINCT l_orderkey % 1000 AS src, "
    "100000 + (l_partkey % 1000) AS dst FROM lineitem"
)


def _a72_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PAGERANK_EDGES_SQL, iterations=5)


@register(
    "a72_pagerank_copurchase",
    oracle=_a72_oracle(),
    covers=("X-GRAPH-PAGERANK", "A1", "J8"),
)
def a72_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixed_point

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.lit(100000) + F.col("l_partkey") % 1000).alias("dst"),
    ).distinct()
    return pagerank_fixed_point(edges, iterations=5)


# =====================================================================
# a73 — Bloom-filter decontamination: the a35 check with the benchmark
# folded into a 4096-position bit set (3 salted-md5 hashes/shingle)
# instead of a broadcast shingle table. Membership state is CONSTANT
# size no matter how many benchmarks merge in; the output counts the
# false positives the compression buys next to the exact join.
# =====================================================================
_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_POS_SQL = (
    "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 8) "
    f"AS BIGINT) % {_BLOOM_M}"
)


@register(
    "a73_bloom_decontaminate",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
hashes AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i),
ev AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
bloom AS (
    SELECT DISTINCT {_BLOOM_POS_SQL} AS pos FROM ev, hashes
),
bench_shingles AS (SELECT DISTINCT shingle FROM ev),
tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 50 <> 0),
tr_pos AS (
    SELECT DISTINCT train_id, shingle, {_BLOOM_POS_SQL} AS pos
    FROM tr, hashes
),
tr_npos AS (
    SELECT train_id, shingle, CAST(COUNT(*) AS BIGINT) AS n_pos
    FROM tr_pos GROUP BY train_id, shingle
),
matched AS (
    SELECT p.train_id, p.shingle, CAST(COUNT(*) AS BIGINT) AS m
    FROM tr_pos AS p JOIN bloom USING (pos)
    GROUP BY p.train_id, p.shingle
),
hits AS (
    SELECT m.train_id, m.shingle
    FROM matched AS m JOIN tr_npos AS n
      ON n.train_id = m.train_id AND n.shingle = m.shingle
    WHERE m.m = n.n_pos
),
bloom_hits AS (
    SELECT train_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS bloom_hits
    FROM hits GROUP BY train_id
),
n_shingles AS (
    SELECT train_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM tr GROUP BY train_id
),
exact AS (
    SELECT train_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS exact_hits
    FROM tr JOIN bench_shingles USING (shingle)
    GROUP BY train_id
)
SELECT b.doc_id, s.n_shingles, b.bloom_hits,
       COALESCE(e.exact_hits, 0) AS exact_hits,
       b.bloom_hits - COALESCE(e.exact_hits, 0) AS false_positives
FROM bloom_hits AS b
JOIN n_shingles AS s ON s.doc_id = b.doc_id
LEFT JOIN exact AS e ON e.doc_id = b.doc_id
""",
    covers=("X-DECONTAMINATE", "X-BLOOM", "A5", "J9"),
)
def a73_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import bloom_decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return bloom_decontaminate(
        train, bench, k=3, k_hashes=_BLOOM_K, m_bits=_BLOOM_M
    )


# =====================================================================
# a74 — ordered event funnel (view -> click -> purchase): a user
# advances a step only with an event strictly AFTER their first
# qualifying time for the previous step — the time-conditioned funnel
# of product analytics, not a per-type distinct count. Each step is a
# per-user MIN aggregate; the step frames join by user key and AQE
# shares the user-hash exchange across them.
# =====================================================================
_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "a74_event_funnel",
    oracle=f"""
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t FROM events
    WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events AS e JOIN s1 ON s1.user_id = e.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events AS e JOIN s2 ON s2.user_id = e.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t
    GROUP BY e.user_id
),
counts AS (
    SELECT CAST(1 AS BIGINT) AS step, '{_FUNNEL_STEPS[0]}' AS step_name,
           CAST(COUNT(*) AS BIGINT) AS users FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), '{_FUNNEL_STEPS[1]}',
           CAST(COUNT(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), '{_FUNNEL_STEPS[2]}',
           CAST(COUNT(*) AS BIGINT) FROM s3
)
SELECT step, step_name, users,
       CASE WHEN (SELECT users FROM counts WHERE step = 1) = 0 THEN NULL
            ELSE ROUND(users / (SELECT users FROM counts WHERE step = 1)::DOUBLE, 6)
       END AS conv_pct
FROM counts
""",
    covers=("X-FUNNEL", "A2", "J6", "J9"),
)
def a74_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import funnel_counts

    ev = _read_events(spark, sf_dir)
    return funnel_counts(ev, list(_FUNNEL_STEPS))


# =====================================================================
# a75 — weekly cohort retention: (first-activity week x age in weeks)
# distinct-user matrix with per-cohort retention rates. Week buckets
# are integral division on epoch-day numbers (Monday-anchored), so the
# bucketing needs no engine week function and is bit-identical. The
# only corpus-sized aggregate is the day-granular distinct-activity
# table; everything after is |users|-sized.
# =====================================================================
@register(
    "a75_cohort_retention",
    oracle="""
WITH activity AS (
    SELECT DISTINCT user_id,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
               AS d
    FROM events
),
first AS (SELECT user_id, MIN(d) AS d0 FROM activity GROUP BY user_id),
cohort AS (
    SELECT (d0 - 4) // 7 AS cohort_week,
           CAST(COUNT(*) AS BIGINT) AS cohort_size
    FROM first GROUP BY 1
),
matrix AS (
    SELECT DISTINCT (f.d0 - 4) // 7 AS cohort_week,
           (a.d - f.d0) // 7 AS age_weeks,
           a.user_id
    FROM activity AS a JOIN first AS f ON f.user_id = a.user_id
)
SELECT m.cohort_week, m.age_weeks,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       c.cohort_size,
       ROUND(COUNT(*) / c.cohort_size::DOUBLE, 6) AS retention_pct
FROM matrix AS m JOIN cohort AS c ON c.cohort_week = m.cohort_week
GROUP BY m.cohort_week, m.age_weeks, c.cohort_size
""",
    covers=("X-COHORT", "A5", "F13", "J3"),
)
def a75_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import cohort_retention

    ev = _read_events(spark, sf_dir)
    return cohort_retention(ev)


# =====================================================================
# a76 — canonical-document selection by graph centrality: the a21
# near-dup clusters crossed with a72's fixed-point PageRank over the
# SAME candidate-pair graph; each multi-document cluster elects the
# most central member (highest rank_ppb, doc_id tiebreak) as its
# canonical representative — the "which copy do we keep" answer
# upgraded from a30's feature heuristics to relational evidence.
# Composition of two staged pipelines; the pair graph is built ONCE
# (dedup_pipeline's checkpoint) and feeds both CC and PageRank.
# =====================================================================
def _a76_oracle() -> str:
    from ..operators.graph import pagerank_iteration_ctes

    return f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({_BANDS_SQL}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands AS a
    JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS e_src, doc_b AS e_dst FROM pairs
    UNION ALL
    SELECT doc_b AS e_src, doc_a AS e_dst FROM pairs
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.doc_id = e.e_src
),
comp AS (
    SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
),
sym AS (SELECT DISTINCT e_src AS a, e_dst AS b FROM edges WHERE e_src <> e_dst),
{pagerank_iteration_ctes(iterations=5)},
scored AS (
    SELECT c.cluster_id, c.doc_id, r.rank_ppb,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
               AS cluster_size,
           ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY r.rank_ppb DESC, c.doc_id
           ) AS rn
    FROM comp AS c JOIN it5 AS r ON r.node = c.doc_id
)
SELECT cluster_id, doc_id AS canonical_doc_id, rank_ppb, cluster_size
FROM scored WHERE rn = 1
"""


@register(
    "a76_canonical_by_centrality",
    oracle=_a76_oracle(),
    covers=("X-DEDUP-CC", "X-GRAPH-PAGERANK", "X-DEDUP-KEEP", "W2"),
)
def a76_canonical_by_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_pipeline
    from ..operators.graph import pagerank_fixed_point

    docs = read_table(spark, sf_dir, "documents")
    _sigs, pairs, comp = dedup_pipeline(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, shingle_k=3
    )
    ranks = pagerank_fixed_point(
        pairs, iterations=5, src_col="doc_a", dst_col="doc_b"
    )
    w_size = Window.partitionBy("cluster_id")
    w_pick = Window.partitionBy("cluster_id").orderBy(
        F.desc("rank_ppb"), F.asc("doc_id")
    )
    scored = (
        comp.select("doc_id", F.col("component").alias("cluster_id"))
        .join(ranks, F.col("doc_id") == F.col("node"))
        .select(
            "cluster_id",
            "doc_id",
            "rank_ppb",
            F.count(F.lit(1)).over(w_size).cast("long").alias("cluster_size"),
            F.row_number().over(w_pick).alias("rn"),
        )
    )
    return scored.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        "rank_ppb",
        "cluster_size",
    )


# =====================================================================
# a77 — corpus snapshot diff: content-fingerprint FULL OUTER join of
# two dataset versions, reporting every added / removed / changed
# document (unchanged rows omitted). The "new" snapshot is derived
# deterministically from the fixture: ~1/17 of docs deleted, ~1/13
# edited, ~1/19 re-landed under new ids — so the diff exercises all
# three statuses. The shuffle carries (id, 16-byte fingerprint) only,
# never text; this is also the registry's full-outer-join coverage.
# =====================================================================
_DIFF_FP_SQL = "substring(md5({norm}), 1, 16)"


@register(
    "a77_snapshot_diff",
    oracle=f"""
WITH new_snap AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 17 <> 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id % 19 = 0
),
o AS (SELECT doc_id, {_DIFF_FP_SQL.format(norm=_NORM_SQL)} AS old_fp FROM documents),
n AS (
    SELECT doc_id, {_DIFF_FP_SQL.format(norm=_NORM_SQL)} AS new_fp
    FROM new_snap
),
j AS (
    -- presence = which side of the join matched (doc_id is non-NULL in
    -- both snapshots), NOT fingerprint nullness: NULL-text docs present
    -- on both sides are unchanged, not perpetual 'added' churn
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp,
           o.doc_id IS NOT NULL AS in_old,
           n.doc_id IS NOT NULL AS in_new
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT doc_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS status,
       old_fp, new_fp
FROM j
WHERE NOT in_old OR NOT in_new OR old_fp IS DISTINCT FROM new_fp
""",
    covers=("X-SNAPSHOT-DIFF", "X-DOC-FINGERPRINT", "J-FULL-OUTER", "F2"),
)
def a77_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import snapshot_diff

    docs = read_table(spark, sf_dir, "documents")
    new_snap = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(docs, new_snap)


# =====================================================================
# a78 — trailing 7-day rolling aggregates over daily event counts: a
# RANGE frame on the integer day number, so calendar gaps (days with
# zero events) still discount the moving average — a ROWS frame would
# skip them and overstate the trend. The only corpus pass is the
# (type, day) count; the window runs over |types| x |days| rows.
# =====================================================================
@register(
    "a78_rolling_daily",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
               AS d,
           CAST(COUNT(*) AS BIGINT) AS day_count
    FROM events GROUP BY 1, 2
)
SELECT event_type, d, day_count,
       CAST(SUM(day_count) OVER (
           PARTITION BY event_type ORDER BY d
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_count,
       ROUND(SUM(day_count) OVER (
           PARTITION BY event_type ORDER BY d
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) / 7.0, 6) AS rolling_avg
FROM daily
""",
    covers=("X-ROLLING-WINDOW", "W2", "F13", "A1"),
)
def a78_rolling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import daily_rolling_counts

    ev = _read_events(spark, sf_dir)
    return daily_rolling_counts(ev, window_days=7)


# =====================================================================
# a79 — skew-safe exact COUNT(DISTINCT) as a registered surface: the
# two-phase (key, value) dedup spreads a zipf-hot key across reducers
# where a plain count-distinct funnels it through one (AQE rebalances
# JOIN skew, not aggregation skew). Value-identical to the plain form
# by construction — the oracle IS the plain form, so the driver proves
# the skew-safe plan computes the same answer.
# =====================================================================
@register(
    "a79_skew_safe_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_count
FROM lineitem GROUP BY l_returnflag
""",
    covers=("X-SKEW-AGG", "A5", "A1"),
)
def a79_skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count_distinct
    from ..sources.parquet import read_table as _rt

    li = _rt(spark, sf_dir, "lineitem")
    return salted_count_distinct(li, ["l_returnflag"], "l_partkey").select(
        "l_returnflag", F.col("distinct_count").cast("long").alias("distinct_count")
    )


# =====================================================================
# a80 — duplicate-occurrence cap: keep at most N copies of each exact
# content fingerprint (the "cap repeats, don't fully dedup" policy —
# Gopher/MassiveText keeps limited duplication because some repetition
# is natural). Window per fingerprint, keep-order by doc_id — the
# shuffle carries (fingerprint, id), never text, and WindowGroupLimit
# pre-reduces each group to N before the exchange resolves the rank.
# =====================================================================
_DUP_CAP = 2


@register(
    "a80_dup_cap",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, substring(md5({_NORM_SQL}), 1, 16) AS fingerprint
    FROM documents
),
ranked AS (
    SELECT doc_id, fingerprint,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY fingerprint ORDER BY doc_id
           ) AS BIGINT) AS copy_rank,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT)
               AS n_copies
    FROM fp
)
SELECT doc_id, fingerprint, copy_rank, n_copies
FROM ranked WHERE copy_rank <= {_DUP_CAP}
""",
    covers=("X-DUP-CAP", "X-DEDUP-EXACT", "W2"),
)
def a80_dup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cap_duplicates

    docs = read_table(spark, sf_dir, "documents")
    return cap_duplicates(docs, max_copies=_DUP_CAP)


# =====================================================================
# a81 — language-label confusion matrix: declared lang vs the x11
# n-gram-heuristic prediction, with per-cell counts and per-declared-
# lang recall. The label-quality audit a corpus release runs before
# trusting its metadata (mislabeled language is a top corpus defect);
# one corpus pass, |langs|^2 output cells.
# =====================================================================
def _a81_pred_sql() -> str:
    return """CASE
        WHEN s_en >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'en'
        WHEN s_de >= GREATEST(s_fr, s_es, s_zh) THEN 'de'
        WHEN s_fr >= GREATEST(s_es, s_zh) THEN 'fr'
        WHEN s_es >= s_zh THEN 'es'
        ELSE 'zh'
    END"""


@register(
    "a81_lang_confusion",
    oracle=f"""
WITH scores AS (
    SELECT
        doc_id,
        lang,
        {_lang_score_sql('en')} AS s_en,
        {_lang_score_sql('de')} AS s_de,
        {_lang_score_sql('fr')} AS s_fr,
        {_lang_score_sql('es')} AS s_es,
        {_lang_score_sql('zh')} AS s_zh
    FROM documents
),
labeled AS (
    SELECT lang AS declared_lang, {_a81_pred_sql()} AS predicted_lang
    FROM scores
),
cells AS (
    SELECT declared_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM labeled GROUP BY declared_lang, predicted_lang
)
SELECT declared_lang, predicted_lang, n_docs,
       CAST(SUM(n_docs) OVER (PARTITION BY declared_lang) AS BIGINT)
           AS declared_total,
       ROUND(n_docs / SUM(n_docs) OVER (PARTITION BY declared_lang)::DOUBLE, 6)
           AS cell_frac
FROM cells
""",
    covers=("X-LANG-CONFUSION", "X-TEXT-LANGID", "A1", "W2"),
)
def a81_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    scores = langid_scores(F.col("text"))
    base = docs.select(
        F.col("lang").alias("declared_lang"),
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
        scores["zh"].alias("s_zh"),
    )
    pred = (
        F.when(
            F.col("s_en")
            >= F.greatest(F.col("s_de"), F.col("s_fr"), F.col("s_es"), F.col("s_zh")),
            "en",
        )
        .when(
            F.col("s_de") >= F.greatest(F.col("s_fr"), F.col("s_es"), F.col("s_zh")),
            "de",
        )
        .when(F.col("s_fr") >= F.greatest(F.col("s_es"), F.col("s_zh")), "fr")
        .when(F.col("s_es") >= F.col("s_zh"), "es")
        .otherwise("zh")
    )
    cells = (
        base.select("declared_lang", pred.alias("predicted_lang"))
        .groupBy("declared_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("declared_lang")
    return cells.select(
        "declared_lang",
        "predicted_lang",
        "n_docs",
        F.sum("n_docs").over(w).cast("long").alias("declared_total"),
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("cell_frac"),
    )


# =====================================================================
# a82 — latest event per user via max_by (argmax aggregation): the
# one-pass alternative to the ROW_NUMBER()-over-window top-1. The
# window form shuffles EVERY event row and sorts each user's full
# history; max_by partial-aggregates map-side, so the exchange carries
# one argmax buffer per (partition, user) — at 100 TB that is the
# difference between shuffling the event log and shuffling the user
# table. (Spark executes it as a two-phase SortAggregate — the struct
# buffer is not hash-aggregable — but the sort runs over the
# pre-aggregated rows, not the event log.) The oracle IS the window
# form, so the driver proves plan equivalence. Tiebreak on
# (ts, event_id) via the struct's lexicographic max, total order.
# =====================================================================
@register(
    "a82_latest_event_argmax",
    oracle="""
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       CAST(value AS DOUBLE) AS last_value
FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
WHERE rn = 1
""",
    covers=("X-ARGMAX-AGG", "A2", "O2"),
)
def a82_latest_event_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_events(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by(F.col("event_id"), key).alias("last_event_id"),
        F.max_by(F.col("event_type"), key).alias("last_event_type"),
        F.max_by(F.col("value"), key).cast("double").alias("last_value"),
    )


# =====================================================================
# a83 — weighted sampling without replacement (Efraimidis-Spirakis
# A-Res, IPL 2006): k documents drawn with probability proportional to
# length, via hash-derived uniforms so the sample is a pure function
# of (id, weight) — reproducible across runs, partitionings, engines.
# Top-k by key plans as TakeOrderedAndProject (per-partition heaps),
# never a global sort.
# =====================================================================
_WSAMPLE_K = 50


@register(
    "a83_weighted_sample",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           ROUND(ln(
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % 2147483648 + 1.0) / 2147483649.0
           ) / CAST(n_chars AS DOUBLE), 12) AS sample_key
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars, sample_key, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY sample_key DESC, doc_id
    ) AS rn FROM keyed
)
WHERE rn <= {_WSAMPLE_K}
""",
    covers=("X-SAMPLE-WEIGHTED", "O1", "F17"),
)
def a83_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    docs = read_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=_WSAMPLE_K)


# =====================================================================
# a84 — per-source duplication report: exact-dup rates rolled up by
# source (docs, duplicates, dup_rate, distinct fingerprints) — the
# "which feeds are redundant" table a curation pipeline reviews before
# re-negotiating its source mix. One fingerprint window (the x01
# machinery) + one groupBy; the shuffle carries (source, fingerprint),
# never text.
# =====================================================================
@register(
    "a84_source_dup_report",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, source,
           md5({_NORM_SQL}) AS fp
    FROM documents
),
flagged AS (
    SELECT doc_id, source, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
               AS is_duplicate
    FROM fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS BIGINT)
           AS n_duplicates,
       ROUND(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END)
             / COUNT(*)::DOUBLE, 6) AS dup_rate,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fingerprints
FROM flagged
GROUP BY source
""",
    covers=("X-SOURCE-DUP", "X-DEDUP-EXACT", "A3", "A5"),
)
def a84_source_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_duplicates

    docs = read_table(spark, sf_dir, "documents")
    flags = exact_duplicates(docs, "doc_id", "text")
    joined = docs.select("doc_id", "source").join(flags, "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("is_duplicate").cast("long"))
        .cast("long")
        .alias("n_duplicates"),
        F.round(
            F.sum(F.col("is_duplicate").cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
        F.count_distinct(F.col("fp")).cast("long").alias(
            "distinct_fingerprints"
        ),
    )


# =====================================================================
# a85 — BPE ENCODE (the inference half of tokenizer training, Sennrich
# et al. ACL 2016): segment every word of a document sample by replaying
# a TRAINED merge list in order. The merges below are plan literals —
# the output of `operators.bpe.bpe_train(documents@sf0.01, n_merges=10)`
# frozen as constants (the a50 centroid-literal pattern), so the oracle
# can replay the identical list. Encoding is entirely row-local: one
# array fold per merge, no shuffle, no state — the per-doc cost is
# independent of corpus size, the defining property that makes corpus
# tokenization embarrassingly parallel at 100 TB.
#
# The DuckDB oracle replays each merge with the SAME greedy
# left-to-right fold: list_reduce with a separator-delimited VARCHAR
# accumulator (chr(31) never occurs in text) — `ends_with(acc,
# SEP || left)` tests "last full symbol == left" exactly like the Spark
# fold's element_at(acc, -1) == left, and appending `right` to the
# accumulator merges the tail symbol in place.
# =====================================================================
_BPE_MERGES: list[tuple[str, str, int]] = [
    ("e", "r", 4568),
    ("i", "n", 2760),
    ("o", "w", 2747),
    ("o", "r", 2696),
    ("s", "t", 2676),
    ("m", "er", 1852),
    ("a", "t", 1845),
    ("l", "u", 1831),
    ("a", "r", 1758),
    ("p", "ar", 1758),
]

#: every 7th document: keeps the driver-compared result ~1/7 corpus
#: size while the registered operator still runs the full fold chain
_BPE_ENCODE_FILTER = 7


def _a85_oracle() -> str:
    expr = "regexp_split_to_array(word, '')"
    for left, right, _ in _BPE_MERGES:
        l = left.replace("'", "''")
        r = right.replace("'", "''")
        fold = (
            f"list_reduce({expr}, (acc, s) -> "
            f"CASE WHEN (acc = '{l}' OR ends_with(acc, chr(31) || '{l}'))"
            f" AND s = '{r}' "
            f"THEN acc || '{r}' ELSE acc || chr(31) || s END)"
        )
        expr = f"string_split({fold}, chr(31))"
    return f"""
WITH words AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
    FROM documents WHERE doc_id % {_BPE_ENCODE_FILTER} = 0
),
tok AS (
    SELECT doc_id, word, {expr} AS tokens
    FROM words WHERE word <> ''
)
SELECT doc_id, word,
       array_to_string(tokens, ' ') AS token_str,
       CAST(len(tokens) AS BIGINT) AS n_tokens
FROM tok
"""


@register(
    "a85_bpe_encode",
    oracle=_a85_oracle(),
    covers=("X-BPE-ENCODE", "X-BPE-TRAIN", "F17", "F8"),
)
def a85_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_with_merges

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _BPE_ENCODE_FILTER == 0
    )
    enc = encode_with_merges(docs, _BPE_MERGES)
    return enc.select(
        "doc_id",
        "word",
        F.array_join("tokens", " ").alias("token_str"),
        F.size("tokens").cast("long").alias("n_tokens"),
    )


# =====================================================================
# a86 — HyperLogLog distinct-token sketch per source (Flajolet et al.
# 2007): the register-max estimator next to the exact count, same input
# as a62 so the two sketches compare directly. Where a62's linear
# counting SATURATES (occupied buckets -> m gives ln(0) = NULL), the
# HLL registers keep carrying information — max-rho ranks grow with
# cardinality — so the estimate holds far past m distinct values
# (tests/test_round6_ops.py crafts that regime). The register table
# merges by MAX (associative, commutative, IDEMPOTENT — replay-proof),
# the shuffle carries <= m registers per group, and sum(2^-max_rho)
# adds exact dyadic rationals, so the estimate itself is value-oracled
# bit-for-bit, not just bounded.
# =====================================================================
_HLL_M = 1024
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _a86_oracle() -> str:
    from ..operators.sketches import hll_rho_sql

    rho = hll_rho_sql("token")
    # CAST ... AS DOUBLE: a bare decimal literal is DECIMAL(18,16) in
    # DuckDB and overflows when multiplied by m^2
    raw = (
        f"(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}) / "
        f"(occ_sum + ({_HLL_M} - occupied))"
    )
    return f"""
WITH toks AS ({_doc_tokens_sql(", source")}),
regs AS (
    SELECT source,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {_HLL_M}
               AS register,
           MAX({rho}) AS max_rho
    FROM toks
    GROUP BY 1, 2
),
agg AS (
    SELECT source,
           SUM(pow(2.0, -max_rho)) AS occ_sum,
           CAST(COUNT(*) AS BIGINT) AS occupied
    FROM regs GROUP BY source
),
ex AS (
    SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
    FROM toks GROUP BY source
),
est AS (
    SELECT source, occupied,
           CASE WHEN {raw} <= {2.5 * _HLL_M!r} AND occupied < {_HLL_M}
                THEN ROUND({_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                           / ({_HLL_M} - occupied)), 6)
                ELSE ROUND({raw}, 6) END AS est_distinct
    FROM agg
)
SELECT est.source,
       occupied AS occupied_registers,
       est_distinct,
       exact_distinct,
       ROUND(abs(est_distinct - exact_distinct) / exact_distinct, 6)
           AS rel_err
FROM est JOIN ex ON est.source = ex.source
"""


@register(
    "a86_hll_distinct",
    oracle=_a86_oracle(),
    covers=("X-SKETCH-DISTINCT", "A5", "A1"),
)
def a86_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens
    from ..operators.sketches import hll_distinct

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            bpe_ish_tokens(normalized_text(F.col("text")))
        ).alias("token"),
    )
    return hll_distinct(toks, "source", "token", m=_HLL_M)


# =====================================================================
# a87 — duplicate-span REMOVAL (Lee et al. 2022 §4 / RefinedWeb): the
# transform half of a59 — the detected spans are CUT from the text and
# survivors re-joined, shipping a cleaned corpus instead of a flag
# table. Span surgery is token-space (offsets are exact over the
# normalized text), row-local via an indexed array filter against the
# per-doc span list; the only additions over a59's detection are one
# id-keyed span-list aggregation and its left join back — no new
# corpus-wide shuffle.
# =====================================================================
@register(
    "a87_dedup_span_removal",
    oracle=f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN {_NORM_SQL} IS NULL THEN NULL
                ELSE list_filter(string_split({_NORM_SQL}, ' '),
                                 x -> x <> '') END AS w
    FROM documents
),
win AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           md5(array_to_string(
               w[CAST(i AS INT):CAST(i AS INT) + {_SPAN_K - 1}], ' '
           )) AS gh
    FROM base, UNNEST(generate_series(1, len(w) - {_SPAN_K - 1})) AS t(i)
    WHERE len(w) >= {_SPAN_K}
),
dup AS (SELECT gh FROM win GROUP BY gh HAVING COUNT(*) >= 2),
marked AS (SELECT w.doc_id, w.pos FROM win AS w JOIN dup USING (gh)),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     IS NULL
                  OR pos - LAG(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos
                     ) > {_SPAN_K}
                THEN 1 ELSE 0 END AS newf
    FROM marked
),
isl AS (
    SELECT doc_id, pos,
           SUM(newf) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
           ) AS island
    FROM flagged
),
spans AS (
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s,
           CAST(MAX(pos) + {_SPAN_K} AS BIGINT) AS e
    FROM isl GROUP BY doc_id, island
),
toks AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[CAST(i AS INT)] AS tok
    FROM base, UNNEST(generate_series(1, len(w))) AS t(i)
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM toks AS t
    WHERE NOT EXISTS (
        SELECT 1 FROM spans AS s
        WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos < s.e
    )
),
agg AS (
    SELECT doc_id,
           COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.w) AS BIGINT) AS n_tokens,
       CAST(len(b.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS tokens_removed,
       CASE WHEN b.w IS NULL THEN NULL
            ELSE COALESCE(a.clean_text, '') END AS clean_text
FROM base AS b LEFT JOIN agg AS a ON b.doc_id = a.doc_id
""",
    covers=("X-DEDUP-SPANS", "X-DEDUP-REMOVE", "W2", "F17"),
)
def a87_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", k=_SPAN_K)


# =====================================================================
# a88 — IN-ENGINE classifier training: batch perceptron over hashed
# bag-of-token features (the fastText-style linear quality/language
# filter every curation stack trains — Joulin et al. 2017 — but
# trained INSIDE the engine, so 100 TB of training text never leaves
# the cluster). Integer-exact by construction: counts x {-1,+1} labels
# x integer weights, no sigmoid, no learning-rate float, no float
# accumulation order — the TRAINED WEIGHTS themselves hash-match the
# DuckDB replay (same discipline as a72's fixed-point PageRank; the
# oracle unrolls the iterations as chained CTEs). The model is a
# FIXED 64-bucket table (corpus-independent — the round-6 cap
# discipline), so each iteration is one broadcast-model join + two
# bounded aggregates.
# =====================================================================
_PCT_BUCKETS = 64
_PCT_ITERS = 3

#: a90's wide width — operators.perceptron.WIDE_BUCKETS (2^16; fastText
#: trains 10-dim models over up to 10M hashed n-gram buckets, Joulin et
#: al. 2017 §2 — 65,536 is the same fixed-size-model discipline at a
#: width where the broadcast model is a megabyte, not bytes).
_PCT_WIDE_BUCKETS = 65536

#: unigram-only label+token stream (a88/a89)
_PCT_TOKS_SQL = f"""
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
           unnest(regexp_extract_all({_NORM_SQL}, '{_BPE_PATTERN}')) AS token
    FROM documents
"""

#: unigram + word-bigram stream (a90) — mirrors
#: operators.perceptron.token_ngram_features: adjacent-token bigrams
#: joined with '_' enter the bag alongside the unigrams.
_PCT_NGRAM_TOKS_SQL = f"""
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
           unnest(list_concat(
               l,
               list_transform(
                   generate_series(1, len(l) - 1),
                   i -> l[i] || '_' || l[i + 1]
               )
           )) AS token
    FROM (
        SELECT doc_id, lang,
               regexp_extract_all({_NORM_SQL}, '{_BPE_PATTERN}') AS l
        FROM documents
    )
"""


def _a88_chain(buckets: int = _PCT_BUCKETS, toks_sql: str | None = None) -> str:
    """The shared WITH-body: features + unrolled training iterations
    (a88 selects the final weights; a89 appends the scoring pass; a90
    passes the wide bucket count and the n-gram token stream)."""
    head = f"""
WITH toks AS ({toks_sql if toks_sql is not None else _PCT_TOKS_SQL}),
feat AS (
    SELECT doc_id, y,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {buckets}
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY 1, 2, 3
),
w1 AS (
    SELECT bucket, CAST(SUM(y * cnt) AS BIGINT) AS w FROM feat GROUP BY bucket
)"""
    blocks = []
    for i in range(1, _PCT_ITERS):
        blocks.append(f""",
s{i} AS (
    SELECT f.doc_id, f.y, SUM(f.cnt * COALESCE(w{i}.w, 0)) AS score
    FROM feat AS f LEFT JOIN w{i} ON f.bucket = w{i}.bucket
    GROUP BY 1, 2
),
d{i} AS (
    SELECT f.bucket, SUM(f.y * f.cnt) AS d
    FROM feat AS f JOIN s{i} ON f.doc_id = s{i}.doc_id
    WHERE s{i}.y * s{i}.score <= 0
    GROUP BY f.bucket
),
w{i + 1} AS (
    SELECT COALESCE(w{i}.bucket, d{i}.bucket) AS bucket,
           CAST(COALESCE(w{i}.w, 0) + COALESCE(d{i}.d, 0) AS BIGINT) AS w
    FROM w{i} FULL OUTER JOIN d{i} ON w{i}.bucket = d{i}.bucket
)""")
    return head + "".join(blocks)


@register(
    "a88_perceptron_langfilter",
    oracle=_a88_chain()
    + f"\nSELECT bucket, w AS weight FROM w{_PCT_ITERS}\n",
    covers=("X-TRAIN-CLASSIFIER", "A1", "J1", "F17"),
)
def a88_perceptron_langfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.perceptron import batch_perceptron, token_features

    docs = read_table(spark, sf_dir, "documents")
    feats = token_features(
        docs, F.col("lang") == "en", buckets=_PCT_BUCKETS
    )
    return batch_perceptron(feats, iters=_PCT_ITERS)


# =====================================================================
# a89 — the INFERENCE half of a88 (the a85-for-a64 pattern: every
# trained artifact gets its apply step driver-verified too): score
# every document under the trained weights and emit the {-1,+1}
# prediction — the pass a curation pipeline runs corpus-wide once the
# filter is trained. One broadcast join of the fixed-size model + one
# per-doc aggregate; integer-exact end to end, so scores AND
# predictions hash-match the oracle replay.
# =====================================================================
@register(
    "a89_perceptron_scores",
    oracle=_a88_chain()
    + f"""
SELECT f.doc_id, f.y,
       CAST(SUM(f.cnt * COALESCE(w.w, 0)) AS BIGINT) AS score,
       CAST(CASE WHEN SUM(f.cnt * COALESCE(w.w, 0)) > 0
                 THEN 1 ELSE -1 END AS BIGINT) AS predicted
FROM feat AS f LEFT JOIN w{_PCT_ITERS} AS w ON f.bucket = w.bucket
GROUP BY 1, 2
""",
    covers=("X-TRAIN-CLASSIFIER", "X-SCORE-CLASSIFIER", "A1", "J1"),
)
def a89_perceptron_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.perceptron import (
        batch_perceptron,
        perceptron_scores,
        token_features,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = token_features(
        docs, F.col("lang") == "en", buckets=_PCT_BUCKETS
    ).transform(cut_lineage())
    weights = batch_perceptron(feats, iters=_PCT_ITERS)
    return perceptron_scores(feats, weights)


# =====================================================================
# a90 — the perceptron at REALISTIC model width (VERDICT r6 ask #4):
# a88's 64-bucket model proves the training arithmetic; a90 trains the
# same integer-exact batch perceptron over a 2^16-bucket space with the
# fastText feature map (hashed unigrams + word bigrams — Joulin et al.
# 2017 grow the feature space with word n-grams exactly this way, up to
# 10M buckets for 10-dim models). The model table stays FIXED-SIZE
# (<= 65,536 rows — corpus-independent) and still broadcasts each
# iteration (~1 MB dense: plan-asserted in
# tests/test_round7_ops.py::test_wide_perceptron_model_still_broadcasts
# against a fully dense 65,536-row model). Output is the trained weight
# table itself, so the driver hash-verifies every weight at the wide
# width. Scale shape is unchanged from a88: per iteration one
# broadcast-model join + two bounded aggregates, zero driver state.
# =====================================================================
@register(
    "a90_perceptron_wide",
    oracle=_a88_chain(_PCT_WIDE_BUCKETS, _PCT_NGRAM_TOKS_SQL)
    + f"\nSELECT bucket, w AS weight FROM w{_PCT_ITERS}\n",
    covers=("X-TRAIN-CLASSIFIER", "A1", "J1", "F17"),
)
def a90_perceptron_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.perceptron import (
        batch_perceptron,
        token_ngram_features,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = token_ngram_features(docs, F.col("lang") == "en")
    return batch_perceptron(feats, iters=_PCT_ITERS)


# =====================================================================
# a91 — the SimHash hot-bucket cap WITH the identical-fingerprint star
# rescue (round 12). The recall harness measured cap-bound corpora
# losing even exact-duplicate pairs (component recall 0.7481 at
# cap=100 on the 50k fixture) because an identical-document family IS
# a hot bucket in both halves. rescue_identical re-connects each full-
# fingerprint group through its minimum id — star edges, linear in
# family size — and this query pins the semantics with a cap that
# BINDS at the driver SFs (max half-bucket 28 at sf0.01, 291 at
# sf0.1, vs the cap of 20), so the skipped-bucket + rescue union is
# value-checked where it matters, not on a cap that never fires.
# Oracle: capped banded candidates with Hamming verify (a26's shape at
# the binding cap) UNION ALL the star edges (hamming 0 by identity),
# DISTINCT over (doc_a, doc_b, hamming) — equal to pair-distinct since
# hamming is a function of the pair.
# =====================================================================
_RESCUE_MAX_BUCKET = 20


@register(
    "a91_simhash_capped_rescue",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL}),
sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash FROM sums),
{_simhash_halves_sql(_RESCUE_MAX_BUCKET)},
cands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lo_ok AS a JOIN lo_ok AS b ON a.lo = b.lo AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM hi_ok AS a JOIN hi_ok AS b ON a.hi = b.hi AND a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cands AS c
    JOIN sims AS sa ON c.doc_a = sa.doc_id
    JOIN sims AS sb ON c.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_MAX_HAMMING}
),
hubs AS (SELECT simhash, MIN(doc_id) AS hub FROM sims GROUP BY simhash),
star AS (
    SELECT h.hub AS doc_a, s.doc_id AS doc_b, 0 AS hamming
    FROM sims AS s
    JOIN hubs AS h ON s.simhash = h.simhash
    WHERE s.doc_id <> h.hub
)
SELECT DISTINCT doc_a, doc_b, hamming FROM (
    SELECT * FROM verified UNION ALL SELECT * FROM star
)
""",
    covers=("X-DEDUP-SIMHASH", "J7"),
)
def a91_simhash_capped_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_duplicates

    docs = read_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)
    return simhash_near_duplicates(
        sims,
        "doc_id",
        _SIMHASH_MAX_HAMMING,
        max_bucket=_RESCUE_MAX_BUCKET,
        rescue_identical=True,
    )


# =====================================================================
# a92 — SemDeDup with top-2 cell probing (round 12). The cell-recall
# harness (scripts/measure_semdedup_recall.py) measured single-
# assignment cell confinement missing 19% of planted dup pairs at
# auto-k (0.8115 cell recall at cosine 0.99); top-2 probing recovers
# 0.9901 for a 2x assign + <=4x pair-scan cost. This query pins the
# multi-probe semantics end-to-end against SQL: membership = top-2
# cells per vector (rank window, same total order as the assign),
# pairs = DISTINCT same-cell threshold links over that membership,
# keep rule unchanged (primary cell's cos_centroid, one survivor per
# component). a45 remains the single-probe twin on the same centroid
# scheme; diffing the two shows exactly the boundary pairs probing
# recovers.
# =====================================================================
@register(
    "a92_semantic_dedup_multiprobe",
    oracle=f"""
WITH RECURSIVE
embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
sc AS (
    SELECT v.vec_id, cid, {_COS_SQL.format(a="v.e", b="cent.ce")} AS cosc,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format(a="v.e", b="cent.ce")} DESC, cid
           ) AS rn
    FROM embd AS v, cent
),
home AS (SELECT vec_id, cid, cosc FROM sc WHERE rn = 1),
memb AS (SELECT vec_id, cid FROM sc WHERE rn <= 2),
p AS (
    SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
    FROM memb AS a
    JOIN memb AS b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN embd AS ea ON ea.vec_id = a.vec_id
    JOIN embd AS eb ON eb.vec_id = b.vec_id
    WHERE {_COS_SQL.format(a="ea.e", b="eb.e")} >= {_SEMDEDUP_THRESHOLD}
),
edges AS (
    SELECT va AS e_src, vb AS e_dst FROM p
    UNION ALL
    SELECT vb AS e_src, va AS e_dst FROM p
),
walk(vec_id, label) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.e_dst, w.label FROM walk AS w JOIN edges AS e ON w.vec_id = e.e_src
),
comp AS (SELECT vec_id, MIN(label) AS component FROM walk GROUP BY vec_id)
SELECT c.vec_id, c.component, h.cosc AS cos_centroid,
       CAST(CASE WHEN ROW_NUMBER() OVER (
           PARTITION BY c.component ORDER BY h.cosc ASC, c.vec_id ASC
       ) = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM comp AS c JOIN home AS h ON c.vec_id = h.vec_id
""",
    covers=("X-DEDUP-EMBEDDING", "X-DEDUP-CC", "X-ANN-IVF"),
)
def a92_semantic_dedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
    return semantic_dedup(
        emb, centroids, threshold=_SEMDEDUP_THRESHOLD, dim=_EMB_DIM, probes=2
    )


# =====================================================================
# a93 — SimHash near-dup rescue for capped hot buckets (round 13). The
# r12 recall harness measured near-dup COMPONENT recall at a binding
# cap=100 still at 0.72 even with the identical-fingerprint star
# rescue, because near-but-not-identical fingerprint families inside a
# skipped bucket stay disconnected. rescue_near escalates each skipped
# bucket WITHIN the bucket at finer width (the RHP-escalation trick
# applied to simhash bands): dedupe to distinct fingerprints (hub =
# family min id), sub-band on the smallest w with n_fp <= cap * 2^w
# (exact integer comparison chain — no float log2, so the oracle
# agrees bit-for-bit), two w-bit blocks (low/high) of the OTHER half,
# re-cap at fingerprint level, Hamming-verify in-join, emit hub-hub
# edges. Measured on the 50k template fixture at cap=100: component
# near recall 0.7164 -> 0.8736 (text_recall_r13.json). This query pins
# the full union (capped banded pairs + star + near rescue) at a cap
# that BINDS at the driver SFs — max half-bucket 28 at sf0.01 vs the
# cap of 20, so skipped buckets exist AND their deduped fingerprint
# count exceeds the cap (w >= 1: the sub-band path itself is
# value-checked, not just the w=0 degenerate).
# =====================================================================
def _simhash_near_rescue_sql(
    cap: int, max_hamming: int, depth: int = 1
) -> tuple[str, str]:
    """(extra CTEs, UNION ALL arms) for the rescue_near oracle.

    ``depth=2`` (round 14) appends the level-2 escalation: each
    sub-bucket the level-1 re-cap skips (m > cap) gets w2 from the
    same integer chain over its own fingerprint count, two w2-bit
    windows of the other half not consumed by the arm's level-1 key,
    and a re-capped hub join — mirroring ``rescue_depth=2`` exactly.
    Both level-2 shift arms run unconditionally (like level 1's two
    arms): degenerate-w duplicates are absorbed by the outer DISTINCT,
    and w=16 sub-buckets are singletons (half+other determine the
    fingerprint), so the operator's arm-1 w<=15 filter is values-inert
    here too."""
    w_terms = " + ".join(
        f"CASE WHEN n_fp > {cap * 2 ** (i - 1)} THEN 1 ELSE 0 END"
        for i in range(1, 17)
    )
    w2_terms = " + ".join(
        f"CASE WHEN m > {cap * 2 ** (i - 1)} THEN 1 ELSE 0 END"
        for i in range(1, 17)
    )
    ctes: list[str] = []
    arms: list[str] = []
    for band, half_expr, other_expr in (
        ("rlo", "simhash % 65536", "CAST((simhash >> 16) & 65535 AS BIGINT)"),
        ("rhi", "CAST((simhash >> 16) & 65535 AS BIGINT)", "simhash % 65536"),
    ):
        ctes.append(f"""
{band}_fpw AS (
    SELECT half, simhash, other, hub, ({w_terms}) AS w FROM (
        SELECT half, simhash, other, hub,
               COUNT(*) OVER (PARTITION BY half) AS n_fp
        FROM (
            SELECT {half_expr} AS half, simhash,
                   {other_expr} AS other, MIN(doc_id) AS hub
            FROM (
                SELECT doc_id, simhash,
                       COUNT(*) OVER (PARTITION BY {half_expr}) AS n
                FROM sims
            ) WHERE n > {cap}
            GROUP BY 1, 2, 3
        )
    )
)""")
        for j, sub_expr in enumerate(
            (
                "other & ((1 << w) - 1)",
                "(other >> (16 - w)) & ((1 << w) - 1)",
            )
        ):
            ctes.append(f"""
{band}_subw{j} AS (
    SELECT half, hub, simhash, other, w, sub,
           COUNT(*) OVER (PARTITION BY half, sub) AS m
    FROM (SELECT half, hub, simhash, other, w, {sub_expr} AS sub
          FROM {band}_fpw)
)""")
            arms.append(f"""
    SELECT a.hub AS doc_a, b.hub AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM {band}_subw{j} AS a JOIN {band}_subw{j} AS b
      ON a.half = b.half AND a.sub = b.sub AND a.hub < b.hub
    WHERE a.m <= {cap} AND b.m <= {cap}
      AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}""")
            if depth < 2:
                continue
            shifts = ("w", f"16 - w2") if j == 0 else (
                "0", "greatest(0, 16 - w2 - w)"
            )
            ctes.append(f"""
{band}_hot{j} AS (
    SELECT half, hub, simhash, other, w, sub, ({w2_terms}) AS w2
    FROM {band}_subw{j} WHERE m > {cap}
)""")
            for k, shift in enumerate(shifts):
                ctes.append(f"""
{band}_l2_{j}_{k} AS (
    SELECT half, hub, simhash, sub, sub2 FROM (
        SELECT half, hub, simhash, sub, sub2,
               COUNT(*) OVER (PARTITION BY half, sub, sub2) AS m2
        FROM (
            SELECT half, hub, simhash, sub,
                   (other >> ({shift})) & ((1 << w2) - 1) AS sub2
            FROM {band}_hot{j}
        )
    ) WHERE m2 <= {cap}
)""")
                arms.append(f"""
    SELECT a.hub AS doc_a, b.hub AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM {band}_l2_{j}_{k} AS a JOIN {band}_l2_{j}_{k} AS b
      ON a.half = b.half AND a.sub = b.sub AND a.sub2 = b.sub2
         AND a.hub < b.hub
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}""")
    return ",\n".join(ctes), "\n    UNION ALL".join(arms)


_RESCUE_CTES, _RESCUE_ARMS = _simhash_near_rescue_sql(
    _RESCUE_MAX_BUCKET, _SIMHASH_MAX_HAMMING
)


@register(
    "a93_simhash_near_rescue",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL}),
sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash FROM sums),
{_simhash_halves_sql(_RESCUE_MAX_BUCKET)},
cands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lo_ok AS a JOIN lo_ok AS b ON a.lo = b.lo AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM hi_ok AS a JOIN hi_ok AS b ON a.hi = b.hi AND a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cands AS c
    JOIN sims AS sa ON c.doc_a = sa.doc_id
    JOIN sims AS sb ON c.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_MAX_HAMMING}
),
hubs AS (SELECT simhash, MIN(doc_id) AS hub FROM sims GROUP BY simhash),
star AS (
    SELECT h.hub AS doc_a, s.doc_id AS doc_b, 0 AS hamming
    FROM sims AS s
    JOIN hubs AS h ON s.simhash = h.simhash
    WHERE s.doc_id <> h.hub
),
{_RESCUE_CTES}
SELECT DISTINCT doc_a, doc_b, hamming FROM (
    SELECT * FROM verified
    UNION ALL SELECT * FROM star
    UNION ALL{_RESCUE_ARMS}
)
""",
    covers=("X-DEDUP-SIMHASH", "J7"),
)
def a93_simhash_near_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_duplicates

    docs = read_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)
    return simhash_near_duplicates(
        sims,
        "doc_id",
        _SIMHASH_MAX_HAMMING,
        max_bucket=_RESCUE_MAX_BUCKET,
        rescue_identical=True,
        rescue_near=True,
    )


# =====================================================================
# a94 — row-local TOP-P cell assignment (round 13, VERDICT r12 ask #7):
# the multi-probe membership feed in its streaming-legal form. a50's
# fold covers probes=1 only; ivf_assign_topp ranks with a row_number
# window that streaming frames cannot run. topp_centroids_expr makes
# the top-p a pure projection for literal-sized centroid sets — score
# every centroid with F.transform, totally order with F.array_sort's
# comparator (the batch window's exact ORDER BY: cosine DESC NULLS
# LAST, centroid_id ASC), slice the first p, posexplode with rank.
# Zero exchanges (plan-asserted in the stream=batch test alongside
# probes=2 stream equality). This query value-checks the expression on
# the batch path against the ranked-window SQL.
# =====================================================================
@register(
    "a94_cell_assign_topp_rowlocal",
    oracle=f"""
WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM embd WHERE vec_id % 97 = 0 AND vec_id < 12416),
scored AS (
    SELECT
        v.vec_id,
        cent.centroid_id,
        {_COS_SQL.format(a="v.e", b="cent.ce")} AS cosine
    FROM embd AS v, cent
)
SELECT vec_id, centroid_id, cosine, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, centroid_id
    ) AS rn
    FROM scored
)
WHERE rn <= 2
""",
    covers=("X-ANN-IVF", "X-STREAM-ASSIGN"),
)
def a94_cell_assign_topp_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.similarity import assign_cells_topp_stream

    emb = read_table(spark, sf_dir, "embeddings")
    centroid_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(
            ((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 12416))
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    ]
    return assign_cells_topp_stream(emb, centroid_rows, probes=2)


# =====================================================================
# a95 — 16-component MinHash signatures driving an 8-band LSH join
# (round 14): the min_recall refusal prescribes "re-sign with more
# hashes", and round 14 made that prescription followable — components
# 8-15 come from two more prefixed digests (md5('y'||s), md5('z'||s))
# in the same 4x32-bit chunk scheme, components 0-7 byte-identical to
# every prior round. This query value-checks the widened signature and
# its banded join cross-engine: 8 bands x 2 rows, banding-theory recall
# 1-(1-0.84^2)^8 = 0.99998 at the fixture Jaccard vs 0.9868 for the
# default 4x2 — the repair direction the 500k min_recall leg
# (bench_500k_lsh_min_recall_r14.json) exercises at its binding rung.
# Scale shape identical to x05: shingle explode -> one shuffle on
# doc_id -> banded equi-join; the shuffle carries 16 8-char strings
# per doc instead of 8.
# =====================================================================
_SIG16_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        "MIN(substr(md5({src}), {off}, 8)) AS h{i}".format(
            src=("shingle", "'x' || shingle", "'y' || shingle",
                 "'z' || shingle")[i // 4],
            off=(i % 4) * 8 + 1,
            i=i,
        )
        for i in range(16)
    )
    + " FROM sh GROUP BY doc_id"
)
_BANDS16_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS bsig FROM sig"
    for b in range(8)
)


@register(
    "a95_minhash16_lsh",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS ({_SIG16_SQL}),
bands AS ({_BANDS16_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands AS a
JOIN bands AS b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
""",
    covers=("X-DEDUP-MINHASH", "J7"),
)
def a95_minhash16_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16, shingle_k=3)
    return lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=8)


# =====================================================================
# a96 — depth-2 SimHash near rescue (round 14, VERDICT r13 optional
# #8, implemented because the measured curve justifies it): the
# level-1 re-cap skips fingerprint sub-buckets still hotter than the
# cap — the residual behind the measured 0.8736-vs-0.9954 recall gap.
# Depth 2 escalates each skipped sub-bucket once more by the identical
# rule (w2 from the same exact integer chain over the sub-bucket's
# fingerprint count; two w2-bit windows of the other half not consumed
# by the arm's level-1 key; re-capped hub join). Measured on the 50k
# fixture at cap=100 (rescue_depth2_r14.json): component near recall
# 0.8722 -> 0.9842 vs the 0.9941 ceiling, for ~1.6x the level-1
# fingerprint-comparison mass. Value-checked here at the same binding
# cap as a93 (sf0.01's hot bucket holds 28 distinct fingerprints vs
# cap 20), against the full three-layer + level-2 DuckDB construction.
# =====================================================================
_RESCUE2_CTES, _RESCUE2_ARMS = _simhash_near_rescue_sql(
    _RESCUE_MAX_BUCKET, _SIMHASH_MAX_HAMMING, depth=2
)


@register(
    "a96_simhash_rescue_depth2",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS th
    FROM toks WHERE tok <> ''
),
sums AS ({_SIMHASH_SUMS_SQL}),
sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash FROM sums),
{_simhash_halves_sql(_RESCUE_MAX_BUCKET)},
cands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lo_ok AS a JOIN lo_ok AS b ON a.lo = b.lo AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM hi_ok AS a JOIN hi_ok AS b ON a.hi = b.hi AND a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cands AS c
    JOIN sims AS sa ON c.doc_a = sa.doc_id
    JOIN sims AS sb ON c.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_MAX_HAMMING}
),
hubs AS (SELECT simhash, MIN(doc_id) AS hub FROM sims GROUP BY simhash),
star AS (
    SELECT h.hub AS doc_a, s.doc_id AS doc_b, 0 AS hamming
    FROM sims AS s
    JOIN hubs AS h ON s.simhash = h.simhash
    WHERE s.doc_id <> h.hub
),
{_RESCUE2_CTES}
SELECT DISTINCT doc_a, doc_b, hamming FROM (
    SELECT * FROM verified
    UNION ALL SELECT * FROM star
    UNION ALL{_RESCUE2_ARMS}
)
""",
    covers=("X-DEDUP-SIMHASH", "J7"),
)
def a96_simhash_rescue_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_duplicates

    docs = read_table(spark, sf_dir, "documents")
    sims = simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS)
    return simhash_near_duplicates(
        sims,
        "doc_id",
        _SIMHASH_MAX_HAMMING,
        max_bucket=_RESCUE_MAX_BUCKET,
        rescue_identical=True,
        rescue_near=True,
        rescue_depth=2,
    )


# =====================================================================
# a97 — the n-gram family's cap-consequence surface (round 14),
# completing the four-generator symmetry: RHP carries its Charikar
# estimate, MinHash its banding-theory floor, SimHash its visibility
# probe (a96's sibling machinery), and the inverted-index join now
# PRICES its max_df bound before running: invisible docs (every
# shingle hot — the filter drops their whole posting list), the
# posting mass removed, and the smallest max_df at which no doc is
# invisible. max_df=5 is a25's tight bound, which BINDS at the driver
# SFs (178 posting entries dropped at sf0.01; invisible_docs is 0
# there — unbind_max_df measures 3 — so full blinding is exercised by
# the unit fixture instead). All BIGINT — value hash-safe cross-engine
# by construction.
# =====================================================================
_STATS_MAX_DF = 5


@register(
    "a97_ngram_df_stats",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per_doc AS (
    SELECT s.doc_id, MIN(d.df) AS mdf, COUNT(*) AS n_inst,
           SUM(CASE WHEN d.df > {_STATS_MAX_DF} THEN 1 ELSE 0 END) AS n_drop
    FROM sh AS s JOIN dfreq AS d USING (shingle)
    GROUP BY s.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN mdf > {_STATS_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS invisible_docs,
       CAST(SUM(n_inst) AS BIGINT) AS total_instances,
       CAST(SUM(n_drop) AS BIGINT) AS dropped_instances,
       CAST(MAX(mdf) AS BIGINT) AS unbind_max_df
FROM per_doc
""",
    covers=("X-DEDUP-NGRAM-JACCARD",),
)
def a97_ngram_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_df_stats

    docs = read_table(spark, sf_dir, "documents")
    return ngram_df_stats(docs, "doc_id", "text", _STATS_MAX_DF, shingle_k=3)

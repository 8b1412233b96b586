"""Streaming deduplication: at-least-once ingest -> exactly-once rows.

Every replayed/duplicated record (source retries, producer at-least-once
semantics) is dropped by key while keeping the dedup state BOUNDED: with
``dropDuplicatesWithinWatermark`` the state store only remembers keys
until the watermark passes them, so state size is arrival-rate x
watermark horizon — not stream history. This is the streaming
counterpart of the batch exact-dedup operator
(`operators.dedup.exact_duplicates`) and the ingestion guard a
continuously-fed training-data pipeline runs in front of the bronze
layer.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from ..operators.dedup import (
    LSH_RECALL_JACCARD,
    SIMHASH_HALVES,
    check_banding,
    check_floor,
    decontaminate,
    hamming,
    lsh_band_table,
    minhash_banding_recall,
    minhash_signatures,
    remove_spans,
    simhash,
    spans_from_marked,
    window_hashes,
)
from .store_meta import (
    Banding,
    check_or_pin_geometry,
    foreach_epoch,
    near_dup_stream,
    read_history,
    write_epoch,
)


def dedup_events_stream(
    events: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop duplicate events by ``key_cols``, remembering keys for
    ``watermark`` of event time.

    The first arrival of a key wins; any duplicate arriving within the
    watermark horizon is discarded, and a duplicate arriving later than
    the horizon is (by contract) allowed through — that is the bounded-
    state trade-off. Choose the watermark to cover the source's maximum
    replay window.
    """
    return events.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


#: Per-epoch candidate budget for the streaming MinHash near-dedup: the
#: keep-first mass of the asymmetric (batch x history + batch) band
#: join, at the batch ``MAX_LSH_CANDIDATE_ROWS``.
MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH = 1_000_000_000


def near_dedup_docs_stream(
    docs_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    min_recall: float | None = None,
):
    """Incremental MinHash near-dedup, the streaming twin of
    ``operators.dedup.lsh_candidate_pairs``; the per-epoch protocol
    (pin, sign, price, keep-first join, flags, store) is
    ``store_meta.near_dup_stream``.

    Verify: none. A document is flagged when it shares any
    ``lsh_band_table`` (band, bsig) bucket with a LOWER-id document, so
    for an id-ordered stream the flags equal the batch LSH pairs'
    ``doc_b`` set. Store rows: (id, h0..h7) signatures at the default
    8 hashes, ~40 bytes/doc, never the corpus text.

    Geometry: (num_hashes, bands, shingle_k), pinned in the
    ``_minhash_geometry`` sidecar. ``bands`` must divide ``num_hashes``
    and ``min_recall`` floors the banding-theory recall
    (``operators.dedup.minhash_banding_recall``); both are checked at
    construction, before any epoch or sidecar write, so a stream that
    would under-recall for its whole life refuses up front. The budget
    is ``MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH``.
    """
    op = "near_dedup_docs_stream"
    # The banding error comes before the floor.
    check_banding(op, "num_hashes", num_hashes, bands)
    check_floor(
        op, "min_recall", min_recall,
        minhash_banding_recall(num_hashes, bands),
        f"the banding-theory recall at Jaccard {LSH_RECALL_JACCARD:g} of "
        f"the pinned banding ({bands} bands x {num_hashes // bands} rows)",
        "Refused at construction: a stream under-recalls for its whole "
        "life, not one query. Re-sign with more hashes (num_hashes up to "
        "16; more bands at the same rows recovers recall exponentially) "
        "or lower the floor.",
    )
    return near_dup_stream(
        docs_stream, out_path, store_path, checkpoint, id_col,
        op=op,
        marker="_minhash_geometry",
        geometry=dict(num_hashes=num_hashes, bands=bands, shingle_k=shingle_k),
        sign=lambda batch: minhash_signatures(
            batch, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k
        ),
        banding=Banding(
            lambda sigs: lsh_band_table(sigs, num_hashes, bands, id_col),
            ("band", "bsig"),
        ),
        budget=f"{__name__}.MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH",
        fix=f"The pinned {bands} bands x {num_hashes // bands} rows are "
        f"too permissive for the accumulated corpus — re-sign the store "
        f"with coarser bands (fewer bands of more rows), run exact dedup "
        f"ahead of the stream (identical documents collide in every "
        f"band), or shrink the micro-batch (maxFilesPerTrigger).",
    )


def clean_spans_stream(
    docs_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """Incremental span-level dedup CLEANING (the streaming form of
    ``operators.dedup.remove_duplicate_spans``): each arriving
    document has its duplicate spans cut before it ships downstream.

    Contract — KEEP-FIRST, like the near-dedup stream above: a window
    counts as duplicate if it recurs WITHIN the micro-batch (symmetric
    there, exactly the batch operator's rule) or appeared in ANY
    earlier epoch's store. The first arrival of a run keeps its text;
    later copies get it cut. This is deliberately asymmetric — batch
    ``duplicate_spans`` flags BOTH copies, a stream cannot reach back
    and re-clean already-shipped documents (re-cleaning history would
    mean unbounded reprocessing).

    Retry-idempotence: cleaned output and the window-hash store are
    epoch stores (``streaming/store_meta.py``) — a retried micro-batch
    is bit-identical to its first attempt.

    Scale shape: per-batch cost is O(batch token instances) for window
    hashing + one equi-join of the batch's windows against the DISTINCT
    hash store (16-byte hashes, never text); the store grows with
    distinct windows seen, the streaming analog of the batch
    operator's corpus-wide hash aggregate.

    Geometry is PINNED for the store's lifetime: window
    hashes at different ``k`` never collide meaningfully, so the first
    epoch writes a ``_span_geometry`` sidecar under the store and every
    later epoch verifies it through the Spark session (filesystem-
    agnostic), failing the stream loudly on mismatch.
    """
    geometry = {"k": int(k)}

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_pin_geometry(
            spark, store_path, "_span_geometry", geometry,
            "clean_spans_stream",
        )
        batch_df = batch_df.transform(cut_lineage(local_only=True))
        win = window_hashes(batch_df, id_col, text_col, k).transform(cut_lineage(local_only=True))
        in_batch_dup = (
            win.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
            .select("gh")
        )
        seen = win.select("gh").distinct()
        hist = read_history(spark, store_path, epoch_id, seen)
        dup_gh = in_batch_dup.unionByName(hist).distinct()
        marked = win.join(dup_gh, "gh").select(id_col, "pos")
        spans = spans_from_marked(marked, id_col, k=k)
        cleaned = remove_spans(batch_df, spans, id_col, text_col)
        write_epoch(cleaned, out_path, epoch_id)
        write_epoch(seen, store_path, epoch_id)

    return foreach_epoch(docs_stream, _process, checkpoint)


def decontaminate_docs_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_common: int = 2,
):
    """Streaming train/eval decontamination: flag each arriving training
    document against the STATIC benchmark shingle set as it lands
    (`operators.dedup.decontaminate` is the batch form; cites the same
    GPT-3 appendix C / Dolma n-gram-overlap procedure).

    Decontamination is per-document against a fixed benchmark — there is
    NO cross-batch state — so the correct streaming form is
    ``foreachBatch`` reusing the batch operator verbatim per micro-batch
    (state-free: unlike the near-dedup stream above, no store grows).
    The benchmark side is broadcast inside the batch operator, so each
    micro-batch costs one map-side hash join + bounded aggregation.

    Returns an unstarted ``DataStreamWriter``; ``.start()`` it. Output
    parquet accumulates one row per contaminated doc:
    (id_col, n_bench_hits, max_common), partitioned by ``epoch_id`` —
    identical to what the batch operator returns over the union of all
    batches (equality-tested). The output is an epoch store
    (``streaming/store_meta.py``): a retried micro-batch rewrites its
    own partition instead of appending duplicate flags.
    """
    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        flagged = decontaminate(
            batch_df,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            k=k,
            min_common=min_common,
        )
        write_epoch(flagged, out_path, epoch_id)

    return foreach_epoch(docs_stream, _process, checkpoint)


#: Per-epoch candidate budget for the streaming SimHash near-dedup:
#: the keep-first mass of the asymmetric (batch x history + batch)
#: half-bucket join, every row of which goes through the Hamming verify.
MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH = 500_000_000


def _simhash_halves(fps: DataFrame) -> DataFrame:
    """Two rows per fingerprint: its columns plus ``band`` (0 lo, 1 hi)
    and ``half``, that band's ``SIMHASH_HALVES`` key."""
    return reduce(
        DataFrame.unionByName,
        [
            fps.select("*", F.lit(b).alias("band"), F.expr(h).alias("half"))
            for b, h in enumerate(SIMHASH_HALVES)
        ],
    )


#: The SimHash stream's buckets: both 16-bit halves of the fingerprint
#: in one (band, half) table, so one join finds what a join per half
#: found, at the same candidate mass.
SIMHASH_BANDING = Banding(_simhash_halves, ("band", "half"))


def simhash_near_dedup_stream(
    docs_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
):
    """Incremental SimHash near-dedup, the streaming twin of
    ``operators.dedup.simhash_near_duplicates``; the per-epoch protocol
    (pin, sign, price, keep-first join, flags, store) is
    ``store_meta.near_dup_stream``.

    Buckets: ``SIMHASH_BANDING``, the two 16-bit ``SIMHASH_HALVES`` of
    the 32-bit fingerprint. Verify: ``hamming`` ≤ ``max_hamming``,
    inside the join. For an id-ordered stream the flags equal the
    uncapped batch operator's ``doc_b`` set. The batch operator's
    ``max_bucket`` cap and rescue stay batch-only: per-epoch bucket
    counts differ from corpus counts, and capping on them would break
    that parity; route template-heavy streams to
    ``near_dedup_docs_stream``. Store rows: (id, simhash), 8 bytes of
    fingerprint per doc.

    Geometry: the half split is 32-bit-specific, so the
    ``_simhash_geometry`` sidecar pins ``{"bits": 32}``. ``max_hamming``
    is not pinned: the store holds whole fingerprints, so the verify
    radius is a per-run parameter. The budget is
    ``MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH``.
    """
    return near_dup_stream(
        docs_stream, out_path, store_path, checkpoint, id_col,
        op="simhash_near_dedup_stream",
        marker="_simhash_geometry",
        geometry={"bits": 32},
        sign=lambda batch: simhash(batch, id_col, text_col),
        banding=SIMHASH_BANDING,
        payload=("simhash",),
        verify=hamming("simhash_a", "simhash_b") <= max_hamming,
        budget=f"{__name__}.MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH",
        fix="Template-heavy corpora concentrate fingerprint halves into "
        "hot buckets — shrink the micro-batch (maxFilesPerTrigger), "
        "route the stream to near_dedup_docs_stream (MinHash buckets "
        "sample the shingle space instead), or raise "
        "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH if the verify CPU can "
        "take it.",
    )

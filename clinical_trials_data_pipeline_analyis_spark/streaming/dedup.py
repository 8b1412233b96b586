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

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from .store_meta import (
    check_or_pin_geometry,
    foreach_epoch,
    keep_first_flags,
    price_epoch_join,
    read_history,
    write_epoch,
)

_LOG = logging.getLogger(__name__)


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
#: join, priced like its RHP and SimHash siblings, at the batch
#: ``MAX_LSH_CANDIDATE_ROWS``.
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
    """Incremental MinHash near-dedup via ``foreachBatch``: each
    micro-batch's documents are signed once, banded against the
    ACCUMULATED signature store (plus the batch itself), and flagged;
    the batch's signatures are then appended to the store.

    A document is flagged ``is_near_dup`` when it collides with any
    LOWER-id document — the same keep-first contract as the batch
    pipeline, so for an id-ordered stream the flags equal what the
    batch operators produce over the full corpus
    (tests/test_streaming_metrics.py proves the equality).

    Scale shape: the per-batch cost is |batch| x matching band buckets —
    never history x history (the asymmetric ``against`` join); the
    store is a parquet table of (id, h0..h7) signatures partitioned by
    ``epoch_id``, ~40 bytes/doc, NOT the corpus text.

    Retry-idempotence: the flag table and the signature store are
    epoch stores (``streaming/store_meta.py``): a retried micro-batch
    rewrites its own epoch partition and bands against exactly the
    history its first attempt saw, so the retry is bit-identical, not
    merely non-duplicating.

    Geometry is PINNED for the store's lifetime: MinHash
    signatures from different (num_hashes, bands, shingle_k) never
    collide meaningfully, so the first epoch writes a
    ``_minhash_geometry`` sidecar under the store and every later epoch
    verifies it, failing the stream loudly on mismatch — the same
    contract as ``rhp_near_dedup_stream``, and like it routed through
    the Spark session so it holds on any filesystem, not just paths
    ``os.path`` can see.

    ``min_recall`` is the batch operator's floor on the banding-theory
    recall (``operators.dedup.minhash_banding_recall``), validated at
    CONSTRUCTION (pure driver-side arithmetic, before any epoch or
    sidecar write): a pinned geometry below the floor refuses up front
    with the batch refusal's prescription, instead of a long-running
    stream silently under-recalling for its whole life.

    Each epoch prices its band join with ``store_meta.price_epoch_join``
    (the keep-first mass n_new·(n_all−n_new) + C(n_new, 2) per bucket,
    summed over the bands) and refuses past
    ``MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH`` through
    ``refuse_over_budget``, as the RHP and SimHash streams do; the
    priced band tables are the ones the join runs on.
    """
    from ..operators.dedup import (
        LSH_RECALL_JACCARD,
        bucket_pairs,
        check_banding,
        check_floor,
        lsh_band_table,
        minhash_banding_recall,
        minhash_signatures,
        refuse_over_budget,
    )

    op = "near_dedup_docs_stream"
    # The banding error comes before the floor, and at construction,
    # not at the first epoch.
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

    geometry = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_k": int(shingle_k),
    }

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_pin_geometry(
            spark, store_path, "_minhash_geometry", geometry, op
        )
        sigs_new = minhash_signatures(
            batch_df, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k
        ).transform(cut_lineage(local_only=True))
        history = read_history(spark, store_path, epoch_id, sigs_new)
        all_sigs = history.unionByName(sigs_new).transform(
            cut_lineage(local_only=True)
        )
        doc = F.col(id_col).alias("doc")
        bands_new = lsh_band_table(sigs_new, num_hashes, bands, doc)
        bands_all = lsh_band_table(all_sigs, num_hashes, bands, doc)
        budget = MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH
        mass, _, _ = price_epoch_join(bands_new, bands_all, ["band", "bsig"])
        if mass > budget:
            refuse_over_budget(
                f"{op} (epoch {epoch_id})",
                mass, budget,
                f"The pinned {bands} bands x {num_hashes // bands} rows "
                f"are too permissive for the accumulated corpus — "
                f"re-sign the store with coarser bands (fewer bands of "
                f"more rows), run exact dedup ahead of the stream "
                f"(identical documents collide in every band), or shrink "
                f"the micro-batch (maxFilesPerTrigger).",
                "MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH",
            )
        # keep-first: a document is a dup of LOWER ids only
        dup_ids = (
            bucket_pairs(
                bands_new, ["band", "bsig"], "doc", right=bands_all, against=True
            )
            .filter(F.col("doc_b") < F.col("doc_a"))
            .select(F.col("doc_a").alias(id_col))
        )
        flags = keep_first_flags(sigs_new, dup_ids, id_col)
        write_epoch(flags, out_path, epoch_id)
        write_epoch(sigs_new, store_path, epoch_id)

    return foreach_epoch(docs_stream, _process, checkpoint)


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
    from ..operators.dedup import (
        remove_spans,
        spans_from_marked,
        window_hashes,
    )

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
    from ..operators.dedup import decontaminate

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


#: Per-epoch candidate budget for the streaming SimHash near-dedup —
#: the exact row count the asymmetric (batch x history) half-bucket
#: join streams through the Hamming verify each micro-batch. Same
#: rationale as MAX_RHP_STREAM_CANDIDATES_PER_EPOCH.
MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH = 500_000_000


def simhash_near_dedup_stream(
    docs_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
):
    """Incremental SimHash near-dedup via ``foreachBatch`` — the
    streaming twin of ``operators.dedup.simhash_near_duplicates``
    (the same ``bucket_pairs`` join on the ``SIMHASH_HALVES`` keys, the
    same ``hamming`` verify computed INSIDE it), completing the family:
    MinHash (``near_dedup_docs_stream``), RHP
    (``streaming.similarity.rhp_near_dedup_stream``), and now SimHash
    each have a stream=batch-equality-tested incremental form.

    Each micro-batch's documents are fingerprinted once (the per-bit
    majority vote is an ordinary aggregation — legal inside
    foreachBatch), banded on both 16-bit halves against the ACCUMULATED
    fingerprint store plus the batch itself, Hamming-verified in-join,
    and flagged ``is_near_dup`` when they verify against any LOWER-id
    document — the keep-first contract shared with the sibling twins,
    so for an id-ordered stream the flags equal the batch operator's
    pair set (doc flagged iff it appears as ``doc_b``; equality
    tested). The batch's fingerprints (8 bytes each — the store is the
    cheapest of the three families') then append to the store.

    Scale shape: per-epoch cost is |batch| x matching half-bucket
    occupancy — never history x history; candidates exist only inside
    whole-stage codegen (verify-in-join), and one bounded aggregate
    over joined bucket COUNTS refuses past
    ``MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH`` (read at each epoch)
    with the fix named (hot half-buckets on a template-heavy corpus
    are a SimHash structural hazard — the batch operator's
    ``max_bucket``/rescue machinery is deliberately batch-only, since
    per-epoch bucket counts differ from corpus counts and capping on
    them would break stream=batch flag parity; route template-heavy
    streams to ``near_dedup_docs_stream``). The same aggregate also
    PROJECTS the next epoch: an
    identical batch re-arriving against the post-append store costs
    Σ n_new x n_all + C(n_new, 2) per touched bucket, and past 80% of
    the budget the epoch logs a pre-detonation warning (projected
    mass + max store half-bucket occupancy, naming the MinHash twin)
    so a template-heavy stream's first failure signal is not a
    mid-epoch refusal — same collect, no extra pass.

    Geometry: the half-bucket banding is 32-bit-specific (two 16-bit
    halves — the same split as the batch ``simhash_candidates``), so
    fingerprints are always 32 bits. The store pins ``{"bits": 32}``
    through the same filesystem-agnostic sidecar as the sibling twins,
    so a store written by any other width (or a corrupted marker)
    fails the stream loudly rather than comparing fingerprints that
    never collide meaningfully. ``max_hamming`` is
    deliberately NOT pinned: the store holds full fingerprints, so the
    verify radius is a per-run query parameter, not store geometry.

    Retry-idempotence: flags and store are epoch stores
    (``streaming/store_meta.py``) — a retried micro-batch is
    bit-identical to its first attempt.

    Returns an unstarted ``DataStreamWriter``; ``.start()`` it. Flag
    output: (id_col, is_near_dup) partitioned by epoch_id.
    """
    from ..operators.dedup import (
        SIMHASH_HALVES,
        bucket_pairs,
        hamming,
        refuse_over_budget,
        simhash,
    )

    geometry = {"bits": 32}

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_pin_geometry(
            spark, store_path, "_simhash_geometry", geometry,
            "simhash_near_dedup_stream",
        )
        fps_new = simhash(batch_df, id_col, text_col).transform(
            cut_lineage(local_only=True)
        )
        history = read_history(spark, store_path, epoch_id, fps_new)
        all_fps = history.unionByName(fps_new)
        halves = [F.expr(h).alias("half") for h in SIMHASH_HALVES]

        # Exact per-epoch mass of the two asymmetric half joins, plus
        # the projected mass of an identical next batch and the store's
        # max half-bucket occupancy, so a template-heavy stream warns
        # BEFORE the budget refusal lands mid-epoch. One collect per
        # half, no extra pass.
        budget = MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH
        total, projected, max_occ = 0, 0, 0
        for half in halves:
            mass, proj, occ = price_epoch_join(
                fps_new.select(half), all_fps.select(half), ["half"]
            )
            total += mass
            projected += proj
            max_occ = max(max_occ, occ)
        if total > budget:
            refuse_over_budget(
                f"simhash_near_dedup_stream (epoch {epoch_id})",
                total, budget,
                "Template-heavy corpora concentrate fingerprint halves "
                "into hot buckets — shrink the micro-batch "
                "(maxFilesPerTrigger), route the stream to "
                "near_dedup_docs_stream (MinHash buckets sample the "
                "shingle space instead), or raise "
                "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH if the verify "
                "CPU can take it.",
                "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH",
            )
        if projected > 0.8 * budget:
            # Pre-detonation warning: THIS epoch fits, but the store is
            # hot enough that a similar next batch would land at >80% of
            # the budget — the operator's first failure signal should
            # not be a mid-epoch refusal.
            _LOG.warning(
                "simhash_near_dedup_stream: epoch %s used %s of the %s "
                "candidate budget, and an identical next batch against "
                "the post-append store projects to ~%s (>80%% of "
                "budget; max half-bucket occupancy now %s). The store "
                "is concentrating into hot fingerprint buckets — route "
                "the stream to near_dedup_docs_stream (MinHash buckets "
                "sample the shingle space) or shrink the micro-batch "
                "BEFORE the budget refusal lands mid-epoch.",
                epoch_id,
                f"{total:,}",
                f"{budget:,}",
                f"{projected:,}",
                f"{max_occ:,}",
            )

        dup_parts = []
        for half in halves:
            # keep-first: a doc is a dup of LOWER ids only; Catalyst
            # folds this filter into the join condition
            dup_parts.append(
                bucket_pairs(
                    fps_new.select(half, id_col, "simhash"),
                    ["half"],
                    id_col,
                    ["simhash"],
                    right=all_fps.select(half, id_col, "simhash"),
                    against=True,
                )
                .filter(F.col(f"{id_col}_b") < F.col(f"{id_col}_a"))
                .filter(hamming("simhash_a", "simhash_b") <= max_hamming)
                .select(F.col(f"{id_col}_a").alias(id_col))
            )
        dup_ids = dup_parts[0].unionByName(dup_parts[1])
        flags = keep_first_flags(fps_new, dup_ids, id_col)
        write_epoch(flags, out_path, epoch_id)
        write_epoch(fps_new, store_path, epoch_id)

    return foreach_epoch(docs_stream, _process, checkpoint)

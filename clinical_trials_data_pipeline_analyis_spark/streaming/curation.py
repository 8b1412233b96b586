"""Streaming curation: the filter cascade applied at ingest time.

A continuously-fed corpus wants documents filtered BEFORE they land in
the bronze layer, not in a nightly batch sweep. Quality/repetition
signals are per-document, so computing them per micro-batch is exact
regardless of how the stream is chopped; only the exact-dup stage needs
cross-batch memory, which it gets from an accumulated fingerprint store
(same asymmetric batch-vs-store shape as
``streaming/dedup.near_dedup_docs_stream`` — per-batch cost is
|batch| x store-bucket matches, never history x history, and the store
holds 16-byte md5 fingerprints, not text).

Keep-first contract: a document is ``exact_dup`` if its fingerprint was
seen in ANY earlier micro-batch, or earlier (lower id) within its own
batch — so for an id-ordered stream the stage verdicts equal the batch
curation funnel's (tests/test_streaming_metrics.py proves it).

Verdicts and fingerprints are epoch stores (``streaming/store_meta.py``):
a retried or replayed micro-batch rewrites its own epoch partition and
checks its fingerprints against earlier epochs only, so a replay gives
the same single verdict per document as the first run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..checkpoint import cut_lineage
from .store_meta import foreach_epoch, read_history, write_epoch


def curate_docs_stream(
    docs_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    rules: list[tuple[str, Column]] | None = None,
):
    """foreachBatch cascade: per-batch signals -> first-fail verdict.

    ``rules`` are (name, fails-Column) over the signal frame
    (n_tokens, distinct_ratio, top_bigram_frac, max_run, is_duplicate);
    default = the a40 funnel rules. Writes (id, stage, is_kept) as the
    epoch's partition of ``out_path`` and the batch fingerprints as the
    epoch's partition of ``store_path``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.text import normalized_text
    from ..operators.curation import first_failed_rule
    from ..operators.repetition import repetition_features

    if rules is None:
        rules = [
            ("too_short", F.col("n_tokens") < 20),
            ("repetitive", F.col("top_bigram_frac") > 0.10),
            ("exact_dup", F.col("is_duplicate")),
        ]

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.transform(cut_lineage(local_only=True))
        rep = repetition_features(batch, id_col, text_col)

        fps = batch.select(
            id_col, F.md5(normalized_text(F.col(text_col)).cast("binary")).alias("fp")
        ).transform(cut_lineage(local_only=True))
        w = Window.partitionBy("fp").orderBy(id_col)
        dup_in_batch = fps.withColumn(
            "_dup", F.row_number().over(w) > 1
        )
        store = (
            read_history(spark, store_path, epoch_id, fps)
            .select(F.col("fp").alias("s_fp"))
            .distinct()
        )
        flagged = dup_in_batch.join(
            store, dup_in_batch.fp == store.s_fp, "left"
        ).select(
            id_col,
            (F.col("_dup") | F.col("s_fp").isNotNull()).alias("is_duplicate"),
        )

        signals = rep.join(flagged, id_col)
        verdict = first_failed_rule(signals, rules).select(
            id_col, "stage", "is_kept"
        )
        write_epoch(verdict, out_path, epoch_id)
        write_epoch(fps, store_path, epoch_id)

    return foreach_epoch(docs_stream, _process, checkpoint)

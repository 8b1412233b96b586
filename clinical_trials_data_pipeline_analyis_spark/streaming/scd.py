"""Incremental SCD2 maintenance over a change-log stream.

The batch form (``operators/scd.py``) collapses a complete observation
log in one pass. A CDC stream delivers observations incrementally —
possibly out of event-time order ACROSS micro-batches — and a collapsed
dimension cannot be merged with late observations correctly (a late
'b@t' between two collapsed 'a' versions must SPLIT them, but the
collapse already dropped the second 'a' observation that proves the
split). The sound streaming state is therefore the OBSERVATION LOG
itself, not the collapsed rows, the same store-the-inputs shape as the
incremental near-dedup stream (``streaming/dedup.py``).

Per micro-batch:

1. write the batch's observations as its epoch of a key-hash-bucketed
   epoch store (``streaming/store_meta.py``), partitioned by (epoch,
   bucket), so an at-least-once retry rewrites its own epoch partitions
   instead of duplicating observations;
2. recompute SCD2 rows for the TOUCHED buckets only (the store read
   of epochs up to this one is partition-pruned to those buckets) with
   the exact batch operator;
3. dynamically overwrite just those buckets of the dimension table.

At 100 TB: per-epoch cost is proportional to the touched buckets'
history, not the corpus; raise ``buckets`` until a bucket's history
fits an executor. The dimension table stays hash-bucket partitioned —
exactly the layout an as-of fact join wants to co-locate on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import hash_bucket
from ..operators.scd import scd2_from_log
from ..sources.parquet import overwrite_partitions
from .store_meta import foreach_epoch, read_history, write_epoch


def scd2_stream(
    obs_stream: DataFrame,
    store_path: str,
    dim_path: str,
    checkpoint: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    buckets: int = 64,
):
    """Returns an unstarted ``DataStreamWriter``; ``.start()`` it.

    After the stream drains, ``dim_path`` holds the same SCD2 rows (plus
    a ``_kb`` bucket column) as ``scd2_from_log`` over the union of all
    micro-batches — equality-tested regardless of how observations were
    split across batches or their cross-batch event-time order.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            key_col, attr_col, ts_col, tiebreak_col
        ).withColumn("_kb", hash_bucket(F.col(key_col), buckets))
        touched = [r["_kb"] for r in b.select("_kb").distinct().collect()]
        if not touched:
            return
        write_epoch(b, store_path, epoch_id, "_kb")
        # Epochs up to AND including this one, just written: the store
        # read replaces a second scan of the micro-batch source.
        hist = read_history(spark, store_path, epoch_id + 1, b).filter(
            F.col("_kb").isin(touched)
        )
        dim = scd2_from_log(
            hist, key_col, attr_col, ts_col, tiebreak_col
        ).withColumn("_kb", hash_bucket(F.col(key_col), buckets))
        overwrite_partitions(dim, dim_path, ["_kb"])

    return foreach_epoch(obs_stream, _process, checkpoint)

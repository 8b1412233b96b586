"""The epoch store behind every ``foreachBatch`` stream, plus the
geometry sidecars of the signature stores.

``foreachBatch`` is at-least-once: a retried micro-batch re-runs its
handler, and a replay from a wiped checkpoint re-runs every epoch. The
reference refreshes a layer by DROP + CREATE TABLE AS
(``aact_silver_layer.sql:8-13``), so a re-run replaces the layer and
never appends to it; the streams keep that contract per epoch with four
pieces, shared by every sink and store in ``streaming/``:

- :func:`write_epoch` — an epoch's rows go out as the ``epoch_id``
  partition of the table (``sources.parquet.overwrite_partitions``), so
  a retry rewrites its own partition instead of appending a copy.
- :func:`read_history` — a store read keeps only ``epoch_id < current``,
  so a retry compares its batch with exactly the history the first
  attempt saw, even when that attempt already wrote its own partition.
  Before the store's first write the history is empty.
- :func:`keep_first_flags` — the ``(id, is_near_dup)`` flag frame of
  the MinHash, SimHash and random-hyperplane twins.
- :func:`foreach_epoch` — the unstarted, checkpointed, ``availableNow``
  writer every stream returns.

Geometry sidecars: a signature store (MinHash, random-hyperplane, or
window-hash) is only meaningful under the exact hash geometry that
built it: signatures from different (n_bits, bands, dim, seed) /
(num_hashes, bands, shingle_k) / (k,) never collide meaningfully, so a
stream restarted with changed geometry would silently miss every
cross-epoch duplicate. The streaming twins therefore pin the geometry
in an underscore-prefixed sidecar file under the store path (invisible
to the store's parquet reader) and fail the stream LOUDLY when a later
epoch's configuration disagrees. The marker rides the Hadoop
``FileSystem`` resolved FROM the marker path against the session's
Hadoop conf (via ``spark._jvm``), so ``exists``/``open``/``create`` hit
whatever filesystem actually serves ``store_path`` (``os.path`` sees
nothing behind ``hdfs://``, ``s3a://`` or even ``file://``). A
DataFrame-reader sidecar was rejected: Spark's file index drops
underscore-prefixed paths even when directly addressed, returning empty
instead of the marker.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sources.parquet import overwrite_partitions


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, *keys: str
) -> None:
    """Write ``df`` as epoch ``epoch_id`` of the table at ``path``,
    partitioned by ``epoch_id`` and then ``keys``. Only the partitions
    ``df`` touches are replaced, so a retried epoch overwrites what its
    failed attempt wrote."""
    overwrite_partitions(
        df.withColumn("epoch_id", F.lit(int(epoch_id))),
        path,
        ["epoch_id", *keys],
    )


def read_history(
    spark: SparkSession, path: str, epoch_id: int, like: DataFrame
) -> DataFrame:
    """The rows of every epoch before ``epoch_id`` in the store at
    ``path``, without the ``epoch_id`` column. While the store holds no
    parquet yet (absent, or only a geometry sidecar) the history is
    empty: ``like`` with no rows. A store without ``epoch_id`` fails
    loudly rather than reading as empty."""
    try:
        store = spark.read.parquet(path)
    except AnalysisException:
        return like.limit(0)
    return store.filter(F.col("epoch_id") < int(epoch_id)).drop("epoch_id")


def keep_first_flags(
    ids: DataFrame, dup_ids: DataFrame, id_col: str
) -> DataFrame:
    """``(id_col, is_near_dup)`` for every id of ``ids``: True iff the
    id is in ``dup_ids``, the ids that matched a LOWER id of the batch
    or the history."""
    return (
        ids.select(id_col)
        .join(
            dup_ids.select(id_col)
            .distinct()
            .withColumn("is_near_dup", F.lit(True)),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
    )


def foreach_epoch(
    stream: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> DataStreamWriter:
    """Unstarted writer running ``handler`` per micro-batch until the
    source is drained; ``.start()`` it."""
    return (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def price_epoch_join(
    new: DataFrame, all_rows: DataFrame, keys: Sequence[str]
) -> tuple[int, int, int]:
    """Candidate mass of an epoch's asymmetric bucket join (``new``
    against history plus ``new`` on ``keys``), in one collect.

    Returns (mass, projected, max occupancy): per bucket the epoch pays
    n_new·(n_all−n_new) + C(n_new, 2); an identical batch re-arriving
    against the post-append store would pay n_new·n_all + C(n_new, 2);
    occupancy is the largest n_all. Two narrow count aggregates joined
    on the bucket key, bounded by the bucket count, never the
    candidate count.
    """
    pairs_new = F.col("n_new") * (F.col("n_new") - F.lit(1)) / F.lit(2)
    row = (
        new.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_new"))
        .join(
            all_rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_all")),
            list(keys),
        )
        .agg(
            F.sum(
                F.col("n_new") * (F.col("n_all") - F.col("n_new")) + pairs_new
            ).alias("mass"),
            F.sum(F.col("n_new") * F.col("n_all") + pairs_new).alias("proj"),
            F.max("n_all").alias("mx"),
        )
        .collect()[0]
    )
    return int(row["mass"] or 0), int(row["proj"] or 0), int(row["mx"] or 0)


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` under the session's Hadoop conf."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _read_utf8(spark: SparkSession, fs, path) -> str:
    stream = fs.open(path)
    try:
        baos = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096)
        return baos.toString("UTF-8")
    finally:
        stream.close()


def check_or_pin_geometry(
    spark: SparkSession,
    store_path: str,
    marker_name: str,
    geometry: dict[str, int],
    operator: str,
) -> None:
    """Verify ``geometry`` against the store's sidecar, pinning it on
    first contact.

    Absent marker (fresh store, or a retried first epoch) -> write it
    (overwrite-create: idempotent under foreachBatch's at-least-once
    retries; foreachBatch handlers run sequentially, so there is no
    concurrent-writer race within a stream). Present marker -> compare
    field by field and raise ``ValueError`` on any mismatch — including
    a corrupt/unparseable marker: never continue over a store whose
    geometry cannot be PROVEN to match.

    All I/O goes through the Hadoop FileSystem the marker path resolves
    to, so the check is filesystem-agnostic: local paths, ``file://``
    URIs, ``hdfs://``, ``s3a://`` — anything the session's Hadoop conf
    can serve (tests prove the ``file://`` case, where ``os.path`` sees
    nothing).
    """
    marker = store_path.rstrip("/") + "/" + marker_name
    fs, path = _hadoop_fs(spark, marker)
    expected = {k: int(v) for k, v in geometry.items()}
    if fs.exists(path):
        text = _read_utf8(spark, fs, path)
        try:
            stored = json.loads(text)
        except ValueError:
            stored = None
        if not isinstance(stored, dict):
            raise ValueError(
                f"{operator}: geometry sidecar at {marker} is unreadable "
                f"({text[:80]!r}) — cannot prove the store's geometry "
                f"matches this stream's {expected}. Re-sign the store "
                f"(delete it and replay the stream)."
            )
        if stored != expected:
            raise ValueError(
                f"{operator}: signature store at {store_path} was built "
                f"with geometry {stored} but this stream is configured "
                f"with {expected}. Signatures from different geometries "
                f"never collide meaningfully — continuing would silently "
                f"miss every cross-epoch duplicate. Re-sign the store "
                f"(delete it and replay the stream) to change geometry."
            )
    else:
        out = fs.create(path, True)
        try:
            out.write(bytearray(json.dumps(expected, sort_keys=True).encode()))
        finally:
            out.close()

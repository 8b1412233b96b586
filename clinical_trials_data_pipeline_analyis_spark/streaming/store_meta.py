"""The epoch store behind every ``foreachBatch`` stream, plus the
geometry sidecars of the signature stores.

``foreachBatch`` is at-least-once: a retried micro-batch re-runs its
handler, and a replay from a wiped checkpoint re-runs every epoch. The
reference refreshes a layer by DROP + CREATE TABLE AS
(``aact_silver_layer.sql:8-13``), so a re-run replaces the layer and
never appends to it; the streams keep that contract per epoch with three
pieces, shared by every sink and store in ``streaming/``:

- :func:`write_epoch` — an epoch's rows go out as the ``epoch_id``
  partition of the table (``sources.parquet.overwrite_partitions``), so
  a retry rewrites its own partition instead of appending a copy.
- :func:`read_history` — a store read keeps only ``epoch_id < current``,
  so a retry compares its batch with exactly the history the first
  attempt saw, even when that attempt already wrote its own partition.
  Before the store's first write the history is empty.
- :func:`foreach_epoch` — the unstarted, checkpointed, ``availableNow``
  writer every stream returns.

:func:`near_dup_stream` builds the MinHash, SimHash and
random-hyperplane near-dup streams on those pieces: one epoch kernel
(pin, sign, read history, price and refuse or warn, one keep-first
bucket join, flag every input row, write flags and store) to which each
family passes its signing, its :class:`Banding`, its verify and its
prescription.

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
import logging
import sys
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..checkpoint import cut_lineage
from ..operators.dedup import bucket_pairs, refuse_over_budget
from ..sources.parquet import overwrite_partitions

_LOG = logging.getLogger(__name__)


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


class Banding(NamedTuple):
    """A near-dup family's bucket table: ``table`` turns signed rows
    into one row per (row, band) that keeps the row's columns, and the
    join keys on ``keys``. The stream prices and joins it; the rung
    script prices stored rows with it."""

    table: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]


def _price_epoch_join(
    new: DataFrame, all_rows: DataFrame, keys: Sequence[str]
) -> tuple[int, int, int]:
    """Candidate mass of an epoch's asymmetric bucket join (``new``
    against history plus ``new`` on ``keys``), in one collect.

    Returns (mass, projected, max occupancy): per bucket the epoch pays
    n_new·(n_all−n_new) + C(n_new, 2), the row count of the keep-first
    join when the batch's ids follow the history's; an identical batch re-arriving against the post-append store
    would pay n_new·n_all + C(n_new, 2); occupancy is the largest
    n_all. Two narrow count aggregates joined on the bucket key,
    bounded by the bucket count, never the candidate count.
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


def near_dup_stream(
    stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str,
    *,
    op: str,
    marker: str,
    geometry: dict[str, int],
    sign: Callable[[DataFrame], DataFrame],
    banding: Banding,
    payload: Sequence[str] = (),
    verify: Column | None = None,
    budget: str,
    fix: str,
) -> DataStreamWriter:
    """The epoch kernel of the MinHash, SimHash and random-hyperplane
    near-dup streams: incremental similarity search over an accumulated
    signature store, one operator with pluggable signatures.

    Each micro-batch:

    1. pins ``geometry`` in the ``marker`` sidecar under ``store_path``;
    2. signs the batch with ``sign`` (its store rows) and cuts lineage;
    3. reads the store's history and unions the signed batch onto it;
    4. prices the keep-first join over ``banding``, refusing past the
       budget through ``refuse_over_budget`` and logging a warning when
       an identical next batch would pass 80% of it. ``budget`` is the
       dotted name of the family's module constant, read at each epoch;
       ``fix`` is the family's prescription;
    5. runs one ``bucket_pairs(..., against=True)`` join of the batch's
       bands against all bands, keeping ``id_b < id_a`` (a row is a dup
       of LOWER ids only) and ``verify`` over the ``_a``/``_b``
       ``payload`` columns;
    6. flags every input row of the batch, signed or not: ``(id_col,
       is_near_dup)``, True iff the id matched a lower id;
    7. writes the flags to ``out_path`` and the signed rows to
       ``store_path`` as the epoch's partitions.

    For an id-ordered stream the flags equal the batch operator's
    keep-first flags over the whole corpus, and a retried epoch is
    bit-identical to its first attempt. Per-epoch cost is |batch| x
    matching bucket occupancy, never history x history.
    """
    module, constant = budget.rsplit(".", 1)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_pin_geometry(spark, store_path, marker, geometry, op)
        signed = sign(batch_df).transform(cut_lineage(local_only=True))
        history = read_history(spark, store_path, epoch_id, signed)
        new = banding.table(signed)
        every = banding.table(history.unionByName(signed))
        limit = getattr(sys.modules[module], constant)
        mass, proj, occ = _price_epoch_join(new, every, banding.keys)
        if mass > limit:
            refuse_over_budget(
                f"{op} (epoch {epoch_id})", mass, limit, fix, constant
            )
        if proj > 0.8 * limit:
            _LOG.warning(
                "%s: epoch %s used %s of the %s candidate budget; an "
                "identical next batch against the post-append store "
                "projects ~%s, max bucket occupancy now %s. %s",
                op, epoch_id, f"{mass:,}", f"{limit:,}", f"{proj:,}",
                f"{occ:,}", fix,
            )
        id_a, id_b = F.col(f"{id_col}_a"), F.col(f"{id_col}_b")
        pairs = bucket_pairs(
            new, banding.keys, id_col, payload, right=every, against=True
        ).filter(id_b < id_a)
        if verify is not None:
            pairs = pairs.filter(verify)
        dups = pairs.select(
            id_a.alias(id_col), F.lit(True).alias("is_near_dup")
        ).distinct()
        flags = batch_df.select(id_col).join(dups, id_col, "left")
        flags = flags.fillna(False, ["is_near_dup"])
        write_epoch(flags, out_path, epoch_id)
        write_epoch(signed, store_path, epoch_id)

    return foreach_epoch(stream, _process, checkpoint)

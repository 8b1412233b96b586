"""Streaming ANN cell assignment: route each arriving embedding to its
nearest IVF centroid — the ingestion step of a continuously-fed vector
index (new embeddings land in the right cell as they arrive; the
cell-confined search and SemDeDup operators then work incrementally).

Three streaming-legal forms — two chosen by centroid-set size, plus the
multi-probe variant (``assign_cells_topp_stream`` /
``topp_centroids_expr``: the top-p as a transform → array_sort →
slice projection, stream-legal where ``ivf_assign_topp``'s window is
not):

1. ``assign_cells_stream`` — the centroids become an array-of-structs
   PLAN LITERAL and the best cell is a row-local ``F.aggregate`` fold: a
   pure projection, zero shuffles, valid on batch and streaming frames
   alike, exactly equal to the batch operator's (rounded-cosine DESC,
   centroid_id ASC) ranking (stream=batch equality is tested). Only
   legal for ingest-sized centroid sets: the literal ships inside the
   query plan, and an oversized list blows up plan compilation/codegen
   long before execution — so the constructor now REFUSES more than
   ``MAX_LITERAL_CENTROIDS`` centroids instead of failing obscurely.
2. ``assign_cells_foreach_batch`` — for real index-scale centroid sets
   (a 100 TB corpus IVF has 10^4-10^6 centroids): ``foreachBatch``
   re-reads the centroid TABLE each micro-batch and runs the batch
   ``ivf_assign`` plan (broadcast-centroids crossJoin + per-vector
   window — legal inside foreachBatch, where each micro-batch is an
   ordinary batch DataFrame). Because the centroids are re-read per
   epoch, index retraining between micro-batches is picked up
   automatically — the stream-side centroid REFRESH a live ingest
   needs. Output is an epoch store (``streaming/store_meta.py``), so a
   replayed micro-batch (foreachBatch is at-least-once) rewrites its
   own epoch partition instead of duplicating rows.

The fold is the STREAMING-legal form, not a batch optimization —
measured on a 50k-vector x 516-centroid corpus, the batch
crossJoin+window plan is ~5x FASTER than folding: Spark evaluates
higher-order-function lambdas interpreted (outside whole-stage
codegen), while the crossJoin pipeline runs the same cosine arithmetic
codegen'd, and `WindowGroupLimit Partial` already reduces each map
partition to its per-key top-k BEFORE the exchange, so the feared
"shuffle all n x |centroids| scored rows" does not actually happen.
Use this operator where a window is illegal (streams) or the centroid
set is ingest-sized; keep ``ivf_assign`` for batch. Both forms are
value-identical (equality-tested).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, l2_norm, pair_cosine
from ..operators.dedup import check_banding
from ..operators.similarity import (
    check_probes,
    ivf_assign,
    ivf_assign_topp,
    rhp_signatures,
)
from .store_meta import (
    Banding,
    check_or_pin_geometry,
    foreach_epoch,
    near_dup_stream,
    write_epoch,
)

#: Hard ceiling on the plan-literal centroid form. Each centroid embeds
#: |dims| float literals into the plan; past a couple thousand centroids
#: the generated expression tree slows analysis/codegen superlinearly
#: and can exceed JVM method limits — an opaque failure mode. Real IVF
#: indexes at 100 TB carry 10^4-10^6 centroids: those must use
#: ``assign_cells_foreach_batch`` (centroids as a broadcast-joined
#: TABLE, not a literal).
MAX_LITERAL_CENTROIDS = 2048

#: Sort key sentinel: rounded cosines live in [-1, 1], so -inf orders a
#: NULL cosine (zero-norm vector -> 0/0 division -> NULL) below every
#: real score — the same total order as the batch window's
#: ``ORDER BY cosine DESC NULLS LAST, centroid_id ASC``.
_NEG_INF = float("-inf")


def nearest_centroid_expr(
    centroid_rows: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
) -> Column:
    """Column expression: struct(centroid_id, cosine) of the nearest
    centroid for the vector in ``vec_col``.

    ``centroid_rows`` is the driver-side centroid list [(id, vector)] —
    the same handful-of-KB payload the batch path broadcasts; embedded
    as a literal it ships with the plan instead of a broadcast exchange.
    Ranking matches ``ivf_assign`` exactly: cosine rounded to 6 places
    DESC with NULLs last, centroid_id ASC on ties — including degenerate
    zero-norm vectors, whose cosine is NULL against every centroid: the
    fold coalesces NULL scores to -inf so they tie, and the id tiebreak
    picks the SMALLEST centroid_id, exactly as the batch window does.

    Raises ``ValueError`` for empty input or more than
    ``MAX_LITERAL_CENTROIDS`` centroids (use
    ``assign_cells_foreach_batch`` for index-scale centroid sets).
    """
    if not centroid_rows:
        raise ValueError("centroid_rows must be non-empty")
    if len(centroid_rows) > MAX_LITERAL_CENTROIDS:
        raise ValueError(
            f"{len(centroid_rows)} centroids exceed MAX_LITERAL_CENTROIDS="
            f"{MAX_LITERAL_CENTROIDS}: a plan-embedded centroid literal this "
            "large degrades/breaks plan compilation. Use "
            "assign_cells_foreach_batch, which broadcast-joins the centroid "
            "table per micro-batch instead."
        )
    arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("centroid_id"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
            )
            for cid, vec in centroid_rows
        ]
    )
    init = F.struct(
        F.lit(None).cast("long").alias("centroid_id"),
        F.lit(None).cast("double").alias("cosine"),
    )

    def step(acc: Column, c: Column) -> Column:
        cos = F.round(cosine_similarity(F.col(vec_col), c["cvec"]), 6)
        # Compare through a NULL-free total order (NULL -> -inf); the
        # stored cosine stays NULL so output values match the batch op.
        cos_key = F.coalesce(cos, F.lit(_NEG_INF))
        acc_key = F.coalesce(acc["cosine"], F.lit(_NEG_INF))
        better = (
            acc["centroid_id"].isNull()
            | (cos_key > acc_key)
            | (
                (cos_key == acc_key)
                & (c["centroid_id"] < acc["centroid_id"])
            )
        )
        return F.when(
            better,
            F.struct(
                c["centroid_id"].alias("centroid_id"), cos.alias("cosine")
            ),
        ).otherwise(acc)

    return F.aggregate(arr, init, step)


def assign_cells_stream(
    embeddings: DataFrame,
    centroid_rows: Sequence[tuple[int, Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, cosine) per arriving embedding — the streaming
    counterpart of ``ivf_assign``. Stateless projection: works under any
    output mode, needs no watermark, and keeps whole-stage codegen.
    Centroid-set size is capped (``MAX_LITERAL_CENTROIDS``); see
    ``assign_cells_foreach_batch`` for index-scale centroid tables."""
    best = nearest_centroid_expr(centroid_rows, vec_col=vec_col)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        best["centroid_id"].alias("centroid_id"),
        best["cosine"].alias("cosine"),
    )


def topp_centroids_expr(
    centroid_rows: Sequence[tuple[int, Sequence[float]]],
    probes: int,
    vec_col: str = "embedding",
) -> Column:
    """Column expression: the ``probes`` nearest centroids for the
    vector in ``vec_col``, as an ORDERED array of struct(centroid_id,
    cosine) — rank = array position + 1.

    The row-local multi-probe form: ``ivf_assign_topp`` ranks with a
    row_number window, which streaming frames cannot run — but for a
    literal-sized centroid set the top-p is a pure projection: score
    every centroid with ``F.transform`` (the same rounded
    ``cosine_similarity`` as the fold), totally order with
    ``F.array_sort``'s comparator (cosine DESC with NULLs last via
    the -inf key, centroid_id ASC on ties — exactly the batch window's
    ORDER BY), and ``F.slice`` the first ``probes``. Zero exchanges,
    stream-legal under any output mode, and value-equal to
    ``ivf_assign_topp`` row for row (equality-tested at probes=2).

    Same ceiling as ``nearest_centroid_expr``: the centroids ship as
    plan text, so more than ``MAX_LITERAL_CENTROIDS`` refuses — at
    index scale run ``ivf_assign_topp`` inside ``foreachBatch``
    instead (a window is legal there; micro-batches are ordinary batch
    frames).
    """
    check_probes(probes)
    if not centroid_rows:
        raise ValueError("centroid_rows must be non-empty")
    if len(centroid_rows) > MAX_LITERAL_CENTROIDS:
        raise ValueError(
            f"{len(centroid_rows)} centroids exceed MAX_LITERAL_CENTROIDS="
            f"{MAX_LITERAL_CENTROIDS}: a plan-embedded centroid literal this "
            "large degrades/breaks plan compilation. Run ivf_assign_topp "
            "inside foreachBatch instead."
        )
    arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("centroid_id"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
            )
            for cid, vec in centroid_rows
        ]
    )
    scored = F.transform(
        arr,
        lambda c: F.struct(
            c["centroid_id"].alias("centroid_id"),
            F.round(cosine_similarity(F.col(vec_col), c["cvec"]), 6).alias(
                "cosine"
            ),
        ),
    )

    def cmp(left: Column, right: Column) -> Column:
        lk = F.coalesce(left["cosine"], F.lit(_NEG_INF))
        rk = F.coalesce(right["cosine"], F.lit(_NEG_INF))
        return (
            F.when(lk > rk, F.lit(-1))
            .when(lk < rk, F.lit(1))
            .when(left["centroid_id"] < right["centroid_id"], F.lit(-1))
            .when(left["centroid_id"] > right["centroid_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    return F.slice(F.array_sort(scored, cmp), 1, probes)


def assign_cells_topp_stream(
    embeddings: DataFrame,
    centroid_rows: Sequence[tuple[int, Sequence[float]]],
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid_id, cosine, rank) per arriving embedding — the
    streaming counterpart of ``ivf_assign_topp`` (the multi-probe
    membership feed: rank 1 is the home cell, ranks 2..probes the
    boundary probes that recover the measured 0.81 -> 0.99 pair-recall
    gap in SemDeDup). Stateless posexplode projection over
    ``topp_centroids_expr``: works under any output mode, needs no
    watermark; stream=batch equality at probes=2 is tested."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(topp_centroids_expr(centroid_rows, probes, vec_col)),
    ).select(
        "vec_id",
        F.col("col.centroid_id").alias("centroid_id"),
        F.col("col.cosine").alias("cosine"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


def assign_cells_foreach_batch(
    embeddings_stream: DataFrame,
    centroids_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    probes: int = 1,
):
    """Streaming cell assignment for LARGE centroid sets: each
    micro-batch broadcast-joins the centroid TABLE (re-read from
    ``centroids_path`` every epoch) through the batch ``ivf_assign``
    plan — windows are legal inside ``foreachBatch`` because the
    micro-batch is an ordinary batch DataFrame.

    Properties the plan-literal form cannot provide:

    - **No centroid ceiling.** The centroids travel as a broadcast
      exchange sized by the data, not as plan text; 10^4-10^6 centroids
      (the real shape of a 100 TB IVF index) are fine.
    - **Centroid refresh.** The parquet read happens inside the epoch
      handler, so a retrain that overwrites ``centroids_path`` between
      micro-batches is picked up by the NEXT epoch with no stream
      restart — assignments always reflect the current index.
    - **Idempotent output.** Rows land in the ``epoch_id=N`` partition
      of an epoch store (``streaming/store_meta.py``): a replayed epoch
      (foreachBatch is at-least-once) overwrites its own partition, so
      downstream readers never see duplicated assignments.

    ``probes`` >1 routes the batch ``ivf_assign_topp`` instead — the
    index-scale form of the multi-probe membership feed
    (the plan-literal ``assign_cells_topp_stream`` caps its centroid
    set like the top-1 fold; windows are legal here, so no ceiling).
    Output grows a ``rank`` column (1..probes; rank 1 is exactly the
    probes=1 assignment by the shared total order).

    Because ``probes`` changes the SINK schema (rank appears only at
    probes>1), it is pinned in a ``_assign_geometry`` sidecar under
    ``out_path`` exactly like the signature stores' geometry pins:
    restarting an existing sink with a different probes would
    otherwise write epoch partitions with mixed schemas that
    parquet readers resolve inconsistently — the mismatch now fails the
    stream loudly at the first epoch instead.

    Returns an unstarted ``DataStreamWriter``; ``.start()`` it. Output
    schema: (vec_id, centroid_id, cosine[, rank]) partitioned by
    epoch_id.
    """
    check_probes(probes)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        check_or_pin_geometry(
            spark, out_path, "_assign_geometry", {"probes": probes},
            "assign_cells_foreach_batch",
        )
        centroids = spark.read.parquet(centroids_path)
        if probes == 1:
            assigned = ivf_assign(
                batch_df, centroids, id_col=id_col, vec_col=vec_col, dim=dim
            )
        else:
            assigned = ivf_assign_topp(
                batch_df, centroids, probes,
                id_col=id_col, vec_col=vec_col, dim=dim,
            )
        write_epoch(assigned, out_path, epoch_id)

    return foreach_epoch(embeddings_stream, _process, checkpoint)


#: Per-epoch candidate budget for the streaming RHP near-dedup: the
#: keep-first mass of the asymmetric (batch x history + batch) bucket
#: join, every row of which goes through the cosine verify. The batch
#: operator's budget, per EPOCH here.
MAX_RHP_STREAM_CANDIDATES_PER_EPOCH = 500_000_000

#: The RHP stream's buckets: its store rows are already one row per
#: (vector, band), keyed on (band, band_sig).
RHP_BANDING = Banding(lambda sigs: sigs, ("band", "band_sig"))


def rhp_near_dedup_stream(
    embeddings_stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    threshold: float,
    n_bits: int = 16,
    bands: int = 2,
    dim: int = 64,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incremental embedding-cosine near-dedup, the streaming twin of
    ``operators.similarity.rhp_near_duplicates``; the per-epoch
    protocol (pin, sign, price, keep-first join, flags, store) is
    ``store_meta.near_dup_stream``.

    Buckets: the sign-bit LSH (band, band_sig) of ``rhp_signatures``.
    Verify: ``pair_cosine`` ≥ ``threshold``, inside the join. For an
    id-ordered stream the flags equal the batch operator's ``vec_b``
    set; NULL vectors sign nothing and flag False. Store rows: (id,
    band, band_sig, vector, norm), ``bands`` rows per vector: the
    vector rides with its signature, as in the batch checkpoint,
    because re-joining vectors onto the candidate rows shuffles
    O(candidates x vec_size).

    Geometry: (n_bits, bands, dim, seed), pinned in the
    ``_rhp_geometry`` sidecar; ``bands`` must divide ``n_bits``,
    checked at construction before any sidecar write. ``n_bits="auto"``
    is not offered: per-epoch re-sizing would shift the keys under the
    store. The budget is ``MAX_RHP_STREAM_CANDIDATES_PER_EPOCH``.
    """
    check_banding("rhp_near_dedup_stream", "n_bits", n_bits, bands)
    return near_dup_stream(
        embeddings_stream, out_path, store_path, checkpoint, id_col,
        op="rhp_near_dedup_stream",
        marker="_rhp_geometry",
        geometry=dict(n_bits=n_bits, bands=bands, dim=dim, seed=seed),
        sign=lambda batch: rhp_signatures(
            batch, n_bits, bands, dim, seed, id_col, vec_col, keep=(vec_col,)
        ).withColumn("_norm", l2_norm(F.col(vec_col))),
        banding=RHP_BANDING,
        payload=(vec_col, "_norm"),
        verify=pair_cosine(
            f"{vec_col}_a", f"{vec_col}_b", "_norm_a", "_norm_b", dim=dim
        )
        >= threshold,
        budget=f"{__name__}.MAX_RHP_STREAM_CANDIDATES_PER_EPOCH",
        fix=f"The pinned {n_bits // bands}-bit bands are under-sized for "
        f"the accumulated corpus — re-sign the store at a wider geometry "
        f"(bits-per-band ≈ log2(corpus / 64)), shrink the micro-batch "
        f"(maxFilesPerTrigger), or raise "
        f"MAX_RHP_STREAM_CANDIDATES_PER_EPOCH if the verify CPU can take "
        f"it.",
    )

"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k. The query side is broadcast;
  the candidate scan is embarrassingly parallel; per-query ranking uses a
  window over the (tiny) query partition. This is the correctness
  baseline AND the right plan when |queries| is small.
- ``ivf_assign`` / ``ivf_topk``: inverted-file scale path — assign every
  vector to its nearest centroid once (broadcast centroids), then search
  only within the probed cluster. Cuts candidate count by ~|centroids|.
- ``embedding_duplicate_pairs``: near-duplicate detection blocked by a
  partition column (label here; at scale an LSH bucket or IVF cell), so
  the pair join is per-block instead of O(n^2).

Vector math is `zip_with`/`aggregate` folds: JVM-side, ordered,
deterministic — exactly reproducible by a row-local SQL computation.

The IVF (inverted-file) structure follows the published ANN standard
(Jegou/Douze/Schmid, "Product quantization for nearest neighbor
search", TPAMI 2011 — the coarse-quantizer stage, without PQ codes).
"""

from __future__ import annotations

import logging
import math
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..checkpoint import cut_lineage

from ..functions.vectors import dot_literal_sql, l2_norm, pair_cosine
from .dedup import (
    _spread,
    bucket_pairs,
    check_auto_budget,
    check_banding,
    check_floor,
    pair_mass,
    refuse_over_budget,
)

#: Scale-diagnostic logger (INFO): candidate-budget numbers the guards
#: compute anyway — Σ n(n−1)/2 and the largest cell — so a rung harness
#: or an operator can record the pair-scan volume without re-running
#: the cell histogram. No behavioral effect; silent unless a caller
#: enables INFO on this logger.
_LOG = logging.getLogger("clinical_trials_data_pipeline_analyis_spark.similarity")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Ranking key is (rounded cosine DESC, candidate id ASC): rounding makes
    the order reproducible across engines; the id breaks remaining ties.

    Norms ride each side once, so :func:`pair_cosine`'s dot is the only
    per-pair work; ``dim`` is the (default-inert) width hint from
    ``functions.vectors``.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(vec_col).alias("_qn"),
    )
    c = _spread(embeddings).select(
        F.col(id_col).alias("candidate_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(vec_col).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            pair_cosine("qvec", "cvec", "_qn", "_cn", dim=dim).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _centroid_scores(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    use_flat: bool,
) -> DataFrame:
    """The |corpus| x k cross-scoring projection both assignment forms
    share: centroids broadcast, norms once per side, per-pair work =
    :func:`pair_cosine`'s dot alone."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(vec_col).alias("_cn"),
    )
    v = _spread(embeddings).select(
        F.col(id_col).alias("vec"),
        F.col(vec_col).alias("vvec"),
        l2_norm(vec_col).alias("_vn"),
    )
    return v.crossJoin(F.broadcast(c)).select(
        F.col("vec").alias("vec_id"),
        "centroid_id",
        pair_cosine(
            "vvec", "cvec", "_vn", "_cn", dim=dim, use_flat=use_flat
        ).alias("cosine"),
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    use_flat: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine.

    Centroids are broadcast; the argmax is a lexicographic MIN over the
    orderable (null-flag, -cosine, centroid_id) struct — the same total
    order as the previous row_number window (cosine DESC NULLS LAST,
    centroid_id ASC tiebreak), but a hash aggregate with map-side
    partial combine, so the |corpus| x k scored rows never cross a full
    sort-shuffle; one pre-combined row per vector does. Norms are
    computed once per SIDE before the join (the cross-term dot is the
    only per-pair fold) — the same scalar sequence on the same doubles
    as ``cosine_similarity``, so results are bit-identical and oracle
    parity is unaffected. An sf10 sweep measured the window form (3
    folds per pair + window sort over 6.4e7 rows) at 62s for the bare
    assignment; this is the pq_encode rewrite applied to its
    coarse-quantizer sibling.

    ``use_flat`` (requires ``dim``) routes the cross-term dot through
    the flat codegen form (``functions/vectors.py``; bit-identical —
    same left-assoc float order). The assign is the textbook "one short
    dot over 10^8+ rows" flat-wins regime ONCE n x k is large: with the
    k ∝ n auto-provisioning rule (``semdedup_auto_k``) the scored-row
    count grows as n²/SEMDEDUP_TARGET_CELL — 6.4e7 rows at the
    500k/k=128 sweep (a measured wash) but 5.1e9 at the 2.5M/k=2048 rung, where the
    interpreted fold is the leg's dominant stage. Default stays fold:
    the registered sf0.1 queries (x10/x16/a24/a31, k<=128) sit in the
    flat-LOSES regime (per-plan compile constant > total fold cost).
    """
    scored = _centroid_scores(
        embeddings, centroids, id_col, vec_col, dim, use_flat
    )
    # The null flag keeps NULL cosines (zero-norm or NULL vectors) LAST
    # exactly as the window's DESC NULLS LAST did; within the non-null
    # group, min(-cosine) = max(cosine) and ties fall to min centroid_id.
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    F.col("cosine").isNull().cast("int").alias("_nl"),
                    (-F.col("cosine")).alias("_nc"),
                    F.col("centroid_id").alias("centroid_id"),
                    F.col("cosine").alias("cosine"),
                )
            ).alias("_best")
        )
        .select(
            "vec_id",
            F.col("_best.centroid_id").alias("centroid_id"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


def check_probes(probes: int) -> None:
    """Refuse a multi-probe count below one: every vector must keep at
    least its home cell."""
    if probes < 1:
        raise ValueError(f"probes must be >= 1, got {probes}")


def ivf_assign_topp(
    embeddings: DataFrame,
    centroids: DataFrame,
    probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    use_flat: bool = False,
) -> DataFrame:
    """Top-``probes`` coarse assignment: every vector's ``probes``
    nearest centroids, with ``rank`` 1..probes — the multi-probe
    membership table (rank 1 is exactly ``ivf_assign``'s answer: same
    scoring projection, same total order — cosine DESC NULLS LAST,
    centroid_id tiebreak).

    COST NOTE, stated plainly: ranking needs the top-p per vector, so
    this shuffles the |corpus| x k scored rows through a window sort —
    the exchange ``ivf_assign``'s struct-min aggregate exists to avoid
    (it map-combines to one row per vector). That is the price of
    probing: under the k ∝ n provisioning rule the scored-row count
    grows as n²/SEMDEDUP_TARGET_CELL. Callers buy boundary recall with it —
    measured on the 500k rung (``scripts/measure_semdedup_recall.py``):
    single-assignment cell recall over planted dup pairs is 0.8115 at
    auto-k, top-2 probing recovers 0.9901.
    """
    check_probes(probes)
    scored = _centroid_scores(
        embeddings, centroids, id_col, vec_col, dim, use_flat
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").isNull().cast("int").asc(),
        F.desc("cosine"),
        F.asc("centroid_id"),
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= probes)


#: Above this many vectors in one block, ``embedding_duplicate_pairs``
#: refuses (or RHP-routes) the exact pair scan: the within-block cost is
#: |block|²/2 pairs — 16k vectors is ~134M pairs, which the salt-gridded
#: scan clears in seconds, while an sf10 sweep measured blocks just
#: under a 65k ceiling (~60k vectors, ~5e9 pairs across the sub-ceiling
#: blocks) grinding for 15+ minutes on 32 cores: a ceiling that admits
#: multi-1e9-pair blocks is not a guard. Quadratic growth past the
#: ceiling is a bug, not a workload — route it.
MAX_EXACT_BLOCK = 16384

#: Join cells of ``embedding_duplicate_pairs``' salt grid: each block's
#: pair scan spreads over this many reducers, and every pair meets in
#: exactly one of them.
SALT_GRID = 8


def embedding_duplicate_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_n: int = 50,
    max_block: int | None = MAX_EXACT_BLOCK,
    oversize: str = "error",
    dim: int = 64,
) -> DataFrame:
    """Top near-duplicate pairs by cosine, blocked by ``block_col``.

    The self-join (:func:`bucket_pairs` on (block, cell)) is
    SALT-GRIDDED: joining on the block alone puts a block's entire
    |block|² pair fan-out into ONE reducer, so a single hot block
    serializes the whole query — observed on an sf1 run, where a
    15k-vector hot label (30% of the corpus, the realistic
    skew-clustered shape) pinned two straggler tasks for tens of
    minutes while 30 cores idled. Replicating the LEFT side once per
    grid cell and bucketing the RIGHT side by id hash spreads those
    pairs over ``SALT_GRID`` join cells: every pair still meets exactly
    once (the left copy tagged with the right row's cell), results are
    IDENTICAL (the grid never appears in the output, so the DuckDB
    oracle is unchanged), and the hot block's quadratic work
    parallelizes. Left-side replication costs ``SALT_GRID`` x |vectors|
    shuffled rows — linear, the price for unserializing the quadratic
    term.

    The scan stays QUADRATIC per block by contract — the salt grid
    parallelizes it, it does not shrink it — so blocks are GUARDED:
    any block over ``max_block`` vectors either fails fast
    (``oversize="error"``, naming the subquadratic routes) or is
    auto-routed through within-block random-hyperplane LSH
    (``oversize="route"``: candidates = pairs sharing a band signature
    INSIDE the oversized block, exact-cosine verified — approximate
    recall on those blocks only; every under-ceiling block keeps the
    exact scan, bit-identical to the unguarded result). The block-size
    check is one bounded aggregate (|blocks| rows) paid once at build
    time. ``max_block=None`` disables the guard for callers that have
    already sized their blocks. For corpus-scale near-dup without a
    trusted block column, use ``rhp_near_duplicates`` (label-free LSH)
    or ``semantic_dedup`` — both subquadratic end to end.
    """
    if oversize not in ("error", "route"):
        raise ValueError(f"oversize must be 'error' or 'route', got {oversize!r}")
    from ..operators.sampling import hash_bucket

    if max_block is not None:
        # orderBy(desc(n)) BEFORE the limit: the collected rows are the
        # true worst 1001 blocks (TakeOrderedAndProject — still one
        # bounded aggregate), so the diagnostics below name the actual
        # largest blocks rather than an arbitrary 1001-row sample, and
        # len(big) > 1000 means the same thing on both branches.
        big = (
            embeddings.groupBy(F.col(block_col).alias("blk"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_block)
            .orderBy(F.desc("n"), F.asc("blk"))
            .limit(1001)
            .collect()
        )
        if len(big) > 1000:
            raise ValueError(
                "embedding_duplicate_pairs: more than 1000 blocks "
                f"exceed max_block={max_block} (top-5: "
                f"{[(r['blk'], r['n']) for r in big[:5]]}) — the block "
                "column does not bound this corpus; use "
                "rhp_near_duplicates or semantic_dedup instead."
            )
        if big and oversize == "error":
            raise ValueError(
                f"embedding_duplicate_pairs: {len(big)} block(s) exceed "
                f"max_block={max_block} (largest: "
                f"{[(r['blk'], r['n']) for r in big[:5]]}); the exact "
                "within-block pair scan is quadratic by contract. Use "
                "oversize='route' to LSH-route the oversized blocks, or "
                "the subquadratic operators rhp_near_duplicates / "
                "semantic_dedup."
            )
        if big:
            big_keys = [r["blk"] for r in big]
            small = embeddings.filter(~F.col(block_col).isin(big_keys))
            hot = embeddings.filter(F.col(block_col).isin(big_keys))
            exact = embedding_duplicate_pairs(
                small,
                block_col,
                id_col,
                vec_col,
                top_n=top_n,
                max_block=None,
                dim=dim,
            )
            routed = _rhp_block_pairs(
                hot, block_col, id_col, vec_col, dim=dim
            )
            return (
                exact.unionByName(routed)
                .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
                .limit(top_n)
            )

    # Norms are computed ONCE PER VECTOR before the join and ride the
    # shuffle as plain doubles — inside the pair projection they'd be
    # folded per PAIR, tripling the higher-order-function work that
    # dominates a pair scan (dot + 2 norms -> dot only; measured 2.5x
    # on the sf1 hot block). Same arithmetic and fold order as
    # cosine_similarity, so oracle parity is unaffected.
    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(block_col).alias("blk"),
            F.col(id_col).alias("vec"),
            F.col(vec_col).alias("v"),
            l2_norm(vec_col).alias("_norm"),
        )

    left = side(_spread(embeddings)).withColumn(
        "_cell", F.explode(F.array(*[F.lit(i) for i in range(SALT_GRID)]))
    )
    right = side(embeddings).withColumn(
        "_cell", hash_bucket(F.col("vec"), SALT_GRID).cast("int")
    )
    pairs = bucket_pairs(
        left, ["blk", "_cell"], "vec", ["v", "_norm"], right=right
    ).select(
        F.col("blk_a").alias("label"),
        "vec_a",
        "vec_b",
        # use_flat: the one dot rides |block|^2/2 pair rows — an sf10
        # A/B measured the flat form at 121.8s vs 280.1s on the fold
        # for the routed x08 (500k vectors); at sf0.1 the compile
        # constant keeps the query within its baseline row. See
        # functions/vectors.
        pair_cosine(
            "v_a", "v_b", "_norm_a", "_norm_b", dim=dim, use_flat=True
        ).alias("cosine"),
    )
    return pairs.orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b")).limit(
        top_n
    )


def _rhp_block_pairs(
    embeddings: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    n_bits: int = 48,
    bands: int = 4,
) -> DataFrame:
    """Within-block near-duplicate candidates for OVERSIZED blocks:
    random-hyperplane LSH bucketing INSIDE each block (candidates =
    :func:`bucket_pairs` on (block, band, band_sig)), verified by
    :func:`pair_cosine` in the join —
    the subquadratic route ``embedding_duplicate_pairs`` falls back to
    when a block exceeds its exact-scan ceiling. Same output columns
    as the exact scan (label, vec_a, vec_b, cosine).

    Band width matters precisely BECAUSE blocks are big here: 4 bands
    of 12 bits = 4,096 signatures per band, so a 150k-vector hot block
    spreads to ~40 vectors per bucket instead of re-serializing into a
    near-quadratic bucket join (the first cut used 4-bit bands — 16
    signatures — and a 155k block produced ~10^9 candidate pairs, i.e.
    the exact scan wearing an LSH hat; caught on an sf10 sweep).
    Near-dup pairs (cosine ~0.98, theta ~0.2 rad) collide per 12-bit
    band with p ~ 0.45, so 4 bands give ~91% recall per the Charikar
    bound; EXACT duplicates always collide."""
    # Verify-in-join, as in rhp_near_duplicates: vector + norm + block
    # ride the signature rows and the cosine is computed in the bucket
    # join's projection, so the distinct dedups narrow (label, pair,
    # cosine) rows — re-joining the wide vectors onto the candidate
    # stream would shuffle O(candidates x vec_size) on exactly the
    # blocks that are oversized by definition.
    base = embeddings.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        l2_norm(vec_col).alias("_norm"),
    )
    sigs = rhp_signatures(
        base,
        n_bits=n_bits,
        bands=bands,
        dim=dim,
        id_col="_id",
        vec_col="_vec",
        keep=("_vec", "_blk", "_norm"),
    )
    return (
        bucket_pairs(
            sigs, ["_blk", "band", "band_sig"], "_id", ["_vec", "_norm"]
        )
        .select(
            F.col("_blk_a").alias("label"),
            F.col("_id_a").alias("vec_a"),
            F.col("_id_b").alias("vec_b"),
            pair_cosine("_vec_a", "_vec_b", "_norm_a", "_norm_b", dim=dim)
            .alias("cosine"),
        )
        .distinct()
    )


def train_ivf(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic k-means training for the IVF coarse quantizer
    (Lloyd's algorithm; the training loop over the assign/update steps
    that ``ivf_assign`` / per-centroid means provide individually).

    Seeding is deterministic — the k lowest-id vectors, or a
    caller-provided ``centroids`` frame with (id_col, vec_col). Each
    iteration: broadcast-assign every vector to its nearest centroid by
    cosine (``ivf_assign``), then recompute each centroid as the
    per-dimension mean of its members. Per-dimension sums are ORDERED
    folds (sort members by id, then sequential double adds), so every
    iteration is bit-reproducible across engines — one step is
    oracle-checked as a24_ivf_train_step. Empty cells drop, as in
    standard k-means.

    Returns ``(centroids, assignments)``: centroids as
    (centroid_id, centroid array<double>), assignments (from the LAST
    completed assign step) as (vec_id, centroid_id, cosine).

    Scale shape: assignment is a broadcast-centroids crossJoin + argmax
    — the big side never shuffles; the update is one shuffle keyed
    (centroid_id, dim); only the k x dims centroid table materializes
    per iteration (localCheckpoint — the loop must not replay prior
    iterations' lineage).
    """
    if centroids is None:
        cent = embeddings.orderBy(id_col).limit(k).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    else:
        cent = centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    assign = None
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_mid", "v"))),
            lambda s: s["v"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    for _ in range(iters):
        assign = ivf_assign(
            embeddings,
            cent.select(
                F.col("centroid_id").alias(id_col), F.col("cvec").alias(vec_col)
            ),
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
        members = assign.select(
            F.col("vec_id").alias(id_col), "centroid_id"
        ).join(embeddings.select(id_col, vec_col), id_col)
        exploded = members.select(
            "centroid_id",
            F.col(id_col).alias("_mid"),
            F.posexplode(F.col(vec_col)).alias("pos0", "v"),
        )
        dims = exploded.groupBy(
            "centroid_id", (F.col("pos0") + 1).cast("int").alias("dim")
        ).agg((ordered_sum / F.count(F.lit(1))).alias("centroid_value"))
        cent = (
            dims.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "centroid_value"))
                    ),
                    lambda s: s["centroid_value"],
                ).alias("cvec")
            )
            .transform(cut_lineage())
        )
    return cent.select("centroid_id", F.col("cvec").alias("centroid")), assign


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Absmax int8 quantization, exploded to (id, dim, q, scale) rows.

    The storage op an embedding pipeline runs before writing vectors at
    scale (4x smaller than float32; dequantize as q * scale / 127).
    Per-vector scale = max(|v_i|); q_i = floor(v_i * 127 / scale + 0.5)
    — the explicit floor(+0.5) half-up makes the rounding engine-exact
    (float round() tie semantics differ between engines). Zero vectors
    quantize to zeros. Row-local math only — no aggregation, join, or
    EXCHANGE of any kind: unlike the shingle/pair paths, the explode
    here is the output format (nothing downstream joins on it), so
    parallelism should come from the parquet scan's splits — at corpus
    scale every 128 MB split is its own task and a ``_spread``
    repartition would shuffle the entire embedding table for zero
    benefit. Round 10 removed exactly that repartition after the a29
    creep adjudication measured it as ~60% of the query's sf0.1 wall
    (0.72s with the shuffle, 0.25s scan->generate->project without;
    values bit-identical — partitioning never touches row-local math).
    """
    v = F.col("v").cast("double")
    scale = F.array_max(F.transform(F.col(vec_col), F.abs)).cast("double")
    q = F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.floor(v * 127.0 / F.col("scale") + 0.5).cast("int")
    )
    return (
        embeddings
        .select(
            F.col(id_col),
            F.round(scale, 6).alias("scale"),
            F.posexplode(F.col(vec_col)).alias("pos0", "v"),
        )
        .select(
            id_col,
            (F.col("pos0") + 1).cast("int").alias("dim"),
            q.alias("q"),
            "scale",
        )
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the quality number a production ANN pipeline ships next to its
    latency numbers (fraction of the true k nearest neighbors the index
    actually returned, per query).

    Both inputs are top-k tables with (query_id, candidate_id) columns
    (e.g. ``brute_force_topk`` as ground truth and an IVF/IVFADC search
    as the approximation). ``exact`` defines the query universe: queries
    the index returned nothing for score 0, they do not disappear.

    Returns one row per query: (query_id, hits bigint, recall double)
    with recall = hits / k rounded to 6 places.

    Both inputs are deduplicated on (query_id, candidate_id) first: an
    approximate search that returns the same candidate from multiple
    probed cells must not count it twice (inflating recall past 1.0).

    Scale shape: both inputs are already reduced to |queries| x k rows —
    tiny relative to any corpus — so this is one equi-join plus one
    aggregate (the distincts are over those same tiny tables); cost is
    independent of corpus size by construction.
    """
    e = exact.select("query_id", "candidate_id").distinct()
    a = approx.select("query_id", "candidate_id").distinct()
    matched = (
        e.join(a, ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    hits = F.coalesce(F.col("hits"), F.lit(0)).cast("long")
    return (
        e.select("query_id")
        .distinct()
        .join(matched, "query_id", "left")
        .select(
            "query_id",
            hits.alias("hits"),
            F.round(hits.cast("double") / float(k), 6).alias("recall"),
        )
    )


def rhp_plan_vectors(
    n_bits: int, dim: int, seed: int = 13
) -> list[list[float]]:
    """Deterministic random-hyperplane normals for sign-bit LSH.

    A splitmix64-style integer mix (pure arithmetic — reproducible in
    any engine, no RNG library) maps (seed, bit, dim) to a value in
    [-1, 1). Hyperplanes ship as plan literals on BOTH the Spark and the
    DuckDB oracle side, so signatures are engine-exact.
    """
    out = []
    mask = (1 << 64) - 1
    for b in range(n_bits):
        row = []
        for d in range(dim):
            z = (seed * 0x9E3779B97F4A7C15 + b * 0xBF58476D1CE4E5B9 + d + 1) & mask
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            z ^= z >> 31
            row.append((z % 2_000_000) / 1_000_000.0 - 1.0)
        out.append(row)
    return out


def rhp_signatures(
    embeddings: DataFrame,
    n_bits: int = 16,
    bands: int = 2,
    dim: int = 64,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Random-hyperplane (sign-bit) LSH signatures over an embedding
    column — the EMBEDDING analog of the token-level SimHash: bit b is
    1 when dot(v, h_b) >= 0 (Charikar, "Similarity estimation
    techniques from rounding algorithms", STOC 2002: P[bits agree] =
    1 - angle/pi), banded into ``bands`` integer keys for bucketing.

    Returns (id_col, band 0.., band_sig long) — one row per band;
    ``keep`` appends the named input columns (e.g. the vector and its
    norm) so a caller verifying candidates inside the bucket join never
    has to re-join a wide payload onto the (much wider) candidate
    stream.
    NULL vectors are excluded (no geometry, no signature — they can
    never near-duplicate anything); a NON-null vector whose length
    differs from ``dim`` raises a named error at execution (see the
    guard below). Row-local projection (the hyperplanes are plan
    literals; at
    production bit-widths they stay far below the centroid-literal
    ceiling since n_bits x dim floats is KBs), so signing a 100 TB
    corpus is an embarrassingly parallel map with NO shuffle; the only
    exchange in the downstream pipeline is the bucket equi-join.
    """
    check_banding("rhp_signatures", "n_bits", n_bits, bands)
    planes = rhp_plan_vectors(n_bits, dim, seed)
    # NULL vectors carry no geometry: they VANISH from the signature
    # table (the same way NULL text vanishes from token aggregates), so
    # they can never bucket-collide; the verify stage's NULL cosine
    # keeps the DuckDB oracle (where they sign as all-ones) value-equal
    # on the FINAL verified output.
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    # Loud row-local dim guard for the rows that remain: a vector
    # shorter/longer than ``dim`` would zip_with-pad against the
    # hyperplane with NULLs, the dot would come back NULL, and a
    # coalesce-to-0.0 would turn EVERY bit into 1 — silently collapsing
    # all mismatched vectors into one LSH bucket, i.e. the quadratic
    # join this operator exists to avoid. The guard is a plan expression
    # folded into band_sig (no extra pass over the corpus) that raises
    # on the first bad row instead.
    dim_guard = F.when(
        F.size(F.col(vec_col)) == F.lit(dim), F.lit(0)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"rhp_signatures: {vec_col} has length "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" but dim={dim} hyperplanes were planned (id="),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(
                    "); pass the true vector dim — NULL-padded dots "
                    "would give every mismatched vector the same "
                    "all-ones signature."
                ),
            )
        ).cast("int")
    )
    # The coalesce below handles element-level NULLs only (matching the
    # oracle's COALESCE(list_dot_product(..), 0)); length mismatches are
    # excluded by dim_guard before it can mask them.
    bits = [
        F.when(
            # Deliberately the FOLD form with no dim hint: this
            # projection evaluates n_bits (=48) dots per row, and 48
            # flat 64-term sums in one generated method blow past the
            # JIT's huge-method ceiling — the whole stage then runs
            # interpreted BYTECODE, measured 9x slower at sf0.1 and
            # +15% at sf10. That finding led to re-measuring the O(1)-
            # dot sites too, where flat ALSO lost (2-5x both scales) —
            # the hint is now inert by default; see functions/vectors.py.
            F.coalesce(
                # ONE F.expr per hyperplane dot: the Column-API fold
                # builds dim literals + two lambda conversions
                # through py4j per dot — measured ~2.7s of driver-side
                # plan CONSTRUCTION at the 48-bit registered geometry
                # before any job ran (cProfile: 21k py4j round-trips).
                # The parsed tree and every literal double are
                # bit-identical to the Column form (see
                # dot_literal_sql; proven bitwise in
                # tests/test_vectors_dim.py), so signatures and oracle
                # parity are unchanged.
                F.expr(dot_literal_sql(f"`{vec_col}`", planes[b])),
                F.lit(0.0),
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for b in range(n_bits)
    ]
    per_band = n_bits // bands
    band_rows = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                sum(
                    (
                        bits[band * per_band + i] * F.lit(2**i)
                        for i in range(per_band)
                    ),
                    start=dim_guard,
                )
                .cast("long")
                .alias("band_sig"),
            )
            for band in range(bands)
        ]
    )
    return (
        _spread(embeddings)
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.explode(band_rows).alias("b"),
        )
        .select(
            id_col,
            *keep,
            F.col("b.band").alias("band"),
            F.col("b.band_sig").alias("band_sig"),
        )
    )


#: Candidate-row budget for ``rhp_near_duplicates``, priced by
#: ``pair_mass`` over the (band, band_sig) buckets — the rows the bucket
#: equi-join streams through the cosine verify. LSH candidates grow as
#: ~n²/2^bits per band, so a band width sized for one rung is a
#: corpus-sized model exactly like SemDeDup's k. Measured on the
#: 12-bit-band registered geometry: 500k vectors → 228,241,904
#: candidates; 1M vectors → 911,630,744. With verify-in-join the
#: candidate stream is codegen-only (re-joining vectors per candidate
#: row ENOSPC'd a 78 GB disk at 2.7e8 candidates), so the budget bounds
#: verify CPU and the surviving-pair distinct rather than a
#: per-candidate disk spill. 500M sits between the two measured rungs;
#: cluster callers can raise it.
MAX_RHP_CANDIDATE_ROWS = 500_000_000


#: The expected random-collision bucket (n / 2^bits) the RHP sizing law
#: ``rhp_auto_bits`` targets at any corpus size.
RHP_TARGET_BUCKET = 64

#: Bits-per-band floor of the RHP sizing law: tiny corpora never sign
#: with bands narrower than this.
RHP_MIN_BAND_BITS = 8


def rhp_auto_bits(n_rows: int, bands: int = 4) -> int:
    """Corpus-sized band width for ``rhp_near_duplicates``: bits per
    band = max(RHP_MIN_BAND_BITS, ceil(log2(n_rows /
    RHP_TARGET_BUCKET))), so the EXPECTED random-collision bucket
    (n / 2^bits) stays ≈ ``RHP_TARGET_BUCKET`` at any corpus size;
    returns n_bits = bands × that.

    This is the bits-growth law the 1M rung measured (BASELINE "a53 at
    1M"): 12-bit bands sized for 500k produced 9.1e8 candidates at 1M
    and filled the disk; this rule gives 14-bit bands there (56 bits /
    4 bands — the prescription BASELINE recorded), ~2.3e8 candidates,
    the load the 500k rung completes comfortably. Recall moves with
    band width per the Charikar bound — P[pair with cosine c collides]
    = 1 − (1 − (1 − arccos(c)/π)^bits)^bands: for true near-dups
    (c ≈ 0.99) that is ~96.7% at 12-bit × 4 bands and ~94.9% at
    14-bit × 4 — re-derive it when changing RHP_TARGET_BUCKET.
    """
    if n_rows <= 0:
        return bands * RHP_MIN_BAND_BITS
    per_band = max(
        RHP_MIN_BAND_BITS,
        math.ceil(math.log2(max(1.0, n_rows / RHP_TARGET_BUCKET))),
    )
    return bands * per_band


#: Packing/JIT ceiling for auto-escalated band width: band_sig packs
#: bits into a LONG (hard cap ~62), but the practical bound is the
#: signing projection's cost — every bit is one dim-wide dot per row,
#: and the whole-stage-codegen method grows with it. 30-bit bands
#: (2^30 buckets) already give a 5e8-candidate budget headroom past
#: 8 billion rows; past that the answer is more bands, not more bits.
RHP_MAX_BAND_BITS = 30

#: Most bands the recall-floor repair of ``rhp_escalate_geometry`` tries:
#: each extra band adds a signing pass's worth of candidate mass.
RHP_MAX_BANDS = 8


def rhp_candidate_estimate(
    embeddings: DataFrame,
    n_bits: int,
    bands: int,
    dim: int = 64,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Exact candidate-row count of the (band, band_sig) equi-join at
    the given geometry (``pair_mass`` over the buckets), from a NARROW
    signature pass — no vector payload, no checkpoint, one shuffle of
    (band, band_sig) longs. This is the same number the in-operator
    fan-out guard computes; exposed separately so auto-sizing can probe
    a geometry for the cost of a signing pass instead of building the
    wide checkpointed join input first. Empty input gives 0."""
    s = rhp_signatures(embeddings, n_bits, bands, dim, seed, id_col, vec_col)
    return pair_mass(s, ["band", "band_sig"])[0]


def rhp_recall_estimate(cosine: float, band_bits: int, bands: int) -> float:
    """Charikar pair-collision probability under banded sign-bit LSH:
    ``1 − (1 − q^band_bits)^bands`` with ``q = 1 − arccos(cosine)/π``
    (STOC 2002). Monotone INCREASING in ``cosine`` and ``bands``,
    DECREASING in band width. Predictive, not nominal: at the 5M rung
    this estimate matched measured pair recall against the generator's
    249,962 ground-truth dup edges to three decimals at every geometry
    (0.9532/0.9215/0.8945 measured vs 0.9546/0.9219/0.8956 predicted —
    ``scripts/measure_rhp_recall.py``). Evaluate it at the cosine your
    TRUE duplicates have (~0.99 on the rung generators), not at the
    acceptance threshold — recall at the threshold is a floor over all
    reportable pairs but wildly conservative for actual dups."""
    q = 1.0 - math.acos(max(-1.0, min(1.0, float(cosine)))) / math.pi
    return 1.0 - (1.0 - q**band_bits) ** bands


class RhpEscalation(NamedTuple):
    """Outcome of ``rhp_escalate_geometry`` — the chosen LSH geometry
    plus everything needed to explain/reproduce the choice: the n-only
    law's starting point, every probe (band_bits, bands, measured Σ
    n(n−1)/2), and the Charikar recall estimates at
    ``RHP_RECALL_COSINE`` (recorded as ``recall_cosine``) for both
    geometries. ``fits`` is False only when the budget is unsatisfiable
    within the band-bit ceiling."""

    n_bits: int
    bands: int
    candidate_estimate: int | None
    fits: bool
    law_n_bits: int
    law_bands: int
    law_estimate: int | None
    probes: tuple[tuple[int, int, int], ...]
    recall_estimate: float
    law_recall_estimate: float
    recall_cosine: float

    @property
    def band_bits(self) -> int:
        return self.n_bits // self.bands

    @property
    def escalated(self) -> bool:
        return (
            self.n_bits != self.law_n_bits or self.bands != self.law_bands
        )

    def describe(self) -> str:
        return (
            f"law {self.law_n_bits} bits x {self.law_bands} bands "
            f"measured {self.law_estimate:,} candidates; chose "
            f"{self.n_bits} bits x {self.bands} bands (measured "
            f"{self.candidate_estimate:,}, {len(self.probes)} probes); "
            f"Charikar recall at cosine {self.recall_cosine:g}: "
            f"{self.recall_estimate:.4f} (law "
            f"{self.law_recall_estimate:.4f})"
        )


#: Cosine at which the RHP recall floors evaluate the Charikar recall
#: estimate: the measured cosine of the rung generators' true duplicate
#: pairs (mean 0.9908 at 5M).
RHP_RECALL_COSINE = 0.99


def rhp_escalate_geometry(
    embeddings: DataFrame,
    n_bits: int,
    bands: int,
    *,
    max_candidates: int,
    dim: int = 64,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_recall: float | None = None,
) -> RhpEscalation:
    """Data-aware refinement of the n-only sizing law: starting from
    ``n_bits`` (normally ``rhp_auto_bits``'s answer), measure the
    actual candidate mass and adjust the geometry until it fits
    ``max_candidates`` — and, when ``min_recall`` is given, until the
    Charikar recall estimate at ``RHP_RECALL_COSINE`` clears the floor
    too. Band width stops at ``RHP_MAX_BAND_BITS``, band count at
    ``RHP_MAX_BANDS``.

    Why the law alone is not enough — measured at the 5M rung:
    ``rhp_auto_bits(5M)`` = 17-bit bands targets a
    64-row RANDOM bucket (5M/2^17 ≈ 38), but the law only knows n.
    On the Zipf-CLUSTERED corpus the measured mass was 1,159,901,039
    candidates — 2.3x the 500M budget — because same-cluster vectors
    (cosine ≈ 0.2) agree per bit at 1 − arccos(0.2)/π ≈ 0.564 instead
    of the random 0.5, and that excess compounds per bit. Exact dup
    pairs survive any width (identical vectors share every signature)
    — they are the contract output.

    Probe cost: each probe is a narrow
    signing pass, so the walk is PREDICT-THEN-CONFIRM, not +1-bit
    stepping. The first jump is ``ceil(log2(est/budget))`` bits — under
    a FIXED banding, each extra bit removes at most half the candidate
    mass (every pair's band-collision probability multiplies by its
    per-bit agreement q ≤ 1, and the mass is dominated by q ≥ 0.5
    pairs), making that jump a lower bound on the bits still needed.
    One caveat keeps the chosen width HEURISTICALLY minimal rather
    than provably so: band bit-ranges re-base when bits
    widen (``rhp_plan_vectors`` slices planes by absolute bit index,
    so band i's slice shifts from ``[i*bb, (i+1)*bb)`` to
    ``[i*(bb+1), ...)``), so consecutive probes are not nested
    refinements of one partition and the realized per-bit decay can
    exceed 2x — a jump can occasionally land one bit wider than the
    +1-stepping minimum (~1.4 recall points by this module's own
    measurement; the carried recall estimate and ``min_recall`` floor
    price exactly the width actually chosen, so the cost is visible,
    bounded, and constrainable). Later jumps use the MEASURED per-bit
    decay between the last two probes — the same caveat applies. Net:
    a fitting width within one bit of minimal, reached in ~2 probes
    beyond the law geometry at any corpus size (the 5M rung's
    17→19-bit escalation cost 3 serial +1-bit passes, ~130s each; the
    jump pays 1).

    Recall awareness: widening bands
    silently costs recall (measured −1.4 points/bit at 5M). The result
    carries the Charikar estimate at both geometries, and
    ``min_recall`` makes the trade explicit: when bit-widening alone
    would cross the floor, the search adds BANDS first (mass grows
    linearly with bands while recall recovers exponentially — the
    recall-preserving direction this module's ceiling note names), and
    REFUSES loudly when no geometry within the band and band-bit
    ceilings satisfies both constraints.
    """
    check_floor("rhp_near_duplicates", "min_recall", min_recall)

    def _probe(bb: int, nb: int) -> int:
        return rhp_candidate_estimate(
            embeddings, bb * nb, nb, dim, seed, id_col, vec_col
        )

    probes: list[tuple[int, int, int]] = []
    law_bb = max(1, n_bits // bands)
    bb, est = law_bb, _probe(law_bb, bands)
    probes.append((bb, bands, est))
    law_est = est

    # Phase 1 — widen bits at the law's band count until the measured
    # mass fits (predict-then-confirm jumps; ceiling-bounded).
    while est > max_candidates and bb < RHP_MAX_BAND_BITS:
        nxt: int | None = None
        if max_candidates > 0:
            same = [(b, e) for (b, nb, e) in probes if nb == bands]
            if len(same) >= 2 and same[-2][1] > est > 0:
                bp, ep = same[-2]
                d = (est / ep) ** (1.0 / (bb - bp))
                if 0.0 < d < 1.0:
                    nxt = bb + max(
                        1,
                        math.ceil(
                            math.log(est / max_candidates)
                            / math.log(1.0 / d)
                        ),
                    )
            else:
                nxt = bb + max(
                    1, math.ceil(math.log2(est / max_candidates))
                )
        # Unsatisfiable (budget 0) or no measurable shrink: the mass
        # cannot fit at any width — go straight to the ceiling.
        bb = RHP_MAX_BAND_BITS if nxt is None else min(nxt, RHP_MAX_BAND_BITS)
        est = _probe(bb, bands)
        probes.append((bb, bands, est))

    chosen_bb, chosen_bands, chosen_est = bb, bands, est

    # Phase 2 — band-first recall repair: only when the caller set a
    # floor and the bit-widened geometry misses it (or never fit).
    if min_recall is not None and (
        rhp_recall_estimate(RHP_RECALL_COSINE, chosen_bb, chosen_bands)
        < min_recall
        or chosen_est > max_candidates
    ):
        same = [
            (b, e) for (b, nb, e) in probes if nb == bands and e > 0
        ]
        if len(same) >= 2 and same[-1][0] != same[-2][0]:
            (b1, e1), (b2, e2) = same[-2], same[-1]
            d = (e2 / e1) ** (1.0 / (b2 - b1))
            d = min(max(d, 0.5), 0.999)
        else:
            d = 0.5  # conservative: bits never shrink mass faster
        ref_bb, ref_est = same[-1] if same else (chosen_bb, max(est, 1))
        found = None
        for bands_try in range(bands + 1, RHP_MAX_BANDS + 1):
            # Widest band meeting the recall floor at this band count
            # (recall is decreasing in width: scan from the top).
            b_recall_max = 0
            for b in range(RHP_MAX_BAND_BITS, 0, -1):
                if (
                    rhp_recall_estimate(RHP_RECALL_COSINE, b, bands_try)
                    >= min_recall
                ):
                    b_recall_max = b
                    break
            if b_recall_max == 0:
                continue
            # Narrowest width the decay model predicts fits the budget
            # (per-band mass scales ~linearly with band count).
            b_try = None
            for b in range(1, RHP_MAX_BAND_BITS + 1):
                pred = ref_est * (bands_try / bands) * d ** (b - ref_bb)
                if pred <= max_candidates:
                    b_try = b
                    break
            if b_try is None or b_try > b_recall_max:
                continue
            b = b_try
            while b <= b_recall_max:
                est_t = _probe(b, bands_try)
                probes.append((b, bands_try, est_t))
                if est_t <= max_candidates:
                    found = (b, bands_try, est_t)
                    break
                if max_candidates <= 0:
                    break
                b += max(1, math.ceil(math.log2(est_t / max_candidates)))
            if found:
                break
        if found is None:
            refuse_over_budget(
                "rhp_near_duplicates", law_est, max_candidates,
                f"That is the law's {law_bb}-bit x {bands}-band start, "
                f"and no LSH geometry within band_bits<="
                f"{RHP_MAX_BAND_BITS}, bands<={RHP_MAX_BANDS} meets BOTH "
                f"the candidate budget and min_recall={min_recall} at "
                f"cosine {RHP_RECALL_COSINE:g} (Charikar estimate). Raise "
                f"max_candidates (more verify CPU) or lower min_recall.",
            )
        chosen_bb, chosen_bands, chosen_est = found

    return RhpEscalation(
        n_bits=chosen_bb * chosen_bands,
        bands=chosen_bands,
        candidate_estimate=chosen_est,
        fits=chosen_est <= max_candidates,
        law_n_bits=law_bb * bands,
        law_bands=bands,
        law_estimate=law_est,
        probes=tuple(probes),
        recall_estimate=rhp_recall_estimate(
            RHP_RECALL_COSINE, chosen_bb, chosen_bands
        ),
        law_recall_estimate=rhp_recall_estimate(
            RHP_RECALL_COSINE, law_bb, bands
        ),
        recall_cosine=RHP_RECALL_COSINE,
    )


#: Most recent auto-mode escalation record (diagnostics only — a rung
#: harness reads the chosen geometry / measured mass / recall estimate
#: after the call; never consulted by the operators themselves).
LAST_ESCALATION: RhpEscalation | None = None


def rhp_near_duplicates(
    embeddings: DataFrame,
    threshold: float,
    n_bits: int | str = 16,
    bands: int = 2,
    dim: int = 64,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidates: int | None = MAX_RHP_CANDIDATE_ROWS,
    row_count_hint: int | None = None,
    min_recall: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    bucketing — the label-free SCALE path for embedding near-dup (the
    label-blocked ``embedding_duplicate_pairs`` needs a partition
    column; this derives its own buckets from the geometry).

    Candidates = :func:`bucket_pairs` on (band, band_sig), pairs
    sharing any band signature; verify = exact :func:`pair_cosine` >=
    ``threshold``, computed INSIDE the bucket join's output
    projection (a pair colliding in k bands is verified k times and
    deduped by a distinct over the surviving rows — identical result
    set, see the in-body note). Returns (vec_a, vec_b, cosine).

    Scale shape: signatures are a row-local map; the candidate join is
    a bucketed EQUI-join on (band, band_sig) — never all-pairs; the
    cosine verify touches only colliding pairs and the candidate stream
    is never materialized to disk (re-joining vectors onto the
    candidate list shuffled O(candidates x vec_size) — 150 GB at the 1M
    rung — where verify-in-join shuffles O(n x bands x vec_size), ~2 GB
    there). Recall is tunable with n_bits/bands exactly like MinHash-LSH
    banding.

    Fan-out guard (see MAX_RHP_CANDIDATE_ROWS for the incident behind
    it): the signatures are checkpointed once (they feed BOTH join
    sides, so this also halves the signature compute), and one bounded
    aggregate over bucket sizes estimates the join's exact candidate
    row count; past ``max_candidates`` the operator refuses, naming the
    bits-growth prescription, instead of spilling the disk away. The
    guard is values-neutral; ``max_candidates=None`` disables it (and
    the checkpoint stays, it is a pure reuse win).

    Completion mode: ``n_bits="auto"`` sizes the band width to the
    corpus via ``rhp_auto_bits`` — bits per band ≈ log2(n /
    RHP_TARGET_BUCKET), the growth law the 1M rung measured — using
    ``row_count_hint`` when given (else one ``count()`` over the
    input), then escalates the geometry until the measured candidate
    mass fits ``max_candidates`` (``rhp_escalate_geometry``), so auto
    needs a budget. Registered queries keep pinned integer geometry for
    oracle parity; auto is for corpora where any pinned width eventually
    either refuses (under-sized) or wastes recall (over-sized). An auto
    call and a pinned call are IDENTICAL whenever auto resolves to the
    pinned width (equality-tested at the 48-bit resolution point).

    Recall contract: auto-mode escalation LOGS the chosen geometry with
    its Charikar recall estimate at ``RHP_RECALL_COSINE`` (the rung
    generators' measured dup cosine) whenever it departs from the law,
    and ``min_recall`` makes the trade a constraint: escalation then
    prefers adding BANDS over widening bits when bits alone would cross
    the floor, and REFUSES loudly when no geometry satisfies both budget
    and floor. On a pinned geometry ``min_recall`` validates
    (refuse-or-pass), never adjusts. The last auto decision is
    inspectable via ``LAST_ESCALATION``.
    """
    from pyspark import StorageLevel

    op = "rhp_near_duplicates"
    measured_est: int | None = None
    if n_bits == "auto":
        check_auto_budget(op, "n_bits", max_candidates)
        n = row_count_hint if row_count_hint is not None else embeddings.count()
        law_bits = rhp_auto_bits(n, bands=bands)
        check_banding(op, "n_bits", law_bits, bands)
        # The n-only law under-sizes on clustered corpora — same-cluster
        # sign bits agree above the random rate, and at 5M the law's
        # 17-bit bands measured 1.16e9 candidates against the 500M
        # budget. Escalation probes the ACTUAL candidate mass with
        # narrow signing passes (predict-then-confirm jumps, ~2 beyond
        # the law) and adjusts until it fits — bands-first when
        # ``min_recall`` makes the recall trade explicit; a pinned-int
        # call keeps the strict refuse-loudly contract unchanged.
        geom = rhp_escalate_geometry(
            embeddings,
            law_bits,
            bands,
            max_candidates=max_candidates,
            dim=dim,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            min_recall=min_recall,
        )
        n_bits, bands = geom.n_bits, geom.bands
        measured_est = geom.candidate_estimate
        global LAST_ESCALATION
        LAST_ESCALATION = geom
        if geom.escalated:
            # Auto mode changed the geometry, which moves recall: name
            # the law start, the measured mass, the chosen geometry and
            # the Charikar recall estimate at both.
            _LOG.warning("rhp auto escalation: %s", geom.describe())
    elif isinstance(n_bits, int):
        check_banding(op, "n_bits", n_bits, bands)
        # A pinned geometry is the caller's choice; min_recall still
        # gets an honest answer — validate, never silently adjust.
        check_floor(
            op, "min_recall", min_recall,
            rhp_recall_estimate(RHP_RECALL_COSINE, n_bits // bands, bands),
            f"the Charikar recall at cosine {RHP_RECALL_COSINE:g} of the "
            f"pinned geometry ({n_bits // bands}-bit x {bands} bands)",
            "Narrow the bands, add bands, or lower the floor.",
        )
    else:
        raise ValueError(f"n_bits must be an int or 'auto', got {n_bits!r}")

    # Repartition on the bucket key BEFORE the checkpoint: a
    # localCheckpoint is a stats-less LogicalRDD, and feeding the
    # self-join from one unbalanced low-partition source concentrated a
    # hot bucket's sort/distinct into single tasks (heap OOM at the
    # 500k rung in a 16g JVM, where the pre-checkpoint lineage ran
    # fine). Explicit partitioning keeps the checkpointed blocks
    # balanced and the join's input spread; values are unaffected.
    #
    # The vector and its norm ride WITH the signature (keep= + the
    # norm column below): the checkpointed frame is O(n x bands)
    # wide rows, which both join sides read for free, and the cosine
    # verify runs INSIDE the bucket join's projection. The previous
    # shape (narrow candidates -> distinct -> re-join both vectors)
    # shuffled the full 64-double vector once per CANDIDATE row — at
    # the 1M rung that is 2.7e8 rows x ~550 B ≈ 150 GB of exchange,
    # which filled this container's 78 GB disk twice (ENOSPC mid-sort)
    # on a geometry whose narrow aggregates all pass. Verify-in-join
    # makes the only wide shuffle O(n x bands) (~2 GB at 1M); the
    # candidate stream exists only inside whole-stage codegen, and the
    # distinct dedups the (far smaller) surviving pairs.
    nparts = max(embeddings.sparkSession.sparkContext.defaultParallelism, 2)
    sigs = (
        rhp_signatures(
            embeddings, n_bits, bands, dim, seed, id_col, vec_col,
            keep=(vec_col,),
        )
        .withColumn("_norm", l2_norm(vec_col))
        .repartition(nparts, F.col("band"), F.col("band_sig"))
        .transform(cut_lineage(storage_level=StorageLevel.MEMORY_AND_DISK))
    )
    if max_candidates is not None:
        # Auto mode's escalation already measured the mass at exactly
        # this geometry (a deterministic aggregate of the same
        # signatures) — no second pass over the checkpointed sigs.
        est = (
            measured_est
            if measured_est is not None
            else pair_mass(sigs, ["band", "band_sig"])[0]
        )
        if est > max_candidates:
            band_bits = n_bits // bands
            refuse_over_budget(
                op, est, max_candidates,
                # At the packing/JIT ceiling wider bands are not on the
                # menu — prescribing band width there would send an auto
                # caller in a circle.
                f"The {band_bits}-bit bands are already at the "
                f"RHP_MAX_BAND_BITS={RHP_MAX_BAND_BITS} ceiling — wider "
                f"bands cannot help. Add BANDS (smaller per-band mass "
                f"share per key space; recall recovers exponentially), or "
                f"raise max_candidates if the verify CPU can take it. "
                f"Mass that survives 30-bit bands is dominated by "
                f"exact-duplicate groups — consider exact dedup first."
                if band_bits >= RHP_MAX_BAND_BITS
                else f"LSH candidates grow ~n²/2^bits per band; the "
                f"current {band_bits}-bit bands are under-sized for this "
                f"corpus. Raise n_bits so bits-per-band ≈ "
                f"log2(corpus_rows / target_bucket_size) (re-derive "
                f"recall from the Charikar bound when changing it), or "
                f"raise max_candidates if the spill volume can take it.",
            )

    # Verify-in-join: cosine is computed in the join's output
    # projection (whole-stage codegen — never materialized), the
    # threshold filter runs immediately, and only SURVIVING pairs reach
    # the distinct. A pair colliding in k bands is verified k times
    # (bounded extra CPU, k <= bands) and deduped by the distinct —
    # cosine is a deterministic function of the pair, so distinct on
    # (vec_a, vec_b, cosine) equals distinct on the pair.
    return (
        bucket_pairs(sigs, ["band", "band_sig"], id_col, [vec_col, "_norm"])
        .select(
            F.col(f"{id_col}_a").alias("vec_a"),
            F.col(f"{id_col}_b").alias("vec_b"),
            pair_cosine(
                f"{vec_col}_a", f"{vec_col}_b", "_norm_a", "_norm_b", dim=dim
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .distinct()
    )


#: Above this many corpus rows the SemDeDup pair scan stops broadcasting
#: the build side and switches to the cell-keyed shuffle join. 2M rows of
#: (id, 64-float vec, cell, cos) is ~600 MB serialized — near the edge of
#: a comfortable executor broadcast; real deployments tune it per cluster.
SEMANTIC_DEDUP_BROADCAST_LIMIT = 2_000_000

#: Centroid count at which ``semantic_dedup`` switches its coarse
#: assign's cross-term dot to the flat codegen form (bit-identical; see
#: ``ivf_assign``'s docstring for the n x k cost regime). 512 is the
#: first auto-k rung past every registered query's k (<=128, measured
#: flat-loses at sf0.1) and the 1M rung's auto-k, where n x k >= 5e8
#: puts the dot firmly in the measured flat-wins regime.
IVF_ASSIGN_FLAT_MIN_K = 512

#: Candidate-row budget for the SemDeDup pair scan, priced by
#: ``pair_mass`` over the IVF cells — the rows the within-cell
#: ``vec_a < vec_b`` join materializes; with a FIXED centroid count k it
#: grows as n²/k (the corpus-sized-model law; k must grow ≈ n /
#: target_cell_size to stay subquadratic). Calibrated like
#: ``MAX_RHP_CANDIDATE_ROWS``, from measured rungs on the sweep geometry
#: (Zipf cells, 64-float vectors, 32 cores / 32 GB): 500k vectors at
#: k=128 → 1,225,876,669 (completes, 413.7 s); 1M at k=512 →
#: 1,221,765,599 (completes, near-linear); 1M at k=128 → 4,642,830,936
#: (~25 min in the pair scan, then AGGREGATE_OUT_OF_MEMORY in the CC
#: stage). 2.5e9 is ~2× the passing rungs' load and refuses the one that
#: died. A single-node budget; cluster callers with real aggregate
#: memory can raise it.
MAX_SEMDEDUP_CANDIDATE_ROWS = 2_500_000_000


def semantic_pair_candidates(
    blocked: DataFrame,
    threshold: float,
    broadcast_limit: int = SEMANTIC_DEDUP_BROADCAST_LIMIT,
    dim: int | None = None,
    max_candidates: int | None = MAX_SEMDEDUP_CANDIDATE_ROWS,
    _keep_cos: bool = False,
) -> DataFrame:
    """The SemDeDup pair scan: same-cell pairs (:func:`bucket_pairs` on
    the cell) with :func:`pair_cosine` >= ``threshold``, from a (vec_id,
    vec, centroid_id, cos_centroid) table. Exposed so plan tests can pin
    both physical shapes.

    COST MODEL (the sf10 sweep's a45 watch item): the within-cell
    scan is quadratic in cell size, so with a FIXED centroid count k the
    whole operator is O(n²/k) — the 500k-vector sweep measured a45 at
    1.34x per input at 250x growth, the n²/k curve showing through.
    SemDeDup stays subquadratic only if k GROWS with the corpus
    (k ≈ n / target_cell_size, the paper's own deployment shape); the
    registered a45 keeps 128 fixed centroids because its oracle needs
    deterministic centroid literals, and absorbs the superlinear term at
    driver scales. ``max_candidates`` (ON by default,
    ``MAX_SEMDEDUP_CANDIDATE_ROWS``; the RHP sibling's guard, after the
    1M rung measured k=128 grinding 25 min into an OOM) enforces the
    contract: ``pair_mass`` over the cells is the exact pair-scan row
    count (one bounded aggregate); past the budget the call refuses,
    naming the largest cells and the k-growth law, instead of grinding
    into ``AGGREGATE_OUT_OF_MEMORY``. Values-neutral; ``None`` disables.

    NOTE — eager action: choosing the join strategy runs
    ``blocked.count()`` at CONSTRUCTION time (not at the first action),
    and the self-join then consumes ``blocked`` once per branch. Callers
    must pass a materialized frame (``localCheckpoint``/cached) or the
    full upstream lineage executes three times; ``semantic_dedup`` does
    this. The gate is row-count-based as a proxy for broadcast bytes —
    rows x (vec dims x 8B + key widths); ``broadcast_limit``'s default
    assumes ~64-float vectors, tune it per schema/cluster.

    Size-gated join strategy:

    - ``rows <= broadcast_limit`` — broadcast the build side, ``_spread``
      the probe side. The checkpointed input is a stats-less LogicalRDD,
      so left alone the planner picks a sort-merge join whose tiny
      shuffle AQE coalesces to ONE partition — serializing every
      pairwise cosine (measured 8× slower at sf0.1). Fastest while the
      corpus fits in a broadcast.
    - beyond it — repartition BOTH sides by the cell key with an
      explicit partition count (explicit numPartitions keeps AQE from
      coalescing the exchange) and equi-join on the cell. Cell count
      grows with the corpus, so the cell-keyed shuffle is the parallel
      scale path: each task joins whole cells, no broadcast ceiling.
    """
    n_rows = None
    if max_candidates is not None:
        # ``blocked`` is checkpointed by semantic_dedup, so the guard
        # costs one cheap job over materialized blocks, not a lineage
        # re-execution. The join-strategy gate's row count rides the
        # SAME aggregate (Σ cell sizes = |blocked|) — one action instead
        # of a separate blocked.count().
        est, n_rows = pair_mass(blocked, ["centroid_id"])
        _LOG.info(
            "semantic_pair_candidates: sigma n(n-1)/2 = %d "
            "candidate rows (budget %d)",
            est,
            max_candidates,
        )
        if est > max_candidates:
            top = (
                blocked.groupBy(F.col("centroid_id").alias("_cell"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("_cell"))
                .limit(3)
                .collect()
            )
            refuse_over_budget(
                "semantic_pair_candidates", est, max_candidates,
                f"The within-cell pair scan is O(n²/k) with a FIXED "
                f"centroid count k (largest cells: "
                f"{[(r['_cell'], r['n']) for r in top]}) — a corpus-sized "
                f"model: train more centroids so k ≈ corpus_rows / "
                f"target_cell_size (the SemDeDup paper's own deployment "
                f"shape; semdedup_auto_k gives the recipe), or raise "
                f"max_candidates if the aggregate memory can take it.",
            )

    # per-VECTOR norms ride the join sides so the per-PAIR work is the
    # dot product alone (~2.5x less HOF work in the pair verify)
    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("vec_id").alias("vec"),
            F.col("vec").alias("v"),
            l2_norm("vec").alias("_norm"),
            F.col("centroid_id").alias("cell"),
        )

    if n_rows is None:
        n_rows = blocked.count()
    if n_rows <= broadcast_limit:
        joined = bucket_pairs(
            side(_spread(blocked)), ["cell"], "vec", ["v", "_norm"],
            right=F.broadcast(side(blocked)),
        )
    else:
        nparts = max(
            blocked.sparkSession.sparkContext.defaultParallelism, 2
        )
        joined = bucket_pairs(
            side(blocked), ["cell"], "vec", ["v", "_norm"],
            place=lambda df, s: df.repartition(nparts, F.col(f"cell_{s}")),
        )
    return (
        joined.select(
            "vec_a",
            "vec_b",
            # use_flat: the SemDeDup pair scan is the corpus family's
            # heaviest dot site (Σcell² pair rows) — an sf10 A/B
            # measured a45 at 390.2s flat vs 932.4s fold on 500k
            # vectors. See functions/vectors.py for the tradeoff rule.
            pair_cosine(
                "v_a", "v_b", "_norm_a", "_norm_b", dim=dim, use_flat=True
            ).alias("pair_cos"),
        )
        .filter(F.col("pair_cos") >= F.lit(threshold))
        # _keep_cos (internal): semantic_dedup's percolation warning
        # re-runs the scan once to histogram the surviving cosines —
        # the public surface stays (vec_a, vec_b).
        .select(
            *(["vec_a", "vec_b", "pair_cos"] if _keep_cos else ["vec_a", "vec_b"])
        )
    )


#: Cell size the SemDeDup provisioning recipe ``semdedup_auto_k`` targets.
SEMDEDUP_TARGET_CELL = 2000

#: Fewest centroids ``semdedup_auto_k`` provisions, however small the
#: corpus.
SEMDEDUP_MIN_K = 16


def semdedup_auto_k(n_rows: int) -> int:
    """The k∝n provisioning recipe for SemDeDup, as code: centroid count
    k = next power of two ≥ n_rows / SEMDEDUP_TARGET_CELL (floored at
    ``SEMDEDUP_MIN_K``).
    Powers of two keep the quantizer size a round model artifact and the
    recipe deterministic.

    This is the rule the measured rungs validated: at 1M vectors it
    gives k=512 — the geometry the 1M rung COMPLETES with (near-linear,
    Σpairs ≈ 1.2e9 = the 500k/k=128 load), where the fixed k=128 the
    oracle pins measured a 25-min grind into AGGREGATE_OUT_OF_MEMORY.
    Callers with a real corpus train k centroids (k-means or any coarse
    quantizer); the bench harness seeds them deterministically with
    ``vec_id % 97 == 0 AND vec_id < 97*k``.
    """
    if n_rows <= 0:
        return SEMDEDUP_MIN_K
    need = max(SEMDEDUP_MIN_K, -(-n_rows // SEMDEDUP_TARGET_CELL))  # ceil div
    return 2 ** math.ceil(math.log2(need))


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_limit: int = SEMANTIC_DEDUP_BROADCAST_LIMIT,
    dim: int | None = None,
    max_candidates: int | None = MAX_SEMDEDUP_CANDIDATE_ROWS,
    probes: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    by embedding similarity. Cluster the corpus with a coarse quantizer,
    link pairs whose cosine exceeds ``threshold`` WITHIN each cluster,
    connected-component the links into duplicate groups, and keep one
    representative per group — per the paper, the point FARTHEST from
    its cluster centroid (lowest cosine-to-centroid; id tiebreak).

    Returns ``(id_col, component, cos_centroid, kept)`` with kept in
    {0, 1}; filtering ``kept = 1`` yields the deduplicated corpus.

    Scale shape: the O(n²) pair scan is confined to IVF cells (the
    paper's own trick — cells bound pair candidates by cluster size, not
    corpus size); the assigned/blocked input is materialized once
    (``localCheckpoint``) so the self-join does not re-execute the
    centroid scoring per branch; components use the bounded-round CC
    operator; the final keep-rank is a per-component window over
    component sizes, never the corpus. The pair join itself is
    size-gated (``semantic_pair_candidates``): broadcast below
    ``broadcast_limit`` rows, cell-keyed repartition join above it —
    both paths produce identical pairs (equality-tested).

    Guard rail (forwarded to ``semantic_pair_candidates``; the O(n²/k)
    cost model is documented there): ``max_candidates`` — ON by default
    — refuses past a Σ n(n−1)/2 candidate budget calibrated to the
    measured 500k/1M rungs, so an under-provisioned quantizer fails in
    seconds naming the largest cells and the k-growth law instead of
    grinding to OOM. Provision k with ``semdedup_auto_k`` (k ≈ corpus /
    target_cell_size) to stay under it at any corpus size.

    ``probes`` (by measurement): cell confinement has a
    structural recall cost — a dup pair straddling a cell boundary is
    NEVER compared, whatever the threshold. Measured on the 500k rung
    (``scripts/measure_semdedup_recall.py``): 0.8115 of planted dup
    pairs (cosine ≈ 0.99) share their argmax cell at auto-k, falling
    as k grows (0.7878 at 4x auto-k). ``probes=2`` scans each vector
    in its top-2 cells — measured pair coverage 0.9901 — at the cost
    of the rank window's n x k exchange (``ivf_assign_topp``) and up
    to ~4x within-cell candidate mass (the budget guard counts the
    expanded membership exactly). The keep rule is unchanged: primary
    cell's ``cos_centroid``, one survivor per component; extra probes
    only ADD edges, so components merge, never split. ``probes=1`` is
    the single-assignment operator (the construction-time cost note
    below applies to both).

    CONSTRUCTION-TIME ACTIONS (the same honesty note as
    ``semantic_pair_candidates``'s ``blocked.count()``): building this
    frame runs connected_components' edge checkpoint and budget collect
    eagerly (and its star rounds above the edge budget), plus ONE
    extra two-row aggregate over the component labels for the
    percolation tripwire (warns when the largest component exceeds 20%
    of the corpus: at threshold 0.40 the clustered 500k rung collapsed
    to a single component, i.e. SemDeDup would drop essentially
    everything — a threshold-semantics problem the caller must see, not
    infer from a tiny keep count).
    """
    from .dedup import connected_components

    from pyspark import StorageLevel

    # Coarse-assign cost is |corpus| x k cross-term dots — under the
    # k ∝ n provisioning rule this grows as n²/SEMDEDUP_TARGET_CELL, and
    # at the 2.5M/k=2048 rung the interpreted fold made the assign the leg's
    # dominant stage. Past IVF_ASSIGN_FLAT_MIN_K centroids (and with
    # dim known) the dot routes through the flat codegen form —
    # bit-identical (same left-assoc order, tests/test_vectors_dim.py),
    # so oracle parity is unaffected. Small k (every registered sf0.1
    # query, k<=128) stays on the fold, where the flat form's per-plan
    # compile constant exceeds its savings. centroids is small by
    # contract (it is about to be broadcast), so the count is one cheap
    # action.
    check_probes(probes)
    k = centroids.count()
    assign_flat = dim is not None and k >= IVF_ASSIGN_FLAT_MIN_K
    if probes == 1:
        assigned = ivf_assign(
            embeddings,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            use_flat=assign_flat,
        )
        # The checkpointed frame carries the full embedding arrays, so
        # HOW it is stored matters at corpus scale: the blocks are
        # stored SERIALIZED (MEMORY_AND_DISK in PySpark is the
        # serialized level; the Dataset default is DESER) —
        # deserialized row objects inflate a 64-float array row ~5-10x,
        # and an sf10 re-run OOM'd an 8 GB heap exactly there
        # (maybeCacheDiskValuesInMemory re-inflating disk blocks into
        # one contiguous in-memory vector on read-back). Serialized
        # blocks also stream to/from disk in chunks instead of
        # re-materializing whole partitions. Values are unaffected;
        # this is storage layout only.
        blocked = (
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
            )
            .join(
                assigned.select(
                    "vec_id",
                    "centroid_id",
                    F.col("cosine").alias("cos_centroid"),
                ),
                "vec_id",
            )
            .transform(
                cut_lineage(storage_level=StorageLevel.MEMORY_AND_DISK)
            )
        )
        scan_input = blocked
        keep_src = blocked
    else:
        # Multi-probe membership: p rows per vector, each carrying the
        # probed cell and the cosine TO THAT CELL. ONE n x k scoring
        # pass serves both the scan membership and the primary
        # assignment (rank 1 is ivf_assign's answer by the shared total
        # order) — the checkpointed narrow memb table is consumed
        # twice instead of re-scoring. The keep rule still reads the
        # PRIMARY cos_centroid.
        # LAZY truncation: memb's first consumer is
        # the scan_input checkpoint job below, which references it
        # exactly ONCE — the n x k scoring materializes inside that job
        # instead of paying a dedicated serial job first. keep_src reads
        # the blocks later (they exist by then). Values unchanged.
        memb = ivf_assign_topp(
            embeddings,
            centroids,
            probes,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            use_flat=assign_flat,
        ).transform(cut_lineage(eager=False))
        scan_input = (
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
            )
            .join(
                memb.select(
                    "vec_id",
                    "centroid_id",
                    F.col("cosine").alias("cos_centroid"),
                ),
                "vec_id",
            )
            .transform(
                cut_lineage(storage_level=StorageLevel.MEMORY_AND_DISK)
            )
        )
        keep_src = memb.filter(F.col("rank") == 1).select(
            "vec_id", F.col("cosine").alias("cos_centroid")
        )
    pairs = semantic_pair_candidates(
        scan_input, threshold, broadcast_limit=broadcast_limit,
        dim=dim, max_candidates=max_candidates,
    )
    if probes > 1:
        # A pair sharing several probed cells is emitted once per
        # shared cell; edges feed CC, so pair-distinct is values-exact.
        pairs = pairs.distinct()
    comp = connected_components(
        pairs, "vec_a", "vec_b", keep_src.select("vec_id"), "vec_id"
    )
    # Percolation tripwire (by the 500k legs): with
    # transitive CC linking, a weak threshold chains the corpus — at
    # 0.40 on the clustered 500k rung, 500k rows collapsed to 618
    # components single-probe and to ONE with probes=2, i.e. SemDeDup
    # would drop essentially everything. That is a threshold-semantics
    # problem the caller must see, not infer from a tiny keep count:
    # one bounded two-row aggregate (max component size vs total) on
    # the CC output, WARN past 20%. Values are untouched.
    stats = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n")
    ).agg(F.max("n").alias("mx"), F.sum("n").alias("total")).collect()[0]
    if stats["total"] and stats["mx"] / stats["total"] > 0.20:
        # Prescription: name the
        # smallest threshold the MEASURED cosine distribution suggests
        # would de-percolate, not just the symptom. Heuristic: a random
        # graph grows a giant component past mean degree ~1 (Erdős–
        # Rényi), so pick the smallest t keeping at most n/2 edges.
        # Cost: ONE re-run of the pair scan (warning path only — the
        # run is already known broken for dedup semantics), collected
        # as a ≤~60-bucket rounded-cosine histogram, never the edges.
        scored_pairs = semantic_pair_candidates(
            scan_input, threshold, broadcast_limit=broadcast_limit,
            dim=dim, max_candidates=None, _keep_cos=True,
        )
        if probes > 1:
            # CC consumed pair-DISTINCT edges; the histogram must count
            # the same set, or multi-cell emissions bias the
            # prescription high (pair_cos is a pair function, so
            # 3-column distinct equals pair distinct).
            scored_pairs = scored_pairs.distinct()
        hist = (
            scored_pairs
            .groupBy(F.round("pair_cos", 2).alias("c"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cum, t_fix = 0, None
        for c, n_edges in sorted(
            ((r["c"], r["n"]) for r in hist), reverse=True
        ):
            cum += n_edges
            if cum > stats["total"] / 2:
                break
            t_fix = c
        _LOG.warning(
            "semantic_dedup: largest component holds %d of %d rows "
            "(%.0f%%) — transitive CC chaining at threshold %s is "
            "percolating (the 500k rung collapsed to one component at "
            "0.40). %s Or treat the output as clustering.",
            stats["mx"],
            stats["total"],
            100.0 * stats["mx"] / stats["total"],
            threshold,
            (
                # t_fix is a round(·, 2) BUCKET (spans t_fix ± 0.005):
                # prescribing its upper edge guarantees the whole bucket
                # is excluded, so the kept mass is provably <= the n/2
                # the heuristic counted (quoting the bucket center could
                # keep edges from its lower half).
                f"The measured cosine histogram suggests threshold >= "
                f"{t_fix + 0.005:.3f} (the upper edge of the last "
                f"rounded-cosine bucket keeping <= n/2 edges — below "
                f"the giant-component regime) for dedup semantics."
                if t_fix is not None
                else "Even the top cosine bucket alone exceeds n/2 "
                "edges — the corpus is denser than any threshold can "
                "de-percolate; use a finer quantizer or treat the "
                "output as clustering."
            ),
        )
    w = Window.partitionBy("component").orderBy(
        F.asc("cos_centroid"), F.asc("vec_id")
    )
    return (
        comp.join(keep_src.select("vec_id", "cos_centroid"), "vec_id")
        .withColumn(
            "kept",
            F.when(F.row_number().over(w) == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            F.col("vec_id").alias(id_col), "component", "cos_centroid", "kept"
        )
    )


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(dim, n, mean, var, min_v, max_v): per-dimension distribution QC
    for an embedding column — the health check an embedding store runs
    after every encoder change (a dead dimension has var ~ 0; a scale
    bug shows up as a mean/extremum shift).

    Exactness discipline: the float->double element cast is exact; sums
    accumulate in DECIMAL(38,10) so partial-aggregate merge order cannot
    perturb the result; mean/variance are then derived with plain double
    arithmetic from those exact sums (identical in any engine).

    Scale shape: posexplode fans out rows x dims, but the aggregate
    map-side-combines to one partial row per (partition, dim) — the
    shuffle carries |dims| x |partitions| rows regardless of corpus
    size. No window, no join.
    """
    x = F.col("x").cast("double")
    xd = x.cast("decimal(38,10)")
    return (
        emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("_s1"),
            F.sum((x * x).cast("decimal(38,10)")).alias("_s2"),
            F.min(x).alias("min_v"),
            F.max(x).alias("max_v"),
        )
        .select(
            "dim",
            "n",
            F.round(F.col("_s1").cast("double") / F.col("n"), 6).alias("mean"),
            F.round(
                F.col("_s2").cast("double") / F.col("n")
                - (F.col("_s1").cast("double") / F.col("n"))
                * (F.col("_s1").cast("double") / F.col("n")),
                6,
            ).alias("var"),
            "min_v",
            "max_v",
        )
    )

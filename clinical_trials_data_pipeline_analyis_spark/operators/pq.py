"""Product quantization (PQ) over embedding columns.

The compression stage the reference's ANN story stops short of: split
each D-dim vector into ``m`` contiguous subvectors, quantize every
subvector against a per-subspace codebook, and answer top-k queries with
asymmetric distance computation (ADC) — a per-query lookup table (LUT)
of query-subvector -> code distances, summed over the stored codes
(Jegou/Douze/Schmid, "Product quantization for nearest neighbor
search", TPAMI 2011; composes with the IVF coarse stage in
``operators/similarity.py`` exactly as IVFADC does).

Scale shape, in order of data volume touched:

- ``pq_encode``: the corpus crosses a BROADCAST codebook (m*k rows) and
  keeps one (vec_id, subspace, code_id) row per subvector — the big side
  never shuffles except the window argmin, which is keyed by
  (vec_id, subspace) and therefore dense and skew-free. Stored codes are
  m bytes per vector (k<=256) vs 4*D bytes of float32 — 32x smaller at
  D=64, m=8.
- ``pq_adc_topk``: the LUT (|queries| * m * k rows) is computed once and
  broadcast; candidates are ranked by ONE equi-join on
  (subspace, code_id) plus a (query_id, vec_id) sum — no vector math
  touches the corpus at query time. This is the property that makes PQ
  the 100 TB search path: query cost is independent of D.

Determinism/oracle notes: distances are computed as
``dot(a,a) - 2*dot(a,b) + dot(b,b)`` with ordered zip_with/aggregate
folds (bit-identical to DuckDB's list_dot_product), rounded to 6dp;
ADC sums go through DECIMAL(18,6) so the per-subspace addition order
cannot perturb the total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot
from .dedup import _spread


def _l2sq(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Squared L2 distance with a fixed scalar op order (oracle-exact).
    ``dim`` is the (default-inert) width hint from
    ``functions.vectors.dot`` — bit-identical either way. str operands
    are column names (one parsed SQL string per dot — the
    construction-cost contract of ``functions.vectors.dot``)."""
    return (
        dot(a, a, dim=dim)
        - F.lit(2.0) * dot(a, b, dim=dim)
        + dot(b, b, dim=dim)
    )


def split_subvectors(
    df: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, subspace 0..m-1, subvec array<double>) — D must divide by m.

    Row-local: one explode, no shuffle beyond the input spreading.
    """
    vec = F.col(vec_col).cast("array<double>")
    sub_len = (F.size(vec) / m).cast("int")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("subspace"),
            F.slice(vec, s * sub_len + 1, sub_len).alias("subvec"),
        ),
    )
    return _spread(df).select(
        F.col(id_col), F.explode(subs).alias("sub")
    ).select(id_col, "sub.subspace", "sub.subvec")


def seed_codebooks(
    df: DataFrame,
    m: int,
    mod: int = 61,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codes: int = 256,
) -> DataFrame:
    """Deterministic codebooks: subvectors of every ``mod``-th vector,
    CAPPED at ``max_codes`` codes per subspace (ids below
    ``mod * max_codes``).

    (subspace, code_id, codevec) with code_id = the seed vector's id —
    the same mod-selection seeding a24's k-means uses, so a training
    loop (``pq_train_step``) refines from a reproducible start.

    The cap is the 100 TB contract: without it the codebook grows as
    n/mod with the corpus, which (a) silently breaks PQ's whole point —
    a code must fit in one byte, k <= 256 — and (b) makes encode cost
    n x n/mod, QUADRATIC (the round-6 sf1 run measured exactly that:
    the whole PQ family scaled ~1.3-1.5x per input row instead of
    flat). With the cap, the codebook is a fixed-size model: the same
    seeds at any corpus size past the prefix, encode strictly linear.
    """
    seeds = df.filter(
        (F.col(id_col) % mod == 0) & (F.col(id_col) < mod * max_codes)
    )
    return split_subvectors(seeds, m, id_col, vec_col).select(
        "subspace", F.col(id_col).alias("code_id"), F.col("subvec").alias("codevec")
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int | None = None,
) -> DataFrame:
    """Quantize: nearest code per (vector, subspace) by squared L2.

    Returns (vec_id, subspace, code_id, dist2) — dist2 rounded to 6dp,
    ties broken by code_id. Plan: corpus subvectors x BROADCAST codebook,
    argmin as a lexicographic MIN(struct(dist2, code_id)) hash
    aggregate.

    Two round-8 plan changes, both bit-identical in output (the sf10
    sweep measured the pre-change form at 1.12x per input — the resi-
    due was THIS operator's constant, not an n² term):

    - Norms once per SIDE, not per pair: dot(sub, sub) is computed once
      per corpus subvector before the join and dot(code, code) once per
      broadcast code row, so the per-pair work is the single cross-term
      fold — the same (a·a) - 2(a·b) + (b·b) scalar sequence on the
      same doubles (fold order unchanged, oracle parity unaffected),
      but 3x less higher-order-function work on the |corpus| x k join.
    - Argmin via MIN over the orderable (dist2, code_id) struct instead
      of a row_number window: same total order (dist2 asc, code_id asc
      tie-break), but a hash aggregate with map-side partial combine —
      the |corpus| x k scored rows never cross a full sort-shuffle;
      only one pre-combined row per (vec_id, subspace) does.
    """
    subs = split_subvectors(df, m, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"),
        "subspace",
        "subvec",
        dot("subvec", "subvec", dim=sub_dim, use_flat=True).alias("_na"),
    )
    cb = codebooks.select(
        F.col("subspace").alias("cb_subspace"),
        "code_id",
        "codevec",
        dot("codevec", "codevec", dim=sub_dim, use_flat=True).alias("_nb"),
    )
    scored = (
        subs.join(F.broadcast(cb), F.col("subspace") == F.col("cb_subspace"))
        .select(
            "vec_id",
            "subspace",
            "code_id",
            F.round(
                F.col("_na")
                - F.lit(2.0)
                * dot("subvec", "codevec", dim=sub_dim, use_flat=True)
                + F.col("_nb"),
                6,
            ).alias("dist2"),
        )
    )
    return (
        scored.groupBy("vec_id", "subspace")
        .agg(F.min(F.struct("dist2", "code_id")).alias("_best"))
        .select(
            "vec_id",
            "subspace",
            F.col("_best.code_id").alias("code_id"),
            F.col("_best.dist2").alias("dist2"),
        )
    )


def pq_train_step(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration per subspace: re-center each code on the mean
    of its assigned subvectors (the per-subspace analog of a24's k-means
    update; iterate pq_encode -> pq_train_step to train).

    Returns (subspace, code_id, dim, codebook_value) with dims local to
    the subspace (1..D/m). Sums are ordered folds over members sorted by
    vec_id, so the step is bit-reproducible. One shuffle, keyed
    (subspace, code_id, dim).
    """
    assign = pq_encode(df, codebooks, m, id_col, vec_col).select(
        "vec_id", "subspace", "code_id"
    )
    subs = split_subvectors(df, m, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("subspace").alias("s_subspace"), "subvec"
    )
    members = assign.join(
        subs,
        (assign.vec_id == subs.vec_id) & (assign.subspace == subs.s_subspace),
    ).select(assign.vec_id, assign.subspace, "code_id", "subvec")
    exploded = members.select(
        "subspace",
        "code_id",
        F.col("vec_id").alias("_mid"),
        F.posexplode("subvec").alias("pos0", "v"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_mid", "v"))),
            lambda s: s["v"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return exploded.groupBy(
        "subspace", "code_id", (F.col("pos0") + 1).cast("int").alias("dim")
    ).agg((ordered_sum / F.count(F.lit(1))).alias("codebook_value"))


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    m: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance top-k: rank stored codes against per-query
    subvector->code lookup tables.

    (query_id, candidate_id, adc, rank): adc = sum over subspaces of the
    rounded LUT distance (summed as DECIMAL(18,6) — exact), rank by
    (adc ASC, candidate_id ASC). The LUT (|q| * m * |codes|) is built
    with vector math and BROADCAST; the corpus side is the codes table
    only — no embedding arrays at query time.
    """
    qsubs = split_subvectors(queries, m, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("subspace").alias("q_subspace"),
        F.col("subvec").alias("qvec"),
    )
    cb = codebooks.select(
        F.col("subspace").alias("cb_subspace"), "code_id", "codevec"
    )
    lut = qsubs.join(
        F.broadcast(cb), F.col("q_subspace") == F.col("cb_subspace")
    ).select(
        "query_id",
        F.col("q_subspace").alias("subspace"),
        F.col("code_id").alias("lut_code"),
        F.round(_l2sq("qvec", "codevec"), 6)
        .cast("decimal(18,6)")
        .alias("d2"),
    )
    summed = (
        codes.select(
            F.col("vec_id").alias("candidate_id"),
            F.col("subspace").alias("c_subspace"),
            F.col("code_id").alias("c_code"),
        )
        .join(
            F.broadcast(lut),
            (F.col("c_subspace") == F.col("subspace"))
            & (F.col("c_code") == F.col("lut_code")),
        )
        .filter(F.col("candidate_id") != F.col("query_id"))
        .groupBy("query_id", "candidate_id")
        .agg(F.sum("d2").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("candidate_id"))
    return (
        summed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def residual_vectors(
    embeddings: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid_id, residual) = vector minus its home centroid.

    The IVFADC refinement: PQ codebooks trained on residuals are far
    tighter than on raw vectors because the coarse quantizer has already
    removed the cell mean — feed this frame's ``residual`` column into
    ``seed_codebooks``/``pq_encode``/``pq_train_step`` in place of the
    raw embedding (Jegou et al. TPAMI 2011 §III.C).

    Plan: one join with the corpus-sized assignment table on vec_id and
    one BROADCAST centroid lookup; the subtraction is row-local
    ``zip_with`` — no extra shuffle beyond the assignment join, which a
    staged index layout co-partitions away (both sides keyed vec_id).
    """
    a = assignments.select(
        F.col(id_col).alias("_aid"), "centroid_id"
    )
    c = centroids.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    return (
        embeddings.select(id_col, vec_col)
        .join(a, F.col(id_col) == F.col("_aid"))
        .join(F.broadcast(c), F.col("centroid_id") == F.col("_cid"))
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("_cvec").cast("array<double>"),
                lambda x, y: x - y,
            ).alias("residual"),
        )
    )


def ivfpq_topk_residual(
    queries: DataFrame,
    codes: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    m: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Textbook IVFADC (Jegou et al. TPAMI 2011 §III.C): the index
    stores RESIDUAL-encoded PQ codes (``pq_encode`` over
    ``residual_vectors`` output), and each query builds one LUT PER
    PROBED CELL — the query's residual differs per cell, since for a
    candidate living in cell c,
    ``||q - (centroid_c + decode(code))||² = ||(q-centroid_c)_sub -
    codevec||²`` summed over subspaces.

    ``codes`` must carry the candidate's home cell: (vec_id, subspace,
    code_id, centroid_id) — i.e. ``pq_encode(residual_vectors(...))``
    joined back to the assignment, which the staged index build keeps
    anyway. Returns (query_id, candidate_id, adc, rank<=k).

    Scale shape: identical to ``ivfpq_topk`` except the LUT is nprobe×
    larger (|q| * nprobe * m * |codes| rows — still broadcast for
    interactive batches); candidate restriction and the final
    partial-agg sum are unchanged. This is the recall-accurate index;
    ``ivfpq_topk`` (raw-vector codes, one LUT) is the plan-shape twin.
    """
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    qres = (
        probes.join(
            queries.select(
                F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
            ),
            F.col("query_id") == F.col("_qid"),
        )
        .join(
            F.broadcast(
                centroids.select(
                    F.col(id_col).alias("_pcid"), F.col(vec_col).alias("_pcvec")
                )
            ),
            F.col("p_cent") == F.col("_pcid"),
        )
        .select(
            "query_id",
            F.col("p_cent").alias("cell"),
            F.zip_with(
                F.col("_qvec").cast("array<double>"),
                F.col("_pcvec").cast("array<double>"),
                lambda x, y: x - y,
            ).alias("qres"),
        )
    )
    qsubs = split_subvectors(
        qres.withColumn("_lutkey", F.concat_ws("|", "query_id", "cell")),
        m,
        id_col="_lutkey",
        vec_col="qres",
    )
    cb = codebooks.select(
        F.col("subspace").alias("cb_subspace"), "code_id", "codevec"
    )
    lut = (
        qsubs.join(F.broadcast(cb), F.col("subspace") == F.col("cb_subspace"))
        .select(
            F.split(F.col("_lutkey"), r"\|")[0].cast("long").alias("l_query"),
            F.split(F.col("_lutkey"), r"\|")[1].cast("long").alias("l_cell"),
            F.col("subspace").alias("l_subspace"),
            F.col("code_id").alias("l_code"),
            F.round(_l2sq("subvec", "codevec"), 6)
            .cast("decimal(18,6)")
            .alias("d2"),
        )
    )
    candidates = (
        assignments.select(
            F.col("vec_id").alias("candidate_id"),
            F.col("centroid_id").alias("a_cent"),
        )
        .join(F.broadcast(probes), F.col("a_cent") == F.col("p_cent"))
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select("query_id", "candidate_id", F.col("a_cent").alias("home_cell"))
        .distinct()
    )
    summed = (
        codes.select(
            F.col("vec_id").alias("c_id"),
            F.col("subspace").alias("c_subspace"),
            F.col("code_id").alias("c_code"),
        )
        .join(F.broadcast(candidates), F.col("c_id") == F.col("candidate_id"))
        .join(
            F.broadcast(lut),
            (F.col("l_query") == F.col("query_id"))
            & (F.col("l_cell") == F.col("home_cell"))
            & (F.col("l_subspace") == F.col("c_subspace"))
            & (F.col("l_code") == F.col("c_code")),
        )
        .groupBy("query_id", "candidate_id")
        .agg(F.sum("d2").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("candidate_id"))
    return (
        summed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    from .similarity import ivf_assign_topp

    return ivf_assign_topp(
        queries, centroids, nprobe, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("p_cent")
    )


def ivfpq_topk(
    queries: DataFrame,
    codes: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    m: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_candidates: bool = True,
) -> DataFrame:
    """IVFADC search: the full two-stage ANN index — IVF coarse
    quantizer restricts candidates to each query's ``nprobe`` nearest
    cells, then PQ asymmetric distances rank ONLY those candidates.

    Inputs are the STAGED index artifacts a production deployment builds
    once and reuses (the same staged contract as ``dedup_pipeline``):
    ``codes`` = ``pq_encode`` output (vec_id, subspace, code_id),
    ``assignments`` = ``ivf_assign`` output (vec_id, centroid_id),
    ``codebooks``/``centroids`` = trained quantizers.

    Returns (query_id, candidate_id, adc, rank<=k), ADC summed as
    DECIMAL(18,6) (order-exact), rank tiebroken by candidate_id.

    Scale shape at 100 TB: centroids, the query probe table
    (|q| * nprobe rows) and the LUT (|q| * m * 256 rows) are all
    BROADCAST; the corpus-sized sides (assignments, codes) are touched
    by exactly one join each and never shuffle until the final
    (query_id, candidate_id) partial-aggregated sum — whose input is
    already cut to nprobe/|centroids| of the corpus by the cell
    restriction. The candidate pair table is |q| * nprobe * cell-size
    rows: BROADCAST for interactive query batches (the default); for
    batch-join workloads (every vector is a query) set
    ``broadcast_candidates=False`` and the codes-candidates join
    shuffles on vec_id.
    Classic IVFADC encodes RESIDUALS (vector minus home centroid) for
    tighter distances; this variant encodes raw vectors so every stage
    stays oracle-checkable — the residual refinement slots into
    ``pq_encode``'s input without changing any plan shape.
    """
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    candidates = (
        assignments.select(
            F.col("vec_id").alias("candidate_id"),
            F.col("centroid_id").alias("a_cent"),
        )
        .join(F.broadcast(probes), F.col("a_cent") == F.col("p_cent"))
        .filter(F.col("candidate_id") != F.col("query_id"))
        .select("query_id", "candidate_id")
        .distinct()
    )

    qsubs = split_subvectors(queries, m, id_col, vec_col).select(
        F.col(id_col).alias("q_id"),
        F.col("subspace").alias("q_subspace"),
        F.col("subvec").alias("qvec"),
    )
    cb = codebooks.select(
        F.col("subspace").alias("cb_subspace"), "code_id", "codevec"
    )
    lut = qsubs.join(
        F.broadcast(cb), F.col("q_subspace") == F.col("cb_subspace")
    ).select(
        F.col("q_id"),
        F.col("q_subspace").alias("subspace"),
        F.col("code_id").alias("lut_code"),
        F.round(_l2sq("qvec", "codevec"), 6)
        .cast("decimal(18,6)")
        .alias("d2"),
    )
    cand = F.broadcast(candidates) if broadcast_candidates else candidates
    summed = (
        codes.select(
            F.col("vec_id").alias("candidate_id"),
            F.col("subspace").alias("c_subspace"),
            F.col("code_id").alias("c_code"),
        )
        .join(cand, "candidate_id")
        .join(
            F.broadcast(lut),
            (F.col("c_subspace") == F.col("subspace"))
            & (F.col("c_code") == F.col("lut_code"))
            & (F.col("q_id") == F.col("query_id")),
        )
        .groupBy("query_id", "candidate_id")
        .agg(F.sum("d2").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("candidate_id"))
    return (
        summed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def adc_rerank_topk(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refine stage of a compressed-index search (the "IVFADC+R" move,
    Jegou et al., TPAMI 2011): take the ADC shortlist and re-rank it by
    EXACT cosine over the full-precision vectors, returning the final
    top-k. The quantized index buys the candidate scan; the refine pass
    restores exact ordering at a cost proportional to
    |queries| x shortlist — independent of corpus size.

    ``shortlist`` is (query_id, candidate_id, ...) as produced by
    ``pq_adc_topk`` / ``ivfpq_topk`` with a widened k (the standard
    shortlist factor is 2-10x the final k).

    100 TB shape: the shortlist (KBs) is BROADCAST against the corpus to
    fetch candidate vectors — one pass over the embedding table, no
    shuffle of it — and the query vectors join in by broadcast too. The
    rerank window partitions by query over |q| x shortlist rows.

    Returns (query_id, candidate_id, cosine, rank), cosine rounded to
    6 dp, rank by (cosine DESC NULLS LAST, candidate_id ASC).
    """
    from ..functions.vectors import cosine_similarity

    pairs = shortlist.select("query_id", "candidate_id")
    cand_vecs = corpus.select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("_cvec")
    ).join(F.broadcast(pairs), "candidate_id")
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = cand_vecs.join(F.broadcast(q_vecs), "query_id").select(
        "query_id",
        "candidate_id",
        F.round(
            cosine_similarity("_qvec", "_cvec"), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("candidate_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)

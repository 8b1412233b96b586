"""Deduplication operators for large-scale text pipelines.

All operators are compositions of built-in DataFrame ops (explode /
groupBy / join) — the canonical scalable shapes:

- exact: one shuffle on a 128-bit content hash (never on raw text).
- MinHash + LSH: shingle -> per-seed min-hash signature -> banded
  bucket join. Candidate generation is an equi-join on (band, signature),
  so it scales as the bucket sizes, not O(n^2).
- SimHash: per-token portable hashes -> per-bit majority vote -> 64->32
  bit fingerprint; banding over 16-bit halves for candidate pairs.
- n-gram Jaccard: inverted-index pair generation (join on shingle),
  exact Jaccard from intersection and set sizes.

Hashing is md5-hex (bit-identical in DuckDB), which is what makes every
one of these operators exactly oracle-checkable.

Algorithms are the published standards: MinHash resemblance sketching
(Broder, "On the resemblance and containment of documents", 1997) with
banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3);
SimHash (Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002; Manku et al., WWW 2007 for near-dup detection).
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from functools import reduce
from typing import NoReturn

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..checkpoint import cut_lineage

from ..functions.text import normalized_text, whitespace_tokens, word_shingles

#: Completion-mode diagnostics (auto banding / auto max_df): geometry
#: decisions a caller should be able to see and reproduce. Same
#: pattern as the similarity module's logger.
_LOG = logging.getLogger("clinical_trials_data_pipeline_analyis_spark.dedup")


def _md5(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ahead of explode amplification.

    Document tables often arrive as one (or few) parquet splits; an
    explode that multiplies rows 50-100x would otherwise run on those few
    tasks. This is the same rule at 100 TB: size partitions for the
    POST-explode volume, not the input bytes (sf0.1 measurement: shingle
    generation 6.3s -> 2.9s, pair join 17.6s -> 4.0s).
    """
    target = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    return df.repartition(target)


def _bucket_pairs(n: str) -> Column:
    """C(n, 2) for a bucket-size column: exact BIGINT (n(n−1) is even)."""
    return F.expr(f"{n} * ({n} - 1) div 2")


def pair_mass(df: DataFrame, keys: list[str]) -> tuple[int, int]:
    """``(pairs, rows)`` of the bucket self-join on ``keys``, from ONE
    one-row aggregate over the bucket sizes.

    ``pairs`` is Σ n(n−1)/2 over the buckets of ``df`` — the exact row
    count of the ``id_a < id_b`` self-join. ``rows`` is Σ n = ``df``'s
    row count, so a caller that also needs the count pays no second
    job. Every batch candidate-budget guard prices its join with this
    (the streams price their asymmetric epoch join with
    ``streaming.store_meta``); empty input gives ``(0, 0)``.
    """
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.sum(_bucket_pairs("_n")).alias("pairs"),
            F.sum("_n").alias("rows"),
        )
        .collect()[0]
    )
    return int(row["pairs"] or 0), int(row["rows"] or 0)


def bucket_pairs(
    left: DataFrame,
    keys: Sequence[str],
    id_col: str,
    payload: Sequence[str] = (),
    right: DataFrame | None = None,
    against: bool = False,
    place: Callable[[DataFrame, str], DataFrame] | None = None,
) -> DataFrame:
    """The bucket equi-join :func:`pair_mass` prices, which every
    near-duplicate operator runs: rows of ``left`` joined with the rows
    of ``right`` (default ``left``) that agree on every ``keys`` column.
    The keys, ``id_col`` and each ``payload`` column ride each side,
    suffixed ``_a`` (left) and ``_b`` (right), so a caller verifies its
    candidates in the join's own projection (verify-in-join) instead of
    re-joining the payload onto the pair stream.

    Two modes: symmetric keeps ``id_a < id_b`` (each unordered pair
    once, the join :func:`pair_mass` prices); ``against=True`` keeps
    ``id_a != id_b`` (every left row against every right row of its
    bucket, self-pairs dropped), the streams' epoch join.

    Physical choices stay with the caller: spread, broadcast hints, cap
    semi-joins and salt grids go on the frames it passes in, and
    ``place(side, suffix)`` runs on each suffixed side before the join,
    for a choice that must name a suffixed column (a repartition on the
    key)."""

    def side(df: DataFrame, s: str) -> DataFrame:
        out = df.selectExpr(
            *[f"`{c}` AS `{c}_{s}`" for c in (*keys, id_col, *payload)]
        )
        return out if place is None else place(out, s)

    order = "!=" if against else "<"
    cond = [f"`{k}_a` = `{k}_b`" for k in keys]
    cond.append(f"`{id_col}_a` {order} `{id_col}_b`")
    return side(left, "a").join(
        side(left if right is None else right, "b"), F.expr(" AND ".join(cond))
    )


#: The two 16-bit band keys (lo, hi) of a 32-bit SimHash fingerprint, as
#: SQL over its ``simhash`` column: the band joins, their bucket-size
#: tables, the cap probe, the rescue's other-half windows and the
#: streaming twin all key on these.
SIMHASH_HALVES = (
    "simhash % 65536",
    "CAST(shiftright(simhash, 16) & 65535 AS BIGINT)",
)


def hamming(a: str, b: str) -> Column:
    """The SimHash verify: Hamming distance ``bit_count(a ^ b)`` (INT)
    between the fingerprint columns named ``a`` and ``b``."""
    return F.expr(f"CAST(bit_count(`{a}` ^ `{b}`) AS INT)")


# The guard policy of the near-duplicate operators (MinHash LSH, SimHash,
# n-gram Jaccard, random-hyperplane LSH, SemDeDup and their streaming
# twins): every refusal goes through the helpers below, and each
# operator passes only its own prescription text.


def refuse_over_budget(
    op: str,
    measured: int,
    budget: int,
    fix: str,
    budget_name: str = "max_candidates",
) -> NoReturn:
    """Raise the candidate-budget refusal: ``op`` measured ``measured``
    candidate rows (by :func:`pair_mass` or a sibling count) against
    ``budget``; ``fix`` names what the caller can change."""
    raise ValueError(
        f"{op}: measured ~{measured:,} candidate rows against the budget "
        f"{budget_name}={budget:,}. {fix}"
    )


def check_floor(
    op: str,
    name: str,
    floor: float | None,
    measured: float | None = None,
    what: str = "",
    fix: str = "",
) -> None:
    """Range-check the ``name`` floor, which must lie in (0, 1], and
    refuse when ``measured`` falls below it. A ``None`` floor checks
    nothing; ``measured=None`` only range-checks, for a caller that
    validates before it can measure. ``what`` names the measured
    quantity, ``fix`` what the caller can change."""
    if floor is None:
        return
    if not 0.0 < floor <= 1.0:
        raise ValueError(f"{name} must be in (0, 1], got {floor}")
    if measured is not None and measured < floor:
        raise ValueError(
            f"{op}: {what} is {measured:.4f} — below {name}={floor}. {fix}"
        )


def check_banding(op: str, name: str, total: int, bands: int) -> None:
    """Refuse ``bands`` unless it splits the ``total`` signature
    components into equal bands. Callers run it before any recall
    floor: the recall formulas divide by ``bands`` and floor the rows
    per band."""
    if bands <= 0 or total % bands:
        raise ValueError(
            f"{op}: bands must be a positive divisor of {name}={total}, "
            f"got {bands}"
        )


def check_auto_budget(
    op: str, param: str, budget: int | None, budget_name: str = "max_candidates"
) -> None:
    """Refuse an ``'auto'`` geometry without a budget: auto mode sizes
    the geometry against the budget, and without one it has nothing to
    size against."""
    if budget is None:
        raise ValueError(
            f"{op}: {param}='auto' needs a {budget_name} budget to size "
            f"against."
        )


#: The Jaccard at which the MinHash recall floors evaluate a banding:
#: the recall harness's measured mean over planted near-dup edges,
#: within 3 points of measured recall at every tested banding (BASELINE
#: "Near-dup recall").
LSH_RECALL_JACCARD = 0.84


def minhash_banding_recall(num_hashes: int, bands: int) -> float:
    """Banding-theory recall ``1 − (1 − s^rows)^bands`` of ``bands``
    bands of ``num_hashes // bands`` rows, at s = ``LSH_RECALL_JACCARD``.
    The batch join and the stream's asymmetric store join share it: the
    store join changes who is compared, not the per-pair collision
    probability."""
    return 1.0 - (1.0 - LSH_RECALL_JACCARD ** (num_hashes // bands)) ** bands


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp, is_duplicate): keep lowest id per normalized-content hash."""
    from pyspark.sql import Window

    fp = _md5(normalized_text(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        df.select(id_col, fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .select(id_col, "fp", (F.col("rn") > 1).alias("is_duplicate"))
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Distinct k-word shingles per document (exploded)."""
    return _spread(df).select(
        id_col,
        F.explode(
            F.array_distinct(word_shingles(normalized_text(F.col(text_col)), k))
        ).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature from CHUNKED md5 digests.

    Instead of one md5 per (seed, shingle), the 128-bit digests of
    ``md5(shingle)`` and ``md5('x' || shingle)`` are split into four
    8-hex-char (32-bit) chunks each, giving up to 8 independent hash
    components from 2 digest computations — measured 2.6x faster than the
    per-seed scheme at sf0.1. ``h_i = MIN(chunk_i)``; fixed-width
    lowercase hex compares like the underlying 32-bit integer.

    One explode + one hash-aggregate; the shuffle carries num_hashes
    8-char strings per document.

    Up to 16 components: the ``min_recall`` refusal prescribes
    "re-sign with more hashes", so the signature function must be able
    to FOLLOW its own prescription — components 8-15 come from two more
    prefixed digests (``md5('y'||s)``, ``md5('z'||s)``), computed only
    when requested, so ``num_hashes <= 8`` calls produce the same
    signatures as the 8-component scheme (the streaming stores' pinned
    geometries stay valid).
    """
    if not 1 <= num_hashes <= 16:
        raise ValueError(
            f"minhash_signatures: the chunked-digest scheme provides "
            f"1..16 components (4 x 32-bit chunks from each of 4 "
            f"prefixed md5 digests), got num_hashes={num_hashes}"
        )
    # Formulation note: a shuffle-free alternative exists — per-row
    # array_min over transform(shingles, md5) projections — but measured
    # 5x SLOWER at sf0.1 (22s vs 4s for the LSH query): higher-order
    # functions are CodegenFallback (interpreted per element) and each
    # of the 8 output columns re-evaluates its digest transform, so the
    # md5 work runs 8x instead of 2x. The exploded rows below stay
    # inside whole-stage codegen and each digest is computed once; the
    # extra shuffle is the cheaper trade.
    sh = shingle_sets(df, id_col, text_col, shingle_k)
    digests = [
        _md5(F.col("shingle")),
        _md5(F.concat(F.lit("x"), F.col("shingle"))),
        _md5(F.concat(F.lit("y"), F.col("shingle"))),
        _md5(F.concat(F.lit("z"), F.col("shingle"))),
    ]
    aggs = [
        F.min(
            F.substring(digests[i // 4], (i % 4) * 8 + 1, 8)
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


#: Candidate-row budget for ``lsh_candidate_pairs``, priced by
#: :func:`pair_mass` over the (band, bsig) buckets.
#: Calibrated like ``MAX_RHP_CANDIDATE_ROWS`` / ``MAX_JACCARD_JOIN_ROWS``:
#: ~1e9 rows is large-but-finishable on one node with verify-in-join;
#: past it the fix is geometry (coarser banding) or exact-dedup first,
#: not a bigger shuffle — a template-heavy corpus (the recall fixture's
#: 3,645-doc half-bucket shape) detonates a banded join exactly like
#: the x07 disk-fill did.
MAX_LSH_CANDIDATE_ROWS = 1_000_000_000


def lsh_band_table(
    signatures: DataFrame,
    num_hashes: int,
    bands: int,
    *cols: Column | str,
) -> DataFrame:
    """One row per (document, band): ``cols`` plus the band number and
    the band signature (the concatenated ``h*`` components of that
    band's rows). The bucket table both the banded join and its
    :func:`pair_mass` budget read."""
    rows = num_hashes // bands
    return reduce(
        DataFrame.unionByName,
        [
            signatures.select(
                *cols,
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"h{b * rows + r}") for r in range(rows)]
                ).alias("bsig"),
            )
            for b in range(bands)
        ],
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int | str = 4,
    materialize: bool = True,
    estimate: bool = False,
    max_candidates: int | None = MAX_LSH_CANDIDATE_ROWS,
    min_recall: float | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become a candidate pair.

    The pairs are :func:`bucket_pairs` over the (band, bsig) buckets of
    :func:`lsh_band_table`.

    ``materialize`` (default on) checkpoints the signature table first:
    the two band-table sides otherwise each embed — and re-execute — the
    whole signature pipeline (exchange reuse does not fire across the
    differently-aliased band unions; measured 4.5s vs 2.0s at sf0.1 for
    the pair step). Pass False when the input is already materialized.

    ``estimate=True`` appends ``jaccard_estimate`` = (agreeing hashes)
    / num_hashes, rounded to 6, computed IN the band join's projection
    (verify-in-join): the full signature rides each band side — eight
    8-char lowercase-hex STRING columns (md5 substrings from
    :func:`minhash_signatures`, ~16 B each serialized, ~128 B per band
    row) — instead of being re-joined onto the candidate list
    afterwards: two fewer shuffles of the candidate stream, and the
    distinct dedups (doc_a, doc_b, estimate), which equals
    pair-distinct because the estimate is a deterministic function of
    the pair. Equality-on-string matches equality-on-value here, so
    the strings are NOT cast to long: ``conv()`` per hash per band row
    would add 8 codegen conversions to save ~64 B/row of shuffle —
    measured noise at the band-table sizes the budget guard permits.

    ``max_candidates`` is the candidate budget: :func:`pair_mass` over
    the band table prices the join's exact fan-out in one narrow
    aggregate, and the call refuses loudly past the budget instead of
    detonating the shuffle.
    Values-neutral; ``None`` disables it. Callers that pre-materialize
    signatures (``dedup_pipeline``) pay one cheap scan of the
    checkpointed table; with ``materialize=False`` and lazy input the
    probe re-executes the signature pipeline once — materialize first.

    ``bands="auto"`` is the completion mode, following the RHP
    escalation's discipline: probe the measured candidate mass at
    each banding of ``num_hashes`` from FINEST down (8x1, 4x2, 2x4,
    1x8 at the default 8 hashes — candidate mass strictly shrinks as
    bands coarsen, since a coarser band's bucket pairs are the subset
    agreeing on every constituent hash) and take the first geometry
    that fits the budget — i.e. the RECALL-MAXIMAL banding within
    ``max_candidates`` (recall = 1−(1−s^rows)^bands is monotone in
    bands at fixed num_hashes). ≤ 4 narrow probes on the checkpointed
    signatures; the chosen geometry and its banding-theory recall at
    ``LSH_RECALL_JACCARD`` are logged, the final probe's mass feeds the
    guard (no recompute), and an auto call is IDENTICAL to the pinned
    call at the chosen banding. Requires a budget; refuses loudly when
    even one band of all ``num_hashes`` rows exceeds the budget
    (exact-dedup first, or raise it).

    ``min_recall`` is a floor on the banding-theory recall
    (:func:`minhash_banding_recall`). Auto mode already picks the
    recall-MAXIMAL banding within the budget, so unlike RHP there is no
    repair direction inside a fixed signature: when the chosen banding
    still misses the floor, the call refuses loudly prescribing the fix
    that exists — re-sign with more hashes (more bands at the same rows
    recovers recall exponentially; candidate mass grows ~linearly).
    Pinned bandings validate and never silently adjust, exactly the
    RHP contract.
    """
    op = "lsh_candidate_pairs"
    measured_est: int | None = None
    if bands == "auto":
        check_auto_budget(op, "bands", max_candidates)
        check_floor(op, "min_recall", min_recall)
        if materialize:
            signatures = signatures.transform(cut_lineage())
            materialize = False

        probes: list[tuple[int, int]] = []
        chosen: int | None = None
        for nb in range(num_hashes, 0, -1):
            if num_hashes % nb:
                continue
            est, _ = pair_mass(
                lsh_band_table(signatures, num_hashes, nb), ["band", "bsig"]
            )
            probes.append((nb, est))
            if est <= max_candidates:
                chosen, measured_est = nb, est
                break
        if chosen is None:
            refuse_over_budget(
                op, probes[-1][1], max_candidates,
                f"That is 1 band x {num_hashes} rows: no banding of "
                f"{num_hashes} hashes fits. Identical documents collide "
                f"at EVERY banding: run exact_duplicates first, or raise "
                f"max_candidates.",
            )
        bands = chosen
        r = num_hashes // bands
        chosen_recall = minhash_banding_recall(num_hashes, bands)
        # Prescribe only what the signature scheme can deliver: doubling
        # past the 16-component digest ceiling is not an action this
        # library can take.
        nh2 = min(num_hashes * 2, 16)
        check_floor(
            op, "min_recall", min_recall, chosen_recall,
            f"the banding-theory recall at Jaccard "
            f"{LSH_RECALL_JACCARD:g} of the recall-maximal banding that "
            f"fits max_candidates={max_candidates:,} ({bands} bands x "
            f"{r} rows, measured {measured_est:,} candidates)",
            f"No banding of {num_hashes} hashes can fit the budget AND "
            f"meet the floor: "
            + (
                f"re-sign with more hashes (e.g. num_hashes={nh2} admits "
                f"{nh2 // r} bands x {r} rows — recall recovers "
                f"exponentially in bands while candidate mass grows "
                f"~linearly), raise max_candidates, or lower the floor."
                if num_hashes < 16
                else "the signature scheme is at its 16-component "
                "ceiling — raise max_candidates, lower the floor, or run "
                "exact_duplicates first (identical docs collide at every "
                "banding and dominate the mass)."
            ),
        )
        _LOG.warning(
            "lsh auto banding: chose %d bands x %d rows (measured "
            "%s candidates vs budget %s, probes %s); banding-theory "
            "recall at Jaccard %g: %.4f",
            bands,
            r,
            f"{measured_est:,}",
            f"{max_candidates:,}",
            probes,
            LSH_RECALL_JACCARD,
            chosen_recall,
        )
    elif isinstance(bands, int):
        check_banding(op, "num_hashes", num_hashes, bands)
        check_floor(
            op, "min_recall", min_recall,
            minhash_banding_recall(num_hashes, bands),
            f"the banding-theory recall at Jaccard "
            f"{LSH_RECALL_JACCARD:g} of the pinned banding ({bands} bands "
            f"x {num_hashes // bands} rows)",
            "Add bands (finer banding), re-sign with more hashes, or "
            "lower the floor.",
        )
    else:
        raise ValueError(f"bands must be an int or 'auto', got {bands!r}")

    rows = num_hashes // bands
    if materialize:
        signatures = signatures.transform(cut_lineage())

    payload = [f"h{i}" for i in range(num_hashes)] if estimate else []
    table = lsh_band_table(
        signatures, num_hashes, bands, F.col(id_col).alias("doc"), *payload
    )
    if max_candidates is not None and measured_est is None:
        est, _ = pair_mass(table, ["band", "bsig"])
        if est > max_candidates:
            refuse_over_budget(
                op, est, max_candidates,
                f"Banded MinHash candidates grow with bucket mass; the "
                f"current {bands} bands x {rows} rows are too permissive "
                f"for this corpus. Coarsen the banding — fewer bands of "
                f"more rows (a pair at Jaccard s collides per band at "
                f"s^rows; recall = 1−(1−s^rows)^bands, re-derive before "
                f"changing) — or run exact_duplicates first (identical "
                f"documents collide in EVERY band and dominate hot "
                f"buckets), or raise max_candidates if the verify stage "
                f"can take it.",
            )

    joined = bucket_pairs(table, ["band", "bsig"], "doc", payload)
    if not estimate:
        return joined.select("doc_a", "doc_b").distinct()
    agree: Column = F.lit(0)
    for i in range(num_hashes):
        agree = agree + F.when(
            F.col(f"h{i}_a") == F.col(f"h{i}_b"), 1
        ).otherwise(0)
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(agree / float(num_hashes), 6).alias("jaccard_estimate"),
        )
        .distinct()
    )


def token_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded per-token 32-bit portable hash (first 8 md5 hex chars)."""
    toks = whitespace_tokens(normalized_text(F.col(text_col)))
    return _spread(df).select(id_col, F.explode(toks).alias("tok")).select(
        id_col,
        F.conv(F.substring(_md5(F.col("tok")), 1, 8), 16, 10)
        .cast("long")
        .alias("th"),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash fingerprint via per-bit majority vote.

    Every per-bit expression is built as ONE parsed SQL string (round
    15): the Column-API form (32 F.when sums + a 32-term reduce chain)
    cost ~500 py4j round-trips ≈ 1s of driver-side plan construction
    per call — and five registered queries construct this operator.
    Same integer arithmetic, same values."""
    th = token_hashes(df, id_col, text_col)
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {j}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = th.groupBy(id_col).agg(*votes)
    fp_terms = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({2 ** j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    fingerprint = F.expr(f"CAST(0 AS BIGINT) + {fp_terms}")
    return sums.select(id_col, fingerprint.alias("simhash"))


def _cap_stats_frame(
    simhash_df: DataFrame,
    max_bucket: int,
    sizes: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The cap probe's one-row aggregate, pre-collect — split out so
    its plan shape (two BROADCAST joins of the ≤65,536-row bucket-size
    tables back onto the O(n) fingerprint projection, no wide shuffle)
    is assertable in tests, not just claimed in prose.

    ``sizes``: the caller's per-band (half, _n) bucket-size
    tables, when it already builds them for the cap filter itself —
    ``simhash_candidates`` passes its lazily-truncated pair so the
    probe's collect MATERIALIZES them and the candidate join's cap
    semi-joins and rescue arms read the ≤65,536-row blocks back instead
    of re-aggregating the O(n) fingerprint table once per consumer
    (4 redundant aggregate subtrees in the final job). Values are
    identical — same groupBy, same counts."""
    docs = simhash_df.select(
        F.expr(SIMHASH_HALVES[0]).alias("_hlo"),
        F.expr(SIMHASH_HALVES[1]).alias("_hhi"),
    )
    if sizes is not None:
        sz_lo = sizes[0].selectExpr("half AS _hlo", "_n AS _n_lo")
        sz_hi = sizes[1].selectExpr("half AS _hhi", "_n AS _n_hi")
    else:
        sz_lo = docs.groupBy("_hlo").agg(F.count(F.lit(1)).alias("_n_lo"))
        sz_hi = docs.groupBy("_hhi").agg(F.count(F.lit(1)).alias("_n_hi"))
    skip_lo = F.col("_n_lo") > max_bucket
    skip_hi = F.col("_n_hi") > max_bucket
    return (
        docs.join(F.broadcast(sz_lo), "_hlo")
        .join(F.broadcast(sz_hi), "_hhi")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(
                F.when(skip_lo & skip_hi, 1).otherwise(0)
            ).alias("invisible"),
            F.sum(F.col("_n_lo") - 1).alias("m2_lo"),
            F.sum(F.col("_n_hi") - 1).alias("m2_hi"),
            F.sum(
                F.when(skip_lo, F.col("_n_lo") - 1).otherwise(0)
            ).alias("s2_lo"),
            F.sum(
                F.when(skip_hi, F.col("_n_hi") - 1).otherwise(0)
            ).alias("s2_hi"),
            F.max("_n_lo").alias("max_lo"),
            F.max("_n_hi").alias("max_hi"),
        )
    )


def simhash_cap_stats(
    simhash_df: DataFrame,
    max_bucket: int,
    sizes: tuple[DataFrame, DataFrame] | None = None,
) -> dict[str, float] | None:
    """Measure what a hot-bucket cap of ``max_bucket`` would skip.

    The public measurement half of the cap-consequence probe (round
    14) — pipeline authors can price a cap BEFORE running the
    candidate join. Returns ``None`` for an empty input, else a dict:
    ``docs``, ``invisible`` (docs whose lo AND hi buckets both exceed
    the cap — zero candidates pre-rescue), ``visible_frac``,
    ``total_pairs`` / ``skipped_pairs`` (Σ n(n−1)/2 over all / capped
    half-buckets, both bands), ``skipped_frac``, and ``unbind_cap``
    (the max half-bucket occupancy — the smallest cap that skips
    nothing).

    One action over the fingerprint table: per-band bucket sizes come
    from 16-bit groupBys (≤65,536 rows each) broadcast back onto the
    docs, so Σ-over-buckets terms fold into per-doc sums — for a doc in
    a bucket of size n, Σ n(n−1)/2 over buckets equals Σ_docs (n−1)/2,
    integer-exact because Σ_docs (n−1) is even within each bucket. No
    wide shuffle, no per-bucket materialization at the driver beyond
    the two ≤65k size tables Spark broadcasts.
    """
    row = _cap_stats_frame(simhash_df, max_bucket, sizes=sizes).collect()[0]
    n_docs = int(row["docs"] or 0)
    if not n_docs:
        return None
    invisible = int(row["invisible"] or 0)
    total_mass = int(row["m2_lo"] or 0) + int(row["m2_hi"] or 0)
    skipped_mass = int(row["s2_lo"] or 0) + int(row["s2_hi"] or 0)
    return {
        "docs": n_docs,
        "invisible": invisible,
        "visible_frac": 1.0 - invisible / n_docs,
        "total_pairs": total_mass // 2,
        "skipped_pairs": skipped_mass // 2,
        "skipped_frac": skipped_mass / total_mass if total_mass else 0.0,
        "unbind_cap": max(int(row["max_lo"] or 0), int(row["max_hi"] or 0)),
    }


def _simhash_cap_probe(
    simhash_df: DataFrame,
    max_bucket: int,
    min_visible: float | None,
    rescue_identical: bool,
    rescue_near: bool,
    sizes: tuple[DataFrame, DataFrame] | None = None,
) -> None:
    """Policy half of the cap probe: warn at a binding cap, refuse
    below the ``min_visible`` floor (``simhash_cap_stats`` is the
    measurement half)."""
    stats = simhash_cap_stats(simhash_df, max_bucket, sizes=sizes)
    if stats is None:
        return
    n_docs = stats["docs"]
    invisible = stats["invisible"]
    visible_frac = stats["visible_frac"]
    skipped_mass = stats["skipped_pairs"] * 2
    total_mass = stats["total_pairs"] * 2
    skipped_frac = stats["skipped_frac"]
    unbind_cap = stats["unbind_cap"]
    check_floor(
        "simhash_candidates", "min_visible", min_visible, visible_frac,
        f"the fraction of {n_docs:,} documents visible to the band join "
        f"at max_bucket={max_bucket:,} ({invisible:,} docs have BOTH "
        f"half-buckets capped — they can pair with nothing)",
        f"Raise max_bucket (>= {unbind_cap:,} unbinds every bucket; "
        f"candidate-join cost is <= max_bucket x corpus rows), enable "
        f"rescue_identical+rescue_near (family/hub-level connectivity "
        f"for capped buckets — measured 0.6134 -> 0.8736, or 0.9855 with "
        f"rescue_depth=2, component near recall at a binding cap vs "
        f"0.9954 uncapped), or route this template-heavy corpus to "
        f"MinHash-LSH (lsh_candidate_pairs samples the shingle space "
        f"instead of joining hot fingerprint buckets).",
    )
    if skipped_mass:
        _LOG.warning(
            "simhash cap binding: max_bucket=%s skips %.4f of the "
            "candidate-pair mass (%s of %s half-bucket pairs); %s of "
            "%s docs (%.4f) are INVISIBLE to the band join (both "
            "halves capped — zero candidates pre-rescue, so doc "
            "coverage is capped at %.4f; rescues "
            "on: identical=%s near=%s). max_bucket >= %s would unbind "
            "every bucket. Template-heavy corpora route better to "
            "MinHash-LSH (measured anchor at cap=100: 0.6134 capped / "
            "0.8736 rescued / 0.9855 depth-2 / 0.9954 uncapped "
            "component near recall).",
            f"{max_bucket:,}",
            skipped_frac,
            f"{skipped_mass // 2:,}",
            f"{total_mass // 2:,}",
            f"{invisible:,}",
            f"{n_docs:,}",
            1.0 - visible_frac,
            visible_frac,
            rescue_identical,
            rescue_near,
            f"{unbind_cap:,}",
        )


def simhash_candidates(
    simhash_df: DataFrame,
    id_col: str,
    materialize: bool = True,
    max_bucket: int | None = None,
    _max_hamming: int | None = None,
    rescue_identical: bool = False,
    rescue_near: bool = False,
    rescue_depth: int = 1,
    min_visible: float | None = None,
) -> DataFrame:
    """Candidate pairs sharing either 16-bit half of the 32-bit simhash
    (``SIMHASH_HALVES``).

    Banded exactly like ``lsh_candidate_pairs``: one :func:`bucket_pairs`
    equi-join per band (the lo half, the hi half), unioned and
    de-duplicated. An OR of the two equalities would have no extractable
    equi-key and Spark would plan a BroadcastNestedLoopJoin (O(n^2)
    compares); as two hash equi-joins the cost scales with the 16-bit
    bucket sizes instead
    (tests/test_plan_shapes.py asserts no nested-loop join survives).

    ``max_bucket`` (off by default) is the hot-bucket cap: a band
    bucket holding more than ``max_bucket`` documents is SKIPPED on
    both join sides — the ``filter_hot_shingles`` discipline applied to
    simhash bands. The 16-bit space gives 65,536 buckets per band, but
    nothing bounds one bucket's share: on the template-heavy sf10
    corpus an audit measured a 35,692-doc half-bucket
    (Σn² ≈ 4.9e9 candidate rows — the x07 disk-fill shape wearing a
    simhash hat). A bucket that large is a fingerprint-bit-skew
    artifact, not 6×10⁸ near-dup pairs: at the Hamming-verify stage
    nearly all of it dies anyway, so capping trades recall only on
    pairs whose OTHER half also stays hot. Set it so the cap never
    binds at your verify budget (cost ≤ max_bucket × corpus rows).

    ``materialize`` checkpoints the fingerprint table first — the four
    join sides below would otherwise each re-execute the SimHash
    aggregation pipeline.

    ``_max_hamming`` (internal — ``simhash_near_duplicates`` is the
    public surface) switches on VERIFY-IN-JOIN: the fingerprint rides
    each band side (8 bytes), the Hamming distance (:func:`hamming`) is
    computed inside the band join's codegen projection, and the
    ``<= _max_hamming`` filter runs BEFORE the union+distinct — so the
    distinct shuffles only surviving pairs instead of every candidate.
    At the sf10 audit's 35,692-doc half-bucket (Σn² ≈ 4.9e9 candidate
    rows) a candidates→distinct→re-join-fingerprints shape's distinct
    ships 4.9e9 rows of which the verify then discards nearly all —
    verify-in-join ships only what survives.
    Same result set: hamming is a deterministic function of the pair,
    so distinct over (doc_a, doc_b, hamming) equals pair-distinct.

    ``rescue_identical`` (measured motivation): the
    hot-bucket cap binds hardest exactly where TRUE duplicates pile up
    — on the template-heavy 50k recall fixture, max_bucket=100 skips
    150 half-buckets and costs even exact-duplicate pairs 25 recall
    points (BASELINE "Near-dup recall" table), because a family of
    identical documents IS a hot bucket in both halves. With the flag
    on (and a cap set — it is a no-op otherwise, the pairs are already
    present), documents sharing a FULL fingerprint are re-connected by
    STAR edges to the group's minimum id: one groupBy on the 64-bit
    fingerprint + one join back — linear in group size, never the
    O(m²) pair list (re-materializing that would be the exact
    detonation the cap exists to prevent; the full list within an
    identical family is ``exact_duplicates``'s linear-cost job).
    Star edges are a subset of the uncapped candidate set (identical
    fingerprints ⇒ identical halves), so the flag can only restore
    pairs the cap dropped, never add new ones; connectivity —
    what ``duplicate_clusters``/CC consumes — is fully restored for
    identical-fingerprint groups. Rescued pairs carry hamming=0.

    ``rescue_near`` (measured motivation): ``rescue_identical``
    restores only identical-fingerprint families — the recall
    harness measured NEAR-dup recall under a binding cap=100 still at
    0.39 (text_recall_r12.json) because near-but-not-identical
    fingerprints in a skipped bucket stay disconnected. With the flag
    on (and a cap set — no-op otherwise), each skipped hot half-bucket
    is escalated WITHIN the bucket at finer width, the RHP-escalation
    trick applied to simhash bands:

    1. Deduplicate the bucket to DISTINCT fingerprints, each
       represented by its family hub (``min(id)`` over the fingerprint
       — the same hub ``rescue_identical`` stars to, so hub-hub edges
       + star edges restore family-to-family CONNECTIVITY, which is
       what CC/``duplicate_clusters`` consumes). Template-heavy hot
       buckets collapse by orders of magnitude here: a 35k-doc bucket
       of 200 families becomes 200 rows.
    2. Sub-band the fingerprints on ``w`` bits of the OTHER half,
       where ``w`` is the smallest width with ``n_fp <= max_bucket *
       2^w`` (an exact 16-term integer comparison chain, no float
       log2 — the oracle must agree bit-for-bit). ``w = 0`` when the
       deduped bucket already fits: the whole bucket joins at
       fingerprint level.
    3. TWO sub-bands per bucket (low ``w`` bits, high ``w`` bits of
       the other half): a near-pair survives if either selected block
       is undamaged — for hamming d confined to the other half,
       per-block recall is C(16-d, w)/C(16, w), and escalation picks
       the minimal (recall-maximal) ``w`` that fits, exactly the RHP
       discipline. Sub-buckets still exceeding ``max_bucket`` at
       fingerprint level are skipped (the honest residual — a
       sub-bucket that hot at DISTINCT-fingerprint level means the
       fingerprint space itself is degenerate; route such corpora to
       MinHash-LSH, which samples the shingle space instead).

    Hub-hub edges are a subset of the uncapped candidate set (both
    hubs share the bucket's half), so like ``rescue_identical`` the
    flag only restores pairs the cap dropped. NOTE the contract is
    connectivity-level, not pair-level: member-to-member pairs across
    two near families are NOT re-materialized (that O(m_a x m_b)
    fan-out is the detonation the cap exists to prevent) — the
    families connect through their hubs. Measured on the 50k template
    fixture at cap=100: component recall 0.39 -> see BASELINE
    "Near-dup recall" for the recovery row.

    Scale cost, stated plainly: the rescue re-derives the per-half
    bucket counts on its own subtree, so it adds two narrow shuffles
    of the O(n) 8-byte fingerprint table per band (the member window
    + the fingerprint window) on top of the ones ``pairs_on`` already
    pays — exchange reuse does not fire across the differently-
    projected subtrees. That is deliberate: sharing the count would
    mean widening EVERY ``pairs_on`` row with the other half and the
    raw fingerprint whether or not rescue is on. Measured at 500k
    (cap=2000, `simhash_rescue_500k_r13.json`): star 24.8s ->
    star+near 37.2s for +20.77M recovered edges — the joins, not the
    extra narrow shuffles, dominate the delta.

    ``rescue_depth``: the level-1
    re-cap skips fingerprint sub-buckets still hotter than the cap —
    the measured residual behind the 0.8736-vs-0.9954 gap.
    ``rescue_depth=2`` escalates each SKIPPED sub-bucket once more by
    the identical rule: w2 from the sub-bucket's fingerprint count
    (same exact integer chain), two w2-bit windows of the other half
    NOT consumed by the arm's level-1 key, re-capped at fingerprint
    level. Measured on the 50k fixture at cap=100
    (`rescue_depth2_r14.json`): component near recall 0.8722 ->
    **0.9842** vs the 0.9941 ceiling, for ~1.6x the level-1
    fingerprint-comparison mass (708k vs 454k — trivial next to the
    capped band joins). Depth stops at 2 BY MEASUREMENT: the
    remaining gap is ~1 point, inside the fixture's noise, and a
    third level would pay four more window+join subtrees for it.
    Cost shape: the level-2 windows and joins run only on the hot
    residue (rows whose level-1 sub-bucket exceeded the cap).

    ``min_visible`` (the cap's recall consequence lives ON the
    operator, not only in BASELINE tables): with a cap set, ONE cheap
    probe runs before the plan is returned — per-band bucket
    sizes (a 16-bit groupBy, ≤65,536 rows per band, broadcast back
    onto the fingerprint table) aggregated to (a) the skipped
    candidate-mass fraction (Σ n(n−1)/2 over capped buckets vs all —
    the join work the cap saved) and (b) the INVISIBLE-document
    fraction: docs whose lo AND hi buckets are both capped, which the
    band join therefore cannot pair with ANYTHING — a hard pre-rescue
    recall ceiling (``rescue_identical``/``rescue_near`` restore
    connectivity for such docs at family/hub level only). A binding
    cap logs both numbers plus routing advice naming MinHash-LSH (the
    measured anchor: text_recall fixtures, cap=100 — component near
    recall 0.6134 capped / 0.8736 with both rescues vs 0.9954
    uncapped). ``min_visible`` is the matching refusal floor
    (``check_floor``, like every ``min_recall``): when the visible
    fraction falls below it the call raises, prescribing the
    measured max_bucket that would unbind, the rescue flags, and the
    MinHash-LSH route. Probe cost: two ≤65k-row partial-aggregates +
    two broadcast joins over the O(n) 8-byte fingerprint table — no
    wide shuffle. The probe never changes values.
    """
    if rescue_depth not in (1, 2):
        raise ValueError(
            f"rescue_depth must be 1 or 2, got {rescue_depth} (level 2 "
            "closes most of the level-1 re-cap's residual — the shipped "
            "operator measured 0.8736 -> 0.9855 component near recall "
            "on the 50k fixture at cap=100, text_recall_r14.json; "
            "deeper levels were NOT measured to pay for their joins: "
            "the remaining gap to the 0.9954 ceiling is ~1 point)."
        )
    if rescue_depth == 2 and not rescue_near:
        raise ValueError(
            "rescue_depth=2 deepens the rescue_near escalation — set "
            "rescue_near=True (depth without the rescue is meaningless)."
        )
    if min_visible is not None and max_bucket is None:
        raise ValueError(
            "simhash_candidates: min_visible is a hot-bucket-cap "
            "consequence floor — set max_bucket (the floor is vacuously "
            "1.0 uncapped)."
        )
    check_floor("simhash_candidates", "min_visible", min_visible)
    if materialize:
        simhash_df = simhash_df.transform(cut_lineage())
    # Each band's key, with the OTHER half the rescue sub-bands on.
    halves = {
        "lo": (F.expr(SIMHASH_HALVES[0]), F.expr(SIMHASH_HALVES[1])),
        "hi": (F.expr(SIMHASH_HALVES[1]), F.expr(SIMHASH_HALVES[0])),
    }

    def half_sizes(key: str) -> DataFrame:
        """Per-half-bucket occupancy: <=65,536 rows, map-side partial
        aggregated — the broadcastable cap decision table."""
        return (
            simhash_df.select(halves[key][0].alias("half"))
            .groupBy("half")
            .agg(F.count(F.lit(1)).alias("_n"))
        )

    # ONE bucket-size table per band, lazily truncated and SHARED by the
    # cap probe, the cap semi-join, and the rescue's hot-half
    # complement: a table per consumer would re-aggregate the O(n)
    # fingerprint table under its own broadcast build. The probe's
    # collect is the first action and materializes the <=65,536-row
    # blocks; every later consumer reads them back. Values identical
    # (same groupBy, same counts).
    size_of: dict[str, DataFrame] = {}
    if max_bucket is not None:
        size_of = {
            key: half_sizes(key).transform(cut_lineage(eager=False))
            for key in halves
        }
        _simhash_cap_probe(
            simhash_df, max_bucket, min_visible,
            rescue_identical=rescue_identical, rescue_near=rescue_near,
            sizes=(size_of["lo"], size_of["hi"]),
        )

    def band_pairs(side: DataFrame, keys: list[str]) -> DataFrame:
        """:func:`bucket_pairs` of ``side`` (id ``doc``) on ``keys``;
        with ``_max_hamming`` the fingerprint rides both sides and the
        Hamming verify runs in the join's projection."""
        if _max_hamming is None:
            return bucket_pairs(side, keys, "doc").select("doc_a", "doc_b")
        return (
            bucket_pairs(side, keys, "doc", ["simhash"])
            .select(
                "doc_a",
                "doc_b",
                hamming("simhash_a", "simhash_b").alias("hamming"),
            )
            .filter(f"hamming <= {_max_hamming}")
        )

    def pairs_on(key: str) -> DataFrame:
        base = simhash_df.select(
            F.col(id_col).alias("doc"), halves[key][0].alias("half"), "simhash"
        )
        if max_bucket is not None:
            # Cap via a BROADCAST SEMI-JOIN against the (<=65,536-row)
            # bucket-size table. A window count would force
            # Exchange+Sort of the FULL
            # fingerprint table per join side before the filter could
            # run — including exactly the hot-bucket mass the cap
            # exists to drop (at the 500k probe's cap=20 that mass is
            # 0.9999 of all rows). The semi-join kills capped rows at
            # the scan, so every downstream exchange carries only
            # surviving rows; the size table costs one map-side
            # partial aggregate. Values identical (same n<=cap set).
            ok = size_of[key].filter(F.col("_n") <= max_bucket).select(
                "half"
            )
            base = base.join(F.broadcast(ok), "half", "left_semi")
        return band_pairs(base, ["half"])

    out = pairs_on("lo").unionByName(pairs_on("hi"))
    if rescue_near and max_bucket is not None:

        def rescue_on(key: str) -> DataFrame:
            # The rescue operates on the COMPLEMENT of the cap filter:
            # the same broadcast size table, semi-joined on the hot
            # (n > cap) halves — no window shuffle of the full
            # fingerprint table here either (see pairs_on).
            half, other = halves[key]
            hot_halves = size_of[key].filter(
                F.col("_n") > max_bucket
            ).select("half")
            members = simhash_df.select(
                F.col(id_col).alias("_id"),
                half.alias("half"),
                other.alias("_other"),
                "simhash",
            ).join(F.broadcast(hot_halves), "half", "left_semi")
            # one row per distinct fingerprint; its id ``doc`` is the
            # family hub, min id (the same hub rescue_identical stars to)
            fp = members.groupBy("half", "simhash", "_other").agg(
                F.min("_id").alias("doc")
            )
            # smallest w with n_fp <= max_bucket * 2^w — exact integer
            # comparison chain (float log2 would risk oracle-divergent
            # ceil at power-of-two boundaries). The window count lands
            # in ONE column first and the 16-term chain is ONE parsed
            # SQL string over it: a Column-API reduce re-embeds the
            # window expression in all 16 terms and costs ~100 py4j
            # round-trips per band; same integers, same values.
            fp = fp.withColumn(
                "_nfp", F.expr("count(1) OVER (PARTITION BY half)")
            )
            w_terms = " + ".join(
                f"CASE WHEN _nfp > {max_bucket * (2 ** (i - 1))} "
                f"THEN 1 ELSE 0 END"
                for i in range(1, 17)
            )
            fp = fp.withColumn("_w", F.expr(f"0 + {w_terms}")).drop("_nfp")
            # LAZY truncation: fp is consumed
            # by TWO sub-band arms x two join sides (and at depth 2 by
            # four more level-2 join sides) — up to 12 references, each
            # of which would otherwise re-execute the members window +
            # fingerprint dedup + width window from the raw fingerprint
            # table. fp is tiny (distinct fingerprints of hot buckets),
            # so the blocks materialize once inside the first consuming
            # job and every arm reads them back. Lazy, not eager: when
            # the cap never binds the frame is empty and construction
            # must not pay materialization jobs for it. Values unchanged.
            fp = fp.transform(cut_lineage(eager=False))
            # one parsed string per sub-band key: the Column-API forms
            # cost py4j round-trips per arm; trees and values unchanged
            sub_keys = (
                F.expr("_other & (shiftleft(CAST(1 AS BIGINT), _w) - 1)"),
                F.expr(
                    "shiftright(_other, 16 - _w) "
                    "& (shiftleft(CAST(1 AS BIGINT), _w) - 1)"
                ),
            )
            rescued = None
            for j, sub in enumerate(sub_keys):
                side = fp.withColumn("_sub", sub)
                if j == 1:
                    # At w=0 both sub keys are 0 and at w=16 both equal
                    # the whole other half — the second arm would redo
                    # the first arm's joins byte-for-byte only for the
                    # final distinct to discard them. Values unchanged
                    # (the dropped rows are exact duplicates of arm 1's);
                    # the oracle keeps both arms unconditionally under
                    # the same DISTINCT.
                    side = side.filter(F.col("_w").between(1, 15))
                side = side.withColumn(
                    "_m", F.expr("count(1) OVER (PARTITION BY half, _sub)")
                )
                if rescue_depth >= 2:
                    # Six references at depth 2 (level-1 join sides + the
                    # hot residue feeding four level-2 join sides) — same
                    # lazy-truncation rationale as fp above. At depth 1
                    # the two references re-run only a window over the
                    # already-truncated fp, which is cheaper than a
                    # materialization of its own.
                    side = side.transform(cut_lineage(eager=False))
                part = band_pairs(
                    side.filter(F.col("_m") <= max_bucket), ["half", "_sub"]
                )
                rescued = part if rescued is None else rescued.unionByName(part)
                if rescue_depth >= 2:
                    # Level 2 (implemented because the measured curve
                    # justifies it: rescue_depth2_r14.json, 50k fixture at
                    # cap=100, component near recall 0.8722 -> 0.9842
                    # vs the 0.9941 ceiling for ~1.6x the level-1
                    # fingerprint-comparison mass): each sub-bucket the
                    # level-1 re-cap SKIPS is escalated once more by
                    # the same rule — w2 = smallest width with
                    # m <= cap * 2^w2 (the same exact integer chain,
                    # over the sub-bucket's fingerprint count), two
                    # w2-bit windows of the other half NOT consumed by
                    # this arm's level-1 key, re-capped at fingerprint
                    # level. Only the hot residue pays: the windows and
                    # joins below run on rows with _m > cap.
                    hot = side.filter(F.col("_m") > max_bucket)
                    w2_terms = " + ".join(
                        f"CASE WHEN _m > {max_bucket * (2 ** (i - 1))} "
                        f"THEN 1 ELSE 0 END"
                        for i in range(1, 17)
                    )
                    hot = hot.withColumn("_w2", F.expr(f"0 + {w2_terms}"))
                    # fresh windows: arm 0 consumed the low w bits, so
                    # its level-2 keys start at bit w (low) and 16-w2
                    # (high); arm 1 consumed the high w bits, so its
                    # keys start at bit 0 (low) and just below the
                    # consumed window (high), floored at 0
                    shifts = (
                        ("_w", "16 - _w2")
                        if j == 0
                        else ("0", "greatest(0, 16 - _w2 - _w)")
                    )
                    for s in shifts:
                        s2 = hot.withColumn(
                            "_sub2",
                            F.expr(
                                f"shiftright(_other, {s}) "
                                f"& (shiftleft(CAST(1 AS BIGINT), _w2) - 1)"
                            ),
                        )
                        s2 = s2.withColumn(
                            "_m2",
                            F.expr(
                                "count(1) OVER "
                                "(PARTITION BY half, _sub, _sub2)"
                            ),
                        ).filter(F.expr(f"_m2 <= {int(max_bucket)}"))
                        rescued = rescued.unionByName(
                            band_pairs(s2, ["half", "_sub", "_sub2"])
                        )
            return rescued

        out = out.unionByName(rescue_on("lo")).unionByName(rescue_on("hi"))
    if rescue_identical and max_bucket is not None:
        hubs = simhash_df.groupBy("simhash").agg(
            F.min(id_col).alias("_hub")
        )
        star = (
            simhash_df.join(hubs, "simhash")
            .filter(F.col(id_col) != F.col("_hub"))
            .select(
                F.col("_hub").alias("doc_a"),
                F.col(id_col).alias("doc_b"),
            )
        )
        if _max_hamming is not None:
            star = star.withColumn("hamming", F.lit(0).cast("int"))
        out = out.unionByName(star)
    return out.distinct()


def filter_hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The document frequency rides in as a window count over the shingle
    partition — ONE shuffle on shingle (which the downstream pair join
    needs anyway), no second aggregate-and-join pass. This is the
    stopword-shingle bound: a ubiquitous shingle ("in the study")
    otherwise creates an O(df^2) bucket in the inverted-index pair join,
    unbounded at 100 TB.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def simhash_near_duplicates(
    simhash_df: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    max_bucket: int | None = None,
    rescue_identical: bool = False,
    rescue_near: bool = False,
    rescue_depth: int = 1,
    min_visible: float | None = None,
) -> DataFrame:
    """Verified SimHash near-duplicates: banded candidates filtered by
    Hamming distance (Manku et al., WWW 2007 — the verify step that
    turns recall-oriented CANDIDATES into precision-oriented PAIRS).

    Returns ``(doc_a, doc_b, hamming)`` for candidate pairs whose
    fingerprints differ in at most ``max_hamming`` bits. The distance is
    :func:`hamming` — O(1) per candidate, computed INSIDE the
    band join's projection (verify-in-join): the fingerprint
    rides each band side, the Hamming filter runs before the
    union+distinct, so the distinct shuffles only SURVIVING pairs and
    the two old post-candidate re-join shuffles are gone entirely.
    Result set unchanged (see ``simhash_candidates``). ``max_bucket``
    forwards to the candidate stage's hot-bucket cap;
    ``rescue_identical`` to its identical-fingerprint star rescue
    (linear re-connection of the duplicate families the cap would
    disconnect — which the recall fixture measured at 25 exact-dup
    points under cap=100); ``rescue_near`` to its within-bucket
    finer-width escalation (hub-level near edges for the
    skipped buckets, restoring family-to-family connectivity the cap
    dropped; see ``simhash_candidates`` for the sub-band geometry and
    its measured recall). A cap runs the candidate stage's
    cap-consequence probe: a binding
    cap logs the skipped candidate mass and the invisible-doc fraction
    (with MinHash-LSH routing advice anchored on the measured recall
    fixtures), and ``min_visible`` refuses below a doc-visibility
    floor — see ``simhash_candidates``.
    """
    # Spliced into the verify filter's SQL text: only an int bit count
    # is a meaningful radius there.
    if (
        not isinstance(max_hamming, int)
        or isinstance(max_hamming, bool)
        or not 0 <= max_hamming <= 64
    ):
        raise ValueError(
            f"simhash_near_duplicates: max_hamming must be an int in "
            f"0..64 (bits of a fingerprint), got {max_hamming!r}"
        )
    # One materialization serves both band sides — four consumers, one
    # SimHash computation.
    simhash_df = simhash_df.transform(cut_lineage())
    return simhash_candidates(
        simhash_df,
        id_col,
        materialize=False,
        max_bucket=max_bucket,
        _max_hamming=max_hamming,
        rescue_identical=rescue_identical,
        rescue_near=rescue_near,
        rescue_depth=rescue_depth,
        min_visible=min_visible,
    )


#: Ceiling on the inverted-index pair-join fan-out ``ngram_jaccard_pairs``
#: will accept, priced by the :func:`pair_mass` accounting per shingle
#: (the ``doc_a < doc_b`` self-join's exact row count before the
#: (doc_a, doc_b) combine). The sf10 sweep ran the unbounded form on 500k
#: docs and the 8.1e9-row join FILLED THE DISK — quadratic growth past
#: the ceiling is a bug, not a workload. 1e9 rows is ~tens of GB of
#: shuffle: large but finishable; anything beyond that wants ``max_df``
#: (or MinHash-LSH, which samples the shingle space instead of joining
#: all of it).
MAX_JACCARD_JOIN_ROWS = 1_000_000_000


def ngram_df_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int,
    shingle_k: int = 3,
) -> DataFrame:
    """Price a ``max_df`` hot-shingle bound BEFORE running the n-gram
    pair join — the n-gram family's cap-consequence surface, completing
    the four-generator symmetry: RHP carries its Charikar
    estimate, MinHash its banding-theory floor, SimHash its visibility
    probe, and the inverted-index join now measures what
    ``filter_hot_shingles(max_df)`` costs.

    One-row DataFrame, all BIGINT (hash-safe cross-engine):

    - ``docs`` — documents with at least one shingle;
    - ``invisible_docs`` — documents whose EVERY shingle exceeds
      ``max_df``: the filter drops their whole posting list, so they
      appear in zero candidate pairs — the hard doc-coverage ceiling
      of the bound (the analog of the SimHash probe's both-halves-
      capped count);
    - ``total_instances`` / ``dropped_instances`` — (doc, shingle)
      posting entries overall and above the bound: the inverted-index
      join mass the filter removes;
    - ``unbind_max_df`` — max over documents of their minimum shingle
      df: the smallest ``max_df`` at which NO document is invisible.

    Scale shape: one shuffle on shingle (the same bucket shuffle the
    pair join itself pays), one groupBy on ``id_col`` over the O(
    posting-list) instance table, then a scalar aggregate — no
    collect, no driver-side term; the caller decides when to run it.
    """
    sh = shingle_sets(df, id_col, text_col, shingle_k)
    # df rides in as a WINDOW count over the shingle partition (round
    # 14): the previous groupBy-then-join derivation executed the
    # shingle explode pipeline TWICE (once under the aggregate, once as
    # the join's probe side — the subtrees differ, so exchange reuse
    # cannot fire) and paid the join on top. The window form computes
    # each instance's df in the single shingle-keyed exchange the
    # aggregate needed anyway; values are identical (df per (doc,
    # shingle) instance is the same count either way).
    per_doc = (
        sh.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy(id_col)
        .agg(
            F.min("_df").alias("_mdf"),
            F.count(F.lit(1)).alias("_n_inst"),
            F.sum(
                F.when(F.col("_df") > max_df, 1).otherwise(0)
            ).alias("_n_drop"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum(F.when(F.col("_mdf") > max_df, 1).otherwise(0))
        .cast("long")
        .alias("invisible_docs"),
        F.sum("_n_inst").cast("long").alias("total_instances"),
        F.sum("_n_drop").cast("long").alias("dropped_instances"),
        F.max("_mdf").cast("long").alias("unbind_max_df"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    top_n: int = 50,
    max_df: int | str | None = None,
    max_join_rows: int | None = MAX_JACCARD_JOIN_ROWS,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets via the inverted-index join,
    ranked; returns the top_n most similar pairs (total tiebreak order).

    Scale shape: the pair join is per-shingle, so hot shingles dominate
    cost. ``max_df`` (off by default) applies ``filter_hot_shingles``
    first, bounding every join bucket at max_df documents; Jaccard is
    then computed over the FILTERED shingle sets (set sizes included), so
    the result is the exact Jaccard of the reduced sets rather than an
    approximation of the full ones.

    The inverted-index join is :func:`bucket_pairs` on the shingle,
    aggregated to per-pair intersections before the size lookups. It
    is additionally GUARDED (same contract as
    ``embedding_duplicate_pairs``'s block guard): before building the
    pair join, one bounded aggregate computes its exact fan-out (the
    :func:`pair_mass` accounting over the — possibly df-filtered —
    shingle table's df histogram); past
    ``max_join_rows`` the call fails FAST naming the subquadratic
    routes instead of detonating shuffle/disk at scale. ``None``
    disables the guard for callers that have already bounded their
    shingle geometry.

    ``max_df="auto"`` is the completion mode: the guard's
    df histogram is computed FIRST, and when the unfiltered mass
    exceeds ``max_join_rows`` the operator APPLIES the max_df its
    refusal would have prescribed — the largest df level whose
    cumulative mass fits — instead of refusing, logging the chosen
    cap and the dropped mass. An auto call equals the pinned call at
    the chosen max_df (and the unfiltered call when nothing binds);
    pinned/None calls keep the strict refuse-loudly contract. Same
    completion-vs-refusal split as RHP's ``n_bits="auto"``.
    """
    # The shingle table feeds both self-join sides AND the set sizes —
    # materialize once so the explode pipeline runs once, not four times.
    op = "ngram_jaccard_pairs"
    auto_df = max_df == "auto"
    if auto_df:
        check_auto_budget(op, "max_df", max_join_rows, "max_join_rows")
        max_df = None
    elif max_df is not None and not isinstance(max_df, int):
        raise ValueError(f"max_df must be an int, 'auto' or None, got {max_df!r}")
    sh = shingle_sets(df, id_col, text_col, k)
    if max_df is not None:
        sh = filter_hot_shingles(sh, max_df)
    # LAZY truncation: the first consumer is
    # always a SINGLE-reference job — the guard/auto df histogram when a
    # budget is set, else the set-size checkpoint — so the blocks
    # materialize inside that job instead of paying a dedicated
    # construction-time job first; the self-join sides read them back.
    # (Multi-reference first consumers would race-duplicate the explode
    # — the a43 lesson — which is why `sizes` below stays eager.)
    sh = sh.transform(cut_lineage(eager=False))
    if max_join_rows is not None:
        # The guard reads the df HISTOGRAM, not just its Σ: the second
        # groupBy runs over ≤ |distinct df values| rows (a few hundred at
        # any corpus size), and filter_hot_shingles keeps whole df
        # levels, so the surviving mass at max_df=m is the cumulative Σ
        # over df ≤ m — the max_df that fits is exactly computable here.
        hist = sorted(
            (r["_df"], r["_shingles"], r["_mass"])
            for r in (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .groupBy("_df")
                .agg(
                    F.count(F.lit(1)).alias("_shingles"),
                    F.sum(_bucket_pairs("_df")).alias("_mass"),
                )
                .collect()
            )
        )
        est = sum(m for _, _, m in hist)
        if est > max_join_rows:
            cum, fit_df = 0, 1  # df=1 shingles never join: always fit
            for df_v, _, m in hist:
                if cum + m > max_join_rows:
                    break
                cum += m
                fit_df = df_v
            routes = (
                "the subquadratic near-dup routes (minhash_signatures + "
                "lsh_candidate_pairs, simhash_near_duplicates), which "
                "sample the shingle space instead of joining all of it."
            )
            if not auto_df:
                refuse_over_budget(
                    op, est, max_join_rows,
                    f"The per-shingle self-join is quadratic in document "
                    f"frequency by contract. At this corpus's measured df "
                    f"distribution, max_df={fit_df} fits the budget "
                    f"(surviving mass {cum:,} rows); pass it to bound hot "
                    f"shingles — or use {routes}",
                    "max_join_rows",
                )
            if cum == 0:
                # Even the lowest joinable df level alone exceeds the
                # budget: the only fitting cap (max_df=1) would leave
                # ZERO join mass — every result row silently gone, a
                # total-result change the pinned contract refuses
                # loudly, so auto must too.
                refuse_over_budget(
                    op, est, max_join_rows,
                    f"max_df='auto' cannot fit this corpus: the lowest "
                    f"joinable df level alone is over the budget, so the "
                    f"only fitting cap (max_df=1) would leave zero "
                    f"candidate pairs. Use {routes}",
                    "max_join_rows",
                )
            _LOG.warning(
                "ngram auto max_df: unfiltered join mass %s exceeds "
                "max_join_rows %s; applying max_df=%d (surviving mass "
                "%s, %d hot shingles dropped)",
                f"{est:,}",
                f"{max_join_rows:,}",
                fit_df,
                f"{cum:,}",
                sum(n for d, n, _ in hist if d > fit_df),
            )
            # Second checkpoint: the filtered table feeds three
            # consumers (set sizes + both join sides); without it each
            # re-runs the df window over the raw checkpoint.
            sh = filter_hot_shingles(sh, fit_df).transform(cut_lineage())
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size")).transform(cut_lineage())

    inter = (
        bucket_pairs(
            sh.select(F.col(id_col).alias("doc"), "shingle"), ["shingle"], "doc"
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(top_n)


def dup_ngram_coverage(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, n_shingles, n_dup, dup_coverage): the fraction of each
    document's distinct k-word shingles that also appear in at least one
    OTHER document — the duplicate-text-coverage signal
    (RefinedWeb/Dolma-style) that catches boilerplate-heavy documents
    pairwise dedup misses (no single pair is near-identical, but most of
    the document is corpus-repeated).

    Scale shape: two shuffles on the shingle key (the document-frequency
    aggregate map-side-combines to distinct shingles; the join back is a
    shingle-keyed equi-join over the same distinct-shingle table) and
    one on the id for the final per-document rollup. Nothing is ever
    pairwise — cost is O(shingle instances), not O(docs^2).
    """
    sh = shingle_sets(df, id_col, text_col, k).transform(cut_lineage())
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            id_col,
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_dup").cast("long").alias("n_dup"),
            F.round(F.col("n_dup") / F.col("n_shingles"), 6).alias(
                "dup_coverage"
            ),
        )
    )


def window_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(id, pos, gh): one row per full k-token window of each document —
    md5 over the window's tokens, 0-based token position. The shared
    substrate of batch ``duplicate_spans`` and the streaming span store
    (`streaming/dedup.clean_spans_stream`). Documents shorter than k
    tokens yield no rows; the length filter runs BEFORE the explode
    because ``sequence(1, n-k+1)`` on a shorter doc would run DESCENDING
    (Spark picks step -1 when start > stop)."""
    norm = normalized_text(F.col(text_col))
    toks = whitespace_tokens(norm)
    n = F.size(toks)
    return (
        _spread(df)
        .filter(n >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i, k)).cast("binary")
                    ),
                )
            ).alias("pos", "gh"),
        )
    )


def spans_from_marked(
    marked: DataFrame, id_col: str, k: int = 5
) -> DataFrame:
    """Merge duplicate window POSITIONS into maximal spans: the classic
    gap-flag/cumsum island trick over (id, pos) rows, per-document
    windows on the natural key. Windows [pos, pos+k) and [prev, prev+k)
    union contiguously iff pos - prev <= k."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        marked.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(id, span_start, span_end, span_tokens): maximal token spans of
    each document whose every k-token window also occurs elsewhere in
    the corpus (another document, or another position of the same one).
    This is the span-level exact-substring dedup signal (Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    operates on suffix arrays; the k-gram rolling form is the
    MapReduce-friendly equivalent): downstream, the spans are CUT from
    the training text rather than dropping whole near-dup documents.

    Positions are 0-based token offsets over whitespace tokens of the
    normalized text; ``span_end`` is exclusive. Documents shorter than
    k tokens are skipped (they have no full k-window).

    Scale shape: one shuffle on the 128-bit window hash (count >= 2 —
    map-side combined, raw text never shuffled), an equi-join back on
    the same hash, then per-document windows (natural-key partitions)
    to merge overlapping duplicate windows into maximal spans via the
    classic gap-flag/cumsum island trick. Cost is O(token instances),
    never O(docs^2).
    """
    win = window_hashes(df, id_col, text_col, k).transform(cut_lineage())
    dup_gh = (
        win.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    marked = win.join(dup_gh, "gh").select(id_col, "pos")
    return spans_from_marked(marked, id_col, k=k)


def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """The REMOVAL half of span-level dedup: cut every duplicate span
    ``duplicate_spans`` detects out of the text (Lee et al. 2022 §4 —
    the paper's dedup ships the corpus with repeated substrings
    REMOVED, not merely flagged; RefinedWeb follows the same recipe).

    Returns ``(id_col, n_tokens, tokens_removed, clean_text)`` —
    ``clean_text`` is the normalized text with span tokens dropped and
    survivors re-joined on single spaces (span offsets are token
    offsets over the normalized text, so token-space surgery is exact).
    Documents with no duplicate spans pass through with
    ``tokens_removed = 0``; NULL text stays NULL.

    Scale shape: the span detection is ``duplicate_spans`` (one
    hash-keyed shuffle + id-partitioned windows, O(token instances));
    removal adds one id-keyed left join of the per-doc span LIST
    (collect_list over a few spans per doc, never the corpus) and a
    row-local indexed filter over the token array — no extra
    corpus-wide shuffle beyond the span list's own aggregation.
    """
    spans = duplicate_spans(df, id_col, text_col, k=k)
    return remove_spans(df, spans, id_col, text_col)


def remove_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Apply a (id, span_start, span_end) table to the text: the
    removal half of ``remove_duplicate_spans``, exposed so the
    streaming form can feed its asymmetric (history-aware) span table
    through the identical surgery."""
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = whitespace_tokens(normalized_text(F.col(text_col)))
    base = df.select(id_col, toks.alias("_toks"))
    empty_spans = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    sp = F.coalesce(F.col("_spans"), empty_spans)
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            sp,
            lambda s: (i.cast("long") >= s["span_start"])
            & (i.cast("long") < s["span_end"]),
        ),
    )
    return (
        base.join(span_lists, id_col, "left")
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(kept)).cast("long").alias(
                "tokens_removed"
            ),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


#: Storage level for every O(|edges|) checkpoint inside connected_components:
#: SERIALIZED blocks (MEMORY_AND_DISK). The localCheckpoint default
#: keeps deserialized row objects — ~5x inflation on a two-long edge
#: row — and at the 2.5M SemDeDup rung the deserialized symmetrized
#: edge list alone filled the 48 GiB unified pool, starving the next
#: hash aggregate (AGGREGATE_OUT_OF_MEMORY, "got 0"). Serialized
#: blocks also stream to/from disk in chunks on eviction instead of
#: re-inflating whole partitions. Storage layout only; values are
#: unaffected.
_EDGE_CHECKPOINT_LEVEL = StorageLevel.MEMORY_AND_DISK

#: Edge-list size at or under which connected_components finishes on
#: the driver (union-find over the collected edges); above it the
#: distributed two_phase loop runs. Measured at local[4] on dup-of-dup
#: forests: the driver path costs ~1.3 s at 50k edges, ~2.6 s at 200k
#: and ~9 s at 800k; two_phase costs 8.8, 13.8 and 34 s, ~7 s of which
#: is per-round job launches that no cluster width removes. At 200k the
#: driver path stays well under that fixed cost, and the collected edges
#: stay a few tens of MB of driver memory.
_CC_LOCAL_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    vertices: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list: every vertex
    converges to the smallest vertex id reachable from it. Returns
    ``(id_col, component)`` — the dedup cluster-assignment primitive that
    turns LSH/SimHash candidate PAIRS into KEEP-ONE groups (the reference
    stops at pair detection, `aact_silver_layer.sql:588-590`; clustering
    is the step a 100 TB dedup pipeline needs on top).

    The edge list's size picks one of two mechanisms (identical output):

    - at most ``_CC_LOCAL_EDGES`` edges: one bounded collect, union-find
      on the driver, and the labels come back as a small broadcast
      frame. A near-dup graph at bench scale has a few thousand edges,
      and every distributed round would cost more in job launches than
      in work.
    - above it: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC '14) —
      O(log^2 n) rounds regardless of component diameter, so dup-of-dup
      chains at scale converge too. ``max_iterations`` caps the rounds;
      a capped run raises rather than return wrong clusters.

    An edge with a NULL endpoint is ignored, and so is a self-loop.
    Only vertices incident to an edge get a label from either mechanism
    — in a near-dup graph most vertices are singletons — and every
    vertex of ``vertices`` is attached in one final left join, a
    singleton labelled with its own id.
    """
    # Materialize the edge list ONCE — the upstream plan (e.g. the whole
    # shingle->MinHash->LSH pipeline) must not re-execute in the budget
    # collect and again in every star round. The checkpoint happens
    # BEFORE any self-union: a union of two selects over the raw plan
    # would embed (and execute) the upstream pipeline twice.
    #
    # Every O(|edges|) frame stores its blocks SERIALIZED
    # (MEMORY_AND_DISK): the localCheckpoint default keeps DESERIALIZED
    # row objects, which inflate a two-long edge row ~5x — at the 2.5M
    # SemDeDup rung the deserialized edge list filled the unified pool
    # and the next aggregate died with AGGREGATE_OUT_OF_MEMORY.
    e0 = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).transform(cut_lineage(storage_level=_EDGE_CHECKPOINT_LEVEL))
    local = e0.limit(_CC_LOCAL_EDGES + 1).collect()
    if len(local) <= _CC_LOCAL_EDGES:
        id_type = e0.schema["_src"].dataType
        schema = StructType([StructField(c, id_type) for c in (id_col, "component")])
        labels = F.broadcast(
            e0.sparkSession.createDataFrame(_union_find_labels(local), schema)
        )
    else:
        labels, _, converged = _cc_two_phase(e0, id_col, max_iterations)
        if not converged:
            # A silently-wrong cluster assignment is worse than a failure.
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "two_phase rounds; raise max_iterations"
            )
    return vertices.select(id_col).join(labels, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def _union_find_labels(edges: list) -> list[tuple]:
    """``(vertex, min id in its component)`` for every vertex of a
    non-self-loop edge with two non-NULL ends."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        # The smaller root wins, so every root is its component's min.
        ra, rb = sorted((find(a), find(b)))
        parent[rb] = ra
    return [(v, find(v)) for v in parent]


def _cc_two_phase(
    e0: DataFrame, id_col: str, max_iterations: int
) -> tuple[DataFrame, int, bool]:
    """Alternating large-star/small-star rounds (Kiveris SoCC '14);
    ``e0`` must be materialized. Returns ``(labels, rounds, converged)``.

    The edge set is kept canonical — directed child>parent, distinct, no
    self-loops. Convergence = the edge set is a star forest: every child
    has exactly one distinct parent AND no parent is itself a child; both
    are scalar counts over the per-child aggregate the final labels need
    anyway.
    """

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("_src") != F.col("_dst"))
            .select(
                F.greatest("_src", "_dst").alias("u"),
                F.least("_src", "_dst").alias("v"),
            )
            .distinct()
        )

    E = canon(e0).transform(cut_lineage(storage_level=_EDGE_CHECKPOINT_LEVEL))
    rounds = 0
    while True:
        stats = (
            E.groupBy("u")
            .agg(
                F.min("v").alias("p"),
                F.countDistinct("v").alias("nd"),
            )
            # Lazy: the multi count below materializes the blocks in
            # the same job — one job per convergence check.
            .transform(cut_lineage(eager=False))
        )
        multi = stats.filter(F.col("nd") > 1).count()
        bad = (
            E.join(
                stats.select(F.col("u").alias("v")), "v", "left_semi"
            ).count()
            if multi == 0
            else 1
        )
        converged = multi == 0 and bad == 0
        if converged or rounds >= max_iterations:
            break
        rounds += 1
        # large-star: every neighbor v > u connects to m(u) = min(N(u)+{u})
        sym = E.union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("_src"), F.col("m").alias("_dst"))
        )
        E1 = canon(large).transform(
            cut_lineage(storage_level=_EDGE_CHECKPOINT_LEVEL)
        )
        # small-star: every smaller neighbor (and u itself) connects to
        # m(u) = min of u's smaller neighbors; canonical E1 IS the
        # child>parent directed form small-star operates on.
        mins2 = E1.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            E1.join(mins2, "u")
            .select(F.col("v").alias("_src"), F.col("m").alias("_dst"))
            .union(
                mins2.select(
                    F.col("u").alias("_src"), F.col("m").alias("_dst")
                )
            )
        )
        E = canon(small).transform(
            cut_lineage(storage_level=_EDGE_CHECKPOINT_LEVEL)
        )
    # At convergence every child points at its component min (a root).
    children = stats.select(F.col("u").alias(id_col), F.col("p").alias("component"))
    roots = (
        E.select(F.col("v").alias(id_col))
        .distinct()
        .join(E.select(F.col("u").alias(id_col)).distinct(), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("component"))
    )
    return children.unionByName(roots), rounds, converged


def dedup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Staged near-dup pipeline: signatures -> candidate pairs -> clusters.

    Returns ``(signatures, pairs, clusters)`` with each stage materialized
    (``localCheckpoint``) before the next consumes it, so no stage ever
    re-executes upstream work — the honest 100 TB shape, where each stage
    is a table a pipeline writes, inspects, and resumes from. In
    production swap the checkpoint for a parquet write per stage
    (``sources.parquet.write_table``); the stage boundaries are the same.

    ``clusters`` maps every document (including singletons) to
    ``(id_col, component)`` where component = min doc id in its
    near-duplicate cluster — the keep-one decision input.
    """
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k
    ).transform(cut_lineage())
    # sigs are already materialized, so the pair step must not add its
    # own checkpoint.
    pairs = lsh_candidate_pairs(
        sigs, id_col, num_hashes=num_hashes, bands=bands, materialize=False
    ).transform(cut_lineage())
    clusters = connected_components(
        pairs, "doc_a", "doc_b", vertices=df.select(id_col), id_col=id_col
    )
    return sigs, pairs, clusters


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_common: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Train/eval decontamination: flag every training document sharing
    at least ``min_common`` k-word shingles with ANY benchmark document
    (the n-gram-overlap decontamination step an LLM training pipeline
    runs before a corpus ships — e.g. the 13-gram check of GPT-3
    appendix C / the Dolma toolkit, here with configurable k).

    Returns one row per CONTAMINATED training doc:
    (id_col, n_bench_hits, max_common) — how many benchmark docs it
    collides with and the largest shared-shingle count.

    Scale shape: benchmark sets are tiny (1e4-1e6 shingles) next to a
    100 TB corpus — the benchmark shingle table is BROADCAST, so the
    corpus side is one map-side hash join + partial aggregation keyed by
    (train_id, bench_id); the corpus never shuffles its raw text or full
    shingle set. ``max_df`` optionally drops hot (stopword-like)
    shingles from BOTH sides first, bounding per-shingle fan-out.
    """
    tr = shingle_sets(train, id_col, text_col, k).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    ev = shingle_sets(benchmark, id_col, text_col, k).select(
        F.col(id_col).alias("bench_id"), "shingle"
    )
    if max_df is not None:
        tr = filter_hot_shingles(
            tr.withColumnRenamed("train_id", id_col), max_df
        ).select(F.col(id_col).alias("train_id"), "shingle")
        ev = filter_hot_shingles(
            ev.withColumnRenamed("bench_id", id_col), max_df
        ).select(F.col(id_col).alias("bench_id"), "shingle")
    overlaps = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return overlaps.groupBy(F.col("train_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("n_common").alias("max_common"),
    )


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    k_hashes: int = 3,
    m_bits: int = 4096,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter instead of the
    raw shingle set: the benchmark's k-word shingles are folded into a
    ``m_bits``-position bit set (``k_hashes`` salted-md5 positions per
    shingle), and a training shingle counts as a hit when ALL its
    positions are set. One-sided error: every true overlap is caught
    (no false negatives); hash collisions can only ADD false positives,
    which the output quantifies next to the exact join.

    Why it exists next to :func:`decontaminate`: a35 broadcasts the
    benchmark's full shingle table — right when benchmarks are small,
    but the broadcast grows with every benchmark added. The Bloom form
    broadcasts AT MOST ``m_bits`` positions no matter how many
    benchmarks fold in (set-union mergeable, like every sketch here),
    making membership state CONSTANT-size — the shape an ingest
    pipeline wants when the "do not train on this" list keeps growing.

    Returns one row per training doc with >= 1 Bloom hit:
    (id_col, n_shingles, bloom_hits, exact_hits, false_positives).

    Scale shape: ONE pass over the training shingles — both membership
    probes are broadcast LEFT joins carried through a single
    (doc, shingle) partial aggregation, so the corpus never shuffles
    text or full shingle sets and is never re-scanned per output
    column; the exact-hit column (kept to expose the false-positive
    rate) is the one a35-style broadcast join and is dropped in
    production use.
    """
    from .sampling import hash_bucket

    def positions(col):
        return F.array_distinct(
            F.array(
                *[
                    hash_bucket(
                        F.concat(F.lit(f"{i}:"), col), m_bits
                    ).cast("long")
                    for i in range(k_hashes)
                ]
            )
        )

    ev = shingle_sets(benchmark, id_col, text_col, k)
    bloom = (
        ev.select(F.explode(positions(F.col("shingle"))).alias("pos"))
        .distinct()
        .withColumn("_in_bloom", F.lit(1).cast("long"))
    )
    bench_shingles = (
        ev.select("shingle")
        .distinct()
        .withColumn("_in_bench", F.lit(1).cast("long"))
    )

    tr = shingle_sets(train, id_col, text_col, k).select(
        F.col(id_col).alias("train_id"),
        "shingle",
        positions(F.col("shingle")).alias("_pos_arr"),
    )
    per_shingle = (
        tr.join(F.broadcast(bench_shingles), "shingle", "left")
        .select(
            "train_id",
            "shingle",
            F.coalesce(F.col("_in_bench"), F.lit(0).cast("long")).alias(
                "_exact"
            ),
            F.size("_pos_arr").cast("long").alias("_n_pos"),
            F.explode("_pos_arr").alias("pos"),
        )
        .join(F.broadcast(bloom), "pos", "left")
        .groupBy("train_id", "shingle")
        .agg(
            F.sum(F.coalesce(F.col("_in_bloom"), F.lit(0).cast("long")))
            .cast("long")
            .alias("_matched"),
            F.max("_n_pos").alias("_n_pos"),
            F.max("_exact").alias("_exact"),
        )
    )
    return (
        per_shingle.groupBy(F.col("train_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                (F.col("_matched") == F.col("_n_pos")).cast("long")
            )
            .cast("long")
            .alias("bloom_hits"),
            F.sum("_exact").cast("long").alias("exact_hits"),
        )
        .filter(F.col("bloom_hits") > 0)
        .select(
            id_col,
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias(
                "false_positives"
            ),
        )
    )


def cap_duplicates(
    df: DataFrame,
    max_copies: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep at most ``max_copies`` documents per exact content
    fingerprint — the "cap repeats" middle ground between full exact
    dedup and no dedup (limited natural duplication is often kept in
    pretraining mixes; unbounded boilerplate is not). Survivors are the
    lowest ids per fingerprint, deterministic.

    Returns (id_col, fingerprint, copy_rank, n_copies) for survivors;
    ``n_copies`` is the ORIGINAL duplication count, so downstream
    weighting can discount capped content.

    Scale shape: one shuffle on the 16-byte fingerprint carrying
    (fingerprint, id) only; WindowGroupLimit pre-reduces each group to
    ``max_copies`` rows map-side before the rank resolves.
    """
    from pyspark.sql import Window

    from ..functions.text import md5_fingerprint

    fp = df.select(
        F.col(id_col), md5_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fp.select(
            id_col,
            "fingerprint",
            F.row_number().over(w).cast("long").alias("copy_rank"),
            F.count(F.lit(1))
            .over(Window.partitionBy("fingerprint"))
            .cast("long")
            .alias("n_copies"),
        )
        .filter(F.col("copy_rank") <= max_copies)
    )

"""Vector math over ``array<float>`` embedding columns.

Built on ``zip_with`` / ``aggregate`` higher-order functions: the fold is
ordered and evaluated JVM-side, so results are deterministic (no
partition-order float-sum nondeterminism) and identical to a row-local SQL
computation — which keeps the DuckDB oracles exact after rounding.

Flat fixed-dimension form — a MEASURED, per-call-site choice. With
``use_flat=True`` (and ``dim`` known), ``dot`` emits a flat codegen'd
``a[0]*b[0] + ... + a[dim-1]*b[dim-1]`` instead of the fold. It is
bit-identical (same left-assoc IEEE order; a per-row size-guard falls
back to the fold for any other width) but NOT uniformly faster — round-8
A/B measurements per registered query:

- Flat LOSES on single-dot-per-row scans at both scales (the stage's
  generated method tips past JIT/codegen limits and the whole stage —
  scan included — degrades to interpreted per-row tree-walking, plus
  ~1s Janino compile per fresh plan): sf0.1 a31 5.3s flat vs 1.7s fold,
  a49 4.0 vs 1.2, x16 2.9 vs 1.2, x10 2.2 vs 0.7, x09 2.2 vs 0.6;
  sf10 x10/x09 fold matched or beat flat once compile amortized. A
  48-dot-per-row projection (rhp_signatures) measured 9x slower flat.
- Flat WINS where many short dots ride each output row at corpus scale
  (the generated method stays small enough to JIT and the fold's
  per-element lambda + array alloc dominate): sf10 a33 ADC top-k 36.6s
  flat vs 226.6s fold; a32 pq_encode 5.8 vs 17.9; x08's exact pair
  verify 121.8 vs 280.1 (all on 500k vectors / 2M subvectors).

So the rule encoded here: callers of ``dot`` and ``pair_cosine`` opt in
EXPLICITLY per call site with ``use_flat=True``, justified by a
measurement at the corpus rung (norms are one fold per vector, not per
pair, and have no flat form) —
pq subvector distances (dim=16, 3-6x) and the exact-pair cosine verifies
(2.3x) carry it; everything else stays on the fold. ``dim`` alone is an
inert width annotation. tests/test_vectors_dim.py keeps the bit-identity
property proven for the flat form across shapes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _ident(name: str) -> str:
    """Backtick-quote a column NAME for splicing into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _nested_as_col(a: Column | str) -> Column | str:
    """A dotted name is a nested-field path (``meta.embedding``), which
    ``F.col`` resolves and a backtick-quoted splice would not: route it
    through the Column form."""
    return F.col(a) if isinstance(a, str) and "." in a else a


def _dot_fold_sql(a_sql: str, b_sql: str) -> str:
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, el) -> acc + el)"
    )


def _dot_flat_sql(a_sql: str, b_sql: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST(get({a_sql}, {i}) AS DOUBLE) * CAST(get({b_sql}, {i}) AS DOUBLE)"
        for i in range(dim)
    )
    return (
        f"CASE WHEN (size({a_sql}) = {dim}) AND (size({b_sql}) = {dim}) "
        f"THEN 0.0D + {terms} ELSE {_dot_fold_sql(a_sql, b_sql)} END"
    )


def _norm_sq_fold_sql(a_sql: str) -> str:
    return (
        f"aggregate(transform({a_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, el) -> acc + el)"
    )


def _dot_fold(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_flat(a: Column, b: Column, dim: int) -> Column:
    flat: Column = F.lit(0.0)
    for i in range(dim):
        flat = flat + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return F.when(
        (F.size(a) == F.lit(dim)) & (F.size(b) == F.lit(dim)), flat
    ).otherwise(_dot_fold(a, b))


def dot(
    a: Column | str,
    b: Column | str,
    dim: int | None = None,
    use_flat: bool = False,
) -> Column:
    """Ordered float dot product. ``use_flat=True`` (requires ``dim``)
    selects the flat fixed-width form — opt in only with a corpus-rung
    measurement behind you (module docstring); bit-identical either
    way.

    Operands may be COLUMN NAMES (str): the expression is then built as
    ONE parsed SQL string instead of the Column API — the same
    construction-cost move as ``dot_literal_sql`` (its docstring has the
    measurements: each Column-API lambda conversion costs ~11 ms of py4j
    round-trips, the flat form ~90 ms per dot vs ~0.4 ms parsed). The
    parsed tree is identical node-for-node (same casts, same fold order,
    same size guard — lambda variable NAMES differ, which Catalyst
    normalizes away), so results are bit-identical; proven in
    tests/test_vectors_dim.py. A dotted name is a nested field and takes
    the Column path."""
    a, b = _nested_as_col(a), _nested_as_col(b)
    if isinstance(a, str) and isinstance(b, str):
        a_sql, b_sql = _ident(a), _ident(b)
        if use_flat and dim is not None:
            return F.expr(_dot_flat_sql(a_sql, b_sql, dim))
        return F.expr(_dot_fold_sql(a_sql, b_sql))
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    if use_flat and dim is not None:
        return _dot_flat(a, b, dim)
    return _dot_fold(a, b)


def dot_literal_sql(col_sql: str, values: list[float]) -> str:
    """SQL text for ``dot(col, <literal array>)`` in the FOLD form, as
    ONE parseable string.

    Bit-identical to ``dot(F.col(col), F.array(*[F.lit(v) ...]))``: the
    parsed tree is the same zip_with/aggregate chain over the same
    doubles (Python ``repr`` emits the shortest round-tripping decimal
    and Spark's literal parser is correctly rounded, so every literal
    lands on the identical IEEE double — proven bitwise in
    tests/test_vectors_dim.py). The point is CONSTRUCTION cost, not
    execution: building a literal-array fold through the Column API
    costs ~dim py4j round-trips per dot plus two lambda conversions
    (~11 ms each measured) — at rhp_signatures' 48 x 64 registered
    geometry that was ~2.7 s of driver-side plan construction per
    query before any job ran. One ``F.expr`` string is one round-trip.
    ``col_sql`` is spliced verbatim — pass a quoted identifier (use
    ``_ident`` for names that may contain backticks). Values must be
    finite: ``repr(inf)``/``repr(nan)`` would render as ``infD``/
    ``nanD`` and fail to parse at ``F.expr`` time — rejected here with
    a clear error instead (ADVICE r14).
    """
    import math

    bad = [v for v in values if not math.isfinite(float(v))]
    if bad:
        raise ValueError(
            f"dot_literal_sql: non-finite literal(s) {bad[:3]} cannot "
            "be rendered as SQL double literals; filter or clamp the "
            "plane values first."
        )
    arr = ", ".join(f"{float(v)!r}D" for v in values)
    return (
        f"aggregate(zip_with({col_sql}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, el) -> acc + el)"
    )


def _norm_sq_fold(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    """Ordered L2 norm; a str operand is a column name, built as one
    parsed SQL string (as in ``dot``)."""
    a = _nested_as_col(a)
    if isinstance(a, str):
        return F.expr(f"SQRT({_norm_sq_fold_sql(_ident(a))})")
    return F.sqrt(_norm_sq_fold(a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    # try_divide: a zero-norm vector yields NULL cosine (instead of an
    # ANSI-mode DIVIDE_BY_ZERO error) — downstream rankings order NULL
    # last with a deterministic id tiebreak.
    a, b = _nested_as_col(a), _nested_as_col(b)
    if isinstance(a, str) and isinstance(b, str):
        # one parsed string for the whole similarity — same tree as the
        # Column form below (try_divide(dot, norm * norm))
        a_sql, b_sql = _ident(a), _ident(b)
        d = _dot_fold_sql(a_sql, b_sql)
        na = f"SQRT({_norm_sq_fold_sql(a_sql)})"
        nb = f"SQRT({_norm_sq_fold_sql(b_sql)})"
        return F.expr(f"try_divide({d}, {na} * {nb})")
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def pair_cosine(
    a: str,
    b: str,
    norm_a: str,
    norm_b: str,
    dim: int | None = None,
    use_flat: bool = False,
) -> Column:
    """Rounded cosine of a vector pair whose L2 norms are already
    columns: ``round(try_divide(dot(a, b), norm_a * norm_b), 6)``, the
    verify every pair scan and centroid scoring runs. Norms computed
    once per vector leave the dot as the only per-pair fold — the same
    scalar sequence as ``cosine_similarity``, so values are
    bit-identical to it (after the rounding). All four operands are
    column names; the expression is one parsed SQL string.
    ``dim``/``use_flat`` select the dot's form as in ``dot``."""
    a_sql, b_sql = _ident(a), _ident(b)
    d = (
        _dot_flat_sql(a_sql, b_sql, dim)
        if use_flat and dim is not None
        else _dot_fold_sql(a_sql, b_sql)
    )
    return F.expr(
        f"round(try_divide({d}, {_ident(norm_a)} * {_ident(norm_b)}), 6)"
    )

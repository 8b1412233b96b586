"""Bit-identity of the fixed-dim flat vector-math form.

The flat form (``a[0]*b[0] + ... + a[k-1]*b[k-1]`` with a per-row
size-guard falling back to the fold) is a per-call-site OPT-IN on
``dot`` and ``pair_cosine`` (``use_flat=True``): it measured 3-6x FASTER at the sf10 corpus rung
where many short dots ride each output row (pq subvector distances,
exact-pair verifies) and 2-5x SLOWER on single-dot-per-row scans (see
the ``functions/vectors.py`` module docstring for the numbers and the
codegen-limit mechanism). What makes the opt-in safe is bit-identity:
the flat sum must never change a value, for any input shape — matching
dims, mismatched dims, NULL arrays, element NULLs, empty arrays, and a
randomized float sweep, compared to full double precision (no
rounding). These tests prove exactly that, plus that the flat form
stays opt-in.
"""

from __future__ import annotations

import inspect
import math
import random

import pytest
from pyspark.sql import functions as F

from clinical_trials_data_pipeline_analyis_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    pair_cosine,
)


def test_flat_form_is_opt_in():
    # use_flat must default False at every entry point: the flat form is
    # only justified where a corpus-rung measurement backs it (module
    # docstring) — a flipped default is an unmeasured perf change.
    for fn in (dot, pair_cosine):
        assert inspect.signature(fn).parameters["use_flat"].default is False


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        rows, "id LONG, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    )


def _collect_both(df, dim):
    out = df.select(
        "id",
        dot(F.col("a"), F.col("b")).alias("fold"),
        dot(F.col("a"), F.col("b"), dim=dim, use_flat=True).alias("flat"),
    ).orderBy("id")
    return out.collect()


def _assert_bit_identical(rows):
    for r in rows:
        x, y = r["fold"], r["flat"]
        if x is None or y is None:
            assert x is None and y is None, (r["id"], x, y)
        else:
            # struct-level bit comparison: repr of a double is exact
            assert math.isnan(x) == math.isnan(y), (r["id"], x, y)
            if not math.isnan(x):
                assert x == y and repr(x) == repr(y), (r["id"], x, y)


def test_dim_hint_matches_fold_on_matching_dim(spark):
    rng = random.Random(8)
    rows = [
        (
            i,
            [rng.uniform(-3, 3) for _ in range(8)],
            [rng.uniform(-3, 3) for _ in range(8)],
        )
        for i in range(64)
    ]
    _assert_bit_identical(_collect_both(_pairs_df(spark, rows), dim=8))


def test_dim_hint_falls_back_on_mismatched_dim(spark):
    # arrays are 5 wide, hint says 8: every row must take the fold branch
    # and return exactly the fold's value (a REAL value, not NULL — the
    # hint is a performance hint, not a validator)
    rows = [
        (i, [float(i + d) for d in range(5)], [float(d) for d in range(5)])
        for i in range(10)
    ]
    got = _collect_both(_pairs_df(spark, rows), dim=8)
    assert all(r["flat"] is not None for r in got)
    _assert_bit_identical(got)


def test_dim_hint_null_and_empty_shapes(spark):
    rows = [
        (0, None, [1.0, 2.0]),          # NULL array
        (1, [1.0, 2.0], None),
        (2, [], []),                     # empty arrays (fold -> 0.0)
        (3, [1.0, None], [2.0, 3.0]),    # element NULL at matching dim
        (4, [1.0, 2.0], [2.0, 3.0]),     # plain matching dim
        (5, [1.0, 2.0, 3.0], [2.0, 3.0]),  # cross lengths
    ]
    _assert_bit_identical(_collect_both(_pairs_df(spark, rows), dim=2))


def test_fixture_cosines_unchanged_by_hint(spark):
    """End-to-end: on the real 64-dim embeddings fixture the hinted and
    unhinted pair cosines agree to full precision (this is the claim
    that lets every registered query adopt the hint with no oracle or
    baseline change)."""
    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(60)
    a = emb.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    got = pairs.select(
        F.sum(
            F.when(
                dot(F.col("va"), F.col("vb"))
                == dot(F.col("va"), F.col("vb"), dim=64, use_flat=True),
                0,
            ).otherwise(1)
        ).alias("diffs"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert got["n"] > 1000 and got["diffs"] == 0


def test_str_operands_are_bit_identical_to_column_form(spark):
    """dot/l2_norm/cosine_similarity with str operands (column names,
    built as ONE parsed SQL string — the construction-cost path) must
    evaluate bit-for-bit equal to the Column-API form (``dot`` in both
    fold and flat modes), across every shape the flat tests cover
    (matching dims, mismatches, NULL arrays, element NULLs, empties)."""
    import struct

    rng = random.Random(15)
    rows = [
        (
            i,
            [rng.uniform(-3, 3) for _ in range(8)],
            [rng.uniform(-3, 3) for _ in range(8)],
        )
        for i in range(64)
    ]
    rows += [
        (100, None, [1.0, 2.0] + [0.0] * 6),
        (101, [1.0, 2.0] + [0.0] * 6, None),
        (102, [], []),
        (103, [1.0, None, 3.0], [2.0, 3.0, 4.0]),
        (104, [1.0, 2.0, 3.0], [2.0, 3.0]),
        (105, [0.0] * 8, [1.0] * 8),  # zero norm -> NULL cosine
    ]
    df = _pairs_df(spark, rows)
    got = df.select(
        "id",
        dot(F.col("a"), F.col("b")).alias("c_fold"),
        dot("a", "b").alias("s_fold"),
        dot(F.col("a"), F.col("b"), dim=8, use_flat=True).alias("c_flat"),
        dot("a", "b", dim=8, use_flat=True).alias("s_flat"),
        l2_norm(F.col("a")).alias("c_norm"),
        l2_norm("a").alias("s_norm"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c_cos"),
        cosine_similarity("a", "b").alias("s_cos"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        for pair in (
            ("c_fold", "s_fold"),
            ("c_flat", "s_flat"),
            ("c_norm", "s_norm"),
            ("c_cos", "s_cos"),
        ):
            x, y = r[pair[0]], r[pair[1]]
            if x is None or y is None:
                assert x is None and y is None, (r["id"], pair, x, y)
            else:
                assert struct.pack("d", x) == struct.pack("d", y), (
                    r["id"],
                    pair,
                    x,
                    y,
                )


def test_dotted_str_operands_resolve_nested_fields(spark):
    """A dotted str operand names a struct field, as ``F.col`` reads
    it: dot/l2_norm/cosine_similarity on ``meta.a`` must equal the
    Column form (a backtick-quoted splice would not resolve at all)."""
    df = _pairs_df(
        spark, [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]), (2, [0.5], [2.0])]
    ).select("id", F.struct("a", "b").alias("meta"))
    ca, cb = F.col("meta.a"), F.col("meta.b")
    for flat in (False, True):
        got = df.select(
            dot(ca, cb, dim=3, use_flat=flat).alias("c_dot"),
            dot("meta.a", "meta.b", dim=3, use_flat=flat).alias("s_dot"),
            dot("meta.a", cb, dim=3, use_flat=flat).alias("m_dot"),
            l2_norm(ca).alias("c_norm"),
            l2_norm("meta.a").alias("s_norm"),
            cosine_similarity(ca, cb).alias("c_cos"),
            cosine_similarity("meta.a", "meta.b").alias("s_cos"),
        ).collect()
        for r in got:
            assert r["c_dot"] == r["s_dot"] == r["m_dot"]
            assert r["c_norm"] == r["s_norm"]
            assert r["c_cos"] == r["s_cos"]


def test_str_operands_escape_backticks():
    # the SQL splice must quote identifiers: a name containing a
    # backtick round-trips (ADVICE r14's dot_literal_sql caveat, fixed
    # at the helper level for the str-operand path)
    from clinical_trials_data_pipeline_analyis_spark.functions.vectors import (
        _ident,
    )

    assert _ident("plain") == "`plain`"
    assert _ident("we`ird") == "`we``ird`"


def test_dot_literal_sql_is_bit_identical_to_column_fold(spark):
    """dot_literal_sql (the single-string F.expr form rhp_signatures
    uses to avoid ~dim py4j round-trips per hyperplane) must evaluate
    bit-for-bit equal to the Column-API fold over the same literals —
    including exponent-formatted repr values (1e-05) and signed zeros."""
    import random
    import struct

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.functions.vectors import (
        dot,
        dot_literal_sql,
    )

    rng = random.Random(7)
    planes = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(4)]
    planes[0][0] = 1e-05
    planes[0][1] = -0.0
    planes[0][2] = 9.999999999177334e-07
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    cols = []
    for i, p in enumerate(planes):
        cols.append(F.expr(dot_literal_sql("`embedding`", p)).alias(f"s{i}"))
        cols.append(
            dot(
                F.col("embedding"), F.array(*[F.lit(x) for x in p])
            ).alias(f"f{i}")
        )
    rows = emb.select(*cols).collect()
    assert len(rows) > 100
    for r in rows:
        for i in range(len(planes)):
            assert struct.pack("d", r[f"s{i}"]) == struct.pack(
                "d", r[f"f{i}"]
            ), (r[f"s{i}"], r[f"f{i}"])

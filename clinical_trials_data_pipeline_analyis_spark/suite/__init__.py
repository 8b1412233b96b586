"""Registered query suite: the driver contract surface.

Every operator capability from SURVEY.md §2 (and the LLM-pipeline
extensions) is registered here as a named query with:

- a Spark implementation ``(spark, sf_dir) -> DataFrame``
- an equivalent DuckDB oracle SQL string (required: every query is
  value-checked)
- the list of SURVEY §2 operator IDs it covers

The registry keeps registration order: ``tpch`` first, then
``extensions``.

Exact-match discipline (the driver hash-compares values after sorting
columns by name):

- identical output column names on both sides (everything aliased);
- aggregate sums of doubles go through ``DECIMAL(18,4)`` so both engines
  sum exactly, then cast back to double;
- integer aggregates are cast to BIGINT on the DuckDB side (DuckDB SUM on
  integers returns HUGEINT);
- any derived double is ``round(x, 6)`` on both sides;
- window/rank outputs are cast to BIGINT both sides;
- every LIMIT/top-k has a total tiebreak order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Registered:
    name: str
    spark: SparkQuery
    oracle: str
    covers: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Registered] = {}


def register(name: str, oracle: str, covers: tuple[str, ...] = ()):
    if not (oracle and oracle.strip()):
        raise ValueError(f"register({name!r}): the DuckDB oracle is empty")
    if name in _REGISTRY:
        raise ValueError(f"register({name!r}): name is already registered")

    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = Registered(name, fn, oracle, tuple(covers))
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects.
    from . import tpch  # noqa: F401
    from . import extensions  # noqa: F401


def registry() -> dict[str, Registered]:
    """All registered queries, in registration order."""
    _load_all()
    return dict(_REGISTRY)


def spark_queries() -> dict[str, SparkQuery]:
    return {n: r.spark for n, r in registry().items()}


def oracle_queries() -> dict[str, str]:
    return {n: r.oracle for n, r in registry().items()}


def coverage() -> dict[str, list[str]]:
    """operator-ID -> query names (for COVERAGE.md generation)."""
    out: dict[str, list[str]] = {}
    for r in registry().values():
        for op in r.covers:
            out.setdefault(op, []).append(r.name)
    return out

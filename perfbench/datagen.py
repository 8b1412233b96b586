"""Seeded benchmark inputs.

Two input families, both a pure function of ``(seed, size)``:

- ``write_suite_tables``: the ten tables the registered query suite reads
  (``<dir>/<table>.parquet``), with the same parquet schema and the same
  value shapes as the synthetic tables in TESTDATA.md: uniform TPC-H-style
  keys, timestamps without time zone, bag-of-words documents with a few
  exact duplicates, unit-norm 64-d float embeddings.
- ``write_aact_extracts``: the AACT extracts the medallion pipeline reads
  (pipe-delimited ``*.txt`` plus the two comma-delimited mapping CSVs),
  rendered from ``tests/fixtures.make_bronze_fixtures`` exactly as the
  pipeline runner test renders them.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf 1 (region and nation are fixed-size)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _rows(sf: float, table: str) -> int:
    return max(10, int(round(_BASE_ROWS[table] * sf)))


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _day_span(first: dt.date, last: dt.date) -> int:
    return (last - first).days + 1


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def suite_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (_rows(sf, t) for t in ("customer", "supplier", "part"))
    n_ord, n_li, n_ev = (_rows(sf, t) for t in ("orders", "lineitem", "events"))
    n_doc, n_vec = _rows(sf, "documents"), _rows(sf, "embeddings")
    day = 86_400 * 1_000_000
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_days = _day_span(dt.date(1995, 1, 1), dt.date(2001, 8, 1))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, order_days, n_ord) * day
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_days = _day_span(dt.date(1995, 1, 2), dt.date(2001, 11, 4))
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, ship_days, n_li) * day
            ),
        }
    )
    gaps = rng.exponential(30 * day / max(n_ev, 1), n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    for i in rng.choice(n_doc, size=max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, size=n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_suite_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in suite_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _write_csv(path: str, records: list[dict], cols: list[str], sep: str) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, delimiter=sep, quoting=csv.QUOTE_MINIMAL)
        w.writerow(cols)
        for rec in records:
            w.writerow(["" if rec.get(c) is None else rec.get(c) for c in cols])


def write_aact_extracts(out_dir: str, n_studies: int, seed: int) -> dict[str, list[dict]]:
    """Write the extracts and return the fixture records they were made from."""
    from fixtures import make_bronze_fixtures

    from clinical_trials_data_pipeline_analyis_spark.pipeline import (
        EXTRACT_FILES,
        MAPPING_FILES,
    )
    from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS

    os.makedirs(out_dir, exist_ok=True)
    tables = make_bronze_fixtures(n_studies=n_studies, seed=seed)
    for files, sep in ((EXTRACT_FILES, "|"), (MAPPING_FILES, ",")):
        for table, filename in files.items():
            cols = [f.name for f in BRONZE_SCHEMAS[table].fields]
            _write_csv(os.path.join(out_dir, filename), tables[table], cols, sep)
    return tables

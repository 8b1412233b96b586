"""Driver-harness simulation: run registered Spark queries against their
DuckDB oracles at sf0.01 under a DEFAULT SparkSession (the driver's own
config — ANSI on, default shuffle partitions), exactly as the external
driver does.

Usage:
    python scripts/drive_driver.py            # all queries (~90s)
    python scripts/drive_driver.py x15 a23    # substring filters
    python scripts/drive_driver.py --json OUT.json   # + CORRECTNESS-
        shaped snapshot ({name: {rows_match, schema_match,
        hash_match}}) — the round-close pre-driver artifact (the
        driver's own CORRECTNESS_r{N}.json lands after the builder's
        last commit, so the builder files this tracked equivalent)
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            raise SystemExit("usage: drive_driver.py [--json OUT.json] [filters...]")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    filters = args
    import duckdb
    from pyspark.sql import SparkSession

    # This checkout's own root, so an A/B against another checkout
    # checks the queries of the copy the script was run from. Spark's
    # Python workers build their path from PYTHONPATH when the JVM
    # starts, so the root goes there too, or a Python UDF fails in the
    # workers when the script runs from another directory.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entrymod

    spark = SparkSession.builder.master("local[*]").getOrCreate()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [
        n
        for n in queries
        if not filters or any(f in n for f in filters)
    ]
    n_fail = 0
    snapshot: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        rec = {"rows_match": False, "schema_match": False, "hash_match": False}
        snapshot[name] = rec
        try:
            sdf = queries[name](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            rec["err"] = f"{type(e).__name__}: {str(e)[:160]}"
            n_fail += 1
            continue
        odf = con.sql(oracles[name]).df()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"{name}: SCHEMA MISMATCH spark={scols} oracle={ocols}")
            n_fail += 1
            continue
        rec["schema_match"] = True
        s = sdf[scols].astype(str).sort_values(scols).reset_index(drop=True)
        o = odf[ocols].astype(str).sort_values(ocols).reset_index(drop=True)
        if len(s) != len(o):
            print(f"{name}: ROWS MISMATCH spark={len(s)} oracle={len(o)}")
            n_fail += 1
        elif not s.equals(o):
            diff = (s != o).any(axis=1)
            rec["rows_match"] = True
            print(f"{name}: VALUE MISMATCH ({int(diff.sum())} rows differ)")
            print("  spark:", s[diff].head(3).to_dict("records"))
            print("  oracle:", o[diff].head(3).to_dict("records"))
            n_fail += 1
        else:
            rec.update(rows_match=True, hash_match=True, n_rows=len(s))
            print(f"{name}: MATCH rows={len(s)} ({time.time()-t0:.1f}s)")
    print(f"\n{len(names)} queries, {n_fail} failures")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(snapshot, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

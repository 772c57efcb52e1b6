"""Driver-emulation harness: run every `queries()` entry on Spark and its
`oracle_sql()` twin on DuckDB over the same parquet dir, compare row count,
column names, and order-insensitive value multiset.

Usage: python tools/oracle_check.py [sf_dir] [--only name1,name2]
(default sf_dir /root/testdata/sf0.01). Exit 0 iff every query matches.

tests/ import the comparison (`duck_views`, `spark_rows`, `oracle_mismatch`)
from here, and perfbench loads `_norm` by path, so importing this module
must have no side effects.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6f}"
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per declared table present in ``sf_dir``."""
    from social_media_big_data_analyzer_spark.schemas import SCHEMAS

    con = duckdb.connect()
    for t in SCHEMAS:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def spark_rows(sdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the sorted, normalized rows of ``sdf``."""
    cols = sorted(sdf.columns)
    return cols, sorted(tuple(_norm(r[c]) for c in cols) for r in sdf.collect())


def oracle_mismatch(cols: list[str], srows: list[tuple], con, sql: str) -> str | None:
    """None when the oracle ``sql`` gives the same columns and row multiset as
    the Spark result from :func:`spark_rows`, else the first difference."""
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    if sorted(ocols) != cols:
        return f"columns spark={cols} oracle={sorted(ocols)}"
    idx = [ocols.index(c) for c in cols]
    orows = sorted(tuple(_norm(row[i]) for i in idx) for row in cur.fetchall())
    if len(srows) != len(orows):
        return f"rows spark={len(srows)} oracle={len(orows)}"
    if srows != orows:
        bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
        return (
            f"value mismatch at sorted-row {bad}:\n"
            f"  spark : {srows[bad]}\n  oracle: {orows[bad]}"
        )
    return None


def main() -> int:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as mod
    from social_media_big_data_analyzer_spark.session import local_session

    spark = local_session(os.environ.get("SPARK_GRAFT_CPUS", "8"), driver_memory="8g")
    con = duck_views(sf_dir)

    qs, oracles = mod.queries(), mod.oracle_sql()
    if only is not None:
        missing = only - set(qs)
        if missing:
            print(f"FAIL unknown --only names: {sorted(missing)}")
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    extra_oracles = set(oracles) - set(qs)
    if extra_oracles:
        print(f"WARN oracle_sql keys with no query: {sorted(extra_oracles)}")

    failed = []
    for name, fn in qs.items():
        try:
            cols, srows = spark_rows(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            why = oracle_mismatch(cols, srows, con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failed.append(name)
            continue
        if why:
            print(f"FAIL {name}: {why}")
            failed.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows")

    ent = mod.entry(spark)
    n = len(ent.collect())
    print(f"entry(): {n} rows, schema={ent.schema.simpleString()}")
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print(f"ALL {len(qs)} queries match at {sf_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

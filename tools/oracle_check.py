"""Driver-emulation harness: run every `queries()` entry on Spark and its
`oracle_sql()` twin on DuckDB over the same parquet dir, compare row count,
column names, and order-insensitive value multiset.

Usage: python tools/oracle_check.py [sf_dir] [--only name1,name2]
(default sf_dir /root/testdata/sf0.01). Exit 0 iff every query matches.
"""

from __future__ import annotations

import importlib.util
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


def main() -> int:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    from social_media_big_data_analyzer_spark.schemas import SCHEMAS

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in SCHEMAS:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

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
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted(tuple(_norm(r[c]) for c in cols) for r in sdf.collect())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            raw = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failed.append(name)
            continue
        if sorted(ocols) != cols:
            print(f"FAIL {name}: columns spark={cols} oracle={sorted(ocols)}")
            failed.append(name)
            continue
        idx = [ocols.index(c) for c in cols]
        orows = sorted(tuple(_norm(row[i]) for i in idx) for row in raw)
        if len(srows) != len(orows):
            print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
            failed.append(name)
        elif srows != orows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"  spark : {srows[bad]}")
            print(f"  oracle: {orows[bad]}")
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

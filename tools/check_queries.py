"""Local mirror of the driver's correctness gate: run __spark_entry__
queries() entries on Spark and their oracle_sql() on DuckDB over the
same sf dir; compare row count, column names, and order-insensitive
values. With no NAME every entry runs, then the entry() smoke check.

Usage: python tools/check_queries.py [NAME ...] --sf SF_DIR
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from webcrawlerfull_spark.session import get_spark  # noqa: E402

TABLES = entrymod._TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()

    def cell(v):
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float):
            return f"{round(v, 6):.6f}"
        return str(v)

    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(lambda x: f"{round(float(x), 6):.6f}")
        else:
            df[c] = df[c].map(cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, names: list[str] | None = None) -> int:
    spark = get_spark(app_name="check-queries", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name in names or list(qs):
        if name not in qs:
            print(f"FAIL {name}: no such entry")
            failures += 1
            continue
        try:
            got = canon(qs[name](spark, sf_dir).toPandas())
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            failures += 1
        elif len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            failures += 1
        elif not got.equals(exp):
            diff = (got != exp).any(axis=1)
            print(f"FAIL {name}: value mismatch, first diffs:")
            print(pd.concat([got[diff].head(3), exp[diff].head(3)], keys=["got", "exp"]))
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    if not names:
        try:
            n = entrymod.entry(spark).count()
            print(f"OK   entry() -> {n} rows")
        except Exception as e:
            print(f"FAIL entry(): {e}")
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", metavar="NAME",
                    help="queries() entries to check (default: all)")
    ap.add_argument("--sf", required=True,
                    help="scale-factor dir of the input parquet tables")
    args = ap.parse_args()
    raise SystemExit(main(args.sf, args.names))

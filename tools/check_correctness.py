"""Local replica of the driver's correctness gate.

Runs every registered Spark query and its DuckDB oracle at the given
scale factor, compares row count, column names, and an
order-insensitive value hash (floats rounded, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, round floats, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(4)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.md5()
    h.update("|".join(df.columns).encode())
    h.update(df.to_csv(index=False, float_format="%.4f").encode())
    return h.hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test-data table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, sf_dir: str, fn, sql: str | None) -> tuple[str, object, int]:
    """Run one registered query and its DuckDB oracle and compare them.

    Returns ``(status, detail, rows)``. ``status`` is 'ok', 'no-oracle',
    'spark-error', 'oracle-error' or 'mismatch'; ``detail`` is the
    exception for an error, the list of problems for a mismatch, else
    None; ``rows`` is the Spark result's row count."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:
        return "spark-error", e, 0
    if sql is None:
        return "no-oracle", None, len(sdf)
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        return "oracle-error", e, len(sdf)
    cs, co = canon(sdf), canon(odf)
    problems = []
    if len(cs) != len(co):
        problems.append(f"rowcount {len(cs)} vs {len(co)}")
    if list(cs.columns) != list(co.columns):
        problems.append(f"cols {list(cs.columns)} vs {list(co.columns)}")
    if not problems and value_hash(cs) != value_hash(co):
        diff_cols = []
        for c in cs.columns:
            if not cs[c].equals(co[c]):
                diff_cols.append(c)
        problems.append(f"hash mismatch in cols {diff_cols}")
        ex = None
        for c in diff_cols:
            neq = cs[c] != co[c]
            if neq.any():
                i = int(np.argmax(neq.values))
                ex = (c, i, cs[c].iloc[i], co[c].iloc[i])
                break
        if ex:
            problems.append(f"first diff {ex}")
    return ("mismatch" if problems else "ok"), (problems or None), len(cs)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = oracle_connection(sf_dir)

    failures, passed, no_oracle = [], 0, 0
    for name, (fn, sql) in q.REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status, detail, rows = check_query(spark, con, sf_dir, fn, sql)
        if status == "spark-error":
            failures.append((name, f"SPARK ERROR: {type(detail).__name__}: {detail}"))
            print(f"  FAIL {name}: spark error {detail}")
        elif status == "no-oracle":
            no_oracle += 1
            print(f"  ---- {name}: rows={rows} (no oracle) [{time.time()-t0:.1f}s]")
        elif status == "oracle-error":
            failures.append((name, f"ORACLE ERROR: {type(detail).__name__}: {detail}"))
            print(f"  FAIL {name}: oracle error {detail}")
        elif status == "mismatch":
            failures.append((name, "; ".join(str(p) for p in detail)))
            print(f"  FAIL {name}: {detail}")
        else:
            passed += 1
            print(f"  ok   {name} rows={rows} [{time.time()-t0:.1f}s]")

    print(f"\n{passed} passed, {len(failures)} failed, {no_oracle} no-oracle @ {sf_dir}")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Local stand-in for the driver's CORRECTNESS check: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB over the same parquet, compare row count + sorted-column
schema + order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from vision_parse_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(9)
    rows = pdf.astype(str).agg("\x1f".join, axis=1).sort_values()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows, "
                  f"cols={sorted(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                merged = diag(sdf, odf)
                if merged is not None:
                    problems.append(merged)
        if problems:
            print(f"FAIL  {name}: {'; '.join(str(p) for p in problems)}")
            failures += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows match {hs}")
    sys.exit(1 if failures else 0)


def diag(sdf: pd.DataFrame, odf: pd.DataFrame):
    """Best-effort first-difference report keyed on the first column."""
    key = sorted(sdf.columns)[0]
    try:
        s = sdf.sort_values(key).reset_index(drop=True)
        o = odf.sort_values(key).reset_index(drop=True)
        for c in sorted(sdf.columns):
            a, b = s[c].astype(str), o[c].astype(str)
            neq = a != b
            if neq.any():
                i = neq.idxmax()
                return (f"first diff col={c} row={i}: "
                        f"spark={a[i]!r} duckdb={b[i]!r}")
    except Exception as e:
        return f"diag failed: {e}"
    return None


if __name__ == "__main__":
    main()

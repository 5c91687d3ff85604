#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and its oracle_sql() twin on DuckDB over the
same parquet, compare row count, schema (sorted column names), and a
value hash over column-name-sorted, row-sorted values. Prints one JSON
line per query plus a summary. Usage:

    python scripts/check_correctness.py [-h] sf_dir [query ...]

An unknown flag, a missing or absent sf directory or an unknown query
name exits non-zero before Spark starts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(df) -> str:
    """Column-name-sorted, row-sorted, rounded value hash (mirrors the
    driver's compare: sort columns by name, sort rows, hash values)."""
    import pandas as pd

    pdf = df[sorted(df.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    buf = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind == "f":
            buf.append(col.round(6).astype(str))
        else:
            buf.append(col.astype(str))
    joined = pd.concat(buf, axis=1).agg("|".join, axis=1)
    return hashlib.sha256("\n".join(joined).encode()).hexdigest()[:16]


def parse_args(argv: list[str]) -> argparse.Namespace:
    """The sf directory and query names, checked before Spark starts."""
    parser = argparse.ArgumentParser(
        description="Run registry queries on Spark and compare them with their "
        "DuckDB oracle twins over the same parquet."
    )
    parser.add_argument("sf_dir", help="directory of the <table>.parquet inputs")
    parser.add_argument("queries", nargs="*", help="query names to run (default: all)")
    args = parser.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        parser.error(f"sf directory not found: {args.sf_dir}")
    return args


def main() -> None:
    args = parse_args(sys.argv[1:])
    sf_dir, only = args.sf_dir, set(args.queries)

    import duckdb

    import __spark_entry__ as entry
    from datasketches_cpp_spark.session import get_spark

    qs, oracles = entry.queries(), entry.oracle_sql()
    if only - set(qs):
        sys.exit(f"unknown queries: {' '.join(sorted(only - set(qs)))}")

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]",
        app_name="correctness",
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    n_green = n_rows_only = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row: dict = {"query": name}
        try:
            sdf = fn(spark, sf_dir).toPandas()
            row["spark_rows"] = len(sdf)
            sql = oracles.get(name)
            if sql is None:
                row["status"] = "rows_only"
                n_rows_only += 1
            else:
                odf = con.execute(sql).df()
                row["oracle_rows"] = len(odf)
                row["rows_match"] = len(sdf) == len(odf)
                row["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                if row["schema_match"]:
                    row["hash_match"] = value_hash(sdf) == value_hash(odf)
                else:
                    row["hash_match"] = False
                    row["spark_cols"] = sorted(sdf.columns)
                    row["oracle_cols"] = sorted(odf.columns)
                ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
                row["status"] = "green" if ok else "MISMATCH"
                n_green += ok
                n_bad += not ok
        except Exception as e:  # noqa: BLE001 — report and continue
            row["status"] = "ERROR"
            row["error"] = f"{type(e).__name__}: {e}"[:300]
            n_bad += 1
        print(json.dumps(row), flush=True)

    print(
        json.dumps(
            {"summary": True, "green": n_green, "rows_only": n_rows_only, "bad": n_bad}
        )
    )
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()

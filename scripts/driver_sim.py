"""Simulate the round driver's correctness gate locally.

Runs each of the first ``DRIVER_WINDOW`` registry queries at the given SF
(default sf0.01, the driver's scale) and compares against its DuckDB oracle
using a pandas-based canonicalization deliberately shaped like the driver's
(sort columns by name, ``sort_values`` over all columns, stringify, hash) —
the exact path where round-1 HUGEINT/list dtype mismatches appeared.
After the summary it prints the run's Janino compile count and compile
milliseconds (codegen churn), read from driver-side counters.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01] [--all]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon_hash(pdf) -> str:
    import pandas as pd  # noqa: F401

    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    body = "\n".join(
        "|".join("NULL" if v is None or v != v else str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true", help="check every query, not just the window")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    import duckdb
    import pandas as pd

    import __spark_entry__ as mod
    from delta_lake_optimizations_spark import TABLES, get_spark
    from delta_lake_optimizations_spark.registry import DRIVER_WINDOW
    from delta_lake_optimizations_spark.session import codegen_compiles

    spark = get_spark(app_name="driver-sim", shuffle_partitions=16)
    mod.entry(spark).collect()
    print("smoke: entry() ok", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = list(queries)
    if not args.all:
        names = names[:DRIVER_WINDOW]
    if args.only:
        names = [n for n in args.only.split(",") if n]

    n_green = n_rows_only = 0
    failures: list[str] = []
    for name in names:
        try:
            sdf = queries[name](spark, args.sf_dir)
            s_pdf = pd.DataFrame(
                [tuple(r) for r in sdf.collect()], columns=sdf.columns
            )
            if name not in oracles:
                status = f"rows_only rows={len(s_pdf)}"
                n_rows_only += 1
            else:
                d_pdf = con.execute(oracles[name]).df()
                probs = []
                if len(s_pdf) != len(d_pdf):
                    probs.append(f"rows {len(s_pdf)}!={len(d_pdf)}")
                if sorted(s_pdf.columns) != sorted(d_pdf.columns):
                    probs.append(f"schema {sorted(s_pdf.columns)}!={sorted(d_pdf.columns)}")
                if not probs and _canon_hash(s_pdf) != _canon_hash(d_pdf):
                    probs.append("hash mismatch")
                if probs:
                    failures.append(name)
                    status = "FAIL " + "; ".join(probs)
                else:
                    status = "green"
                    n_green += 1
        except Exception:
            failures.append(name)
            status = "ERR " + traceback.format_exc().strip().splitlines()[-1]
        print(f"{name:42s} {status}", flush=True)

    print(
        f"\n{n_green} green, {n_rows_only} rows-only, {len(failures)} failed "
        f"of {len(names)} checked at {args.sf_dir}"
    )
    n_compiles, compile_ms = codegen_compiles(spark)
    print(f"codegen: {n_compiles} classes compiled, {compile_ms:.0f} ms compiling")
    if failures:
        print("failures:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

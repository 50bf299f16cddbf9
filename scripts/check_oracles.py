"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, then compares row count, column names, and (row-order-insensitively)
values — exact for non-floats, 1e-9 atol for floats, reporting max float diff
so hash-compare risk is visible.

Usage: python scripts/check_oracles.py [--all] [sf_dir] [query ...]

Default checks the exported driver gate (the consolidated 50 entries);
``--all`` checks the full un-merged catalog (all_queries), which includes
every pre-consolidation query the merged suites were built from.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
from ipl_dagster_pipeline_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype("string")
        # DuckDB may give float32/decimal; unify numerics
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> str:
    if len(got) != len(exp):
        return f"ROWS {len(got)} vs {len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"COLS {sorted(got.columns)} vs {sorted(exp.columns)}"
    g, e = normalize(got), normalize(exp)
    max_float_diff = 0.0
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            a, b = g[c].to_numpy(), e[c].to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            diff = np.abs(a - b)
            diff[both_nan] = 0
            if np.nanmax(diff, initial=0) > 1e-9:
                return f"FLOAT col {c} maxdiff {np.nanmax(diff)}"
            max_float_diff = max(max_float_diff, float(np.nanmax(diff, initial=0)))
        else:
            ga = g[c].where(g[c].notna(), None).tolist()
            ea = e[c].where(e[c].notna(), None).tolist()
            if ga != ea:
                bad = next(i for i, (x, y) in enumerate(zip(ga, ea)) if x != y)
                return f"VAL col {c} row {bad}: {ga[bad]!r} vs {ea[bad]!r}"
    return f"OK (maxfloatdiff {max_float_diff:.2e})"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--all"]
    use_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if use_all or only:
        # explicit names resolve against the FULL catalog — a named query
        # that is not in the driver gate must still run, and a name that
        # matches nothing is an error, never a silent PASS
        qs, oracles = entry_mod.all_queries(), entry_mod.all_oracle_sql()
    else:
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            sys.exit(2)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} SPARK ERROR: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(got)} rows")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} DUCKDB ERROR: {exc}")
            failures += 1
            continue
        verdict = compare(name, got, exp)
        if not verdict.startswith("OK"):
            failures += 1
        print(f"{name:28s} {verdict}")
    print(f"\n{'FAIL' if failures else 'PASS'} ({failures} failures)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

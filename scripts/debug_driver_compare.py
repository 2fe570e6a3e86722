"""Reproduce the driver's pandas-based compare for a list of query ids.

The driver (per the r2 tracebacks) converts both results to pandas,
reorders columns sorted by name, sorts rows with DataFrame.sort_values
over all columns, and hashes values — so dtype- and value-level
divergence between Spark's toPandas() and DuckDB's .df() shows up even
when our tuple-level canon compare passes.  This script prints dtypes
and first differing cells for each engine pair.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    qids = sys.argv[1:]
    run_all = qids == ["--all"]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    if run_all:
        qids = sorted(queries)
    bad: list[str] = []
    for qid in qids:
        verbose = not run_all
        try:
            sdf = queries[qid](spark, SF_DIR)
            if qid not in oracles:
                # rows-only check STILL goes through the driver's pandas
                # canonicalization — replicate it exactly so unhashable
                # cells (ndarray/dict) crash HERE, not in the driver
                # (r4's embed_pca escaped because this path was a bare
                # count()).
                n = len(canon(sdf.toPandas()))
                if run_all:
                    print(f"ok (rows-only, {n}): {qid}", flush=True)
                continue
            spdf = sdf.toPandas()
            ddf = con.sql(oracles[qid]).df()
        except Exception as ex:
            print(f"=== {qid} ===\nRUN ERROR: {type(ex).__name__} {str(ex)[:300]}")
            bad.append(qid)
            continue
        lines: list[str] = []
        if verbose:
            lines.append(f"spark dtypes: {dict(spdf.dtypes.astype(str))}")
            lines.append(f"duck  dtypes: {dict(ddf.dtypes.astype(str))}")
        try:
            a, b = canon(spdf), canon(ddf)
        except Exception as ex:
            print(f"=== {qid} ===\nCANON ERROR: {type(ex).__name__} {str(ex)[:200]}")
            bad.append(qid)
            continue
        if a.shape != b.shape or sorted(spdf.columns) != sorted(ddf.columns):
            print(f"=== {qid} ===\nSHAPE/COLS MISMATCH {a.shape} {b.shape}")
            bad.append(qid)
            continue
        diffs = 0
        for c in a.columns:
            if verbose and str(a[c].dtype) != str(b[c].dtype):
                lines.append(f"  dtype diff col={c}: spark={a[c].dtype} duck={b[c].dtype}")
            try:
                neq = ~(a[c].eq(b[c]) | (a[c].isna() & b[c].isna()))
            except Exception as ex:
                lines.append(f"  col={c} compare error: {ex}")
                diffs += 1
                continue
            n = int(neq.sum())
            if n:
                diffs += n
                i = neq.idxmax()
                lines.append(
                    f"  VALUE diff col={c}: {n} cells; first at row {i}: "
                    f"spark={a[c][i]!r} duck={b[c][i]!r}"
                )
        if diffs or verbose:
            print(f"=== {qid} ===")
            print("\n".join(lines))
            if not diffs:
                print("  values equal after canon (dtype diffs above, if any)")
        if diffs:
            bad.append(qid)
        elif run_all:
            print(f"ok: {qid}", flush=True)
    print(f"\nBAD ({len(bad)}): {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

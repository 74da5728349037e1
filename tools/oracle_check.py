"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema, and
order-insensitive values (stricter than the driver: exact equality,
bitwise for floats). The Spark side runs first, in a child process that
saves each result to a temporary directory and takes its JVM with it when
it exits; DuckDB then runs alone, so the two engines never hold memory at
the same time. Usage:

    python tools/oracle_check.py --sf /root/testdata/sf0.01 [--only name ...]
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import pickle
import sys
import tempfile
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns: spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        elif np.issubdtype(av.dtype, np.datetime64) and np.issubdtype(
            bv.dtype, np.datetime64
        ):
            # NaT == NaT is False elementwise (NaN semantics); two nulls agree
            eq = (av == bv) | (np.isnat(av) & np.isnat(bv))
        else:
            try:
                eq = av == bv
            except Exception:
                eq = np.array([x == y for x, y in zip(av, bv)])
        if not np.all(eq):
            bad = np.where(~eq)[0][:3]
            examples = [(a[c].iloc[i], b[c].iloc[i]) for i in bad]
            problems.append(
                f"col {c}: {np.count_nonzero(~eq)}/{len(eq)} mismatches, e.g. {examples}"
            )
    # dtype advisory (not fatal locally, but the driver may be stricter)
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"DTYPE-WARN col {c}: spark={a[c].dtype} duck={b[c].dtype}")
    return problems


def run_spark(sf_dir: str, names: list[str], out_dir: str) -> None:
    """Run each named query on Spark and pickle ``(pandas result or error
    text, seconds)`` to ``out_dir/<name>.pkl``. Pickle, not parquet: it
    round-trips the pandas frame exactly, so ``compare`` sees what
    ``toPandas`` returned."""
    import __spark_entry__ as entry_mod
    from probability_of_buying_two_products_together_hadoop_project_spark.session import get_spark

    spark = get_spark("oracle-check")
    qs = entry_mod.queries()
    for name in names:
        t0 = time.time()
        try:
            result = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            result = f"spark error: {e}"
        with open(os.path.join(out_dir, name + ".pkl"), "wb") as f:
            pickle.dump((result, time.time() - t0), f)
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    names = args.only or list(entry_mod.queries())
    n_pass = n_fail = n_rowsonly = 0
    with tempfile.TemporaryDirectory(prefix="oracle-check-") as out_dir:
        child = multiprocessing.get_context("spawn").Process(
            target=run_spark, args=(args.sf, names, out_dir)
        )
        child.start()
        child.join()
        con = duck_conn(args.sf)
        for name in names:
            path = os.path.join(out_dir, name + ".pkl")
            if not os.path.exists(path):
                print(f"FAIL {name}: spark side exited with code {child.exitcode}")
                n_fail += 1
                continue
            with open(path, "rb") as f:
                sdf, spark_s = pickle.load(f)
            if isinstance(sdf, str):
                print(f"FAIL {name}: {sdf}")
                n_fail += 1
                continue
            t0 = time.time() - spark_s
            if name not in oracles:
                status = "ROWS-ONLY"
                print(f"{status} {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
                n_rowsonly += 1
                continue
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error: {e}")
                n_fail += 1
                continue
            problems = compare(name, sdf, ddf)
            hard = [p for p in problems if not p.startswith("DTYPE-WARN")]
            if hard:
                print(f"FAIL {name} ({time.time()-t0:.1f}s):")
                for p in problems:
                    print(f"    {p}")
                n_fail += 1
            else:
                warn = "; ".join(p for p in problems if p.startswith("DTYPE-WARN"))
                print(
                    f"PASS {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)"
                    + (f" [{warn}]" if warn else "")
                )
                n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

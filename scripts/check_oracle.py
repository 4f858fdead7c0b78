#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every query in
``__spark_entry__.queries()`` and its DuckDB oracle side-by-side, then
compare row count, column names, and an order-insensitive multiset of
normalized rows.

Two comparison modes:

* **exact** (default) — driver-strength.  Fetches the Spark result via
  ``toPandas()`` and the DuckDB result via ``.df()`` (pandas), then
  normalizes each cell TYPE-SENSITIVELY with full float precision.
  This reproduces the driver's hash comparison, including the
  HUGEINT/DOUBLE-vs-BIGINT skew class that shipped in round 3: DuckDB's
  pandas bridge converts HUGEINT (int128 ``SUM`` over integers) to
  float64, so ``20028`` becomes ``20028.0`` and hashes differently from
  Spark's BIGINT ``20028``.  The r03 failures (tpch_q12, dataset_split,
  stats_moments, pack_sequences) all reproduce under this mode on the
  pre-fix oracle SQL and pass post-fix.
* **loose** (``--loose``) — the historical 6-significant-digit,
  type-insensitive comparison.  Useful when debugging value drift
  without type noise.

``--where "<pred>"`` compares a DETERMINISTIC SLICE of each result, for
queries whose full output exceeds what one driver can collect (the sf10
regime: quantile_bins emits 60M rows, ewma 100M).  The same predicate,
a ``WHERE`` clause over the query's OUTPUT columns, filters the Spark
result and the DuckDB oracle, and the surviving rows go through the
same compare.  A slice match is the full compare restricted to the
slice: rows outside it are unchecked.

Usage:

    python scripts/check_oracle.py            # all queries, exact mode
    python scripts/check_oracle.py q1 q2      # subset
    python scripts/check_oracle.py --loose    # legacy comparison
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python scripts/check_oracle.py
    SPARK_GRAFT_SF_DIR=.scaledata/sf10 \
    python scripts/check_oracle.py quantile_bins --where "l_orderkey % 199 = 0"
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from openetlagent_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize_loose(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(microsecond=(v.microsecond // 1000) * 1000).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_loose(x) for x in v) + "]"
    return str(v)


def normalize_exact(v):
    """Type-sensitive, full-precision cell normalization.

    ``int`` and ``float`` stringify differently even for equal values
    (``20028`` vs ``20028.0``) — exactly the distinction the driver's
    hash makes.  Floats use ``repr`` (shortest round-trip, i.e. full
    float64 precision); any cross-engine double that is not
    bit-identical fails here, which is intentional: the engine computes
    money/stat aggregates in DECIMAL and casts to DOUBLE at the very end
    on BOTH sides precisely so the doubles ARE bit-identical.
    """
    # pandas missing values first: None, NaN, NaT.  NaT must be caught
    # BEFORE the Timestamp/datetime branches — pd.NaT subclasses
    # datetime.datetime, and isoformat() on it stringifies as 'NaT'
    # while the Spark side renders the same SQL NULL as None.
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas encodes SQL NULL of numeric cols as NaN
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "NULL"
        # DuckDB's pandas bridge renders DATE columns as midnight
        # datetime64; Spark's toPandas keeps datetime.date objects.  The
        # driver hashes these as EQUAL (tpch_q18 and casting both carry
        # date output columns and passed the driver's hash in r01-r03),
        # so a zero-time, zero-tz timestamp normalizes to its date.
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond, v.nanosecond) == (0, 0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(normalize_exact(x) for x in v) + "]"
    return "s:" + str(v)


def pdf_to_multiset(pdf: pd.DataFrame, norm) -> list[str]:
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append("|".join(norm(v) for v in row))
    return sorted(out)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    ap = argparse.ArgumentParser(description="Compare each query with its DuckDB oracle.")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument("--loose", action="store_true", help="6-digit, type-insensitive compare")
    ap.add_argument("--where", metavar="PRED", help="compare only output rows matching PRED")
    args = ap.parse_args()
    loose, only, where = args.loose, set(args.queries), args.where
    norm = normalize_loose if loose else normalize_exact
    label = f" [where {where}]" if where else ""

    qs = entry_mod.queries()
    if only - set(qs):
        ap.error(f"unknown queries: {sorted(only - set(qs))}")
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracles = entry_mod.oracle_sql()
    failures = 0
    oracle_cache: dict[str, object] = {}  # sql -> result df; several
    # store queries share one heavy unrolled-CTE oracle string — run it
    # once (equality of the shared string is exactly what they prove)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark.catalog.clearCache()  # drop caches left by prior operators
        try:
            from openetlagent_spark.session import free_local_checkpoints

            free_local_checkpoints(spark)
        except Exception:
            pass
        try:
            sdf = fn(spark, sf_dir)
            s_pdf = (sdf.where(where) if where else sdf).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark query raised: {str(exc)[:300]}")
            failures += 1
            continue

        sql = oracles.get(name)
        if sql is None:
            print(f"OK?   {name}{label}: rows-only (no oracle), {len(s_pdf)} rows "
                  f"[{time.time()-t0:.1f}s]")
            if not len(s_pdf):
                print(f"WARN  {name}: rows-only query returned 0 rows")
            continue

        if where:
            sql = f"SELECT * FROM ({sql}) __q WHERE {where}"
        try:
            if sql in oracle_cache:
                d_pdf = oracle_cache[sql]
            else:
                d_pdf = con.execute(sql).df()
                oracle_cache[sql] = d_pdf
        except Exception as exc:
            print(f"FAIL  {name}: oracle raised: {str(exc)[:300]}")
            failures += 1
            continue

        problems = []
        if len(s_pdf) != len(d_pdf):
            problems.append(f"row count {len(s_pdf)} != {len(d_pdf)}")
        if sorted(s_pdf.columns) != sorted(d_pdf.columns):
            problems.append(
                f"columns {sorted(s_pdf.columns)} != {sorted(d_pdf.columns)}")
        if not problems:
            sm = pdf_to_multiset(s_pdf, norm)
            dm = pdf_to_multiset(d_pdf, norm)
            if sm != dm:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                problems.append(f"value mismatch, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}{label}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name}{label}: {len(s_pdf)} rows [{time.time()-t0:.1f}s]")

    mode = "loose" if loose else "exact"
    print(f"\n[{mode}] {'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 via Spark AND its ``oracle_sql()``
via DuckDB, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values canonicalized).
Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import from the working directory the JVM starts
# in, not from this process's sys.path: run from this checkout so both sides
# use the same code
os.chdir(REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from netml_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import numpy as np
        if isinstance(v, np.ndarray):
            return "[" + ",".join(canon(x) for x in v.tolist()) + "]"
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return canon(float(v))
    except ImportError:
        pass
    return str(v)


def table_hash(pdf: pd.DataFrame) -> str:
    """Mimic the DRIVER's canonicalizer: pandas sort_values over the RAW
    columns first (this raises TypeError on list/array cells, exactly like
    the gate — queries must serialize arrays), then hash canonicalized rows
    in that order."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(by=cols)  # TypeError on unhashable cells = gate red
    rows = ["|".join(canon(row[c]) for c in cols) for _, row in pdf.iterrows()]
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main():
    only = set(sys.argv[1:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark("check-correctness", master="local[8]", shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in sqls:
            print(f"weak  {name}: rows={len(spdf)} (no oracle; rows-only check)")
            continue
        try:
            opdf = con.sql(sqls[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        h1 = table_hash(spdf) if ok_rows and ok_cols else "-"
        h2 = table_hash(opdf) if ok_rows and ok_cols else "-"
        ok = ok_rows and ok_cols and h1 == h2
        dt = time.time() - t0
        print(f"{'ok   ' if ok else 'FAIL '} {name}: rows {len(spdf)}/{len(opdf)} "
              f"cols={'ok' if ok_cols else sorted(spdf.columns)+sorted(opdf.columns)} "
              f"hash {h1} {h2} ({dt:.1f}s)")
        if not ok:
            failures.append(name)
            if ok_rows and ok_cols:
                # show first mismatching rows for debugging
                cols = sorted(spdf.columns)
                a = sorted("|".join(canon(r[c]) for c in cols) for _, r in spdf.iterrows())
                b = sorted("|".join(canon(r[c]) for c in cols) for _, r in opdf.iterrows())
                for x, y in zip(a, b):
                    if x != y:
                        print(f"   spark : {x}\n   duckdb: {y}")
                        break
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

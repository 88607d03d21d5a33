"""Local replica of the driver's correctness gate.

For each entry in ``__spark_entry__.queries()``: run the Spark query
and the DuckDB ``oracle_sql()`` on the same parquet tables, compare
row count, sorted column names, and the order-insensitive multiset of
row values (floats to 1e-9 relative tolerance).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ulh_etl_spark.cache import release_persisted  # noqa: E402
from ulh_etl_spark.session import TABLES, get_spark, table_path  # noqa: E402


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return str(v)


def _norm_rows(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    # spill instead of OOM: the unrolled graph oracles (q175's two
    # label-propagation rounds over the kNN CTE chain) exceed RAM at
    # sf0.1 — with a temp_directory DuckDB offloads and finishes.
    # Fixed path OUTSIDE the repo: tempfile.gettempdir() follows
    # TMPDIR, which in some harness shells points INSIDE the repo —
    # an interrupted run then leaves tens of GB of spill files that
    # stall every later `git add`.
    con.execute("SET temp_directory = '/var/tmp/duckdb_oracle_spill'")
    con.execute("SET max_temp_directory_size = '64GiB'")
    for t in TABLES:
        p = table_path(sf_dir, t)
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_nosql = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # drop the previous query's escaping persists (cache.track):
        # 192 queries in one session would otherwise accumulate every
        # band/assignment cache and squeeze execution memory.
        release_persisted()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check: {len(sdf)} rows)")
            n_nosql += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle sql raised")
            traceback.print_exc()
            n_fail += 1
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"row count {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            srows, orows = _norm_rows(sdf), _norm_rows(odf)
            if srows != orows:
                bad = next(
                    (i for i, (a, b) in enumerate(zip(srows, orows)) if a != b), None
                )
                problems.append(
                    f"values differ (first at sorted-row {bad}):\n"
                    f"  spark : {srows[bad] if bad is not None else '?'}\n"
                    f"  oracle: {orows[bad] if bad is not None else '?'}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_nosql} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

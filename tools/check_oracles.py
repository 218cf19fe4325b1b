"""Local replica of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at a given sf_dir, compare row-count, column
names, and order-insensitive values (floats rounded upstream by the queries
themselves). The first line printed is the source revision the sweep ran.
Usage: python tools/check_oracles.py [sf_dir] [only_name...]"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from bge_m3_onnx_spark.session import get_spark  # noqa: E402
from tools.revision import source_revision  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 5)
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    print(f"revision {source_revision()}", flush=True)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        sql = osql.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.sql(sql)
            dcols = [c.lower() for c in res.columns]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={scols} duckdb={dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        else:
            a = norm_rows([c.lower() for c in scols], srows)
            b = norm_rows(dcols, drows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print(f"FAIL {name}: value mismatch, first diffs: {diff}")
                ok = False
        if ok:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
        else:
            failures += 1
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

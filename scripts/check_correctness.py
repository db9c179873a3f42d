"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark at the given sf dir and the matching
oracle_sql() in DuckDB over the same parquet files; compares row count,
column names, and an order-insensitive value multiset. Usage:

    python scripts/check_correctness.py [sf_dir] [query ...]

Spark runs on $SPARK_GRAFT_CPUS cores (default: the cores this process
may use, as ``nproc`` reports).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from tesseract_recognize_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon_cell(v):
    # repr gives every cell (incl. None) one comparable, engine-agnostic
    # canonical form; repr('5') != repr(5) so types stay distinguished
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(canon_cell(r[i]) for i in order) for r in rows
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    spark = build_session(
        master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        srows = df.collect()
        scols = df.columns
        t_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            status = f"rows-only ({len(srows)} rows)"
            ok = len(srows) >= 0
            print(f"{name:24s} {status:28s} spark={t_spark:5.1f}s")
            continue
        t0 = time.time()
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        t_duck = time.time() - t0
        ok = True
        msgs = []
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols {scols} vs {dcols}")
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"count {len(srows)} vs {len(drows)}")
        if ok:
            sc = canon([tuple(r) for r in srows], scols)
            dc = canon(drows, dcols)
            if sc != dc:
                ok = False
                diff = [
                    (a, b) for a, b in zip(sc, dc) if a != b
                ][:3]
                msgs.append(f"values differ, first: {diff}")
        mark = "OK  " if ok else "FAIL"
        print(
            f"{name:24s} {mark} rows={len(srows):7d} "
            f"spark={t_spark:5.1f}s duck={t_duck:5.1f}s "
            + ("; ".join(msgs) if msgs else "")
        )
        failures += 0 if ok else 1
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

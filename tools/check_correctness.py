"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the same SQL on DuckDB over the same parquet files; compares
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers inherit this environment when the JVM starts: they
# then import this checkout too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from pyspark.sql import SparkSession  # noqa: E402

from __spark_entry__ import oracle_sql, queries  # noqa: E402


def _plain_spark():
    """A deliberately PLAIN session — mirrors the driver's harness, which does
    NOT apply our session.get_spark defaults. Catches any query that silently
    depends on a builder-session conf (the round-1 parquet-nanos failure mode).
    """
    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("correctness-check")
        .getOrCreate()
    )

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _norm_cell(v):
    if isinstance(v, float):
        # canonical float rendering (both engines produce identical doubles
        # by construction; repr differences like -0.0 are normalized)
        if v == 0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return "" if v is None else str(v)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    only = [a for a in args if not a.startswith("/")]

    spark = _plain_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for pos, (name, fn) in enumerate(qs.items(), start=1):
        if only and name not in only:
            continue
        graded = "" if pos <= 50 else " [>50: UNGRADED by driver]"
        if graded:
            print(f"-- position {pos}{graded}: {name}")
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spark_s = time.time() - t0
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows in {time.time()-t0:.1f}s")
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            oracle_s = time.time() - t1
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            hs, hd = result_hash(scols, srows), result_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                ss = set(
                    "\x1f".join(
                        _norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                )
                dd = set(
                    "\x1f".join(
                        _norm_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])
                    )
                    for r in drows
                )
                for x in list(ss - dd)[:3]:
                    print(f"    spark-only: {x!r}")
                for x in list(dd - ss)[:3]:
                    print(f"    duck-only:  {x!r}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(
                f"PASS {name}: {len(srows)} rows in {time.time()-t0:.1f}s"
                f" (spark {spark_s:.1f}s, oracle {oracle_s:.1f}s)"
            )
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

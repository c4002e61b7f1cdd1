"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, sorts columns by name and rows by value, and compares
row-count + value-hash. Prints one line per query.
"""
from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

# this checkout's entry module, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def df_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT", "UINTEGER")


def lint_types(cur):
    """Flag DuckDB output types whose Python/Arrow renderings can diverge
    from Spark's (round-3 lesson: sum(BIGINT) -> HUGEINT hashed red in the
    driver while fetchall() hid it locally)."""
    bad = []
    for d in cur.description:
        tname = str(d[1]).upper()
        if any(t in tname for t in RISKY_DUCK_TYPES):
            bad.append(f"{d[0]}:{d[1]}")
    return bad


def dump_diff(name, scols, srows, ocols, orows, limit=10):
    """Sorted row-level diff between the two result sets, plus engine
    versions — printed on any hash mismatch so driver reds are
    root-causable from the log alone."""
    import duckdb as _d
    import pyspark as _p

    print(f"      versions: pyspark={_p.__version__} duckdb={_d.__version__}")
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sset = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in srows)
    oset = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
    from collections import Counter

    s_only = Counter(sset) - Counter(oset)
    o_only = Counter(oset) - Counter(sset)
    for tag, bag in (("spark-only", s_only), ("oracle-only", o_only)):
        shown = 0
        for line, n in bag.items():
            if shown >= limit:
                print(f"      {tag}: ... {len(bag) - limit} more")
                break
            print(f"      {tag} x{n}: {line.replace(chr(31), ' | ')}")
            shown += 1


def main():
    only = set(sys.argv[1:])
    from pyspark.sql import SparkSession
    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            fails.append(name)
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            risky = lint_types(cur)
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            fails.append(name)
            continue
        if risky:
            # not a hash failure here (fetchall yields Python ints), but the
            # driver's Arrow/pandas path renders these types differently ->
            # treat as a gate failure so it never reaches the driver red.
            print(f"FAIL  {name}: risky oracle output types {risky} "
                  f"(cast to BIGINT/DOUBLE in the SQL)")
            fails.append(name)
            continue
        sh = df_hash(scols, [tuple(r) for r in srows])
        oh = df_hash(ocols, orows)
        schema_ok = sorted(scols) == sorted(ocols)
        if len(srows) == len(orows) and sh == oh and schema_ok:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            print(
                f"FAIL  {name}: spark {len(srows)} rows cols={sorted(scols)} hash={sh}"
                f" | duck {len(orows)} rows cols={sorted(ocols)} hash={oh}"
            )
            dump_diff(name, scols, [tuple(r) for r in srows], ocols, orows)
            fails.append(name)
    print("=" * 60)
    print(f"{'ALL OK' if not fails else 'FAILURES: ' + ', '.join(fails)}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet files, then compares row count, sorted column
names, and an order-insensitive value hash (floats compared bitwise — the
query protocol guarantees determinism, see operators/relational.py).

Usage:
    python tools/check_oracle_parity.py              # all queries, sf0.01
    python tools/check_oracle_parity.py q1 dedup     # substring filter
    python tools/check_oracle_parity.py --first 50   # the driver window
    python tools/check_oracle_parity.py --sf-dir DIR # tables under DIR
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/check_oracle_parity.py

``--first N`` keeps the first N registry entries, as the driver does;
``--sf-dir DIR`` overrides ``SPARK_GRAFT_SF_DIR``. Flags and name filters
may come in any order. An entry without an oracle fails.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm_cell(v):
    if v is None:
        return b"\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return b"\x00NaN"
        return struct.pack("<d", v)
    if isinstance(v, bool):
        return b"T" if v else b"F"
    if isinstance(v, (int,)):
        return str(v).encode()
    if isinstance(v, bytes):
        return v
    return str(v).encode()


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = []
    for row in rows:
        h = hashlib.sha256()
        for i in order:
            h.update(_norm_cell(row[i]))
            h.update(b"\x1f")
        digests.append(h.digest())
    total = hashlib.sha256()
    for d in sorted(digests):
        total.update(d)
    return total.hexdigest()


def spark_result(df):
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def driver_hazards(df) -> list[str]:
    """Columns the driver's pandas canonicalization cannot digest.

    Array/map/struct cells crash its sort-based canon (round 1:
    approx_quantiles err row even though it was rows-only); Decimal columns
    survive but hash differently than DuckDB's float64 representation
    (round 1: 9 hash_match failures). Emit doubles/bigints/strings instead
    — see the determinism protocol in operators/relational.py.
    """
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    problems = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            problems.append(f"{f.name}: {f.dataType.simpleString()} "
                            "(crashes driver canon)")
        elif isinstance(f.dataType, DecimalType):
            problems.append(f"{f.name}: {f.dataType.simpleString()} "
                            "(hash-mismatches vs DuckDB float64)")
    return problems


def duckdb_result(con, sql):
    res = con.sql(sql)
    cols = [c.lower() for c in res.columns]
    # HUGEINT (SUM over ints) and DECIMAL stringify like Spark's long/Decimal
    # here, so this tool would pass — but the driver's pandas canon converts
    # them to float64/object and hash-mismatches. Surface them as hazards.
    hazards = [f"{c}: {t} (driver canon mismatch — CAST AS BIGINT/DOUBLE)"
               for c, t in zip(res.columns, res.types)
               if str(t).upper().startswith(("HUGEINT", "DECIMAL"))]
    return cols, res.fetchall(), hazards


def parse_args(argv: list[str]) -> argparse.Namespace:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    ap = argparse.ArgumentParser(
        description="Compare registry queries with their DuckDB oracles.")
    ap.add_argument("filters", nargs="*",
                    help="keep entries whose name contains any of these")
    ap.add_argument("--first", type=int, metavar="N",
                    help="keep the first N entries (the driver window)")
    ap.add_argument("--sf-dir", metavar="DIR", default=sf_dir,
                    help="directory of the parquet tables")
    return ap.parse_intermixed_args(argv)


def connect(sf_dir: str):
    """DuckDB connection with one view per table under ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; probe-built fixtures are
        # Spark-written DIRECTORIES — glob the part files for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


def check_entry(query, oracle: str | None, spark, sf_dir: str,
                con) -> tuple[bool, str]:
    """Run one registry entry on Spark and its oracle on DuckDB; return
    whether they match and a one-line detail. An entry without an oracle
    does not match."""
    try:
        df = query(spark, sf_dir)
        hazards = driver_hazards(df)
        scols, srows = spark_result(df)
    except Exception as exc:
        return False, f"spark error: {exc}"
    if hazards:
        return False, f"driver-hazard columns: {hazards}"
    if oracle is None:
        return False, f"no oracle ({len(srows)} rows)"
    try:
        dcols, drows, dhazards = duckdb_result(con, oracle)
    except Exception as exc:
        return False, f"duckdb error: {exc}"
    if dhazards:
        return False, f"oracle driver-hazard columns: {dhazards}"
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)} vs {len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
    if not problems and value_hash(scols, srows) != value_hash(dcols, drows):
        problems.append("value hash mismatch")
    if not problems:
        return True, f"{len(srows)} rows match"
    # show a tiny sample diff to debug
    s_set = {tuple(str(x) for x in r) for r in srows[:100000]}
    d_set = {tuple(str(x) for x in r) for r in drows[:100000]}
    only_s = list(s_set - d_set)[:3]
    only_d = list(d_set - s_set)[:3]
    if only_s:
        problems.append(f"spark-only sample: {only_s}")
    if only_d:
        problems.append(f"duckdb-only sample: {only_d}")
    return False, "; ".join(problems)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)

    from __spark_entry__ import oracle_sql, queries
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.session import get_spark

    spark = get_spark("oracle-parity")
    con = connect(args.sf_dir)
    qs, oracles = queries(), oracle_sql()
    pool = list(qs)[:args.first] if args.first else list(qs)
    names = [n for n in pool
             if not args.filters or any(f in n for f in args.filters)]
    failures = []
    for name in names:
        t0 = time.time()
        ok, detail = check_entry(qs[name], oracles.get(name), spark,
                                 args.sf_dir, con)
        if not ok:
            failures.append(name)
        print(f"{'ok   ' if ok else 'FAIL '} {name}: {detail} "
              f"({time.time()-t0:.1f}s)")

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Seeded TPC-H-style tables for the ``migrate_tables`` and
``validate_queries`` workloads, plus the DB2 DDL that describes them.

Why these inputs: the read path (registry queries) and the write path
(``sources.migrate``) both run over the star schema the engine's queries
were written for -- ``lineitem``/``orders``/``customer``/``part``/
``supplier``/``nation``/``region`` plus the ``events``, ``documents`` and
``embeddings`` side tables. The shapes copy the fixture tables the test
suite uses (uniform keys, 2-decimal money columns, 64-dim float
embeddings), so every registry query stays deterministic and its DuckDB
oracle twin applies. ``lineitem`` spans ``ship_days`` distinct ship dates,
which sets the partition count of the range-partitioned migration write.

Everything is a pure function of ``seed``: the same seed writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("a the data table row column key value part order line customer "
          "query scan join group agg sort window filter hash merge batch "
          "stream spark fast slow big small vector").split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PNAME_A = ("red", "blue", "small", "hot", "old", "green", "big", "cold")
_PNAME_B = ("widget", "plate", "ring", "rod", "bolt", "gear", "pipe", "nut")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# 1995-01-01 as days since the epoch.
_EPOCH_1995 = 9131


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, lineitem_rows: int,
                 ship_days: int) -> dict[str, int]:
    """Write one parquet file per table into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_l = lineitem_rows
    n_o = max(n_l // 4, 10)
    n_c = max(n_l // 40, 10)
    n_p = max(n_l // 30, 10)
    n_s = max(n_l // 600, 10)
    n_e = max(n_l // 6, 10)
    n_docs = 500
    n_vecs = 500

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(_SEGMENTS, n_c)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    pname = [f"{a} {b}" for a, b in zip(rng.choice(_PNAME_A, n_p),
                                        rng.choice(_PNAME_B, n_p))]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pname,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(_PTYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days_to_ts(_EPOCH_1995 + rng.integers(0, 2400, n_o)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_o)})
    qty = rng.integers(1, 51, n_l).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_l),
        "l_linestatus": rng.choice(("F", "O"), n_l),
        "l_shipdate": _days_to_ts(_EPOCH_1995 + rng.integers(0, ship_days, n_l))})
    # events: one month of time-ordered activity from 150 users
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts + 1_704_067_200_000_000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_e),
        "value": _money(rng, 0.01, 500.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = [" ".join(rng.choice(_WORDS, int(n)))
             for n in rng.integers(10, 100, n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.7, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


# DB2 DDL for the migrated tables. The type choices exercise the cast plan:
# DOUBLE money -> DECIMAL, TIMESTAMP -> DATE, string -> CHAR/VARCHAR/CLOB,
# BIGINT keys -> INTEGER. LINEITEM is range-partitioned through an ALTER
# (a many-partition write); ORDERS carries DISTRIBUTE BY HASH, and comes
# last because the parser binds DISTRIBUTE BY HASH to the last table.
MIGRATION_DDL = """
CREATE TABLE TPCH.LINEITEM (
    L_ORDERKEY BIGINT NOT NULL,
    L_PARTKEY INTEGER NOT NULL,
    L_SUPPKEY INTEGER NOT NULL,
    L_LINENUMBER SMALLINT NOT NULL,
    L_QUANTITY DECIMAL(15,2),
    L_EXTENDEDPRICE DECIMAL(15,2),
    L_DISCOUNT DECIMAL(15,2),
    L_TAX DECIMAL(15,2),
    L_RETURNFLAG CHAR(1),
    L_LINESTATUS CHAR(1),
    L_SHIPDATE DATE NOT NULL
) IN TS_TPCH;
ALTER TABLE TPCH.LINEITEM PARTITION BY RANGE (L_SHIPDATE);

CREATE TABLE TPCH.CUSTOMER (
    C_CUSTKEY BIGINT NOT NULL,
    C_NAME VARCHAR(25),
    C_NATIONKEY INTEGER,
    C_ACCTBAL DECIMAL(12,2),
    C_MKTSEGMENT CHAR(10)
);

CREATE TABLE TPCH.PART (
    P_PARTKEY BIGINT NOT NULL,
    P_NAME VARCHAR(55),
    P_BRAND CHAR(10),
    P_TYPE VARCHAR(25),
    P_SIZE INTEGER,
    P_RETAILPRICE DECIMAL(12,2)
);

CREATE TABLE TPCH.SUPPLIER (
    S_SUPPKEY BIGINT NOT NULL,
    S_NAME CHAR(25),
    S_NATIONKEY INTEGER,
    S_ACCTBAL DECIMAL(12,2)
);

CREATE TABLE TPCH.NATION (
    N_NATIONKEY INTEGER NOT NULL,
    N_NAME CHAR(25),
    N_REGIONKEY INTEGER
);

CREATE TABLE TPCH.REGION (
    R_REGIONKEY INTEGER NOT NULL,
    R_NAME CHAR(25)
);

CREATE TABLE APP.EVENTS (
    EVENT_ID BIGINT NOT NULL,
    TS TIMESTAMP(6),
    USER_ID INTEGER,
    EVENT_TYPE VARCHAR(16),
    VALUE DOUBLE,
    PROPS CLOB(1048576)
);

CREATE TABLE APP.DOCUMENTS (
    DOC_ID BIGINT NOT NULL,
    TEXT CLOB(1048576),
    LANG CHAR(2),
    SOURCE VARCHAR(16),
    N_CHARS INTEGER
);

CREATE TABLE TPCH.ORDERS (
    O_ORDERKEY BIGINT NOT NULL,
    O_CUSTKEY BIGINT NOT NULL,
    O_ORDERSTATUS CHAR(1),
    O_TOTALPRICE DECIMAL(15,2),
    O_ORDERDATE DATE,
    O_ORDERPRIORITY VARCHAR(15)
) IN TS_TPCH;
DISTRIBUTE BY HASH (O_ORDERKEY);
"""

# DuckDB type for each DB2 target used above, copied from the documented
# DB2 -> Iceberg mapping (SURVEY.md section 1.4); used for the oracle casts.
DUCKDB_TYPE = {
    "BIGINT": "BIGINT", "INTEGER": "INTEGER", "SMALLINT": "INTEGER",
    "DATE": "DATE", "DOUBLE": "DOUBLE", "CHAR": "VARCHAR",
    "VARCHAR": "VARCHAR", "CLOB": "VARCHAR", "TIMESTAMP": "TIMESTAMP",
}

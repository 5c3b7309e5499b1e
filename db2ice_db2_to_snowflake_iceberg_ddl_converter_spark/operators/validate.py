"""Migration validation operators: the data-plane checks a DB2→Iceberg
cutover runs AFTER the rows move — constraint conformance against the
parsed DDL, snapshot diffing, and order-independent reconciliation
checksums.

This closes the loop the reference leaves open: its assessment scores the
*schema* (app.py's readiness report, SURVEY.md §2.1 #22-25), but a real
migration must also certify the *rows*. Each operator here takes the same
``TableDef`` the schema plane produces (ddl/db2_parser.py), so one parsed
DDL drives conversion (convert.py), movement (sources/migrate.py), and
now verification.

Scale notes: every check is a single scan or a single key-partitioned
join; checksums are per-row hashes folded through an order-independent
SUM, so source and target can be checksummed on different clusters with
different partitioning and still compare equal.

Determinism protocol: operators/relational.py docstring. Checksums use
md5 (hex-identical across engines — memory rule) folded via instr
arithmetic; doubles are EXCLUDED from checksum input (engine string
formatting of doubles differs; the reconcile row count + the constraint
checks cover numeric columns instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import TableDef
from .relational import ld
from .traindata import _hex_bucket


def validate_table(df: DataFrame, table: TableDef) -> DataFrame:
    """Row-conformance audit of ``df`` against a parsed DB2 table def:
    NOT NULL violations per declared column, primary-key duplicate rows,
    and VARCHAR/CHAR length overflows. One scan computes every check
    (single aggregation — no per-check passes); emitted long-form as
    (check_name, n_violations) so any table shape shares one schema.
    """
    lower = {c.lower(): c for c in df.columns}
    pk_cols = [c for con in table.constraints if con.kind == "PRIMARY KEY"
               for c in con.columns]
    aggs = []
    names = []
    for col in table.columns:
        src = lower.get(col.name.lower())
        if src is None:
            continue
        if not col.nullable or col.name in pk_cols:
            aggs.append(F.sum(F.col(src).isNull().cast("long"))
                        .alias(f"nn_{src}"))
            names.append((f"nn_{src}", f"not_null:{src}"))
        base = (col.data_type or "").upper()
        if base in ("VARCHAR", "CHAR", "CHARACTER") and col.length:
            aggs.append(F.sum((F.length(F.col(src)) > col.length)
                              .cast("long")).alias(f"len_{src}"))
            names.append((f"len_{src}", f"max_length:{src}"))
    pk = [lower[c.lower()] for c in pk_cols if c.lower() in lower]
    if pk:
        # duplicates among fully-keyed rows only — NULL keys are the
        # not_null check's finding, not a duplicate
        keyed = None
        for c in pk:
            nn = F.col(c).isNotNull()
            keyed = nn if keyed is None else (keyed & nn)
        aggs.append((F.sum(keyed.cast("long"))
                     - F.count_distinct(*[F.col(c) for c in pk]))
                    .alias("pk_dups"))
        names.append(("pk_dups", "pk_unique:" + ",".join(pk)))
    row = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(label).alias("check_name"),
                 F.col(alias).alias("n_violations"))
        for alias, label in names
    ])
    return (row.select(F.explode(pairs).alias("p")).select("p.*")
            .orderBy("check_name"))


_CUSTOMER_DDL = """
CREATE TABLE TPCH.CUSTOMER (C_CUSTKEY BIGINT NOT NULL, C_NAME VARCHAR(100),
    C_NATIONKEY INTEGER NOT NULL, C_ACCTBAL DECIMAL(12,2),
    C_MKTSEGMENT CHAR(10), PRIMARY KEY (C_CUSTKEY));
"""


def validate_customer_constraints(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Registry entry: parse the customer DDL, audit the customer parquet
    against it. The fixture is clean, so every count is 0 — the oracle
    proves the CHECKS (same SQL predicates), not just the zeros; the
    pytest feeds corrupted rows to prove violations actually count."""
    from ..assess import Assessor

    table = next(t for t in Assessor().parser.parse(_CUSTOMER_DDL)
                 if t.name == "CUSTOMER")
    return validate_table(ld(spark, sf_dir, "customer"), table)


ORACLE_VALIDATE_CUSTOMER = """
SELECT check_name, CAST(n AS BIGINT) AS n_violations FROM (
  SELECT 'max_length:c_mktsegment' AS check_name,
         SUM(CASE WHEN LENGTH(c_mktsegment) > 10 THEN 1 ELSE 0 END) AS n
  FROM customer
  UNION ALL
  SELECT 'max_length:c_name',
         SUM(CASE WHEN LENGTH(c_name) > 100 THEN 1 ELSE 0 END)
  FROM customer
  UNION ALL
  SELECT 'not_null:c_custkey',
         SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) FROM customer
  UNION ALL
  SELECT 'not_null:c_nationkey',
         SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) FROM customer
  UNION ALL
  SELECT 'pk_unique:c_custkey',
         COUNT(c_custkey) - COUNT(DISTINCT c_custkey) FROM customer
)
ORDER BY check_name
"""


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level diff of two table snapshots keyed on ``key``: each key is
    classified added / deleted / changed / unchanged. ONE full-outer join
    on the key; payload comparison is a null-safe conjunction over the
    shared non-key columns (computed column-wise, no row serialization).
    This is the audit a migration runs between source-at-cutover and
    target-after-apply — and the generator of a retroactive change feed.
    """
    cols = [c for c in old.columns if c != key and c in new.columns]
    o = old.alias("o")
    n = new.alias("n")
    same = None
    for c in cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    status = (F.when(F.col(f"o.{key}").isNull(), "added")
              .when(F.col(f"n.{key}").isNull(), "deleted")
              .when(same, "unchanged").otherwise("changed"))
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    return (j.select(status.alias("status"))
            .groupBy("status").agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("status"))


def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: diff the customer snapshot against a deterministic
    synthetic next-day snapshot (deletes %10==0, rebalances %10==1,
    inserts shifted %10==2 keys) — the oracle replays the same diff."""
    old = ld(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    kept = old.filter(k % 10 != 0)
    new = (kept.withColumn(
        "c_acctbal",
        F.when(k % 10 == 1, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal")))
        .unionByName(
            old.filter(k % 10 == 2)
            .withColumn("c_custkey", k + 1_000_000)))
    return snapshot_diff(old, new, key="c_custkey")


ORACLE_SNAPSHOT_DIFF = """
WITH new AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 10 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 10 = 2
)
SELECT status, COUNT(*) AS n_rows FROM (
  SELECT CASE WHEN o.c_custkey IS NULL THEN 'added'
              WHEN n.c_custkey IS NULL THEN 'deleted'
              WHEN o.c_name IS NOT DISTINCT FROM n.c_name
               AND o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey
               AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
               AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment
                THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM customer o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
GROUP BY status ORDER BY status
"""


def reconcile_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent content checksum: per row, md5 over the
    '|'-joined column values (nulls sentinel-encoded), folded to a 16-bit
    bucket by instr arithmetic, summed. Two tables with equal (n_rows,
    checksum) over the same columns are content-equal with overwhelming
    probability — and the sum is partition-order independent, so source
    and target clusters need share nothing but the column list.

    Doubles are rejected: engine string formatting differs, which would
    make equal data checksum differently (use snapshot_diff for those).
    """
    for c in cols:
        t = dict(df.dtypes)[c]
        if t in ("double", "float"):
            raise ValueError(
                f"checksum over float column {c!r} is not portable; "
                "compare floats via snapshot_diff instead")
    payload = F.concat_ws("|", *[
        F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
        for c in cols])
    bucket = _hex_bucket(F.md5(payload), 4)
    return df.agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(bucket).alias("content_checksum"))


def migrate_reconcile_customers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Registry entry: checksum the customer table over its non-float
    columns — the reconciliation a cutover runs on both sides."""
    c = ld(spark, sf_dir, "customer")
    return reconcile_checksum(
        c, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])


ORACLE_RECONCILE = """
WITH h AS (
  SELECT md5(concat_ws('|',
             COALESCE(CAST(c_custkey AS VARCHAR), '<NULL>'),
             COALESCE(c_name, '<NULL>'),
             COALESCE(CAST(c_nationkey AS VARCHAR), '<NULL>'),
             COALESCE(c_mktsegment, '<NULL>'))) AS hx
  FROM customer
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM((strpos('0123456789abcdef', hx[1:1]) - 1) * 4096
           + (strpos('0123456789abcdef', hx[2:2]) - 1) * 256
           + (strpos('0123456789abcdef', hx[3:3]) - 1) * 16
           + (strpos('0123456789abcdef', hx[4:4]) - 1)) AS BIGINT)
         AS content_checksum
FROM h
"""


def validate_star_expectations(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Cross-table expectation suite over the order star — the
    deequ/dbt-tests class of checks ``validate_table`` (single-table,
    DDL-derived) cannot express: referential integrity (orders →
    customer, lineitem → orders orphan counts), accepted values
    (o_orderstatus domain), a positive-range rule (o_totalprice > 0),
    a unit-interval rule (l_discount ∈ [0, 1]), and a cross-TABLE
    temporal rule (no lineitem ships before its order's date).
    Long-form (check_name, n_violations) so it unions with the
    conformance audit into one quality dashboard.

    Scale shape: each FK check is ONE left-anti join counted by a 1-row
    aggregate — keyed shuffles that AQE sizes (broadcast when the parent
    fits, shuffle-hash otherwise; no hint pinned precisely so the 100 TB
    plan can differ from the fixture plan). The per-table rules ride one
    aggregation per table. The fixture passes five of the six checks
    with 0; the temporal rule legitimately FIRES on it (the synthetic
    generator draws l_shipdate independently of o_orderdate) — a real
    data finding the oracle mirrors exactly. The pytest additionally
    corrupts rows through ``star_expectations`` to prove every check
    counts (the validate_customer pattern).
    """
    return star_expectations(ld(spark, sf_dir, "orders"),
                             ld(spark, sf_dir, "lineitem"),
                             ld(spark, sf_dir, "customer"))


def star_expectations(o: DataFrame, li: DataFrame,
                      c: DataFrame) -> DataFrame:
    """Check logic of ``validate_star_expectations`` over caller-supplied
    frames — the seam the corruption pytest injects through."""
    fk_cust = (o.select("o_custkey")
               .join(c.select(F.col("c_custkey").alias("o_custkey")),
                     "o_custkey", "left_anti")
               .agg(F.count(F.lit(1)).alias("n")))
    fk_ord = (li.select("l_orderkey")
              .join(o.select(F.col("o_orderkey").alias("l_orderkey")),
                    "l_orderkey", "left_anti")
              .agg(F.count(F.lit(1)).alias("n")))
    o_rules = o.agg(
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P"))
              .cast("long")).alias("domain"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("range"))
    l_rules = li.agg(
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
              .cast("long")).alias("discount"))
    ship_rule = (li.select("l_orderkey", "l_shipdate")
                 .join(o.select(F.col("o_orderkey").alias("l_orderkey"),
                                "o_orderdate"), "l_orderkey")
                 .agg(F.sum((F.col("l_shipdate") < F.col("o_orderdate"))
                            .cast("long")).alias("shiporder")))

    def tag(df, col, name):
        return df.select(F.lit(name).alias("check_name"),
                         F.col(col).cast("long").alias("n_violations"))

    return (tag(fk_cust, "n", "fk:orders.o_custkey->customer")
            .unionAll(tag(fk_ord, "n", "fk:lineitem.l_orderkey->orders"))
            .unionAll(tag(o_rules.select("domain"), "domain",
                          "accepted_values:o_orderstatus"))
            .unionAll(tag(o_rules.select("range"), "range",
                          "range:o_totalprice>0"))
            .unionAll(tag(l_rules, "discount",
                          "unit_interval:l_discount"))
            .unionAll(tag(ship_rule, "shiporder",
                          "temporal:l_shipdate>=o_orderdate"))
            .orderBy("check_name"))


ORACLE_STAR_EXPECTATIONS = """
SELECT check_name, CAST(n AS BIGINT) AS n_violations FROM (
  SELECT 'fk:orders.o_custkey->customer' AS check_name, COUNT(*) AS n
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'fk:lineitem.l_orderkey->orders', COUNT(*)
  FROM lineitem l WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'accepted_values:o_orderstatus',
         SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                  THEN 1 ELSE 0 END)
  FROM orders
  UNION ALL
  SELECT 'range:o_totalprice>0',
         SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) FROM orders
  UNION ALL
  SELECT 'unit_interval:l_discount',
         SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                  THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'temporal:l_shipdate>=o_orderdate',
         SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
ORDER BY check_name
"""


def observe_scan_metrics(spark, sf_dir) -> "DataFrame":
    """Data-quality metrics via Spark's Observation API: the counters
    ride the SAME pass as a real consuming action (here a noop-ish count
    over the filtered stream) instead of paying a second scan — the
    production pattern for row-level quality telemetry on 100 TB jobs
    (a separate metrics query would double the I/O bill).

    The observed values (row count, null count, exact-decimal value sum,
    min/max event id) are emitted as a 1-row DataFrame; the oracle
    computes the same aggregates directly, so the driver check proves
    the piggybacked metrics equal a dedicated aggregation pass.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .relational import DEC, load_events

    e = load_events(spark, sf_dir)
    obs = Observation("scan_metrics")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get

    def _opt(v, conv):
        # SUM/MIN/MAX observe as None on an empty (or all-NULL) input —
        # degrade to NULL cells like any aggregation would, don't crash
        return None if v is None else conv(v)

    return spark.createDataFrame(
        [(int(m["n_rows"]), _opt(m["n_null_value"], int),
          _opt(m["value_sum"], float),
          _opt(m["min_event_id"], int), _opt(m["max_event_id"], int))],
        "n_rows long, n_null_value long, value_sum double, "
        "min_event_id long, max_event_id long")


ORACLE_OBSERVE_METRICS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_sum,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
"""


def gdpr_delete_cascade(spark: SparkSession, sf_dir: str,
                        victim_mod: int = 131) -> DataFrame:
    """Right-to-be-forgotten impact plan over the order star — the
    compliance pass a lakehouse runs BEFORE executing deletes: given a
    deletion-request set of customers (deterministic fixture slice:
    c_custkey ≡ 0 mod ``victim_mod``; in production, the DSR queue),
    resolve the full FK cascade (customer → orders → lineitem), and emit
    per table the rows the delete will remove, the rows that survive,
    and the orphans that would REMAIN if the cascade executed — which
    must be zero, the check that makes the plan auditable.

    Scale shape: the victim set is request-queue-sized → broadcast-class
    semi/anti joins down the cascade; orders' doomed keys then drive the
    lineitem semi join (keyed shuffle AQE sizes). Counting survivors
    uses the SAME anti-join frames the delete would write, so the audit
    counts exactly what an Iceberg/Delta DELETE would commit. Exact
    integers → bitwise oracle.
    """
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    li = ld(spark, sf_dir, "lineitem")

    victims = (c.filter(F.col("c_custkey") % victim_mod == 0)
               .select("c_custkey"))
    o_doomed = o.join(victims.select(F.col("c_custkey")
                                     .alias("o_custkey")),
                      "o_custkey", "left_semi")
    li_doomed = li.join(o_doomed.select(F.col("o_orderkey")
                                        .alias("l_orderkey")),
                        "l_orderkey", "left_semi")

    c_after = c.join(victims, "c_custkey", "left_anti")
    o_after = o.join(victims.select(F.col("c_custkey").alias("o_custkey")),
                     "o_custkey", "left_anti")
    li_after = li.join(o_doomed.select(F.col("o_orderkey")
                                       .alias("l_orderkey")),
                       "l_orderkey", "left_anti")
    # residual orphans after the cascade (must be 0 for an auditable
    # plan). NULL-FK contract (r12, nullfact gate): a NULL foreign key
    # references nothing and is exempt from referential checks (SQL FK
    # semantics — constraints never fire on NULLs), so NULL-keyed
    # survivors are NOT orphans; the anti-join alone would count them
    # (a NULL key matches no parent).
    o_orphans = (o_after.filter(F.col("o_custkey").isNotNull())
                 .join(c_after.select(F.col("c_custkey")
                                      .alias("o_custkey")),
                       "o_custkey", "left_anti"))
    li_orphans = (li_after.filter(F.col("l_orderkey").isNotNull())
                  .join(o_after.select(F.col("o_orderkey")
                                       .alias("l_orderkey")),
                        "l_orderkey", "left_anti"))

    def row(name, doomed, after, orphans):
        return (doomed.agg(F.count(F.lit(1)).alias("n_delete"))
                .crossJoin(after.agg(F.count(F.lit(1)).alias("n_keep")))
                .crossJoin(orphans.agg(F.count(F.lit(1))
                                       .alias("n_orphans_after")))
                .select(F.lit(name).alias("table_name"),
                        "n_delete", "n_keep", "n_orphans_after"))

    empty = spark.range(0)
    return (row("customer", victims, c_after, empty)
            .unionAll(row("orders", o_doomed, o_after, o_orphans))
            .unionAll(row("lineitem", li_doomed, li_after, li_orphans))
            .orderBy("table_name"))


ORACLE_GDPR_CASCADE = """
WITH victims AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 131 = 0
), o_doomed AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims)
), li_doomed AS (
  SELECT 1 AS x FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM o_doomed)
), counts AS (
  SELECT 'customer' AS table_name,
         (SELECT COUNT(*) FROM victims) AS n_delete,
         (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM victims)
           AS n_keep,
         0 AS n_orphans_after
  UNION ALL
  SELECT 'orders',
         (SELECT COUNT(*) FROM o_doomed),
         (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM o_doomed),
         (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND o.o_custkey NOT IN (SELECT c_custkey FROM victims)
            AND o.o_custkey NOT IN
                (SELECT c_custkey FROM customer
                 WHERE c_custkey % 131 <> 0))
  UNION ALL
  SELECT 'lineitem',
         (SELECT COUNT(*) FROM li_doomed),
         (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM li_doomed),
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND l.l_orderkey NOT IN (SELECT o_orderkey FROM o_doomed)
            AND l.l_orderkey NOT IN
                (SELECT o_orderkey FROM orders
                 WHERE o_custkey IS NULL
                    OR o_custkey NOT IN (SELECT c_custkey FROM victims)))
)
SELECT table_name, CAST(n_delete AS BIGINT) AS n_delete,
       CAST(n_keep AS BIGINT) AS n_keep,
       CAST(n_orphans_after AS BIGINT) AS n_orphans_after
FROM counts ORDER BY table_name
"""


def privacy_k_anonymity(spark: SparkSession, sf_dir: str,
                        k: int = 5) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the governance check a
    privacy review runs before releasing a table: any combination of
    quasi-identifying attributes shared by fewer than ``k`` rows can
    single out individuals (Sweeney 2002). Quasi-identifier here:
    (nation, market segment, account-balance kilobucket) on ``customer``
    — the classic "not identifiers individually, identifying jointly"
    triple.

    Emits one row per market segment with the re-identification surface:
    number of quasi-identifier groups, groups below k, rows inside those
    at-risk groups, and the segment's k-anonymity level (its minimum
    group size — the k the release actually achieves). Reporting at the
    segment level keeps the output O(segments) while the group-size
    aggregation underneath is the same map-side-partial groupBy that
    scales to any row count; the bucket floor is double arithmetic both
    engines round identically.
    """
    from .relational import ld

    c = ld(spark, sf_dir, "customer")
    groups = (c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).alias("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    return (groups.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum((F.col("cnt") < k).cast("long"))
                 .alias("n_at_risk_groups"),
                 F.sum(F.when(F.col("cnt") < k, F.col("cnt"))
                       .otherwise(F.lit(0))).alias("rows_at_risk"),
                 F.min("cnt").alias("k_anonymity_level"))
            .orderBy("segment"))


ORACLE_K_ANONYMITY = """
WITH groups AS (
  SELECT c_nationkey, c_mktsegment,
         FLOOR(c_acctbal / 1000.0) AS bal_bucket, COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_mktsegment AS segment, COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_risk_groups,
       CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(MIN(cnt) AS BIGINT) AS k_anonymity_level
FROM groups GROUP BY c_mktsegment ORDER BY segment
"""


_AUDIT_DDL = """
CREATE TABLE TPCH.CUSTOMER (C_CUSTKEY INTEGER NOT NULL,
    C_NAME VARCHAR(12), C_NATIONKEY SMALLINT,
    C_ACCTBAL DECIMAL(5,2), C_MKTSEGMENT CHAR(10),
    PRIMARY KEY (C_CUSTKEY));
"""


def migrate_type_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the ACTUAL data fit the MAPPED Iceberg type? The data-plane
    completion of the reference's whole premise: its assessment scores
    the declared schema (mapper.py's rule table), but a cutover must
    also certify that live rows respect the declared capacities — a
    DECIMAL(5,2) column holding 9999.99 migrates into an overflow, and
    a VARCHAR(12) holding 18-char keys breaks the downstream contract
    even though Iceberg STRING physically accepts it. One parsed DDL
    (``ddl/db2_parser.py``) drives ``ColumnDef.mapping`` and this
    audit, so the schema plane and the data plane read the same truth.
    The fixture DDL declares deliberately tight capacities: C_NAME
    VARCHAR(12) and C_ACCTBAL DECIMAL(5,2) really overflow, the rest
    really fit — both audit outcomes are exercised.

    Per column: rows, overflow count against the MAPPED type's capacity
    (integer range for INTEGER targets, |x| < 10^(p−s) for NUMBER(p,s),
    declared length for CHAR/VARCHAR→STRING), and the observed max
    (|value|, length) as a double. ONE aggregation pass computes every
    column's checks (map-side partials; no per-column scans). All
    counts exact; observed_max is a MAX of per-row doubles (order-free).
    """
    from ..assess import Assessor

    table = next(t for t in Assessor().parser.parse(_AUDIT_DDL)
                 if t.name == "CUSTOMER")
    df = ld(spark, sf_dir, "customer")
    lower = {c.lower(): c for c in df.columns}
    aggs, rows = [], []
    for col in table.columns:
        src = lower.get(col.name.lower())
        if src is None:
            continue
        tgt = col.mapping.target_type
        c = F.col(src)
        if tgt in ("INTEGER", "BIGINT"):
            cap = 2147483647 if tgt == "INTEGER" else (2**63 - 1)
            over = ((c > cap) | (c < -cap - 1)).cast("long")
            obs = F.max(F.abs(c)).cast("double")
        elif tgt.startswith("NUMBER("):
            p, s = map(int, tgt[7:-1].split(","))
            lim = float(10 ** (p - s))
            over = (F.abs(c.cast("double")) >= lim).cast("long")
            obs = F.max(F.abs(c.cast("double")))
        else:                        # CHAR/VARCHAR → STRING
            over = ((F.length(c) > (col.length or 0)).cast("long")
                    if col.length else F.lit(0))
            obs = F.max(F.length(c)).cast("double")
        alias = f"a_{src}"
        aggs += [F.count(c).alias(f"n_{src}"),
                 F.sum(over).alias(f"o_{src}"), obs.alias(alias)]
        decl = col.data_type + (
            f"({col.precision},{col.scale})" if col.scale is not None
            else f"({col.length})" if col.length else "")
        rows.append((src, decl, tgt))
    agg = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(src).alias("column"),
                 F.lit(decl).alias("db2_type"),
                 F.lit(tgt).alias("iceberg_type"),
                 F.col(f"n_{src}").alias("n_rows"),
                 F.col(f"o_{src}").alias("n_overflow"),
                 F.col(f"a_{src}").alias("observed_max"),
                 (F.col(f"o_{src}") == 0).cast("int").alias("fits"))
        for src, decl, tgt in rows])
    return (agg.select(F.explode(pairs).alias("p")).select("p.*")
            .orderBy("column"))


ORACLE_TYPE_FIT_AUDIT = """
WITH a AS (
  SELECT COUNT(c_custkey) AS n1,
         CAST(SUM(CASE WHEN c_custkey > 2147483647
                        OR c_custkey < -2147483648
                       THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         CAST(MAX(ABS(c_custkey)) AS DOUBLE) AS m1,
         COUNT(c_name) AS n2,
         CAST(SUM(CASE WHEN LENGTH(c_name) > 12 THEN 1 ELSE 0 END)
              AS BIGINT) AS o2,
         CAST(MAX(LENGTH(c_name)) AS DOUBLE) AS m2,
         COUNT(c_nationkey) AS n3,
         CAST(SUM(CASE WHEN c_nationkey > 2147483647
                        OR c_nationkey < -2147483648
                       THEN 1 ELSE 0 END) AS BIGINT) AS o3,
         CAST(MAX(ABS(c_nationkey)) AS DOUBLE) AS m3,
         COUNT(c_acctbal) AS n4,
         CAST(SUM(CASE WHEN ABS(CAST(c_acctbal AS DOUBLE)) >= 1000.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS o4,
         MAX(ABS(CAST(c_acctbal AS DOUBLE))) AS m4,
         COUNT(c_mktsegment) AS n5,
         CAST(SUM(CASE WHEN LENGTH(c_mktsegment) > 10 THEN 1 ELSE 0 END)
              AS BIGINT) AS o5,
         CAST(MAX(LENGTH(c_mktsegment)) AS DOUBLE) AS m5
  FROM customer)
SELECT 'c_acctbal' AS "column", 'DECIMAL(5,2)' AS db2_type,
       'NUMBER(5,2)' AS iceberg_type, n4 AS n_rows, o4 AS n_overflow,
       m4 AS observed_max, CAST(o4 = 0 AS INT) AS fits FROM a
UNION ALL SELECT 'c_custkey', 'INTEGER', 'INTEGER', n1, o1, m1,
       CAST(o1 = 0 AS INT) FROM a
UNION ALL SELECT 'c_mktsegment', 'CHAR(10)', 'STRING', n5, o5, m5,
       CAST(o5 = 0 AS INT) FROM a
UNION ALL SELECT 'c_name', 'VARCHAR(12)', 'STRING', n2, o2, m2,
       CAST(o2 = 0 AS INT) FROM a
UNION ALL SELECT 'c_nationkey', 'SMALLINT', 'INTEGER', n3, o3, m3,
       CAST(o3 = 0 AS INT) FROM a
ORDER BY "column"
"""


def privacy_l_diversity(spark: SparkSession, sf_dir: str,
                        l_req: int = 3) -> DataFrame:
    """l-diversity audit — the governance check k-anonymity cannot make
    (Machanavajjhala 2007): a quasi-identifier group can hold ≥k rows
    yet leak perfectly if every row shares one sensitive value. Over
    the same (nation, segment) quasi-identifier surface as the
    k-anonymity entry, with the account-balance kilobucket as the
    SENSITIVE attribute: per segment, the number of QI groups, the
    minimum distinct-sensitive count (the l the release achieves),
    groups below the required l, and the rows inside those leaky
    groups.

    All exact integers plus one IEEE share divide. Shape: one
    (QI, sensitive)-keyed distinct census with map-side partials →
    one QI rollup → one O(segments) report — the same two-level
    aggregation ladder as the k entry, scaling on QI cardinality.
    """
    from .relational import ld

    c = ld(spark, sf_dir, "customer")
    per_qi = (c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.countDistinct("sens").alias("l_val")))
    return (per_qi.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.min("l_val").alias("l_achieved"),
                 F.sum((F.col("l_val") < l_req).cast("long"))
                 .alias("groups_below_l"),
                 F.sum(F.when(F.col("l_val") < l_req,
                              F.col("n_rows")).otherwise(0))
                 .alias("rows_at_risk"),
                 (F.sum((F.col("l_val") < l_req).cast("long"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("leaky_share"))
            .orderBy("segment"))


ORACLE_L_DIVERSITY = """
WITH per_qi AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT FLOOR(c_acctbal / 1000.0)) AS l_val
  FROM customer GROUP BY c_nationkey, c_mktsegment)
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_groups,
       CAST(MIN(l_val) AS BIGINT) AS l_achieved,
       CAST(SUM(CASE WHEN l_val < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_l,
       CAST(SUM(CASE WHEN l_val < 3 THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(SUM(CASE WHEN l_val < 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS leaky_share
FROM per_qi GROUP BY segment ORDER BY segment
"""

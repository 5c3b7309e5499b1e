"""Query registry: the data-plane operators as ``(spark, sf_dir) ->
DataFrame`` callables, each with a DuckDB oracle SQL twin.

:func:`build_table` is the registry: one ordered row
``(name, query, oracle_sql)`` per entry. :func:`build_queries` and
:func:`build_oracles` are its two projections, and ``__spark_entry__.py``
hands them to the driver. The driver runs the first 50 entries (the
driver window) against their oracles at sf0.01 and compares row count,
column names and an order-insensitive value hash; the remaining entries
follow in the same table. Operators whose core output has no SQL twin
(LSH candidates, iterative float fits, sketches, binary codecs) are
registered through ``*_checked`` wrappers: the exact anchors (counts,
censuses, SQL-recomputable columns) ride the hash gate and the
engine-specific part collapses to invariant booleans the oracle asserts,
while each raw core keeps its value-pinning pytest."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    analytics,
    approx,
    asof,
    cdc,
    corpus,
    dedup,
    graph,
    multimodal,
    relational as rel,
    relational_ext as rext,
    scale,
    similarity,
    textstats,
    timeseries,
)


def _catalog_queries():
    """Schema-plane surface exposed through the data plane: the DB2 fixture
    corpus parsed → schema-catalog DataFrame → assessment aggregation.

    DDL parsing is not SQL-expressible over the test tables, but the
    fixture corpus is FIXED, so each entry's full expected output is
    pinned as a literal-VALUES DuckDB oracle (round 9; the expected rows
    are derived from the reference's mapping/penalty rules, e.g.
    mapper.py:187-449 type branches and assessor.py:167-180 penalties) —
    any parser/mapper/assessor drift now turns the driver row red
    instead of hiding behind a rows-only check."""
    from .assess import Assessor
    from .catalog import assess_catalog, schema_catalog_df

    ddl = """
    CREATE TABLE TPCH.CUSTOMER (C_CUSTKEY BIGINT NOT NULL, C_NAME VARCHAR(100),
        C_NATIONKEY INTEGER, C_ACCTBAL DECIMAL(12,2), C_MKTSEGMENT CHAR(10),
        PRIMARY KEY (C_CUSTKEY));
    CREATE TABLE TPCH.EVENTS_RAW (EVENT_ID BIGINT NOT NULL, TS TIMESTAMP(9),
        PAYLOAD_XML XML, BODY BLOB(1024), COORD DECFLOAT(16))
        PARTITION BY RANGE (TS);
    DISTRIBUTE BY HASH (EVENT_ID);
    """

    def ddl_schema_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = Assessor().parser.parse(ddl)
        return schema_catalog_df(spark, tables).orderBy("table_name", "ordinal")

    def ddl_assess_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = Assessor().parser.parse(ddl)
        return assess_catalog(schema_catalog_df(spark, tables)) \
            .orderBy("table_name")

    def ddl_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .catalog import schema_catalog_df, type_distribution

        tables = Assessor().parser.parse(ddl)
        return type_distribution(schema_catalog_df(spark, tables)) \
            .orderBy("base_type")

    def migrate_customer_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The migration job's read→cast slice on real rows: parse the DB2
        DDL, build the Catalyst cast plan, apply it to the customer parquet.
        Oracle-checkable: the mapped types are plain ANSI casts. The
        DECIMAL(12,2) column is re-emitted as double after the round-trip
        (same single rounding in both engines) — the driver's pandas canon
        hash-mismatches raw Decimal columns (round-1 lesson)."""
        from pyspark.sql.types import DecimalType

        from .catalog import cast_plan

        tables = Assessor().parser.parse(ddl)
        cust = next(t for t in tables if t.name == "CUSTOMER")
        src = spark.read.parquet(f"{sf_dir}/customer.parquet")
        lower = {c.lower(): c for c in src.columns}
        renamed = src.select([src[lower[c.name.lower()]].alias(c.name)
                              for c in cust.columns])
        out = renamed.select(cast_plan(cust))
        final = [(F.col(f.name).cast("double") if isinstance(f.dataType,
                                                             DecimalType)
                  else F.col(f.name)).alias(f.name.lower())
                 for f in out.schema.fields]
        return out.select(final).orderBy("c_custkey")

    return {"ddl_schema_catalog": ddl_schema_catalog,
            "ddl_assess_catalog": ddl_assess_catalog,
            "ddl_type_distribution": ddl_type_distribution,
            "migrate_customer_cast": migrate_customer_cast}


#: Literal-catalog oracles for the ``ddl_*`` entries (round 9): the fixture
#: DDL is fixed, so the exact expected catalog rows ride the driver's hash
#: gate as VALUES literals. Expected values derive from the reference's
#: rules: CHAR→STRING compatible EWI-0001, TIMESTAMP(9)→TIMESTAMP_NTZ(6)
#: compatible EWI-0004, XML→STRING unsupported EWI-0005 (+25 penalty),
#: BLOB→BINARY compatible EWI-0020 (+2 each compatible-with-EWI), and
#: DECFLOAT(16)→DOUBLE lossy EWI-0007 (+10).
ORACLE_DDL_SCHEMA_CATALOG = """
SELECT * FROM (VALUES
  ('TPCH','CUSTOMER','C_CUSTKEY',0,'BIGINT','BIGINT','BIGINT','direct',
   NULL, FALSE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_NAME',1,'VARCHAR(100)','VARCHAR','STRING','direct',
   NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_NATIONKEY',2,'INTEGER','INTEGER','INTEGER','direct',
   NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_ACCTBAL',3,'DECIMAL(12,2)','DECIMAL','NUMBER(12,2)',
   'direct', NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_MKTSEGMENT',4,'CHAR(10)','CHAR','STRING',
   'compatible','SSC-EWI-DB2ICE-0001', TRUE, NULL, NULL, NULL, NULL, NULL,
   0, 0),
  ('TPCH','EVENTS_RAW','EVENT_ID',0,'BIGINT','BIGINT','BIGINT','direct',
   NULL, FALSE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','TS',1,'TIMESTAMP(9)','TIMESTAMP','TIMESTAMP_NTZ(6)',
   'compatible','SSC-EWI-DB2ICE-0004', TRUE, NULL, NULL, NULL, NULL,
   'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','PAYLOAD_XML',2,'XML','XML','STRING','unsupported',
   'SSC-EWI-DB2ICE-0005', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','BODY',3,'BLOB(1024)','BLOB','BINARY','compatible',
   'SSC-EWI-DB2ICE-0020', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','COORD',4,'DECFLOAT(16)','DECFLOAT','DOUBLE','lossy',
   'SSC-EWI-DB2ICE-0007', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0)
) AS t(table_schema, table_name, column_name, ordinal, source_type,
       base_type, target_type, status, ewi_code, nullable, generated,
       fieldproc, table_editproc, table_validproc, partition_kind,
       n_foreign_keys, n_check_constraints)
ORDER BY table_name, ordinal
"""

ORACLE_DDL_ASSESS_CATALOG = """
SELECT table_schema, table_name,
       CAST(n_columns AS BIGINT) AS n_columns,
       CAST(column_penalty AS BIGINT) AS column_penalty,
       editproc_penalty, validproc_penalty, partition_penalty,
       fk_penalty, check_penalty,
       CAST(penalty_total AS BIGINT) AS penalty_total,
       CAST(readiness_score AS BIGINT) AS readiness_score,
       readiness_level, can_auto_convert
FROM (VALUES
  ('TPCH','CUSTOMER',5,2,0,0,0,0,0,2,98,'green',TRUE),
  ('TPCH','EVENTS_RAW',5,39,0,0,0,0,0,39,61,'yellow',FALSE)
) AS t(table_schema, table_name, n_columns, column_penalty,
       editproc_penalty, validproc_penalty, partition_penalty, fk_penalty,
       check_penalty, penalty_total, readiness_score, readiness_level,
       can_auto_convert)
ORDER BY table_name
"""

ORACLE_DDL_TYPE_DISTRIBUTION = """
SELECT base_type, CAST(n AS BIGINT) AS n FROM (VALUES
  ('BIGINT',2),('BLOB',1),('CHAR',1),('DECFLOAT',1),('DECIMAL',1),
  ('INTEGER',1),('TIMESTAMP',1),('VARCHAR',1),('XML',1)
) AS t(base_type, n)
ORDER BY n DESC, base_type
"""

#: The migration read→cast slice: the DDL types CUSTOMER as (BIGINT,
#: VARCHAR, INTEGER, DECIMAL(12,2), CHAR); correctly-rounded double→decimal
#: conversion matches across engines.
ORACLE_MIGRATE_CUSTOMER_CAST = """
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
                     AS c_acctbal,
                   c_mktsegment
            FROM customer ORDER BY c_custkey
        """


def _streaming_queries():
    """Structured Streaming pipelines drained with Trigger.AvailableNow.
    Each drain's oracle is a batch DuckDB twin of its exact output or of
    its exact anchors plus invariant booleans (see each docstring);
    tests/test_streaming.py asserts batch/stream equivalence."""
    import tempfile
    import uuid

    from .streaming import events as ev

    def _drain(spark, stream, prefix, sf_dir, mode="complete"):
        # Size-derived state-partition count (r11, verdict task 3):
        # per-partition state-store fixed costs dominated these drains
        # at sf0.1 — see ev.suggest_state_partitions.
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        with ev.drain_conf(spark, sf_dir):
            q = ev.run_available_now(
                stream, name, tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
                mode=mode)
        q.stop()
        return spark.table(name)

    def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: decimal-protocol sums make the drained rows
        arrival-order independent; timestamps formatted per the protocol."""
        out = _drain(spark, ev.hourly_rollup(
            ev.read_events_stream(spark, sf_dir)), "s_hourly",
            sf_dir=sf_dir)
        return out.select(
            F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss")
            .alias("hour_start"),
            "event_type", "n_events", "total_value")

    def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: stateless stream-static join + O(segments)
        complete-mode agg — the drain equals the batch LEFT JOIN +
        GROUP BY (decimal-protocol sums, arrival-order independent)."""
        from .operators.relational import ld as _ld

        out = _drain(spark, ev.enriched_segment_rollup(
            ev.read_events_stream(spark, sf_dir),
            _ld(spark, sf_dir, "customer")), "s_enrich", sf_dir=sf_dir)
        return out.orderBy("segment")

    def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: the lag/cumsum SQL twin reproduces
        session_window's (first event, last event + gap) boundaries."""
        out = _drain(spark, ev.session_windows(
            ev.read_events_stream(spark, sf_dir)), "s_sessions",
            sf_dir=sf_dir)
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events", "total_value")

    def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """FULL oracle since round 9: the doubled stream's copies are
        byte-identical rows, so whichever duplicate wins, the surviving
        row's CONTENT is the events row itself — the drain equals
        SELECT * FROM events exactly (protocol-formatted ts). Only the
        statement "which copy won" is arrival-order dependent; the
        emitted bytes are not."""
        name = f"s_dedup_{uuid.uuid4().hex[:8]}"
        src = ev.read_events_stream(spark, sf_dir)
        doubled = src.union(ev.read_events_stream(spark, sf_dir))
        with ev.drain_conf(spark, sf_dir):
            q = (ev.dedup_stream(doubled).writeStream.format("memory")
                 .queryName(name).outputMode("append")
                 .option("checkpointLocation",
                         tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        q.stop()
        return spark.table(name).select(
            "event_id", "user_id", "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value")

    def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream watermarked interval join, drained AvailableNow.
        Unlike the windowed rollups this one IS oracle-checkable: append
        mode emits exactly the finalized inner-join matches, and draining
        the whole fixture finalizes everything (pytest pins equality with
        the batch join), so the DuckDB batch interval join is a fair twin.
        Timestamps are emitted as formatted strings per the protocol."""
        drained = _drain(spark, ev.purchase_click_interval_join(
            ev.read_events_stream(spark, sf_dir)), "s_ivjoin",
            mode="append", sf_dir=sf_dir)
        return drained.select(
            "purchase_id", "click_id", "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts_s"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts_s"))

    def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream LEFT OUTER interval join, drained AvailableNow.
        Unmatched purchases inside the final watermark horizon stay in
        state when the drain stops (inherent to outer streaming joins),
        so the NULL-padded row set is horizon-dependent — but the
        MATCHED rows are exactly the batch inner join. Partial-oracle
        since round 9: the census row carries n_purchases and n_matched
        on the DuckDB hash gate (batch interval-join twins), plus two
        oracle-asserted booleans — ``unmatched_subset_ok`` (no emitted
        NULL-click purchase also has a batch match: outer padding never
        fabricates a miss for a matchable purchase) and
        ``matched_pairs_unique`` (no duplicate (purchase, click)
        emission). tests/test_streaming.py still pins the full matched ≡
        inner / unmatched ⊆ anti / horizon-completeness properties on
        the raw drain."""
        from .operators.relational import load_events as _le

        from .operators.scale import pin as _pin
        drained = _pin(_drain(spark, ev.purchase_click_left_join(
            ev.read_events_stream(spark, sf_dir)), "s_lojoin",
            mode="append", sf_dir=sf_dir))                   # 3 consumers below
        e = _le(spark, sf_dir)
        p = e.filter(F.col("event_type") == "purchase") \
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user"),
                     F.col("ts").alias("p_ts"))
        c = e.filter(F.col("event_type") == "click") \
             .select(F.col("event_id").alias("click_id"),
                     F.col("user_id").alias("c_user"),
                     F.col("ts").alias("c_ts"))
        cond = ((F.col("p_user") == F.col("c_user"))
                & (F.col("c_ts") <= F.col("p_ts"))
                & (F.col("c_ts") >= F.col("p_ts")
                   - F.expr("INTERVAL 30 minutes")))
        inner = _pin(p.join(c, cond)
                     .select("purchase_id", "click_id"))  # 2 consumers
        n_purch = p.agg(F.count(F.lit(1)).alias("n_purchases"))
        matched = drained.filter(F.col("click_id").isNotNull())
        n_matched = matched.agg(F.count(F.lit(1)).alias("n_matched"))
        bad_unmatched = (drained.filter(F.col("click_id").isNull())
                         .select("purchase_id")
                         .join(inner.select("purchase_id").distinct(),
                               "purchase_id", "semi")
                         .agg(F.count(F.lit(1)).alias("n_bad")))
        dup_pairs = (matched.groupBy("purchase_id", "click_id")
                     .agg(F.count(F.lit(1)).alias("c"))
                     .agg(F.coalesce(
                         F.max((F.col("c") > 1).cast("int")),
                         F.lit(0)).alias("any_dup")))
        return (n_purch.crossJoin(F.broadcast(n_matched))
                .crossJoin(F.broadcast(bad_unmatched))
                .crossJoin(F.broadcast(dup_pairs))
                .select("n_purchases", "n_matched",
                        (F.col("n_bad") == 0).alias("unmatched_subset_ok"),
                        (F.col("any_dup") == 0)
                        .alias("matched_pairs_unique")))

    def streaming_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-static anomaly alerts drained AvailableNow; append mode
        emits exactly the matched rows, so the batch z-score oracle is an
        exact twin (same decimal-protocol stats arithmetic)."""
        stats = ev.event_type_stats(spark, sf_dir)
        drained = _drain(spark, ev.zscore_alerts(
            ev.read_events_stream(spark, sf_dir), stats), "s_zalerts",
            mode="append", sf_dir=sf_dir)
        return drained.orderBy("event_id")

    def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable like the hourly rollup (decimal-protocol avg)."""
        out = _drain(spark, ev.sliding_rollup(
            ev.read_events_stream(spark, sf_dir)), "s_sliding",
            sf_dir=sf_dir)
        return out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            F.date_format("window_end", "yyyy-MM-dd HH:mm:ss")
            .alias("window_end"),
            "n_events", "avg_value")

    def streaming_user_stats_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Same contract as streaming_user_stats but through the modern
        Spark 4 stateful API (``transformWithStateInPandas`` + ValueState)
        when the runtime supports it. FULL oracle since round 9: the
        emitted (user_id, n_events) final state is an exact per-user
        count — arrival order only affects the dropped float column —
        so DuckDB's GROUP BY twin hash-gates the state plumbing; the
        batch-equivalence pytest still covers whichever API path the
        environment takes."""
        from pyspark.sql import Window

        drained = _drain(spark, ev.user_running_stats_v2(
            ev.read_events_stream(spark, sf_dir)), "s_ustats2",
            mode="update", sf_dir=sf_dir)
        w = F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events")))
        return (drained.withColumn("rn", w).filter(F.col("rn") == 1)
                .select("user_id", "n_events"))

    def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """applyInPandasWithState running totals, update-mode: the memory
        sink keeps every update, so take the LAST emitted row per user —
        that's the state each key ends the drain with. FULL oracle since
        round 9: the emitted (user_id, n_events) final state is an exact
        per-user count (the arrival-order-summed float total is dropped
        from the projection), so DuckDB's GROUP BY twin hash-gates the
        state plumbing; the batch-equivalence pytest still pins the float
        totals on the raw drain."""
        from pyspark.sql import Window

        drained = _drain(spark, ev.user_running_stats(
            ev.read_events_stream(spark, sf_dir)), "s_ustats",
            mode="update", sf_dir=sf_dir)
        w = F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events")))
        return (drained.withColumn("rn", w).filter(F.col("rn") == 1)
                .select("user_id", "n_events"))

    def streaming_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stateful two-sided CUSUM drift alarms (online Welford
        standardization carried in the state store — deliberately NOT the
        batch entry's retrospective standardization; see
        streaming/events.py). Partial-oracle since round 9: the per-type
        event count rides the DuckDB hash gate and the alarm stream
        collapses to two oracle-asserted invariants —
        ``ordinals_valid`` (every alarm ordinal in [warmup+1, n]: the
        detector cannot alarm during its 30-observation warmup or past
        the stream) and ``stats_exceed_h`` (every alarm's statistic
        crossed the h=4 threshold). The exact alarm rows stay pinned by
        the pure-Python online-replay pytest on the raw drain."""
        from .operators.relational import load_events as _le

        drained = _drain(spark, ev.cusum_drift_alerts(
            ev.read_events_stream(spark, sf_dir)), "s_cusum",
            mode="append", sf_dir=sf_dir)
        counts = (_le(spark, sf_dir).groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n_events")))
        per_type = (drained.groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n_alarms"),
                         F.min("ordinal").alias("min_ord"),
                         F.max("ordinal").alias("max_ord"),
                         F.min("stat").alias("min_stat")))
        return (counts.join(per_type, "event_type", "left")
                .select(
                    "event_type", "n_events",
                    F.when(F.col("n_alarms").isNull(), F.lit(True))
                    .otherwise((F.col("min_ord") >= 31)
                               & (F.col("max_ord") <= F.col("n_events")))
                    .alias("ordinals_valid"),
                    F.when(F.col("n_alarms").isNull(), F.lit(True))
                    .otherwise(F.col("min_stat") > 4.0)
                    .alias("stats_exceed_h"))
                .orderBy("event_type"))

    def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Misra-Gries heavy-hitter users per event type, maintained in
        O(k) state per key (streaming twin of the batch MG sketch).
        Sketch admission is arrival-order-dependent by construction →
        rows-only; the pytest pins the drained snapshot against a
        pure-Python MG replay and the n/(k+1) survival guarantee.

        The update-mode memory sink APPENDS each micro-batch's emitted
        counter set, so a multi-batch drain leaves stale (possibly
        since-evicted) rows from earlier snapshots in the table; keep
        only the max-``snap`` snapshot per event_type (the per-key
        ordinal the operator stamps each emission with).

        Partial-oracle since round 9 (the corpus_frequent_tokens_mg
        pattern, over USERS per type): per-type event count and
        guaranteed-heavy count (c·(k+1) > n, integer-compared) ride the
        DuckDB hash gate, and the drained counter set collapses to the
        three MG invariants as oracle-asserted booleans — support
        guarantee, never-overcount, n/(k+1) undercount bound. The exact
        counter values stay pinned by the pure-Python replay pytest on
        the raw drain."""
        from .operators.relational import load_events as _le

        k = 8
        drained = _drain(spark, ev.heavy_hitter_users(
            ev.read_events_stream(spark, sf_dir), k=k), "s_mg",
            mode="update", sf_dir=sf_dir)
        from pyspark.sql import Window
        last = F.max("snap").over(Window.partitionBy("event_type"))
        snap = (drained.withColumn("last_snap", last)
                .filter(F.col("snap") == F.col("last_snap"))
                .select("event_type", "user_id", "mg_count"))
        e = _le(spark, sf_dir)
        # the sketch cannot count a NULL user (corrupted rows drop in
        # the updater), so the guarantee census must not nominate one —
        # the oracle's guar subquery filters identically
        exact = (e.filter(F.col("user_id").isNotNull())
                 .groupBy("event_type", "user_id")
                 .agg(F.count(F.lit(1)).alias("c")))
        tot = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
        guar = (exact.join(F.broadcast(tot), "event_type")
                .filter(F.col("c") * (k + 1) > F.col("n_events"))
                .select("event_type", "user_id", "c"))
        n_guar = guar.groupBy("event_type") \
                     .agg(F.count(F.lit(1)).alias("n_guaranteed"))
        missing = (guar.join(snap, ["event_type", "user_id"], "left_anti")
                   .groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n_missing")))
        joined = (snap.join(exact, ["event_type", "user_id"])
                  .join(F.broadcast(tot), "event_type")
                  .groupBy("event_type")
                  .agg(F.max((F.col("mg_count") > F.col("c")).cast("int"))
                       .alias("any_over"),
                       F.max(((F.col("c") - F.col("mg_count")) * (k + 1)
                              > F.col("n_events")).cast("int"))
                       .alias("any_oob")))
        return (tot
                .join(n_guar, "event_type", "left")
                .join(missing, "event_type", "left")
                .join(joined, "event_type", "left")
                .select(
                    "event_type", "n_events",
                    F.coalesce("n_guaranteed", F.lit(0))
                    .alias("n_guaranteed"),
                    (F.coalesce("n_missing", F.lit(0)) == 0)
                    .alias("all_guaranteed_present"),
                    (F.coalesce("any_over", F.lit(0)) == 0)
                    .alias("est_le_exact"),
                    (F.coalesce("any_oob", F.lit(0)) == 0)
                    .alias("undercount_in_bound"))
                .orderBy("event_type"))

    return {"streaming_interval_join": streaming_interval_join,
            "streaming_left_outer_join": streaming_left_outer_join,
            "streaming_zscore_alerts": streaming_zscore_alerts,
            "streaming_hourly_rollup": streaming_hourly_rollup,
            "streaming_session_windows": streaming_session_windows,
            "streaming_dedup": streaming_dedup,
            "streaming_sliding_rollup": streaming_sliding_rollup,
            "streaming_user_stats": streaming_user_stats,
            "streaming_user_stats_v2": streaming_user_stats_v2,
            "streaming_cusum_alerts": streaming_cusum_alerts,
            "streaming_heavy_hitters": streaming_heavy_hitters,
            "streaming_static_enrich": streaming_static_enrich}


def _streaming_p2_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw P² drain (the pre-r9 registry output, kept for the replay
    pytests): streaming P² median estimate per event type, O(1)
    five-marker state per key forever. The pytest replays the exact
    marker trajectory in pure Python and pins the estimate's accuracy
    vs the exact median. Append mode emits one
    snapshot per key per batch — keep the max-n_seen row per key (the
    streaming_user_stats snapshot-dedup contract)."""
    import tempfile
    import uuid

    from .streaming import events as ev

    name = f"s_p2_{uuid.uuid4().hex[:8]}"
    with ev.drain_conf(spark, sf_dir):
        q = ev.run_available_now(
            ev.p2_quantile_estimates(
                ev.read_events_stream(spark, sf_dir)),
            name, tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
            mode="append")
    q.stop()
    from pyspark.sql import Window
    drained = spark.table(name)
    last = F.max("n_seen").over(Window.partitionBy("event_type"))
    return (drained.withColumn("last_n", last)
            .filter(F.col("n_seen") == F.col("last_n"))
            .select("event_type", "n_seen",
                    F.round("q_estimate", 9).alias("q_estimate"))
            .orderBy("event_type"))


def _streaming_p2_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-oracle form of the P² drain (round 9): ``n_seen`` is the
    exact per-type count (hash-gated vs DuckDB), and the float estimate
    collapses to its structural marker-range invariant — the middle
    marker always lies within the observed [min, max] — as an
    oracle-asserted boolean. The exact marker trajectory stays pinned by
    the pure-Python replay pytests on :func:`_streaming_p2_final`."""
    from .operators.relational import load_events as _le

    final = _streaming_p2_final(spark, sf_dir)
    rng = (_le(spark, sf_dir).groupBy("event_type")
           .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax")))
    return (final.join(rng, "event_type")
            .select("event_type", "n_seen",
                    ((F.col("q_estimate") >= F.col("vmin"))
                     & (F.col("q_estimate") <= F.col("vmax")))
                    .alias("est_in_range"))
            .orderBy("event_type"))


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over the text-derived payloads (byte-stride fake on
    non-image payloads; the REAL BMP path is pinned in
    tests/test_operators.py::TestRealCodecs).

    FULL oracle since round 9: the fake resample is an exact integer
    function of the payload length — stride = max(1, L div 256), output
    length = min(⌈L/stride⌉, 256) — so DuckDB recomputes every emitted
    cell from octet_length(encode(text)). The mapInPandas plumbing is
    therefore hash-gated end-to-end: a broken Arrow batch shape, dropped
    row, or stride bug turns the driver row red."""
    assets = multimodal.attach_binary_payload(spark, sf_dir)
    out = multimodal.resize_assets(assets.select("doc_id", "payload"),
                                   target=(16, 16))
    return (out.select("doc_id", F.length("payload").alias("n_bytes"),
                       "width", "height").orderBy("doc_id"))


#: Streaming oracles added in round 9 — see each entry's docstring.
ORACLE_STREAMING_DEDUP = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
FROM events
"""

ORACLE_STREAMING_USER_STATS = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""

# n_seen mirrors the updater: it skips non-finite observations (NULL
# value arrives as NaN after sanitize_events maps non-finite/absurd to
# NULL) — the oracle must count the same finite universe (r9)
ORACLE_STREAMING_P2 = """
SELECT event_type,
       COUNT(*) FILTER (WHERE value IS NOT NULL AND NOT isnan(value)
                        AND abs(value) < 1e15) AS n_seen,
       TRUE AS est_in_range
FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_STREAMING_CUSUM = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS ordinals_valid, TRUE AS stats_exceed_h
FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_STREAMING_MG = """
WITH tot AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type),
guar AS (
  SELECT e.event_type, e.user_id, COUNT(*) AS c
  FROM events e WHERE e.user_id IS NOT NULL
  GROUP BY e.event_type, e.user_id)
SELECT t.event_type, t.n_events,
       CAST(COALESCE(SUM(CASE WHEN g.c * 9 > t.n_events
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_guaranteed,
       TRUE AS all_guaranteed_present,
       TRUE AS est_le_exact,
       TRUE AS undercount_in_bound
FROM tot t LEFT JOIN guar g ON g.event_type = t.event_type
GROUP BY t.event_type, t.n_events
ORDER BY t.event_type
"""

ORACLE_STREAMING_LOJ = """
SELECT (SELECT COUNT(*) FROM events
        WHERE event_type = 'purchase') AS n_purchases,
       (SELECT COUNT(*)
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click')
         AS n_matched,
       TRUE AS unmatched_subset_ok,
       TRUE AS matched_pairs_unique
"""


ORACLE_MULTIMODAL_RESIZE = """
WITH a AS (
  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
  WHERE text IS NOT NULL),
s AS (
  SELECT doc_id, L,
         GREATEST(1, GREATEST(L, 1) // 256) AS stride FROM a)
SELECT doc_id,
       CAST(LEAST((L + stride - 1) // stride, 256) AS INTEGER) AS n_bytes,
       16 AS width, 16 AS height
FROM s ORDER BY doc_id
"""


def _multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (1 row → N frame rows).

    FULL oracle since round 9: the fake demuxer is an exact integer
    function of the payload length — frames of 128 bytes, every 4th
    kept, the last frame carrying the remainder — so DuckDB regenerates
    the whole (doc_id, frame_idx, frame_bytes) fan-out from
    octet_length + generate_series. The explode-shaped mapInPandas
    (data-dependent output cardinality) is hash-gated end-to-end."""
    assets = multimodal.attach_binary_payload(spark, sf_dir)
    out = multimodal.sample_frames(assets.select("doc_id", "payload"),
                                   every_nth=4, frame_size=128)
    return (out.select("doc_id", "frame_idx",
                       F.length("frame").alias("frame_bytes"))
            .orderBy("doc_id", "frame_idx"))


ORACLE_MULTIMODAL_FRAME_SAMPLE = """
WITH a AS (
  SELECT doc_id, octet_length(encode(text)) AS L,
         (octet_length(encode(text)) + 127) // 128 AS nf
  FROM documents)
SELECT a.doc_id,
       CAST(g.i AS BIGINT) AS frame_idx,
       CAST(CASE WHEN g.i = a.nf - 1 THEN a.L - 128 * g.i
                 ELSE 128 END AS INTEGER) AS frame_bytes
FROM a, LATERAL (SELECT UNNEST(generate_series(0, a.nf - 1, 4)) AS i) g
ORDER BY a.doc_id, g.i
"""


def _multimodal_features_checked(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Partial-oracle form of the feature-extraction plumbing (round 9):
    the exact byte length rides the DuckDB hash gate, and the float
    feature norm collapses to two oracle-asserted invariants —
    ``norm_pos_iff_bytes`` (the fake decoder's buckets are byte sums, so
    a non-empty payload always has positive norm) and ``norm_in_band``
    (each of the 16 features is a mean of byte values ≤ 255, so
    norm ≤ 255·√16). Determinism/batch-shape stay pytest-pinned on the
    raw core."""
    import math

    base = multimodal.multimodal_features(spark, sf_dir)
    meta = multimodal.multimodal_metadata(spark, sf_dir) \
        .select("doc_id", "n_bytes")
    cap = 255.0 * math.sqrt(16.0) + 1e-9
    return (base.join(meta, "doc_id")
            .select("doc_id", "n_bytes",
                    ((F.col("feature_norm") > 0)
                     == (F.col("n_bytes") > 0)).alias("norm_pos_iff_bytes"),
                    ((F.col("feature_norm") >= 0)
                     & (F.col("feature_norm") <= cap)).alias("norm_in_band"))
            .orderBy("doc_id"))


ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       TRUE AS norm_pos_iff_bytes, TRUE AS norm_in_band
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


def _udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.tablefns import udtf_sentence_split

    return udtf_sentence_split(spark, sf_dir)


def _dedup_sentences_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.tablefns import dedup_sentences_exact

    return dedup_sentences_exact(spark, sf_dir)


def _source_pydatasource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pydatasource import source_pydatasource_agg

    return source_pydatasource_agg(spark, sf_dir)


def _source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.registry import source_roundtrip_formats

    return source_roundtrip_formats(spark, sf_dir)


def build_table() -> list[tuple[str, Callable[[SparkSession, str], DataFrame],
                                str]]:
    """Every registry entry as ``(name, query, oracle_sql)``, in driver
    order: the first 50 rows are the driver window. A ``*_checked`` query's
    comment says why its operator has no SQL twin. A repeated name raises
    ``ValueError``."""
    from .functions import tablefns
    from .operators import behavior, eventtime, rerank, traindata, validate
    from .sources import pydatasource
    from .sources import registry as sources
    from .streaming import events as ev

    sq, cq = _streaming_queries(), _catalog_queries()
    return _unique_names([
        # ---- the driver window: entries 1-50 ----
        ("corpus_curriculum_phases", traindata.corpus_curriculum_phases,
         traindata.ORACLE_CURRICULUM_PHASES),
        ("privacy_k_anonymity", validate.privacy_k_anonymity,
         validate.ORACLE_K_ANONYMITY),
        # Lloyd's fit is iterative float math
        ("embedding_kmeans_clusters",
         similarity.embedding_kmeans_clusters_checked,
         similarity.ORACLE_KMEANS_CHECKED),
        # float energy profile of a decoded WAV
        ("multimodal_audio_energy", multimodal.multimodal_audio_energy_checked,
         multimodal.ORACLE_AUDIO_ENERGY_CHECKED),
        ("corpus_temperature_mixture", traindata.corpus_temperature_mixture,
         traindata.ORACLE_TEMPERATURE_MIXTURE),
        # xxhash64 KMV sketch, no DuckDB twin
        ("vocab_kmv_distinct", approx.vocab_kmv_distinct_checked,
         approx.ORACLE_VOCAB_KMV_CHECKED),
        ("corpus_ngram_novelty", corpus.corpus_ngram_novelty,
         corpus.ORACLE_NGRAM_NOVELTY),
        ("udaf_trimmed_sum", tablefns.udaf_trimmed_sum,
         tablefns.ORACLE_UDAF_TRIMMED_SUM),
        ("streaming_static_enrich", sq["streaming_static_enrich"],
         ev.ORACLE_STREAMING_STATIC_ENRICH),
        # float statistics of a decoded BMP
        ("multimodal_image_stats", multimodal.multimodal_image_stats_checked,
         multimodal.ORACLE_IMAGE_STATS_CHECKED),
        # the k-core peel is a driver-looped fixpoint
        ("graph_kcore", graph.graph_kcore_checked, graph.ORACLE_KCORE_CHECKED),
        ("sql_recursive_hierarchy", graph.sql_recursive_hierarchy,
         graph.ORACLE_SQL_RECURSIVE),
        ("sink_pydatasource_roundtrip",
         pydatasource.sink_pydatasource_roundtrip,
         pydatasource.ORACLE_SINK_PYDATASOURCE),
        ("retrieval_bm25_topk", corpus.retrieval_bm25_topk,
         corpus.ORACLE_BM25_TOPK),
        ("diag_join_key_skew", scale.diag_join_key_skew,
         scale.ORACLE_DIAG_JOIN_KEY_SKEW),
        ("events_acf_daily", timeseries.events_acf_daily,
         timeseries.ORACLE_EVENTS_ACF),
        ("events_interarrival_stats", eventtime.events_interarrival_stats,
         eventtime.ORACLE_EVENTS_INTERARRIVAL),
        ("diag_blocking_pair_census", scale.diag_blocking_pair_census,
         scale.ORACLE_DIAG_BLOCKING_PAIRS),
        ("corpus_token_cooccurrence", corpus.corpus_token_cooccurrence,
         corpus.ORACLE_TOKEN_COOCCURRENCE),
        ("forecast_seasonal_naive_eval",
         timeseries.forecast_seasonal_naive_eval,
         timeseries.ORACLE_FORECAST_SEASONAL_NAIVE),
        ("quality_quantile_calibrate", traindata.quality_quantile_calibrate,
         traindata.ORACLE_QUANTILE_CALIBRATE),
        ("events_trigram_journeys", behavior.events_trigram_journeys,
         behavior.ORACLE_TRIGRAM_JOURNEYS),
        ("diag_layout_zonemap", scale.diag_layout_zonemap,
         scale.ORACLE_DIAG_LAYOUT_ZONEMAP),
        ("assoc_cramers_v", analytics.assoc_cramers_v,
         analytics.ORACLE_CRAMERS_V),
        # Holt smoothing is a float recurrence
        ("events_holt_linear", eventtime.events_holt_linear_checked,
         eventtime.ORACLE_EVENTS_HOLT_CHECKED),
        ("revenue_gini_lorenz", analytics.revenue_gini_lorenz,
         analytics.ORACLE_GINI_LORENZ),
        ("corpus_heaps_law", corpus.corpus_heaps_law, corpus.ORACLE_HEAPS_LAW),
        ("events_peak_concurrency", eventtime.events_peak_concurrency,
         eventtime.ORACLE_PEAK_CONCURRENCY),
        ("agg_weighted_percentiles", analytics.agg_weighted_percentiles,
         analytics.ORACLE_WEIGHTED_PERCENTILES),
        ("benford_price_audit", analytics.benford_price_audit,
         analytics.ORACLE_BENFORD),
        ("events_user_predictability", behavior.events_user_predictability,
         behavior.ORACLE_USER_PREDICTABILITY),
        # approximate top-k: the wrapper gates recall
        ("ann_lsh_topk", similarity.ann_lsh_topk_checked,
         similarity.ORACLE_ANN_RECALL_GATE),
        # HLL estimates are approximate
        ("approx_distinct_counts", approx.approx_distinct_counts_checked,
         approx.ORACLE_APPROX_DISTINCT_CHECKED),
        ("case_when_bucketing", rel.case_when_bucketing, rel.ORACLE_CASE_WHEN),
        ("dedup_clusters", dedup.dedup_clusters, dedup.ORACLE_DEDUP_CLUSTERS),
        # blocked float-cosine pair set
        ("dedup_embedding_blocked", similarity.dedup_embedding_blocked_checked,
         similarity.ORACLE_EMBEDDING_BLOCKED_CHECKED),
        ("dedup_exact_docs", dedup.dedup_exact_docs, dedup.ORACLE_DEDUP_EXACT),
        ("dedup_ngram_jaccard", dedup.dedup_ngram_jaccard,
         dedup.ORACLE_DEDUP_NGRAM),
        # xxhash64 fingerprints, no DuckDB twin
        ("dedup_simhash", dedup.dedup_simhash_checked,
         dedup.ORACLE_SIMHASH_CHECKED),
        ("distinct_pairs", rel.distinct_pairs, rel.ORACLE_DISTINCT),
        ("events_asof_last_click", asof.events_asof_last_click,
         asof.ORACLE_EVENTS_ASOF),
        ("filter_null_safe", rel.filter_null_safe, rel.ORACLE_FILTER_NULLSAFE),
        ("streaming_p2_quantile", _streaming_p2_quantile, ORACLE_STREAMING_P2),
        # the stationary vector is power-iterated
        ("events_markov_stationary", behavior.events_markov_stationary_checked,
         behavior.ORACLE_MARKOV_STATIONARY_CHECKED),
        # DCT pHash has no DuckDB twin
        ("multimodal_phash_neardup",
         multimodal.multimodal_phash_neardup_checked,
         multimodal.ORACLE_PHASH_NEARDUP_CHECKED),
        # the Hilbert curve has no DuckDB twin
        ("diag_curve_locality", scale.diag_curve_locality_checked,
         scale.ORACLE_CURVE_LOCALITY_CHECKED),
        # xxhash64 KMV sketches, no DuckDB twin
        ("kmv_set_ops", approx.kmv_set_ops_checked,
         approx.ORACLE_KMV_SET_OPS_CHECKED),
        # float cosine aggregates
        ("embedding_triplet_margin",
         similarity.embedding_triplet_margin_checked,
         similarity.ORACLE_TRIPLET_MARGIN_CHECKED),
        # xxhash64 Bloom probes, no DuckDB twin
        ("dedup_bloom_prefilter", dedup.dedup_bloom_prefilter_checked,
         dedup.ORACLE_BLOOM_PREFILTER_CHECKED),
        # pyarrow footer stats have no stable DuckDB twin
        ("diag_parquet_rowgroup_stats",
         scale.diag_parquet_rowgroup_stats_checked,
         scale.ORACLE_ROWGROUP_STATS_CHECKED),
        # ---- past the driver window ----
        ("cdc_apply_customers", cdc.cdc_apply_customers, cdc.ORACLE_CDC_APPLY),
        ("scd2_apply_customers", cdc.scd2_apply_customers,
         cdc.ORACLE_SCD2_APPLY),
        ("profile_customer_stats", cdc.profile_customer_stats,
         cdc.ORACLE_PROFILE_CUSTOMER),
        ("scd2_point_in_time_join", cdc.scd2_point_in_time_join,
         cdc.ORACLE_SCD2_PIT),
        ("events_asof_tolerance", asof.events_asof_tolerance,
         asof.ORACLE_EVENTS_ASOF_TOLERANCE),
        ("events_gapfill_hourly", timeseries.events_gapfill_hourly,
         timeseries.ORACLE_EVENTS_GAPFILL),
        ("events_sliding_hourly", timeseries.events_sliding_hourly,
         timeseries.ORACLE_EVENTS_SLIDING),
        ("sample_hash_stratified", analytics.sample_hash_stratified,
         analytics.ORACLE_SAMPLE_HASH),
        ("dedup_levenshtein_blocked", analytics.dedup_levenshtein_blocked,
         analytics.ORACLE_DEDUP_LEVENSHTEIN),
        ("corpus_top_tokens", corpus.corpus_top_tokens,
         corpus.ORACLE_TOP_TOKENS),
        ("corpus_tfidf_top_terms", corpus.corpus_tfidf_top_terms,
         corpus.ORACLE_TFIDF_TOP_TERMS),
        ("unpivot_nation_metrics", rel.unpivot_nation_metrics,
         rel.ORACLE_UNPIVOT),
        ("scalar_regex_fns", rel.scalar_regex_fns, rel.ORACLE_SCALAR_REGEX),
        ("scalar_variant_fns", rel.scalar_variant_fns,
         rel.ORACLE_SCALAR_VARIANT),
        ("scalar_xml_fns", rel.scalar_xml_fns, rel.ORACLE_SCALAR_XML),
        ("agg_string_concat", rel.agg_string_concat,
         rel.ORACLE_AGG_STRING_CONCAT),
        ("source_pydatasource_agg", _source_pydatasource_agg,
         pydatasource.ORACLE_PYDATASOURCE),
        ("udtf_sentence_split", _udtf_sentence_split,
         tablefns.ORACLE_UDTF_SENTENCES),
        ("dedup_sentences_exact", _dedup_sentences_exact,
         tablefns.ORACLE_DEDUP_SENTENCES),
        ("streaming_hourly_rollup", sq["streaming_hourly_rollup"],
         ev.ORACLE_STREAMING_HOURLY),
        ("streaming_sliding_rollup", sq["streaming_sliding_rollup"],
         ev.ORACLE_STREAMING_SLIDING),
        ("streaming_session_windows", sq["streaming_session_windows"],
         ev.ORACLE_STREAMING_SESSIONS),
        ("ddl_schema_catalog", cq["ddl_schema_catalog"],
         ORACLE_DDL_SCHEMA_CATALOG),
        ("ddl_assess_catalog", cq["ddl_assess_catalog"],
         ORACLE_DDL_ASSESS_CATALOG),
        ("ddl_type_distribution", cq["ddl_type_distribution"],
         ORACLE_DDL_TYPE_DISTRIBUTION),
        ("streaming_dedup", sq["streaming_dedup"], ORACLE_STREAMING_DEDUP),
        ("streaming_user_stats", sq["streaming_user_stats"],
         ORACLE_STREAMING_USER_STATS),
        ("streaming_cusum_alerts", sq["streaming_cusum_alerts"],
         ORACLE_STREAMING_CUSUM),
        ("streaming_heavy_hitters", sq["streaming_heavy_hitters"],
         ORACLE_STREAMING_MG),
        # approximate top-k: the wrapper gates recall
        ("ann_ivf_topk", similarity.ann_ivf_topk_checked,
         similarity.ORACLE_ANN_RECALL_GATE),
        # float features of a decoded payload
        ("multimodal_features", _multimodal_features_checked,
         ORACLE_MULTIMODAL_FEATURES),
        # PageRank is iterative float math
        ("graph_pagerank_top", graph.graph_pagerank_top_checked,
         graph.ORACLE_PAGERANK_CHECKED),
        ("events_funnel_conversion", behavior.events_funnel_conversion,
         behavior.ORACLE_FUNNEL),
        ("events_retention_cohorts", behavior.events_retention_cohorts,
         behavior.ORACLE_RETENTION),
        ("events_rolling_stats", behavior.events_rolling_stats,
         behavior.ORACLE_ROLLING),
        ("events_transition_matrix", behavior.events_transition_matrix,
         behavior.ORACLE_TRANSITIONS),
        ("events_value_zscore", behavior.events_value_zscore,
         behavior.ORACLE_ZSCORE),
        ("data_split_assign", traindata.data_split_assign,
         traindata.ORACLE_DATA_SPLIT),
        ("corpus_pack_sequences", traindata.corpus_pack_sequences,
         traindata.ORACLE_PACK_SEQUENCES),
        ("embedding_quantize_int8", traindata.embedding_quantize_int8,
         traindata.ORACLE_QUANTIZE),
        ("contamination_ngram_overlap", traindata.contamination_ngram_overlap,
         traindata.ORACLE_CONTAMINATION),
        ("validate_customer_constraints",
         validate.validate_customer_constraints,
         validate.ORACLE_VALIDATE_CUSTOMER),
        ("snapshot_diff_customers", validate.snapshot_diff_customers,
         validate.ORACLE_SNAPSHOT_DIFF),
        ("migrate_reconcile_customers", validate.migrate_reconcile_customers,
         validate.ORACLE_RECONCILE),
        ("validate_star_expectations", validate.validate_star_expectations,
         validate.ORACLE_STAR_EXPECTATIONS),
        # approximate top-k: the wrapper gates recall
        ("ann_pq_topk", similarity.ann_pq_topk_checked,
         similarity.ORACLE_ANN_RECALL_GATE),
        ("text_gopher_filters", textstats.text_gopher_filters,
         textstats.ORACLE_TEXT_GOPHER),
        ("text_repetition_metrics", textstats.text_repetition_metrics,
         textstats.ORACLE_TEXT_REPETITION),
        ("agg_histogram_equi_width", analytics.agg_histogram_equi_width,
         analytics.ORACLE_AGG_HISTOGRAM),
        ("join_salted_hot_key", scale.join_salted_hot_key,
         scale.ORACLE_JOIN_SALTED_HOT),
        ("q1_pricing_summary", rel.q1_pricing_summary, rel.ORACLE_Q1),
        ("q9_product_profit", rext.q9_product_profit, rext.ORACLE_Q9),
        ("agg_rollup", rel.agg_rollup, rel.ORACLE_AGG_ROLLUP),
        ("window_ntile_scalable", scale.window_ntile_scalable,
         rel.ORACLE_WINDOW_NTILE),
        ("streaming_interval_join", sq["streaming_interval_join"],
         rel.ORACLE_STREAMING_INTERVAL_JOIN),
        ("dedup_ngram_jaccard_pruned", dedup.dedup_ngram_jaccard_pruned,
         dedup.ORACLE_DEDUP_NGRAM_PRUNED),
        ("corpus_curate", corpus.corpus_curate, corpus.ORACLE_CORPUS_CURATE),
        ("text_quality_score", textstats.text_quality_score,
         textstats.ORACLE_TEXT_QUALITY),
        ("migrate_customer_cast", cq["migrate_customer_cast"],
         ORACLE_MIGRATE_CUSTOMER_CAST),
        ("dedup_incremental_exact", traindata.dedup_incremental_exact,
         traindata.ORACLE_DEDUP_INCREMENTAL),
        ("sample_per_group_topn", traindata.sample_per_group_topn,
         traindata.ORACLE_SAMPLE_TOPN),
        ("corpus_mix_weights", traindata.corpus_mix_weights,
         traindata.ORACLE_MIX_WEIGHTS),
        ("corpus_token_budget_cut", traindata.corpus_token_budget_cut,
         traindata.ORACLE_TOKEN_BUDGET),
        ("streaming_zscore_alerts", sq["streaming_zscore_alerts"],
         behavior.ORACLE_ZSCORE),
        ("streaming_user_stats_v2", sq["streaming_user_stats_v2"],
         ORACLE_STREAMING_USER_STATS),
        # Misra-Gries counters depend on merge order
        ("corpus_frequent_tokens_mg", approx.frequent_tokens_mg_checked,
         approx.ORACLE_FREQUENT_TOKENS_MG_CHECKED),
        ("customer_rfm_segments", analytics.customer_rfm_segments,
         analytics.ORACLE_CUSTOMER_RFM),
        ("part_abc_analysis", analytics.part_abc_analysis,
         analytics.ORACLE_PART_ABC),
        ("orders_open_backlog_daily", analytics.orders_open_backlog_daily,
         analytics.ORACLE_ORDERS_BACKLOG),
        ("audience_overlap_matrix", behavior.audience_overlap_matrix,
         behavior.ORACLE_AUDIENCE_OVERLAP),
        ("geo_nearest_site_assignment", analytics.geo_nearest_site_assignment,
         analytics.ORACLE_GEO_NEAREST),
        ("supplier_on_time_scorecard", analytics.supplier_on_time_scorecard,
         analytics.ORACLE_SUPPLIER_SCORECARD),
        ("events_dow_hour_profile", analytics.events_dow_hour_profile,
         analytics.ORACLE_EVENTS_DOW_HOUR),
        ("events_mad_outliers", analytics.events_mad_outliers,
         analytics.ORACLE_EVENTS_MAD),
        ("observe_scan_metrics", validate.observe_scan_metrics,
         validate.ORACLE_OBSERVE_METRICS),
        ("orders_monthly_growth", analytics.orders_monthly_growth,
         analytics.ORACLE_ORDERS_MONTHLY_GROWTH),
        ("text_langid_eval", textstats.text_langid_eval,
         textstats.ORACLE_TEXT_LANGID_EVAL),
        ("part_pareto_frontier", analytics.part_pareto_frontier,
         analytics.ORACLE_PART_PARETO),
        ("basket_part_affinity", analytics.basket_part_affinity,
         analytics.ORACLE_BASKET_AFFINITY),
        ("events_locf_daily", timeseries.events_locf_daily,
         timeseries.ORACLE_EVENTS_LOCF),
        ("events_pattern_vshape", eventtime.events_pattern_vshape,
         eventtime.ORACLE_PATTERN_VSHAPE),
        ("orders_keyset_page", analytics.orders_keyset_page,
         analytics.ORACLE_ORDERS_KEYSET),
        ("customers_adoption_curve", analytics.customers_adoption_curve,
         analytics.ORACLE_CUSTOMERS_ADOPTION),
        ("events_activity_streaks", eventtime.events_activity_streaks,
         eventtime.ORACLE_ACTIVITY_STREAKS),
        ("events_ohlc_bars", eventtime.events_ohlc_bars,
         eventtime.ORACLE_EVENTS_OHLC),
        ("events_twap", eventtime.events_twap, eventtime.ORACLE_EVENTS_TWAP),
        ("events_interval_islands", eventtime.events_interval_islands,
         eventtime.ORACLE_EVENTS_ISLANDS),
        ("events_active_users_7d", eventtime.events_active_users_7d,
         eventtime.ORACLE_EVENTS_ACTIVE_7D),
        ("graph_hierarchy_depths", graph.graph_hierarchy_depths,
         graph.ORACLE_HIERARCHY_DEPTHS),
        ("corpus_bigram_counts", corpus.corpus_bigram_counts,
         corpus.ORACLE_BIGRAM_COUNTS),
        ("text_pii_redact", textstats.text_pii_redact,
         textstats.ORACLE_TEXT_PII),
        ("sink_partitioned_prune", sources.sink_partitioned_prune,
         sources.ORACLE_SINK_PARTITIONED),
        ("dedup_substring_spans", dedup.dedup_substring_spans,
         dedup.ORACLE_DEDUP_SUBSTRING),
        ("scd2_history_from_events", cdc.scd2_history_from_events,
         cdc.ORACLE_SCD2_FROM_EVENTS),
        ("rollup_incremental_refresh", timeseries.rollup_incremental_refresh,
         timeseries.ORACLE_ROLLUP_REFRESH),
        ("corpus_bpe_merge_pairs", corpus.corpus_bpe_merge_pairs,
         corpus.ORACLE_BPE_MERGE_PAIRS),
        ("events_session_attribution", eventtime.events_session_attribution,
         eventtime.ORACLE_SESSION_ATTRIBUTION),
        ("scale_zorder_zvalues", scale.scale_zorder_zvalues,
         scale.ORACLE_ZORDER),
        ("window_running_distinct", analytics.window_running_distinct,
         analytics.ORACLE_WINDOW_RUNNING_DISTINCT),
        ("sink_compact_small_files", sources.sink_compact_small_files,
         sources.ORACLE_SINK_COMPACT),
        ("source_schema_evolution", sources.source_schema_evolution,
         sources.ORACLE_SCHEMA_EVOLUTION),
        ("sink_dynamic_partition_overwrite",
         sources.sink_dynamic_partition_overwrite,
         sources.ORACLE_SINK_DYNPART),
        # the EMA is a per-key float recurrence
        ("events_ema", eventtime.events_ema_checked,
         eventtime.ORACLE_EVENTS_EMA_CHECKED),
        ("q4_order_priority", rext.q4_order_priority, rext.ORACLE_Q4),
        ("q7_volume_shipping", rext.q7_volume_shipping, rext.ORACLE_Q7),
        ("q12_priority_by_status", rext.q12_priority_by_status,
         rext.ORACLE_Q12),
        ("q13_customer_distribution", rext.q13_customer_distribution,
         rext.ORACLE_Q13),
        ("q14_promo_revenue", rext.q14_promo_revenue, rext.ORACLE_Q14),
        ("q15_top_supplier", rext.q15_top_supplier, rext.ORACLE_Q15),
        ("q17_small_quantity_revenue", rext.q17_small_quantity_revenue,
         rext.ORACLE_Q17),
        ("q19_disjunctive_predicates", rext.q19_disjunctive_predicates,
         rext.ORACLE_Q19),
        ("q22_dormant_customers", rext.q22_dormant_customers, rext.ORACLE_Q22),
        ("corr_above_nation_avg", rext.corr_above_nation_avg,
         rext.ORACLE_CORR_AVG),
        ("having_global_share", rext.having_global_share,
         rext.ORACLE_HAVING_SHARE),
        ("window_range_frame", rext.window_range_frame,
         rext.ORACLE_WINDOW_RANGE_FRAME),
        ("q16_supplier_variety", rext.q16_supplier_variety, rext.ORACLE_Q16),
        ("q20_part_share_suppliers", rext.q20_part_share_suppliers,
         rext.ORACLE_Q20),
        ("q2_min_cost_supplier", rext.q2_min_cost_supplier, rext.ORACLE_Q2),
        ("q8_market_share", rext.q8_market_share, rext.ORACLE_Q8),
        ("q11_important_stock", rext.q11_important_stock, rext.ORACLE_Q11),
        ("q21_waiting_suppliers", rext.q21_waiting_suppliers, rext.ORACLE_Q21),
        ("q3_shipping_priority", rel.q3_shipping_priority, rel.ORACLE_Q3),
        ("q5_nation_revenue", rel.q5_nation_revenue, rel.ORACLE_Q5),
        ("q6_forecast_revenue", rel.q6_forecast_revenue, rel.ORACLE_Q6),
        ("q10_returned_items", rel.q10_returned_items, rel.ORACLE_Q10),
        ("q18_large_orders", rel.q18_large_orders, rel.ORACLE_Q18),
        ("join_inner_broadcast", rel.join_inner_broadcast,
         rel.ORACLE_JOIN_INNER),
        ("events_tumbling_hourly", rel.events_tumbling_hourly,
         rel.ORACLE_EVENTS_HOURLY),
        ("events_sessionize", rel.events_sessionize,
         rel.ORACLE_EVENTS_SESSIONIZE),
        ("text_token_stats", textstats.text_token_stats,
         textstats.ORACLE_TEXT_TOKENS),
        ("text_normalize", textstats.text_normalize,
         textstats.ORACLE_TEXT_NORMALIZE),
        ("text_langid", textstats.text_langid, textstats.ORACLE_TEXT_LANGID),
        ("text_fingerprint", textstats.text_fingerprint,
         textstats.ORACLE_TEXT_FINGERPRINT),
        ("multimodal_metadata", multimodal.multimodal_metadata,
         multimodal.ORACLE_MULTIMODAL_META),
        ("dedup_embedding_cosine", dedup.dedup_embedding_cosine,
         dedup.ORACLE_DEDUP_EMBEDDING),
        # GK estimates are approximate
        ("approx_quantiles", approx.approx_quantiles_checked,
         approx.ORACLE_APPROX_QUANTILES_CHECKED),
        ("corpus_token_histogram", corpus.corpus_token_histogram,
         corpus.ORACLE_TOKEN_HISTOGRAM),
        ("embedding_covariance", corpus.embedding_covariance,
         corpus.ORACLE_EMBEDDING_COVARIANCE),
        ("dedup_keep_representatives", dedup.dedup_keep_representatives,
         dedup.ORACLE_DEDUP_KEEP_REPRESENTATIVES),
        ("set_intersect_all", rel.set_intersect_all,
         rel.ORACLE_SET_INTERSECT_ALL),
        ("set_except_all", rel.set_except_all, rel.ORACLE_SET_EXCEPT_ALL),
        ("source_roundtrip_formats", _source_roundtrip,
         sources.ORACLE_SOURCE_ROUNDTRIP),
        ("agg_corr_regr", analytics.agg_corr_regr,
         analytics.ORACLE_AGG_CORR_REGR),
        ("agg_percentiles", analytics.agg_percentiles,
         analytics.ORACLE_AGG_PERCENTILES),
        ("scalar_array_fns", analytics.scalar_array_fns,
         analytics.ORACLE_SCALAR_ARRAY),
        ("ann_brute_force_topk", similarity.ann_brute_force_topk,
         similarity.ORACLE_ANN_BRUTE),
        ("scan_filter_projection", rel.scan_filter_projection,
         rel.ORACLE_SCAN),
        ("join_left_outer", rel.join_left_outer, rel.ORACLE_JOIN_LEFT),
        ("join_semi", rel.join_semi, rel.ORACLE_JOIN_SEMI),
        ("join_anti", rel.join_anti, rel.ORACLE_JOIN_ANTI),
        ("join_full_outer", rel.join_full_outer, rel.ORACLE_JOIN_FULL),
        ("join_cross", rel.join_cross, rel.ORACLE_JOIN_CROSS),
        ("join_range_nonequi", rel.join_range_nonequi, rel.ORACLE_JOIN_RANGE),
        ("agg_distinct_counts", rel.agg_distinct_counts,
         rel.ORACLE_AGG_DISTINCT),
        ("agg_cube", rel.agg_cube, rel.ORACLE_AGG_CUBE),
        ("agg_grouping_sets", rel.agg_grouping_sets,
         rel.ORACLE_AGG_GROUPING_SETS),
        ("agg_stats", rel.agg_stats, rel.ORACLE_AGG_STATS),
        ("agg_pivot", rel.agg_pivot, rel.ORACLE_AGG_PIVOT),
        ("window_topk_per_group", rel.window_topk_per_group,
         rel.ORACLE_WINDOW_TOPK),
        ("window_rank_dense", rel.window_rank_dense, rel.ORACLE_WINDOW_RANK),
        ("window_lag_lead", rel.window_lag_lead, rel.ORACLE_WINDOW_LAG),
        ("window_running_sum", rel.window_running_sum,
         rel.ORACLE_WINDOW_RUNNING),
        ("window_ntile_percent", rel.window_ntile_percent,
         rel.ORACLE_WINDOW_NTILE_BOUNDED),
        ("sort_limit_topk", rel.sort_limit_topk, rel.ORACLE_SORT_TOPK),
        ("set_union_all", rel.set_union_all, rel.ORACLE_SET_UNION),
        ("set_intersect", rel.set_intersect, rel.ORACLE_SET_INTERSECT),
        ("set_except", rel.set_except, rel.ORACLE_SET_EXCEPT),
        ("scalar_string_fns", rel.scalar_string_fns, rel.ORACLE_SCALAR_STRING),
        ("scalar_date_fns", rel.scalar_date_fns, rel.ORACLE_SCALAR_DATE),
        ("scalar_math_fns", rel.scalar_math_fns, rel.ORACLE_SCALAR_MATH),
        ("scalar_json_fns", rel.scalar_json_fns, rel.ORACLE_SCALAR_JSON),
        # HLL estimates are approximate
        ("approx_hll_union", approx.approx_hll_union_checked,
         approx.ORACLE_APPROX_HLL_UNION_CHECKED),
        ("multimodal_resize", _multimodal_resize, ORACLE_MULTIMODAL_RESIZE),
        ("multimodal_frame_sample", _multimodal_frame_sample,
         ORACLE_MULTIMODAL_FRAME_SAMPLE),
        # xxhash64 MinHash bands, no DuckDB twin
        ("dedup_minhash_lsh", dedup.dedup_minhash_lsh_checked,
         dedup.ORACLE_MINHASH_LSH_CHECKED),
        ("rerank_ann_shortlist", rerank.rerank_ann_shortlist,
         rerank.ORACLE_RERANK_ANN),
        ("corpus_curation_report", corpus.corpus_curation_report,
         corpus.ORACLE_CURATION_REPORT),
        ("export_training_shards", traindata.export_training_shards,
         traindata.ORACLE_EXPORT_SHARDS),
        ("corpus_mixture_sample", traindata.corpus_mixture_sample,
         traindata.ORACLE_MIXTURE_SAMPLE),
        # merges after the first are driver-looped
        ("bpe_train_merges", corpus.bpe_train_merges_checked,
         corpus.ORACLE_BPE_TRAIN_CHECKED),
        ("merge_into_customers", cdc.merge_into_customers,
         cdc.ORACLE_MERGE_INTO),
        ("streaming_cdc_upsert", ev.streaming_cdc_upsert,
         ev.ORACLE_STREAMING_CDC_UPSERT),
        ("corpus_neardup_report", dedup.corpus_neardup_report,
         dedup.ORACLE_NEARDUP_REPORT),
        ("corpus_chunk_overlap", corpus.corpus_chunk_overlap,
         corpus.ORACLE_CHUNK_OVERLAP),
        ("corpus_doc_lm_coverage", corpus.corpus_doc_lm_coverage,
         corpus.ORACLE_DOC_LM_COVERAGE),
        ("events_linear_interp_daily", timeseries.events_linear_interp_daily,
         timeseries.ORACLE_EVENTS_LINEAR_INTERP),
        ("source_dpp_star_join", sources.source_dpp_star_join,
         sources.ORACLE_DPP_STAR_JOIN),
        # encodings follow the driver-looped merges
        ("bpe_encode_stats", corpus.bpe_encode_stats_checked,
         corpus.ORACLE_BPE_ENCODE_CHECKED),
        # the keep-set follows float k-means cells
        ("dedup_semdedup", dedup.dedup_semdedup_checked,
         dedup.ORACLE_SEMDEDUP_CHECKED),
        ("streaming_left_outer_join", sq["streaming_left_outer_join"],
         ORACLE_STREAMING_LOJ),
        ("events_winsorize_clip", analytics.events_winsorize_clip,
         analytics.ORACLE_EVENTS_WINSORIZE),
        # Count-Min estimates are approximate
        ("corpus_token_countmin", approx.token_counts_countmin_checked,
         approx.ORACLE_COUNTMIN_CHECKED),
        ("embedding_standardize", traindata.embedding_standardize,
         traindata.ORACLE_EMBEDDING_STANDARDIZE),
        ("corpus_build_pipeline", corpus.corpus_build_pipeline,
         corpus.ORACLE_BUILD_PIPELINE),
        ("corpus_decontaminate", corpus.corpus_decontaminate,
         corpus.ORACLE_DECONTAMINATE),
        ("corpus_gopher_rules", corpus.corpus_gopher_rules,
         corpus.ORACLE_GOPHER_RULES),
        # codes come from float k-means codebooks
        ("ann_pq_encode", similarity.ann_pq_encode_checked,
         similarity.ORACLE_PQ_ENCODE_CHECKED),
        ("corpus_pack_global_stream", traindata.corpus_pack_global_stream,
         traindata.ORACLE_PACK_GLOBAL_STREAM),
        ("source_bloom_runtime_filter", sources.source_bloom_runtime_filter,
         sources.ORACLE_BLOOM_RUNTIME_FILTER),
        ("agg_histogram_equi_depth", scale.agg_histogram_equi_depth,
         scale.ORACLE_HISTOGRAM_EQUI_DEPTH),
        # CUSUM is a per-key float recurrence
        ("events_cusum_drift", eventtime.events_cusum_drift_checked,
         eventtime.ORACLE_EVENTS_CUSUM_CHECKED),
        # xxhash64 MinHash bands, no DuckDB twin
        ("dedup_incremental_minhash", dedup.dedup_incremental_minhash_checked,
         dedup.ORACLE_INCREMENTAL_MINHASH_CHECKED),
        ("gdpr_delete_cascade", validate.gdpr_delete_cascade,
         validate.ORACLE_GDPR_CASCADE),
        ("corpus_lang_drift_chi2", corpus.corpus_lang_drift_chi2,
         corpus.ORACLE_LANG_DRIFT_CHI2),
        ("classifier_quality_linear", textstats.classifier_quality_linear,
         textstats.ORACLE_CLASSIFIER_QUALITY),
        ("classifier_gains_deciles", textstats.classifier_gains_deciles,
         textstats.ORACLE_CLASSIFIER_GAINS),
        ("corpus_source_ks_drift", corpus.corpus_source_ks_drift,
         corpus.ORACLE_SOURCE_KS_DRIFT),
        ("split_leakage_safe", traindata.split_leakage_safe,
         traindata.ORACLE_SPLIT_LEAKAGE_SAFE),
        ("corpus_source_similarity", corpus.corpus_source_similarity,
         corpus.ORACLE_SOURCE_SIMILARITY),
        # the eigendecomposition is iterative float math
        ("embedding_pca_project", similarity.embedding_pca_project_checked,
         similarity.ORACLE_PCA_PROJECT_CHECKED),
        ("orders_cohort_retention", analytics.orders_cohort_retention,
         analytics.ORACLE_ORDERS_COHORT_RETENTION),
        ("events_user_lifecycle", analytics.events_user_lifecycle,
         analytics.ORACLE_EVENTS_USER_LIFECYCLE),
        ("graph_triangle_stats", graph.graph_triangle_stats,
         graph.ORACLE_TRIANGLE_STATS),
        ("text_readability_scores", textstats.text_readability_scores,
         textstats.ORACLE_TEXT_READABILITY),
        ("corpus_doc_commonness", corpus.corpus_doc_commonness,
         corpus.ORACLE_DOC_COMMONNESS),
        # approximate top-k: the wrapper gates recall
        ("ann_ivf_pq_topk", similarity.ann_ivf_pq_topk_checked,
         similarity.ORACLE_ANN_RECALL_GATE),
        ("dedup_containment", dedup.dedup_containment,
         dedup.ORACLE_DEDUP_CONTAINMENT),
        ("corpus_dsir_importance", corpus.corpus_dsir_importance,
         corpus.ORACLE_DSIR_IMPORTANCE),
        ("graph_degree_distribution", graph.graph_degree_distribution,
         graph.ORACLE_DEGREE_DISTRIBUTION),
        ("corpus_distinctive_terms", corpus.corpus_distinctive_terms,
         corpus.ORACLE_DISTINCTIVE_TERMS),
        ("embedding_source_drift", similarity.embedding_source_drift,
         similarity.ORACLE_EMBEDDING_SOURCE_DRIFT),
        ("migrate_type_fit_audit", validate.migrate_type_fit_audit,
         validate.ORACLE_TYPE_FIT_AUDIT),
        ("orders_fulfillment_latency", analytics.orders_fulfillment_latency,
         analytics.ORACLE_FULFILLMENT_LATENCY),
        ("orders_mom_contribution", analytics.orders_mom_contribution,
         analytics.ORACLE_MOM_CONTRIBUTION),
        ("sql_scalar_udf_battery", tablefns.sql_scalar_udf_battery,
         tablefns.ORACLE_SQL_SCALAR_UDF),
        ("privacy_l_diversity", validate.privacy_l_diversity,
         validate.ORACLE_L_DIVERSITY),
        ("scalar_null_semantics", rext.scalar_null_semantics,
         rext.ORACLE_NULL_SEMANTICS),
        ("events_id_gap_audit", eventtime.events_id_gap_audit,
         eventtime.ORACLE_ID_GAP_AUDIT),
        ("ivm_join_view_delta", cdc.ivm_join_view_delta,
         cdc.ORACLE_IVM_JOIN_VIEW),
        ("agg_median_ci", analytics.agg_median_ci, analytics.ORACLE_MEDIAN_CI),
        ("events_error_conversion", behavior.events_error_conversion,
         behavior.ORACLE_ERROR_CONVERSION),
        ("orders_theilsen_trend", analytics.orders_theilsen_trend,
         analytics.ORACLE_THEILSEN),
        ("events_weekly_seasonality_strength",
         eventtime.events_weekly_seasonality_strength,
         eventtime.ORACLE_WEEKLY_SEASONALITY),
        ("orders_cohort_ltv", analytics.orders_cohort_ltv,
         analytics.ORACLE_COHORT_LTV),
        ("events_multitouch_attribution",
         behavior.events_multitouch_attribution, behavior.ORACLE_MULTITOUCH),
        ("diag_join_size_forecast", scale.diag_join_size_forecast,
         scale.ORACLE_JOIN_SIZE_FORECAST),
        ("udtf_table_arg_sessionize", tablefns.udtf_table_arg_sessionize,
         rel.ORACLE_EVENTS_SESSIONIZE),
        ("stat_mann_whitney_u", analytics.stat_mann_whitney_u,
         analytics.ORACLE_MANN_WHITNEY),
        ("stat_spearman_corr", analytics.stat_spearman_corr,
         analytics.ORACLE_SPEARMAN),
        ("stat_mann_kendall_trend", analytics.stat_mann_kendall_trend,
         analytics.ORACLE_MANN_KENDALL),
        ("stat_kendall_tau", analytics.stat_kendall_tau,
         analytics.ORACLE_KENDALL_TAU),
        ("sql_pipe_syntax_battery", rext.sql_pipe_syntax_battery,
         rext.ORACLE_SQL_PIPE),
    ])


def _unique_names(table: list[tuple]) -> list[tuple]:
    """``table`` itself, after checking that no name repeats."""
    seen = set()
    for name, _, _ in table:
        if name in seen:
            raise ValueError(f"registry name collision: {name!r} is "
                             "registered twice")
        seen.add(name)
    return table


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Name -> ``(spark, sf_dir) -> DataFrame``, in driver order."""
    return {name: query for name, query, _ in build_table()}


def build_oracles() -> dict[str, str]:
    """Name -> DuckDB oracle SQL, in driver order."""
    return {name: sql for name, _, sql in build_table()}

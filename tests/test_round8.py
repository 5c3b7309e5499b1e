"""Round-8 additions: data-derived range-shuffle widths for the rank
primitives, the null-safe grouped_ranks offset join, the spearman
complete-observations guard, and the fixpoint-loop default guardrails
(all four r7 ADVICE findings plus verdict task 3)."""

import inspect

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import scale


class TestDerivedPartitions:
    def test_explicit_wins(self, spark):
        df = spark.range(10)
        assert scale.derived_partitions(df, 7) == 7
        assert scale.derived_partitions(df, 1) == 1

    def test_default_follows_shuffle_partitions(self, spark):
        """num_partitions=None derives from spark.sql.shuffle.partitions —
        the 100-TB knob: widening the session's shuffle width widens the
        rank primitives' range shuffle with it (r7 verdict task 3); the
        offset collect stays ≤ partitions rows either way."""
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "7")
            df = spark.range(100).withColumn("v", F.col("id") % 13)
            assert scale.derived_partitions(df, None) == 7
            ranked, n = scale.global_ranks(df, [F.asc("v"), F.asc("id")])
            assert n == 100
            assert ranked.rdd.getNumPartitions() == 7
            # ranks themselves are width-invariant
            got = {r.id: r.global_rn for r in ranked.collect()}
            w = Window.orderBy("v", "id")
            exp = {r.id: r.rn for r in df.select(
                "id", F.row_number().over(w).alias("rn")).collect()}
            assert got == exp
        finally:
            spark.conf.set(key, prev)

    def test_grouped_ranks_inherits_default(self, spark):
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "5")
            df = spark.range(60).select(
                (F.col("id") % 3).alias("g"), F.col("id").alias("id"))
            out = scale.grouped_ranks(df, ["g"], [F.asc("id")])
            assert out.rdd.getNumPartitions() == 5
        finally:
            spark.conf.set(key, prev)


class TestGroupedRanksNullKeys:
    def test_null_group_matches_window(self, spark):
        """Window.partitionBy keeps NULL as its own partition; the
        struct-keyed offset join (NULL fields compare equal, GROUP BY
        semantics) must therefore keep NULL-keyed rows and rank them as
        one group (r7 ADVICE, medium)."""
        rows = [("a", 3, 0), (None, 1, 1), ("a", 1, 2), (None, 2, 3),
                ("b", 5, 4), (None, 1, 5), ("b", 1, 6)]
        df = spark.createDataFrame(rows, "g string, v long, id long")
        got = {(r.g, r.id): r.grp_rn for r in scale.grouped_ranks(
            df, ["g"], [F.asc("v"), F.asc("id")],
            num_partitions=3).collect()}
        w = Window.partitionBy("g").orderBy("v", "id")
        exp = {(r.g, r.id): r.rn for r in df.select(
            "g", "id", F.row_number().over(w).alias("rn")).collect()}
        assert got == exp
        assert len(got) == len(rows)          # nothing dropped

    def test_null_multi_col_groups(self, spark):
        rows = [(None, None, 2, 0), (None, "x", 1, 1), (None, None, 1, 2),
                ("a", None, 9, 3), ("a", None, 4, 4), ("a", "x", 7, 5)]
        df = spark.createDataFrame(
            rows, "g1 string, g2 string, v long, id long")
        got = {(r.g1, r.g2, r.id): r.grp_rn for r in scale.grouped_ranks(
            df, ["g1", "g2"], [F.asc("v"), F.asc("id")],
            num_partitions=2).collect()}
        w = Window.partitionBy("g1", "g2").orderBy("v", "id")
        exp = {(r.g1, r.g2, r.id): r.rn for r in df.select(
            "g1", "g2", "id", F.row_number().over(w).alias("rn")).collect()}
        assert got == exp
        assert len(got) == len(rows)


class TestSpearmanNullGuard:
    def test_null_xy_rows_excluded_up_front(self, spark):
        """NULL x or y rows no longer inflate ranks nor shrink n_rows:
        the helper filters to complete observations first (r7 ADVICE,
        low) — rho and n_rows over the frame-with-NULLs equal those over
        the pre-filtered frame."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            spearman_rho_from,
        )

        rows = [("p", 1.0, 10.0, 0), ("p", 2.0, 30.0, 1),
                ("p", None, 99.0, 2), ("p", 3.0, 20.0, 3),
                ("p", 4.0, None, 4), ("p", 5.0, 50.0, 5)]
        df = spark.createDataFrame(rows, "p string, x double, y double, "
                                         "i long")
        out = spearman_rho_from(df, "p", "x", "y").collect()[0]
        clean = df.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        ref = spearman_rho_from(clean, "p", "x", "y").collect()[0]
        assert out.n_rows == 4 == ref.n_rows
        assert out.spearman_rho == pytest.approx(ref.spearman_rho)


class TestFixpointGuardrails:
    def test_defaults_are_finite(self):
        """The r7 ADVICE (low): fixpoint loops keep running to
        convergence but a pathological chain now fails loudly at a
        generous default cap instead of spinning unbounded."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (
            connected_components,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.graph import (
            graph_kcore,
        )

        cc_default = inspect.signature(
            connected_components).parameters["max_iter"].default
        kc_default = inspect.signature(
            graph_kcore).parameters["max_rounds"].default
        assert cc_default == 1000
        assert kc_default == 1000

    def test_chain_raises_at_cap_not_partial(self, spark):
        """A 12-deep chain with max_iter=3 must RAISE (never return
        partial labels), proving the guardrail is loud."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (
            connected_components,
        )

        n = 12
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long")
        with pytest.raises(RuntimeError, match="pointer doubling|fixpoint"):
            connected_components(nodes, edges, max_iter=3)
        # and to fixpoint under the (finite) default: one component
        labels = connected_components(nodes, edges)
        assert {r.label for r in labels.collect()} == {0}


class TestPartialOracleUpgrades:
    """Round-8 verdict task 5: seven former rows-only sketch entries now
    ride the DuckDB hash gate on their exact deterministic columns, with
    the estimates collapsed to in-band booleans. These tests pin that the
    wrappers (a) keep every boolean TRUE on fixture data and (b) agree
    with their raw-estimate cores — the cores' own bound pytests stay
    untouched elsewhere."""

    def test_approx_distinct_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            approx,
        )

        rows = approx.approx_distinct_counts_checked(spark, sf_dir).collect()
        core = {r.o_orderpriority: r for r in
                approx.approx_distinct_counts(spark, sf_dir).collect()}
        assert rows and len(rows) == len(core)
        for r in rows:
            assert r.approx_in_band is True
            assert r.exact_customers == core[r.o_orderpriority].exact_customers
            assert r.n_orders == core[r.o_orderpriority].n_orders

    def test_hll_union_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            approx,
        )

        r = approx.approx_hll_union_checked(spark, sf_dir).first()
        assert r.approx_in_band is True
        assert 0 < r.exact_union <= r.sum_of_parts

    def test_kmv_checked_pair(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            approx,
        )

        vocab = approx.vocab_kmv_distinct_checked(spark, sf_dir).collect()
        assert vocab and all(r.est_in_band is True for r in vocab)
        core = {r.source: r.exact_distinct for r in
                approx.vocab_kmv_distinct(spark, sf_dir).collect()}
        assert {r.source: r.exact_distinct for r in vocab} == core

        ops = approx.kmv_set_ops_checked(spark, sf_dir).first()
        assert ops.union_in_band is True
        assert ops.intersect_in_band is True
        assert ops.jaccard_in_band is True
        raw = approx.kmv_set_ops(spark, sf_dir).first()
        assert (ops.exact_union, ops.exact_intersect) == \
            (raw.exact_union, raw.exact_intersect)

    def test_countmin_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            approx,
        )

        rows = approx.token_counts_countmin_checked(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.est_ge_exact is True      # CM never undercounts
            assert r.est_in_band is True

    def test_bloom_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (
            dedup_bloom_prefilter,
            dedup_bloom_prefilter_checked,
        )

        r = dedup_bloom_prefilter_checked(spark, sf_dir).first()
        core = dedup_bloom_prefilter(spark, sf_dir).first()
        assert r.false_negatives == 0
        assert r.fpp_in_bound is True
        assert (r.batch_size, r.true_dups) == \
            (core.batch_size, core.true_dups)

    def test_phash_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.multimodal import (
            multimodal_phash_neardup_checked,
        )

        r = multimodal_phash_neardup_checked(spark, sf_dir).first()
        assert r.all_exact_pairs_found is True
        assert r.near_ge_exact is True
        assert r.n_exact_text_pairs >= 0


class TestCheckpointRestart:
    def test_p2_state_survives_real_query_restart(self, spark, sf_dir,
                                                  tmp_path):
        """Verdict task 6: the multi-batch drains (r7) replay batches
        within ONE query; this stops the query and starts a NEW one from
        the same checkpointLocation, proving the applyInPandasWithState
        P² state survives an actual restart — offsets resume (run B sees
        only the new files) AND marker state restores (final n / estimate
        equal the uninterrupted full-series replay)."""
        import time as _t

        from pyspark.sql import functions as F

        import db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events as ev
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            load_events,
        )
        from test_round6 import TestStreamingP2Quantile as T6

        src = str(tmp_path / "ev_ckpt_src")
        ckpt = str(tmp_path / "ev_ckpt")
        e = load_events(spark, sf_dir)
        ranked = e.selectExpr(
            "ntile(4) OVER (ORDER BY ts, event_id) AS __f", "*")
        for i in (1, 2):                      # phase A: first half
            (ranked.filter(F.col("__f") == i).drop("__f").coalesce(1)
             .write.mode("append").parquet(src))
            _t.sleep(0.05)

        def start(name):
            # memory sink refuses checkpoint recovery; foreachBatch into
            # batch_id-keyed parquet is the restartable (idempotent) sink
            out = str(tmp_path / name)
            schema = spark.read.parquet(src).schema
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))

            def sink(batch_df, batch_id):
                (batch_df.write.mode("overwrite")
                 .parquet(f"{out}/batch_id={batch_id}"))

            q = (ev.p2_quantile_estimates(stream).writeStream
                 .foreachBatch(sink).outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            q.stop()
            return spark.read.parquet(out).drop("batch_id").collect()

        rows_a = start("t_p2_ckpt_a")
        phase_a = {}
        for r in rows_a:
            if r.n_seen >= phase_a.get(r.event_type, 0):
                phase_a[r.event_type] = r.n_seen
        assert phase_a and sum(phase_a.values()) > 0

        for i in (3, 4):                      # new files land after stop
            (ranked.filter(F.col("__f") == i).drop("__f").coalesce(1)
             .write.mode("append").parquet(src))
            _t.sleep(0.05)

        rows_b = start("t_p2_ckpt_b")         # NEW query, same checkpoint
        assert rows_b, "restarted query emitted nothing"
        # offsets resumed: every run-B snapshot CONTINUES from phase-A
        # counts (a from-scratch reprocess would emit n_seen < phase-A)
        for r in rows_b:
            assert r.n_seen >= phase_a.get(r.event_type, 0), r
        final = {}
        for r in rows_b:
            if r.n_seen >= final.get(r.event_type, (0, 0.0))[0]:
                final[r.event_type] = (r.n_seen, r.q_estimate)
        # state restored: final trajectory == uninterrupted replay
        series: dict = {}
        for r in (e.orderBy("ts", "event_id")
                  .select("event_type", "value").collect()):
            series.setdefault(r.event_type, []).append(float(r.value))
        for et, vals in series.items():
            n, est = T6._p2_replay(vals)
            assert final[et][0] == n == len(vals)
            assert final[et][1] == pytest.approx(est, abs=1e-12)


class TestGlobalPrefixWindowFuzz:
    def test_random_frames_match_window_formulation(self, spark):
        """Direct coverage for scale.global_prefix_window (previously only
        exercised through its consumers' oracles): random frames with
        NULL values, duplicate order-key values (unique tie-break),
        sum/max × inclusive/exclusive, long AND decimal value types must
        match the single-partition Window formulation exactly."""
        from decimal import Decimal

        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=6, deadline=None)
        @given(st.lists(
            st.tuples(st.integers(min_value=0, max_value=5),
                      st.one_of(st.none(),
                                st.integers(min_value=-50, max_value=50))),
            min_size=1, max_size=20),
            st.sampled_from(["sum", "max"]),
            st.booleans(), st.booleans())
        def run(rows, how, inclusive, use_decimal):
            data = [(k, i,
                     (Decimal(v).scaleb(-2) if use_decimal else v)
                     if v is not None else None)
                    for i, (k, v) in enumerate(rows)]
            typ = "decimal(20,2)" if use_decimal else "long"
            df = spark.createDataFrame(
                data, f"k long, id long, v {typ}")
            got = {r.id: r.prefix for r in scale.global_prefix_window(
                df, [F.asc("k"), F.asc("id")], "v", how=how,
                inclusive=inclusive, num_partitions=3).collect()}
            aggfn = F.sum if how == "sum" else F.max
            w = Window.orderBy("k", "id").rowsBetween(
                Window.unboundedPreceding,
                Window.currentRow if inclusive else -1)
            exp = {r.id: r.p for r in df.select(
                "id", aggfn("v").over(w).alias("p")).collect()}
            assert got == exp

        run()


class TestWideOffsetFold:
    def test_broadcast_join_path_matches_literal_map(self, spark,
                                                     monkeypatch):
        """Past _OFFSET_MAP_MAX partitions the per-partition offsets fold
        back via a broadcast __pid join instead of a literal create_map
        (which would become a 10k+-entry expression at cluster-derived
        widths). Forcing the threshold to 2 must leave both primitives'
        outputs identical to the window formulations."""
        from decimal import Decimal

        monkeypatch.setattr(scale, "_OFFSET_MAP_MAX", 2)
        df = spark.createDataFrame(
            [(i % 5, i, Decimal(i).scaleb(-1) if i % 7 else None)
             for i in range(40)], "k long, id long, v decimal(20,1)")

        ranked, n = scale.global_ranks(
            df, [F.asc("k"), F.asc("id")], num_partitions=8)
        assert n == 40
        got = {r.id: r.global_rn for r in ranked.collect()}
        w = Window.orderBy("k", "id")
        exp = {r.id: r.rn for r in df.select(
            "id", F.row_number().over(w).alias("rn")).collect()}
        assert got == exp

        pref = scale.global_prefix_window(
            df, [F.asc("k"), F.asc("id")], "v", how="sum",
            num_partitions=8)
        gotp = {r.id: r.prefix for r in pref.collect()}
        wp = Window.orderBy("k", "id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        expp = {r.id: r.p for r in df.select(
            "id", F.sum("v").over(wp).alias("p")).collect()}
        assert gotp == expp


class TestCheckpointRestartCusum:
    def test_cusum_welford_state_survives_restart(self, spark, sf_dir,
                                                  tmp_path):
        """CUSUM twin of the P² restart proof: alarms are append-mode
        one-shot emissions, so run A's alarms + run B's alarms (new query,
        same checkpoint, only the post-restart files) must equal the
        uninterrupted pure-Python replay — impossible unless the five
        Welford/CUSUM state scalars survive the restart."""
        import time as _t

        import duckdb
        from pyspark.sql import functions as F

        import db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events as ev
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            load_events,
        )

        src = str(tmp_path / "ev_cusum_src")
        ckpt = str(tmp_path / "ev_cusum_ckpt")
        e = load_events(spark, sf_dir)
        ranked = e.selectExpr(
            "ntile(4) OVER (ORDER BY ts, event_id) AS __f", "*")

        def land(parts):
            for i in parts:
                (ranked.filter(F.col("__f") == i).drop("__f").coalesce(1)
                 .write.mode("append").parquet(src))
                _t.sleep(0.05)

        def drain(name):
            out = str(tmp_path / name)
            schema = spark.read.parquet(src).schema
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))

            def sink(batch_df, batch_id):
                (batch_df.write.mode("overwrite")
                 .parquet(f"{out}/batch_id={batch_id}"))

            q = (ev.cusum_drift_alerts(stream).writeStream
                 .foreachBatch(sink).outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            q.stop()
            return [(r.event_type, r.ordinal, r.side, round(r.stat, 9))
                    for r in
                    spark.read.parquet(out).drop("batch_id").collect()]

        land((1, 2))
        alarms_a = drain("cusum_run_a")
        land((3, 4))
        alarms_b = drain("cusum_run_b")
        got = sorted(alarms_a + alarms_b)
        assert alarms_b, "restarted query emitted no alarms"

        # uninterrupted online replay (same semantics as the r6 pytest)
        series: dict = {}
        for et, v in duckdb.sql(
                f"SELECT event_type, value FROM '{sf_dir}/events.parquet' "
                f"ORDER BY ts, event_id").fetchall():
            series.setdefault(et, []).append(float(v))
        k, h, warmup = 0.25, 4.0, 30
        want = []
        for et in sorted(series):
            n, mean, m2, sp, sm = 0, 0.0, 0.0, 0.0, 0.0
            for x in series[et]:
                if n >= warmup and m2 > 0:
                    std = (m2 / n) ** 0.5
                    z = (x - mean) / std
                    sp = max(0.0, sp + z - k)
                    sm = max(0.0, sm - z - k)
                    if sp > h:
                        want.append((et, n + 1, "high", round(sp, 9)))
                        sp = 0.0
                    if sm > h:
                        want.append((et, n + 1, "low", round(sm, 9)))
                        sm = 0.0
                n += 1
                d = x - mean
                mean += d / n
                m2 += d * (x - mean)
        assert got == sorted(want)

"""Round-9 additions: oracle gates for every formerly rows-only entry
(the registry ends the round 292/292 oracle-backed — verdict task 2,
taken to completion), the literal-catalog ddl_* oracles, the
Misra-Gries checkpoint-restart proof (task 3), the reliable
boundary-pin mode (task 5), the unpartitioned-Window closed-set gate
(task 6), and the r8 ADVICE guards
(kmv small-regime gate, k<=2 rail). Session 2: the duplicate-flood
exact-collapse rail for the cluster entries, the adversarial-parity
contract (full oracle gate on dupflood/skewed fixtures) with its three
failure-class pins, the streaming P2 NaN-skip, and the reliable-pin
routing of the iterative loops' per-round truncations."""

import pytest
from pyspark.sql import functions as F

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
    approx,
    dedup,
    eventtime,
    graph,
    scale,
)


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


class TestPagerankChecked:
    def test_invariants_and_census(self, spark, sf_dir):
        row = _one(graph.graph_pagerank_top_checked(spark, sf_dir))
        assert row.mass_in_band and row.min_rank_ge_floor \
            and row.topk_dominates
        # census matches an independent recomputation
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        pairs = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
                 .select("o_custkey", "l_suppkey").distinct())
        n_cust = pairs.select("o_custkey").distinct().count()
        n_supp = pairs.select("l_suppkey").distinct().count()
        assert row.n_nodes == n_cust + n_supp
        assert row.n_edges == 2 * pairs.count()
        assert row.k_rows == min(25, row.n_nodes)

    def test_core_unchanged_topk_shape(self, spark, sf_dir):
        top = graph.graph_pagerank_top(spark, sf_dir, k=5)
        rows = top.collect()
        assert len(rows) == 5
        ranks = [r.rank for r in rows]
        assert ranks == sorted(ranks, reverse=True)


class TestDedupCheckedWrappers:
    def test_simhash_checked(self, spark, sf_dir):
        row = _one(dedup.dedup_simhash_checked(spark, sf_dir))
        assert row.all_exact_pairs_found and row.near_ge_exact
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_exact = (d.groupBy("text").count()
                   .agg(F.coalesce(
                       F.sum(F.expr("count * (count - 1) / 2")
                             .cast("long")), F.lit(0)))
                   .collect()[0][0])
        assert row.n_exact_text_pairs == n_exact

    def test_minhash_lsh_checked(self, spark, sf_dir):
        row = _one(dedup.dedup_minhash_lsh_checked(spark, sf_dir))
        assert row.all_exact_pairs_found and row.near_ge_exact
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_exact = (d.groupBy("text").count()
                   .agg(F.coalesce(
                       F.sum(F.expr("count * (count - 1) / 2")
                             .cast("long")), F.lit(0)))
                   .collect()[0][0])
        assert row.n_exact_text_pairs == n_exact

    def test_incremental_minhash_checked(self, spark, sf_dir):
        row = _one(dedup.dedup_incremental_minhash_checked(spark, sf_dir))
        assert row.all_exact_dups_flagged and row.flagged_ge_exact
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert row.n_batch == d.filter(F.col("source") == "src19").count()


class TestFrequentTokensMgChecked:
    def test_invariants_and_census(self, spark, sf_dir):
        row = _one(approx.frequent_tokens_mg_checked(spark, sf_dir))
        assert row.all_guaranteed_present and row.est_le_exact \
            and row.undercount_in_bound
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
        n = toks.count()
        assert row.n_tokens == n
        n_guar = (toks.groupBy("tok").count()
                  .filter(F.col("count") * 65 > n).count())
        assert row.n_guaranteed == n_guar


class TestKcoreChecked:
    def test_invariants_and_census(self, spark, sf_dir):
        row = _one(graph.graph_kcore_checked(spark, sf_dir))
        assert row.all_degrees_ge_k and row.handshake_even \
            and row.core_within_census
        edges = graph.supplier_coproduct_edges(spark, sf_dir)
        n_nodes = (edges.select(F.col("s1").alias("s"))
                   .union(edges.select(F.col("s2").alias("s")))
                   .distinct().count())
        assert row.n_nodes_census == n_nodes
        assert row.n_edges_census == edges.count()


class TestCusumChecked:
    def test_consistency_booleans(self, spark, sf_dir):
        rows = eventtime.events_cusum_drift_checked(spark, sf_dir) \
            .collect()
        assert rows
        assert all(r.peak_alarm_consistent and r.first_alarm_consistent
                   and r.peaks_nonneg for r in rows)
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        exp = {r.event_type: r["count"] for r in
               e.groupBy("event_type").count().collect()}
        for r in rows:
            assert r.n_events == exp[r.event_type]


class TestRound9WrapperInvariants:
    """One booleans-all-true + exact-anchor probe per remaining r9
    wrapper (the raw cores keep their existing value-pinning pytests)."""

    def test_markov_stationary_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            behavior,
        )

        rows = behavior.events_markov_stationary_checked(spark, sf_dir) \
            .collect()
        assert rows
        assert all(r.p_in_unit and r.gap_identity and r.dist_sums_to_1
                   for r in rows)
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = e.count()
        exp = {r.event_type: r["count"] / n for r in
               e.groupBy("event_type").count().collect()}
        for r in rows:
            assert r.observed_share == exp[r.event_type]

    def test_pca_project_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        rows = similarity.embedding_pca_project_checked(spark, sf_dir) \
            .collect()
        n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert len(rows) == n_vec
        assert all(r.bessel_ok for r in rows)

    def test_triplet_margin_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        rows = similarity.embedding_triplet_margin_checked(spark, sf_dir) \
            .collect()
        assert rows
        assert all(r.share_in_unit and r.cosines_in_range
                   and r.margin_in_range for r in rows)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exp = {r.label: r["count"] for r in
               e.filter(F.col("vec_id") < 50)
               .groupBy("label").count().collect()}
        assert {r.label: r.n_anchors for r in rows} == exp

    def test_curve_locality_checked(self, spark, sf_dir):
        rows = scale.diag_curve_locality_checked(spark, sf_dir).collect()
        assert [r.layout for r in rows] == [
            "1_lexicographic", "2_zorder", "3_hilbert"]
        assert all(r.n_files == 16 and r.axes_in_range and r.point_le_axes
                   for r in rows)


class TestAnnRecallGates:
    def test_all_four_gates_green_and_census_exact(self, spark, sf_dir):
        """The shared ANN recall gate (r9): exact brute-force pair count
        + recall-floor and shared-score-exactness booleans, one wrapper
        per index family. Floors are fixture-measured minima with
        margin (lsh 0.25, ivf 0.7, pq 0.45, ivfpq 0.5) — the raw cores'
        recall pytests stay stricter at their own scales."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        n_true = similarity.ann_brute_force_topk(spark, sf_dir).count()
        for fn in (similarity.ann_lsh_topk_checked,
                   similarity.ann_ivf_topk_checked,
                   similarity.ann_pq_topk_checked,
                   similarity.ann_ivf_pq_topk_checked):
            row = _one(fn(spark, sf_dir))
            assert row.n_true_pairs == n_true, fn.__name__
            assert row.recall_in_band, fn.__name__
            assert row.shared_scores_exact, fn.__name__


class TestFinalNineGates:
    """Booleans-all-true + exact-anchor probes for the last nine entries
    to leave rows-only (raw cores keep their value-pinning pytests)."""

    def test_bpe_train_checked_first_merge_is_sql_top_pair(self, spark,
                                                           sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            corpus,
        )

        row = _one(corpus.bpe_train_merges_checked(spark, sf_dir))
        assert row.merged_identity and row.steps_contiguous
        assert row.n_merges == 10
        assert row.step1_merged == row.step1_left + row.step1_right
        # independent recomputation of the top pair
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = (d.selectExpr("explode(split(text, ' ')) AS tok")
                 .filter("length(tok) > 0")
                 .groupBy("tok").count()
                 .selectExpr("explode(arrays_zip(slice(split(tok, ''), 1, "
                             "length(tok) - 1), slice(split(tok, ''), 2, "
                             "length(tok) - 1))) AS p", "count")
                 .selectExpr("p['0'] AS l", "p['1'] AS r", "count")
                 .groupBy("l", "r").agg(F.sum("count").alias("w"))
                 .orderBy(F.desc("w"), "l", "r").first())
        assert (row.step1_left, row.step1_right, row.step1_weight) == \
            (pairs.l, pairs.r, pairs.w)

    def test_bpe_encode_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            corpus,
        )

        rows = corpus.bpe_encode_stats_checked(spark, sf_dir).collect()
        assert rows and all(r.symbols_in_bounds for r in rows)

    def test_semdedup_checked(self, spark, sf_dir):
        row = _one(dedup.dedup_semdedup_checked(spark, sf_dir))
        assert row.every_cell_keeps_one and row.cells_in_range \
            and row.kept_le_total
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert row.n_vectors == n

    def test_embedding_blocked_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        row = _one(similarity.dedup_embedding_blocked_checked(spark,
                                                              sf_dir))
        assert row.all_exact_pairs_found and row.found_ge_exact \
            and row.scores_in_range

    def test_pq_encode_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        rows = similarity.ann_pq_encode_checked(spark, sf_dir).collect()
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert len(rows) == n
        assert all(r.code_in_range and r.err_in_range for r in rows)

    def test_kmeans_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        row = _one(similarity.embedding_kmeans_clusters_checked(spark,
                                                                sf_dir))
        assert row.sizes_sum_to_n and row.k_bound \
            and row.inertia_nonneg and row.ratio_identity

    def test_audio_energy_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            multimodal,
        )

        rows = multimodal.multimodal_audio_energy_checked(spark, sf_dir) \
            .collect()
        assert rows
        assert all(r.silence_in_unit and r.peak_in_range
                   and r.segments_consistent for r in rows)
        d = {r.doc_id: r.text for r in spark.read.parquet(
            f"{sf_dir}/documents.parquet").collect()}
        for r in rows:
            assert r.n_samples == 16 * min(len(d[r.doc_id]), 128)
            assert r.sample_rate == 8000
            assert r.n_frames == r.n_samples // 64

    def test_image_stats_checked(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            multimodal,
        )

        rows = multimodal.multimodal_image_stats_checked(spark, sf_dir) \
            .collect()
        assert rows
        assert all(r.width == 16 and r.height == 8
                   and r.means_in_byte_range and r.contrast_in_range
                   for r in rows)

    def test_rowgroup_stats_checked(self, spark, sf_dir):
        row = _one(scale.diag_parquet_rowgroup_stats_checked(spark,
                                                             sf_dir))
        assert row.groups_well_formed
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        mn, mx, n = li.agg(F.min("l_orderkey"), F.max("l_orderkey"),
                           F.count(F.lit(1))).collect()[0]
        assert (row.n_rows_total, row.key_min, row.key_max) == (n, mn, mx)

    def test_registry_has_zero_rows_only(self):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
            build_oracles,
            build_queries,
        )

        q, o = build_queries(), build_oracles()
        assert sorted(k for k in q if k not in o) == []


class TestApproxQuantilesChecked:
    def test_rank_band_true_and_minmax_exact(self, spark, sf_dir):
        df = approx.approx_quantiles_checked(spark, sf_dir)
        rows = df.collect()
        assert len(rows) == 5
        assert all(r.rank_in_band for r in rows)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        mn, mx = o.agg(F.min("o_totalprice"), F.max("o_totalprice")) \
                  .collect()[0]
        assert all(r.min_price == mn and r.max_price == mx for r in rows)

    def test_band_rejects_wrong_value(self, spark, sf_dir):
        """The rank-window gate is not vacuous: the min can never pass as
        the 99th percentile of a non-degenerate column."""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        n = o.count()
        rank_of_min = o.filter(
            F.col("o_totalprice") <= o.agg(F.min("o_totalprice"))
            .collect()[0][0]).count()
        # the gate's formula with the min's rank at q=0.99
        import math
        target = math.ceil(0.99 * n)
        slack = n * (1.0 / 10_000) + 1.0
        assert not (rank_of_min >= target - slack)


class TestEventsEmaChecked:
    def test_booleans_and_anchors(self, spark, sf_dir):
        rows = eventtime.events_ema_checked(spark, sf_dir).collect()
        assert rows
        assert all(r.ema_convex and r.ema_recurrence_band for r in rows)
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        exp = {r.event_type: r for r in e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last"))
            .collect()}
        for r in rows:
            assert r.n_events == exp[r.event_type].n
            assert r.last_value == exp[r.event_type].last


class TestEventsHoltChecked:
    def test_booleans_and_anchors(self, spark, sf_dir):
        rows = eventtime.events_holt_linear_checked(spark, sf_dir).collect()
        assert rows
        assert all(r.forecast_identity and r.mae_nonneg and r.state_finite
                   for r in rows)
        base = {r.event_type: r.n_days
                for r in eventtime.events_holt_linear(spark, sf_dir)
                .collect()}
        for r in rows:
            assert r.n_days == base[r.event_type]


class TestKmvGuards:
    def test_vocab_kmv_checked_rejects_tiny_k(self, spark, sf_dir):
        with pytest.raises(ValueError, match="k > 2"):
            approx.vocab_kmv_distinct_checked(spark, sf_dir, k=2)

    def test_small_regime_exact_equality_gate(self, spark, sf_dir):
        """With k far above the true union cardinality the sketch IS the
        set: the checked gate switches to exact equality and still passes
        (r8 ADVICE: the docstring promised this branch — now it exists)."""
        row = _one(approx.kmv_set_ops_checked(spark, sf_dir, k=1 << 17))
        assert row.exact_union < (1 << 17)   # small regime genuinely hit
        assert row.union_in_band and row.intersect_in_band \
            and row.jaccard_in_band


class TestCheckpointRestartHeavyHitters:
    def test_mg_counters_survive_restart(self, spark, sf_dir, tmp_path):
        """Misra-Gries twin of the r8 P²/CUSUM restart proofs (r8 verdict
        task 3): stop the query after half the files, start a NEW query
        from the same checkpointLocation over the remaining files, and
        require (a) per-key snapshot ordinals to CONTINUE past run A's
        (offsets + state resumed, not reprocessed) and (b) the final
        counter sets to equal the uninterrupted pure-Python MG replay of
        the full (ts, event_id)-ordered series — impossible unless the
        ≤k (user, counter) pairs survived the restart."""
        import time as _t

        import duckdb

        import db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events as ev
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            load_events,
        )

        src = str(tmp_path / "ev_mg_src")
        ckpt = str(tmp_path / "ev_mg_ckpt")
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

            q = (ev.heavy_hitter_users(stream).writeStream
                 .foreachBatch(sink).outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            q.stop()
            return spark.read.parquet(out).drop("batch_id").collect()

        land((1, 2))
        rows_a = drain("mg_run_a")
        snap_a = {}
        for r in rows_a:
            snap_a[r.event_type] = max(snap_a.get(r.event_type, 0), r.snap)
        assert snap_a and max(snap_a.values()) >= 2

        land((3, 4))
        rows_b = drain("mg_run_b")           # NEW query, same checkpoint
        assert rows_b, "restarted query emitted nothing"
        final: dict = {}
        for r in rows_b:
            cur = final.setdefault(r.event_type, {})
            if r.snap >= cur.get("__snap", 0):
                if r.snap > cur.get("__snap", 0):
                    cur.clear()
                    cur["__snap"] = r.snap
                cur[r.user_id] = r.mg_count
        # (a) ordinals continued: a state-losing restart would re-emit
        # snap 1/2; resumed state emits snap > run A's max per key
        for et, cur in final.items():
            assert cur["__snap"] > snap_a.get(et, 0), et

        # (b) final counters == uninterrupted pure-Python MG replay
        series: dict = {}
        for et, u in duckdb.sql(
                f"SELECT event_type, user_id FROM "
                f"'{sf_dir}/events.parquet' "
                f"ORDER BY ts, event_id").fetchall():
            series.setdefault(et, []).append(int(u))
        k = 8
        for et, users in series.items():
            counters: dict = {}
            for u in users:
                if u in counters:
                    counters[u] += 1
                elif len(counters) < k:
                    counters[u] = 1
                else:
                    counters = {a: c - 1 for a, c in counters.items()
                                if c > 1}
            got = {u: c for u, c in final[et].items() if u != "__snap"}
            assert got == counters, et


class TestPinBoundaries:
    def test_reliable_checkpoint_when_dir_configured(self, spark,
                                                     tmp_path):
        """r8 verdict task 5: with sparkContext.setCheckpointDir set,
        global_ranks' boundary pin becomes a RELIABLE checkpoint (files
        land in the dir, so executor loss mid-query recovers); ranks are
        identical to the window formulation either way."""
        import os

        from pyspark.sql import Window

        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None    # local-mode default
        ckpt = str(tmp_path / "reliable_ckpt")
        sc.setCheckpointDir(ckpt)
        try:
            df = spark.range(500).withColumn("v", F.col("id") % 17)
            ranked, n = scale.global_ranks(
                df, [F.asc("v"), F.asc("id")], num_partitions=8)
            assert n == 500
            got = {r.id: r.global_rn for r in ranked.collect()}
            w = Window.orderBy("v", "id")
            exp = {r.id: r.rn for r in df.select(
                "id", F.row_number().over(w).alias("rn")).collect()}
            assert got == exp
            # the pin really went through the reliable path
            found = [f for _, _, fs in os.walk(ckpt) for f in fs]
            assert found, "no checkpoint files written under the dir"
        finally:
            # PySpark exposes no unsetCheckpointDir; clear the Scala-side
            # option directly so the session-scoped fixture's later tests
            # keep the local-mode (localCheckpoint) default
            none_opt = sc._jvm.scala.Option.apply(None)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(none_opt)
            assert sc.getCheckpointDir() is None

    def test_boundary_freeze_is_load_bearing(self, spark):
        """Pins WHAT the pin is for: the counts job and the projection
        must see identical range boundaries. A re-sampled lineage could
        legally move rows across partitions; frozen blocks cannot — so
        per-pid counts of the pinned frame are stable across repeated
        jobs, and offset[pid] + local rank is gap-free 1..n."""
        df = spark.range(1000).withColumn(
            "v", F.pmod(F.xxhash64("id"), F.lit(1000)))
        ranked, n = scale.global_ranks(
            df, [F.asc("v"), F.asc("id")], num_partitions=16)
        ranks = sorted(r.global_rn for r in ranked.collect())
        assert ranks == list(range(1, n + 1))   # gap-free ⇔ boundaries froze
        # repeated jobs over the same pinned frame agree (no re-sample)
        again = sorted(r.global_rn for r in ranked.collect())
        assert again == ranks


class TestWindowInventory:
    def test_closed_set_of_unpartitioned_windows(self, spark, sf_dir):
        """r8 verdict task 6: exactly the audited entries may plan a
        Window over an Exchange SinglePartition (each on a bounded
        calendar/decile/k/sources-sized frame); any NEW unpartitioned
        window anywhere in the registry fails here instead of waiting
        for the next verdict's plan audit. Construction-time windows
        hidden behind a checkpoint can drop out of the returned plan
        (kmv_set_ops does) — the gate is one-sided by design: no
        unexpected hits, no construction errors."""
        import sys

        sys.path.insert(0, "tools")
        from window_inventory import (
            ALLOWED_SINGLE_PARTITION_WINDOWS,
            sweep,
        )

        res = sweep(sf_dir)
        unexpected = sorted(set(res["hits"])
                            - set(ALLOWED_SINGLE_PARTITION_WINDOWS))
        assert not unexpected, (
            f"new unpartitioned WindowExec outside the audited set: "
            f"{unexpected} — fix the plan (scale.grouped_ranks / "
            f"global_ranks / adjacency joins) or, if the frame is "
            f"genuinely bounded, extend the audited inventory with the "
            f"bound's justification")
        assert not res["errors"], res["errors"]
        assert res["n_swept"] >= 270     # the sweep really ran the registry


class TestEmptyInputContract:
    """Round-9 empty-input contract: an all-empty fixture (the shape of an
    empty partition/shard/day at 100 TB) must yield either a well-typed
    empty result or a LOUD ValueError from the operator itself — never a
    deep numpy AxisError / NoneType TypeError / ANSI ÷0 abort. A probe of
    all 292 entries found 13 violators (fixed); this pins the contract on
    one representative per failure class plus the graceful-empty group."""

    @pytest.fixture(scope="class")
    def empty_dir(self, spark, sf_dir, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sf_empty"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0)
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{base}/{t}.parquet"))
        return base

    def test_fitters_raise_loudly(self, spark, empty_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        e = spark.read.parquet(f"{empty_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="empty embedding table"):
            similarity.ivf_centroids(e)
        with pytest.raises(ValueError, match="empty embedding"):
            similarity.pq_codebooks(e)
        with pytest.raises(ValueError, match="< k="):
            similarity.kmeans_fit_distributed(e)   # 0 vectors < k seeds
        with pytest.raises(ValueError, match="empty embedding table"):
            similarity.pca_components(e)

    def test_sinks_and_sources_raise_loudly(self, spark, empty_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources import (
            registry as src,
        )

        with pytest.raises(ValueError, match="empty events feed"):
            src.sink_partitioned_prune(spark, empty_dir)
        with pytest.raises(ValueError, match="empty events feed"):
            src.sink_dynamic_partition_overwrite(spark, empty_dir)
        with pytest.raises(ValueError, match="empty orders slice"):
            src.source_roundtrip_formats(spark, empty_dir)
        with pytest.raises(ValueError, match="empty events feed"):
            src.dpp_star_join_parts(spark, empty_dir)

    def test_single_row_contract(self, spark, sf_dir, tmp_path):
        """The n=1 twin of the empty probe (constant columns, one source,
        fewer vectors than k): no ANSI ÷0 job aborts, no deep numpy
        errors — the three violators the probe found are pinned here."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            analytics,
            corpus,
            similarity,
        )

        base = str(tmp_path / "sf_one")
        for t in ("orders", "documents", "embeddings"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1)
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{base}/{t}.parquet"))
        # constant column → all rows in bin 0, not a ÷0 abort
        rows = analytics.agg_histogram_equi_width(spark, base).collect()
        assert len(rows) == 1 and rows[0].bin == 0 \
            and rows[0].n_orders == 1
        # single source → KS undefined → the source drops, no ÷0 abort
        assert corpus.corpus_source_ks_drift(spark, base).count() == 0
        # fewer vectors than k → loud fitter error, not a numpy IndexError
        with pytest.raises(ValueError, match="< k="):
            similarity.embedding_kmeans_clusters_checked(spark, base)

    def test_graceful_empty_results(self, spark, empty_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            behavior,
            corpus,
        )

        assert corpus.retrieval_bm25_topk(spark, empty_dir).count() == 0
        assert behavior.events_markov_stationary(
            spark, empty_dir).count() == 0
        # pagerank of the empty graph = the empty distribution; the
        # checked wrapper's invariants hold vacuously
        row = _one(graph.graph_pagerank_top_checked(spark, empty_dir))
        assert row.n_nodes == 0 and row.k_rows == 0
        assert row.mass_in_band and row.min_rank_ge_floor \
            and row.topk_dominates
        # triangle census of the empty thresholded graph: 0 triangles
        # (the sf0.001 find), NULL wedges, NULL coefficient — no ÷0
        t = _one(graph.graph_triangle_stats(spark, empty_dir))
        assert t.n_edges == 0 and t.n_triangles == 0
        assert t.n_wedges is None and t.clustering_coeff is None


class TestDdlLiteralOracles:
    def test_values_literals_match_computed_catalog(self, spark):
        """The literal-VALUES oracles pin the fixture corpus's expected
        catalog; if parser/mapper/assessor drift, this fails before the
        driver does."""
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import (
            registry as R,
        )

        cq = R._catalog_queries()
        con = duckdb.connect()
        for name, oracle in (
                ("ddl_schema_catalog", R.ORACLE_DDL_SCHEMA_CATALOG),
                ("ddl_assess_catalog", R.ORACLE_DDL_ASSESS_CATALOG),
                ("ddl_type_distribution", R.ORACLE_DDL_TYPE_DISTRIBUTION)):
            got = [tuple(r) for r in cq[name](spark, "unused").collect()]
            exp = con.sql(oracle).fetchall()
            assert sorted(map(repr, got)) == sorted(map(repr, exp)), name


class TestDriverSideInventory:
    """Closed-set source audit of the driver-side / materialization
    anti-pattern surface, the AST twin of TestWindowInventory: every
    ``.collect()`` / ``.crossJoin()`` / ``.localCheckpoint()`` /
    ``.persist()`` site in the non-test package was audited by hand in
    the r8 verdict ("all 21 collect sites bounded, all crossJoins
    broadcast 1-row totals or catalog/grid-bounded"); this freezes that
    audit so a NEW site (or a new call at an existing site) fails the
    suite until it is audited and added here. Row-at-a-time ``udf()``,
    ``toPandas()``, ``toLocalIterator()`` and bare ``cache()`` are
    pinned at ZERO — the engine's Python surface is Arrow-batched only.

    Audit key: (file, enclosing function, method) -> call count.
    Justifications, by category:
      * collect: k-row/codebook/sample/scalar-agg pulls only (ANN query
        sets, 1024-row codebook samples, per-partition counts, catalog
        probes) — each bounded by construction, none data-scaled.
      * crossJoin: broadcast 1-row totals (the checked wrappers' census
        anchors), catalog/grid-bounded frames, or the registry's
        explicit join_cross demo.
      * localCheckpoint: the iterative-loop contract (peel/fixpoint
        rounds) and multi-consumer pins; reliable-mode seam is
        scale.pin_boundaries (the one .checkpoint site).
      * persist: the seven dedup pair-graph reuse points, explicit
        StorageLevel, all unpersisted on exit.
    """

    METHODS = ("collect", "crossJoin", "toPandas", "localCheckpoint",
               "checkpoint", "cache", "persist", "toLocalIterator")

    EXPECTED = {
        "collect": {
            ("operators/analytics.py", "orders_keyset_page"): 1,
            # r12: transition + observation censuses ride one tagged
            # union -> ONE bounded collect (was 2)
            ("operators/behavior.py", "events_markov_stationary"): 1,
            ("operators/corpus.py", "_bpe_train"): 1,
            ("operators/corpus.py", "corpus_tfidf_top_terms"): 1,
            ("operators/corpus.py", "retrieval_bm25_topk"): 1,
            ("operators/relational.py", "agg_pivot"): 1,
            ("operators/scale.py", "global_prefix_window"): 1,
            ("operators/scale.py", "global_ranks"): 1,
            # the ANN family's one query-vector pull (n_queries rows)
            ("operators/similarity.py", "_query_vectors"): 1,
            ("operators/similarity.py", "ivf_centroids"): 1,
            ("operators/similarity.py", "kmeans_fit_distributed"): 2,
            ("operators/similarity.py", "pca_components"): 1,
            ("operators/similarity.py", "pq_codebooks"): 1,
            ("sources/registry.py", "sink_dynamic_partition_overwrite"): 1,
            ("sources/registry.py", "sink_partitioned_prune"): 1,
            ("sources/registry.py", "source_schema_evolution"): 1,
        },
        "checkpoint": {
            ("operators/scale.py", "pin_boundaries"): 1,
        },
        "persist": {
            ("operators/dedup.py", "connected_components"): 2,
            # r10 hash-probe collapse: ONE transient DISK_ONLY persist
            # of the post-UDF (doc_id, sset, h) frame feeds both eager
            # pins (quotient + 16-byte probe) and is released in the
            # finally — never leaves the function alive
            ("operators/dedup.py", "exact_collapse_shingles"): 1,
            # exact-collapse-first cluster path (r9 dupflood rail, r10
            # hash-probe rewrite): only the rep frame persists (pair
            # graph + CC nodes), DISK_ONLY, released right after the
            # eager CC returns; member rides the collapse's pin
            ("operators/dedup.py", "_collapsed_component_labels"): 1,
            # flood-linear neardup report (r9; r10 dropped the member
            # persist): the c[group, source] count hub and the rep-level
            # pair graph — DISK_ONLY, released before return
            ("operators/dedup.py", "corpus_neardup_report"): 2,
            ("operators/dedup.py", "dedup_containment"): 1,
            # r12 optimization round: + the banded-signature table —
            # docs×16 fixed-width rows (never corpus-payload-sized),
            # DISK_ONLY, deterministic lineage from the persisted
            # shingle frame; both probe sides consume it, which
            # previously re-ran the whole signature aggregation per side
            ("operators/dedup.py", "dedup_incremental_minhash"): 2,
            ("operators/dedup.py", "dedup_minhash_lsh"): 1,
            ("operators/dedup.py", "dedup_ngram_jaccard"): 1,
            ("operators/dedup.py", "dedup_ngram_jaccard_pruned"): 1,
            # r13 optimization round: the degree census and the oriented
            # adjacency table — node-sized and edge-sized respectively
            # (never corpus-payload-sized), DISK_ONLY, each read by two
            # consumers (deg: orientation joins + wedge count; adj: the
            # exploded triangle probe + its av join side) — the minhash
            # treatment that replaced the triple orientation-subtree
            # recompute (r12 baseline: 44 Exchange / 16 SMJ)
            ("operators/graph.py", "graph_triangle_stats"): 2,
            # transient persist inside the reliable-checkpoint branch:
            # unpersisted reliable checkpoints recompute the frame to
            # write the files; released in the finally (r9)
            ("operators/scale.py", "pin_boundaries"): 1,
            ("operators/dedup.py", "dedup_simhash"): 1,
        },
        # crossJoin/localCheckpoint sets are larger; pinned as
        # (site-count, call-count) totals plus the per-file breakdown
        # below — a new site changes both.
    }

    # dedup.py 9 -> 7, similarity.py 4 -> 2, multimodal.py 2 -> 0: the
    # four exact-anchor gates' census crossJoins are one pair inside
    # dedup.exact_anchor_census
    CROSSJOIN_BY_FILE = {
        "operators/analytics.py": 13, "operators/approx.py": 13,
        "operators/behavior.py": 2, "operators/corpus.py": 5,
        "operators/dedup.py": 7, "operators/graph.py": 7,
        "operators/relational.py": 1,
        "operators/scale.py": 2, "operators/similarity.py": 2,
        "operators/textstats.py": 1, "operators/timeseries.py": 1,
        "operators/traindata.py": 3, "operators/validate.py": 2,
        "registry.py": 3,
    }
    LOCALCHECKPOINT_BY_FILE = {
        "operators/analytics.py": 6, "operators/approx.py": 2,
        "operators/behavior.py": 1, "operators/corpus.py": 8,
        # dedup.py: 3 -> 2 (r9): corpus_neardup_report no longer
        # materializes the pair frame at all — flood-linear group
        # arithmetic replaced its pair localCheckpoint
        # dedup.py 2 -> 1, graph.py 8 -> 5 (r9): the per-round
        # truncations in connected_components / pagerank /
        # transitive_roots / kcore now route through the reliable
        # seam (scale.pin) — checkpoint-dir-aware, audited there
        # graph.py 5 -> 4 (r13): graph_degree_distribution's edge pin is
        # gone — the incidence explode made the degree census the edge
        # list's single consumer. scale.py 2 -> 3 (r13): pin_counted's
        # lazy localCheckpoint (the iterative loops' one-job-per-round
        # pin+count fusion, checkpoint-dir-aware like pin_boundaries)
        # then 3 -> 4: pin_lazy (deferred localCheckpoint, same seam).
        "operators/dedup.py": 1, "operators/eventtime.py": 2,
        "operators/graph.py": 4, "operators/multimodal.py": 1,
        "operators/scale.py": 4, "operators/similarity.py": 1,
        "streaming/events.py": 1,
    }

    @staticmethod
    def _inventory():
        import ast
        import collections
        import os

        import db2ice_db2_to_snowflake_iceberg_ddl_converter_spark as pkg

        pkg_dir = os.path.dirname(pkg.__file__)
        inv = collections.Counter()
        raw_udfs = []
        methods = set(TestDriverSideInventory.METHODS)

        class V(ast.NodeVisitor):
            def __init__(self, rel):
                self.rel = rel
                self.stack = ["<module>"]

            def visit_FunctionDef(self, n):
                self.stack.append(n.name)
                self.generic_visit(n)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def _qual(self):
                # qualified outer.inner name for nested closures (r12,
                # ADVICE): a bare inner name like 'build' would merge
                # every future nested 'build' in the same file into one
                # ambiguous inventory key
                return (self.stack[0] if len(self.stack) == 1
                        else ".".join(self.stack[1:]))

            def visit_Call(self, n):
                f = n.func
                if isinstance(f, ast.Attribute) and f.attr in methods:
                    inv[(self.rel, self._qual(), f.attr)] += 1
                if (isinstance(f, ast.Attribute) and f.attr == "udf") or \
                        (isinstance(f, ast.Name) and f.id == "udf"):
                    raw_udfs.append((self.rel, self._qual(), n.lineno))
                self.generic_visit(n)

        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    rel = os.path.relpath(p, pkg_dir)
                    with open(p) as fh:
                        V(rel).visit(ast.parse(fh.read()))
        return inv, raw_udfs

    def test_closed_set(self):
        import collections

        inv, raw_udfs = self._inventory()
        assert raw_udfs == [], \
            f"row-at-a-time udf() appeared: {raw_udfs}"
        for m in ("toPandas", "cache", "toLocalIterator"):
            hits = {k: v for k, v in inv.items() if k[2] == m}
            assert not hits, f"forbidden {m}() appeared: {hits}"
        for m in ("collect", "checkpoint", "persist"):
            got = {(rel, fn): c for (rel, fn, mm), c in inv.items()
                   if mm == m}
            exp = self.EXPECTED[m]
            assert got == exp, (
                f"{m}() inventory drifted.\n new/changed: "
                f"{ {k: v for k, v in got.items() if exp.get(k) != v} }\n"
                f" removed: { {k: v for k, v in exp.items() if k not in got} }\n"
                "Audit the site (bounded? broadcastable? data-scaled?) "
                "and update TestDriverSideInventory."
            )
        for m, exp_by_file in (("crossJoin", self.CROSSJOIN_BY_FILE),
                               ("localCheckpoint",
                                self.LOCALCHECKPOINT_BY_FILE)):
            got = collections.Counter()
            for (rel, _fn, mm), c in inv.items():
                if mm == m:
                    got[rel] += c
            assert dict(got) == exp_by_file, (
                f"{m}() per-file inventory drifted: "
                f"{ {k: (dict(got).get(k), exp_by_file.get(k)) for k in set(got) | set(exp_by_file) if dict(got).get(k) != exp_by_file.get(k)} } "
                "— audit and update."
            )


class TestNullPayloadContract:
    """Third leg of the degenerate-input contract (after empty and
    single-row): full row counts with NULL payloads — the shape of a
    corrupted shard at 100 TB. The all-NULL probe
    (tools/degenerate_probe.py nullpayload) found 20 entries dying with
    deep numpy/NoneType/ANSI-÷0 errors; the fix routes text consumers
    through ld_docs and vector consumers through ld_vecs (NULL payloads
    drop at the scan — an IsNotNull, free, and a no-op on real
    fixtures), guards the four fitters, and NULL-guards kmv's 0/0
    Jaccard. This pins one representative per failure class plus the
    rows-are-transparent property on a mixed fixture."""

    @pytest.fixture(scope="class")
    def null_dir(self, spark, sf_dir, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sf_nullpay"))
        self._build(spark, sf_dir, base, mixed=False)
        return base

    @pytest.fixture(scope="class")
    def mixed_dir(self, spark, sf_dir, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sf_mixedpay"))
        self._build(spark, sf_dir, base, mixed=True)
        return base

    @staticmethod
    def _build(spark, sf_dir, out, mixed):
        payloads = {
            "documents": (("text", "string"), ("lang", "string"),
                          ("source", "string"), ("n_chars", "bigint")),
            "embeddings": (("embedding", "array<float>"), ("label", "int")),
            "events": (("ts", "timestamp"), ("event_type", "string"),
                       ("value", "double"), ("props", "string")),
        }
        keys = {"documents": "doc_id", "embeddings": "vec_id",
                "events": "event_id"}
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet")
             .write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
        for t, cols in payloads.items():
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            for c, typ in cols:
                null = F.lit(None).cast(typ)
                if mixed:
                    df = df.withColumn(
                        c, F.when(F.col(keys[t]) % 2 == 1, null)
                            .otherwise(F.col(c).cast(typ)))
                else:
                    df = df.withColumn(c, null)
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")

    def test_text_paths_graceful(self, spark, null_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            corpus,
            dedup,
            multimodal,
        )

        # shingle family: an all-NULL corpus has no shingles, no pairs
        assert dedup.dedup_ngram_jaccard(spark, null_dir).count() == 0
        # census wrapper: same universe as the core — zero exact pairs,
        # booleans hold vacuously (not FALSE via a NULL mega-group)
        row = _one(dedup.dedup_minhash_lsh_checked(spark, null_dir))
        assert row.n_exact_text_pairs == 0 and row.all_exact_pairs_found
        # BM25: no real docs -> graceful empty (not NoneType/int divide)
        assert corpus.retrieval_bm25_topk(spark, null_dir).count() == 0
        # multimodal: no asset is manufactured from a NULL text
        assert multimodal.multimodal_features(spark, null_dir).count() == 0
        assert multimodal.multimodal_audio_energy(
            spark, null_dir).count() == 0

    def test_vector_paths_loud_or_empty(self, spark, null_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        # streaming scorers: NULL vectors drop -> empty result
        assert similarity.ann_brute_force_topk(
            spark, null_dir).count() == 0
        # fitter-backed paths: loud typed errors, not numpy AxisErrors
        with pytest.raises(ValueError, match="empty embedding table"):
            similarity.ann_ivf_topk(spark, null_dir)
        with pytest.raises(ValueError, match="empty embedding sample"):
            similarity.ann_pq_topk(spark, null_dir)
        with pytest.raises(ValueError, match="< k="):
            similarity.embedding_kmeans_clusters_checked(spark, null_dir)
        with pytest.raises(ValueError, match="empty embedding table"):
            similarity.embedding_pca_project(spark, null_dir)

    @pytest.fixture(scope="class")
    def dead_query_dir(self, spark, sf_dir, tmp_path_factory):
        """Every vector of the query slice (vec_id < 10) is NULL,
        non-finite or zero-norm; the rest of the corpus is intact."""
        out = str(tmp_path_factory.mktemp("sf_deadq"))
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dead = (F.when(F.col("vec_id") % 3 == 0, F.lit(None))
                .when(F.col("vec_id") % 3 == 1, F.array_repeat(
                    F.lit(float("nan")).cast("float"), 64))
                .otherwise(F.array_repeat(F.lit(0.0).cast("float"), 64)))
        (e.withColumn("embedding", F.when(F.col("vec_id") < 10, dead)
                      .otherwise(F.col("embedding")))
         .write.mode("overwrite").parquet(f"{out}/embeddings.parquet"))
        return out

    def test_dead_query_slice_gives_what_brute_force_gives(
            self, spark, dead_query_dir):
        """Dead query vectors drop at the scan, so no member has a query
        left: each returns what the brute force returns (no rows, not a
        numpy AxisError), and each recall gate matches its oracle."""
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        brute = similarity.ann_brute_force_topk(spark, dead_query_dir)
        assert brute.count() == 0
        for member in ("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
                       "ann_ivf_pq_topk"):
            df = getattr(similarity, member)(spark, dead_query_dir)
            assert df.columns == brute.columns, member
            assert df.count() == 0, member
        con = duckdb.connect()
        con.sql("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                f"'{dead_query_dir}/embeddings.parquet/*.parquet')")
        expected = con.sql(similarity.ORACLE_ANN_RECALL_GATE).fetchall()
        con.close()
        assert expected == [(0, True, True)]
        for member in ("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
                       "ann_ivf_pq_topk"):
            got = getattr(similarity, f"{member}_checked")(
                spark, dead_query_dir).collect()
            assert [tuple(r) for r in got] == expected, member

    def test_kmv_jaccard_null_not_div0(self, spark, null_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            approx,
        )

        row = _one(approx.kmv_set_ops(spark, null_dir))
        assert row.est_jaccard is None          # Ø∪Ø: undefined, not 0/0
        assert row.exact_union == 0 and row.est_union == 0.0

    def test_corrupted_rows_are_transparent(self, spark, sf_dir,
                                            mixed_dir, tmp_path):
        """A mixed shard (alternating NULL payloads) must give exactly
        the result of the same query over only its valid rows — corrupted
        rows are skipped, never silently folded into the math."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
            similarity,
        )

        valid = str(tmp_path / "sf_validonly")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet")
             .write.mode("overwrite").parquet(f"{valid}/{t}.parquet"))
        (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .filter(F.col("doc_id") % 2 == 0)
         .write.mode("overwrite").parquet(f"{valid}/documents.parquet"))
        (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .filter(F.col("vec_id") % 2 == 0)
         .write.mode("overwrite").parquet(f"{valid}/embeddings.parquet"))
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .write.mode("overwrite").parquet(f"{valid}/events.parquet"))

        got = {tuple(r) for r in
               dedup.dedup_ngram_jaccard(spark, mixed_dir).collect()}
        exp = {tuple(r) for r in
               dedup.dedup_ngram_jaccard(spark, valid).collect()}
        assert got == exp
        got = {tuple(r) for r in similarity.ann_brute_force_topk(
            spark, mixed_dir).collect()}
        exp = {tuple(r) for r in similarity.ann_brute_force_topk(
            spark, valid).collect()}
        assert got == exp


class TestPoisonedValuesContract:
    """Fourth leg of the degenerate-input contract: non-NULL but extreme
    payloads (NaN/±Inf/1e308 event values, epoch-1970 / year-2199
    timestamps, zero / NaN-component / 1e30-component vectors, empty /
    whitespace / sub-n-token texts) — garbage a corrupted shard can
    carry at 100 TB. The poisoned probe (tools/degenerate_probe.py
    poisoned) found 19 entries aborting on the ANSI decimal protocol or
    slice/parse edges, and one 25-minute runaway (a single 1970+2199
    timestamp pair inflated events_linear_interp_daily's dense grid by
    decades, turning its fill windows quadratic). Fixes are central:
    sanitize_events (batch + streaming loaders), component-finiteness
    in ld_vecs, nullif-guarded punct ratios, the descending-sequence
    n-gram guard, try_parse_json on untrusted props, and the
    zero-centroid cosine guard."""

    def test_sanitize_events_unit(self, spark):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            sanitize_events,
        )

        df = spark.createDataFrame(
            [(1, "2024-06-01 00:00:00", 1.5),     # clean -> kept as-is
             (2, "2024-06-01 00:00:00", float("nan")),   # value -> NULL
             (3, "2024-06-01 00:00:00", float("inf")),   # value -> NULL
             (4, "2024-06-01 00:00:00", 1e308),          # value -> NULL
             (5, "2024-06-01 00:00:00", None),           # NULL stays NULL
             (6, "1970-01-01 00:00:00", 2.0),    # epoch reset -> dropped
             (7, "2199-12-31 23:59:59", 2.0),    # far future -> dropped
             (8, None, 3.0)],                    # NULL ts -> kept
            "event_id long, ts string, value double") \
            .withColumn("ts", F.col("ts").cast("timestamp"))
        got = {r.event_id: r.value for r in sanitize_events(df).collect()}
        assert got == {1: 1.5, 2: None, 3: None, 4: None, 5: None, 8: 3.0}

    @pytest.fixture(scope="class")
    def poison_dir(self, spark, sf_dir, tmp_path_factory):
        from tools.degenerate_probe import _build_poisoned

        base = str(tmp_path_factory.mktemp("sf_poison"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet")
             .write.mode("overwrite").parquet(f"{base}/{t}.parquet"))
        _build_poisoned(spark, sf_dir, base)
        return base

    def test_decimal_protocol_survives_poison(self, spark, poison_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            relational,
        )

        # the exact-sum protocol must not abort on NaN/Inf/1e308 values —
        # they sanitize to NULL and SQL aggregation skips them
        rows = relational.window_running_sum(spark, poison_dir).collect()
        assert rows and all(
            r.running_value is None or r.running_value < 1e15
            for r in rows)

    def test_text_edges(self, spark, poison_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            textstats,
            traindata,
        )

        q = {r.doc_id: r for r in
             textstats.text_quality_score(spark, poison_dir).collect()}
        empty = q[0]          # doc_id 0 % 6 == 0 -> text ""
        assert empty.punct_ratio is None          # undefined, not 0/0
        assert empty.quality_score is not None    # score still composes
        # sub-n-token docs have no n-grams: the audit completes instead
        # of dying on slice(..., 0, n) via the descending sequence()
        traindata.contamination_ngram_overlap(spark, poison_dir).count()

    def test_vector_edges(self, spark, poison_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            corpus,
            relational,
            similarity,
        )

        # ld_vecs drops NaN-component (vec_id%5==1), Inf-component
        # (%5==2) and 1e30 (%5==3) vectors; zero vectors (%5==0) stay
        total = spark.read.parquet(
            f"{poison_dir}/embeddings.parquet").count()
        kept = relational.ld_vecs(spark, poison_dir).count()
        expected_dropped = sum(
            1 for i in range(total) if i % 5 in (1, 2, 3))
        assert kept == total - expected_dropped
        # decimal covariance/standardize run on the surviving set
        assert corpus.embedding_covariance(spark, poison_dir).count() > 0
        # zero centroids yield NULL cosine, never an ANSI 0/0
        drift = similarity.embedding_source_drift(spark, poison_dir)
        assert drift.count() > 0

    def test_variant_props_edge(self, spark, poison_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            relational,
        )

        rows = relational.scalar_variant_fns(spark, poison_dir).collect()
        # event_id % 5 == 0 -> props "" -> k must be NULL, not a parse
        # abort; the constructed doc still roundtrips
        assert rows
        for r in rows:
            if r.event_id % 5 == 0:
                assert r.k is None


class TestDuplicateFloodCollapse:
    """Round-9 duplicate-flood rail: a boilerplate page copied m times
    used to put m rows in every posting list it touches, making the
    cluster entries' inverted-index self-join Θ(m²). The cluster path now
    exact-collapses identical shingle sets to one representative first
    (``dedup.exact_collapse_shingles``), which is output-exact (identical
    sets ⇒ Jaccard 1.0 edges; cross-group Jaccard is rep-invariant). These
    tests pin (a) the quotient is flood-invariant, (b) labels equal the
    uncollapsed path's labels on a flooded corpus, (c) shingle-less docs
    never collapse."""

    FLOOD = 60            # identical clones of one long document
    SHORT_FLOOD = 20      # identical 2-word docs (no 3-gram shingles)

    @pytest.fixture(scope="class")
    def flood_dir(self, spark, sf_dir, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sf_dupflood"))
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        donor_df = (d.filter(F.col("text").isNotNull())
                    .orderBy(F.length("text").desc(), "doc_id").limit(1))
        donor = donor_df.collect()[0]
        clones = (spark.range(10_000, 10_000 + self.FLOOD)
                  .crossJoin(F.broadcast(
                      donor_df.select("text", "lang", "n_chars")))
                  .selectExpr("id AS doc_id", "text", "lang",
                              "'flood' AS source", "n_chars"))
        shorts = spark.range(20_000, 20_000 + self.SHORT_FLOOD).selectExpr(
            "id AS doc_id", "'tiny doc' AS text", "'en' AS lang",
            "'flood' AS source", "CAST(8 AS BIGINT) AS n_chars")
        (d.unionByName(clones).unionByName(shorts)
         .coalesce(4).write.mode("overwrite")
         .parquet(f"{base}/documents.parquet"))
        return base, donor.doc_id

    def test_quotient_is_flood_invariant(self, spark, flood_dir):
        base, donor_id = flood_dir
        member, reps = dedup.exact_collapse_shingles(
            dedup.doc_shingles(spark, base))
        flood = member.filter(F.col("doc_id") >= 10_000) \
                      .filter(F.col("doc_id") < 20_000)
        # every clone collapses onto the donor (min doc_id of the group)
        assert flood.filter(F.col("rep_id") != donor_id).count() == 0
        # the rep-level pair graph never pairs two flood members: at most
        # the donor survives as a rep, so candidate work is O(reps²) of
        # the DISTINCT corpus — flood size m never enters the join
        assert reps.filter((F.col("doc_id") >= 10_000)
                           & (F.col("doc_id") < 20_000)).count() == 0
        pairs = dedup._jaccard_pair_graph(reps, 0.5)
        assert pairs.filter((F.col("id1") >= 10_000)
                            & (F.col("id1") < 20_000)).count() == 0

    def test_labels_match_uncollapsed_path(self, spark, flood_dir):
        base, _ = flood_dir
        got = {(r.doc_id, r.cluster_id)
               for r in dedup.dedup_clusters(spark, base).collect()}
        # the pre-collapse formulation, run on the same flooded corpus
        d = spark.read.parquet(f"{base}/documents.parquet").select("doc_id")
        pairs = dedup.dedup_ngram_jaccard(spark, base).select("id1", "id2")
        labels = dedup.connected_components(d, pairs, node_col="doc_id")
        want = {(r.node, r.label) for r in labels.collect()}
        assert got == want

    def test_keep_representatives_counts_members(self, spark, flood_dir):
        base, donor_id = flood_dir
        sizes = {r.keep_id: r.cluster_size
                 for r in dedup.dedup_keep_representatives(spark, base)
                 .collect()}
        # the donor's cluster holds the donor + all clones (and any
        # organic near-dups of the donor) — never less
        donor_label = min(k for k, v in sizes.items()
                          if v >= self.FLOOD + 1)
        assert donor_label <= donor_id
        # total membership covers the corpus exactly once
        assert sum(sizes.values()) == 500 + self.FLOOD + self.SHORT_FLOOD

    def test_shingleless_docs_never_collapse(self, spark, flood_dir):
        base, _ = flood_dir
        clusters = {r.doc_id: r.cluster_id
                    for r in dedup.dedup_clusters(spark, base).collect()}
        for i in range(20_000, 20_000 + self.SHORT_FLOOD):
            assert clusters[i] == i   # identical 2-word docs: no
            # shingles, no edges — singletons today; collapsing them
            # would invent a cluster the pair graph never had


class TestAdversarialParityContract:
    """Round-9 adversarial-parity contract: the full oracle-parity gate
    re-run on dupflood / skewed fixtures (tools/degenerate_probe.py
    build + tools/check_oracle_parity.py --sf-dir) must stay 292/292.
    The first sweep found three real failure classes; each is pinned
    here on a minimal fixture so the fixes cannot regress."""

    def test_streaming_reads_directory_layout(self, spark, sf_dir,
                                              tmp_path):
        """A pipeline-written events table is a DIRECTORY of part files;
        the old pathGlobFilter-on-parent pattern silently streamed ZERO
        files from it (13 empty streaming entries in the first dupflood
        sweep). The loader now streams the directory itself."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming import (
            events as ev,
        )

        base = str(tmp_path / "dirfx")
        (spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(3)
         .write.mode("overwrite").parquet(f"{base}/events.parquet"))
        n_batch = spark.read.parquet(f"{base}/events.parquet").count()
        stream = ev.read_events_stream(spark, base)
        q = (stream.groupBy().count()
             .writeStream.format("memory").queryName("t_dirfx")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM t_dirfx").collect()
        assert got and got[0][0] == n_batch

    def test_mixture_sample_non_numbered_source(self, spark, sf_dir,
                                                tmp_path):
        """A source with no trailing number used to ANSI-abort the whole
        job on CAST('' AS INT); try_cast routes it to the 0.25 branch on
        both engines."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        base = str(tmp_path / "srcfx")
        (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .withColumn("source", F.lit("flood"))
         .write.mode("overwrite").parquet(f"{base}/documents.parquet"))
        rows = traindata.corpus_mixture_sample(spark, base).collect()
        assert len(rows) == 1 and rows[0].source == "flood"
        assert 0 < rows[0].n_kept < rows[0].n_total  # ~25% branch, not 100%

    def test_minhash_gate_survives_short_text_flood(self, spark, sf_dir,
                                                    tmp_path):
        """Identical docs with < 3 words have EMPTY shingle sets — no
        shingle-based method can pair them, so the exact-pair census
        must not count them (their dedup path is dedup_exact)."""
        base = str(tmp_path / "shortfx")
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        shorts = spark.range(20_000, 20_020).selectExpr(
            "id AS doc_id", "'tiny doc' AS text", "'en' AS lang",
            "'flood' AS source", "CAST(8 AS BIGINT) AS n_chars")
        (d.unionByName(shorts)
         .write.mode("overwrite").parquet(f"{base}/documents.parquet"))
        row = _one(dedup.dedup_minhash_lsh_checked(spark, base))
        assert row.all_exact_pairs_found and row.near_ge_exact
        # the 190 'tiny doc' pairs are excluded from the census
        base_row = _one(dedup.dedup_minhash_lsh_checked(spark, sf_dir))
        assert row.n_exact_text_pairs == base_row.n_exact_text_pairs

    def test_p2_stream_skips_null_values(self, spark, sf_dir, tmp_path):
        """NULL value arrives in the P² state updater as NaN; it must be
        skipped like an aggregate skips NULL — before the fix NaN fell
        through every marker comparison and the cell-locator next()
        raised StopIteration, aborting the stream. Masked until r9: the
        directory-layout fix was what let streams see corrupted fixtures
        at all."""
        from __spark_entry__ import queries

        base = str(tmp_path / "p2nullfx")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        nulled = ev.withColumn(
            "value", F.when(F.col("event_id") % 2 == 1,
                            F.lit(None).cast("double"))
                      .otherwise(F.col("value")))
        nulled.write.mode("overwrite").parquet(f"{base}/events.parquet")
        rows = queries()["streaming_p2_quantile"](spark, base).collect()
        assert rows
        # n_seen counts only the finite observations per type
        exp = {r.event_type: r.n for r in
               ev.filter(F.col("event_id") % 2 == 0)
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        got = {r.event_type: r.n_seen for r in rows}
        assert got == exp


class TestIterativeLoopsReliablePin:
    """r9: the per-round truncations inside connected_components /
    pagerank / transitive_roots / kcore route through scale.pin — with a
    session checkpoint dir the round state is RELIABLY checkpointed
    (survives executor loss on a cluster), without one it stays a
    localCheckpoint. Results must be identical either way."""

    def test_connected_components_reliable(self, spark, tmp_path):
        sc = spark.sparkContext
        nodes = spark.createDataFrame(
            [(i,) for i in range(8)], "id long")
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (3, 4), (6, 7)], "id1 long, id2 long")
        base = {(r.node, r.label) for r in
                dedup.connected_components(nodes, edges).collect()}
        assert base == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3),
                        (5, 5), (6, 6), (7, 6)}
        ckpt = str(tmp_path / "ckpt")
        sc.setCheckpointDir(ckpt)
        try:
            rel = {(r.node, r.label) for r in
                   dedup.connected_components(nodes, edges).collect()}
            assert rel == base
            import os
            found = any(files for _, _, files in os.walk(ckpt))
            assert found, "reliable mode engaged but wrote no blocks"
        finally:
            sc.setCheckpointDir(None)

    def test_kcore_reliable_roundtrip(self, spark, sf_dir, tmp_path):
        """Same seam, different loop shape: the k-core peel's per-round
        edge set. Results must be identical with and without a
        checkpoint dir configured."""
        base = {tuple(r) for r in graph.graph_kcore(spark, sf_dir)
                .collect()}
        sc = spark.sparkContext
        sc.setCheckpointDir(str(tmp_path / "kckpt"))
        try:
            rel = {tuple(r) for r in graph.graph_kcore(spark, sf_dir)
                   .collect()}
        finally:
            sc.setCheckpointDir(None)
        assert rel == base

    def test_cluster_entries_null_semantics(self, spark, sf_dir,
                                            tmp_path):
        """r9 self-review finds: (a) the collapse path must still emit
        NULL-text docs as singleton clusters (doc_shingles drops them,
        but the entries and the naive oracles never did); (b) the
        neardup report's group arithmetic must not count NULL-source
        pairs — in the pairwise formulation src1=src2 / src1<>src2 are
        NULL, hence dropped, whenever either side's source is NULL."""
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        base = str(tmp_path / "nullsem")
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        donor = (d.filter(F.col("text").isNotNull())
                 .orderBy(F.length("text").desc(), "doc_id").limit(1))
        clones = (spark.range(10_000, 10_030)
                  .crossJoin(F.broadcast(
                      donor.select("text", "lang", "n_chars")))
                  .selectExpr("id AS doc_id", "text", "lang",
                              "CAST(NULL AS STRING) AS source", "n_chars"))
        (d.withColumn("text", F.when(F.col("doc_id") % 7 == 0,
                                     F.lit(None)).otherwise(F.col("text")))
         .withColumn("source", F.when(F.col("doc_id") % 5 == 0,
                                      F.lit(None))
                     .otherwise(F.col("source")))
         .unionByName(clones)
         .coalesce(2).write.mode("overwrite")
         .parquet(f"{base}/documents.parquet"))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{base}/documents.parquet/*.parquet')")
        for fn, osql in [
            (dedup.dedup_clusters, dedup.ORACLE_DEDUP_CLUSTERS),
            (dedup.dedup_keep_representatives,
             dedup.ORACLE_DEDUP_KEEP_REPRESENTATIVES),
            (dedup.corpus_neardup_report, dedup.ORACLE_NEARDUP_REPORT),
            (traindata.split_leakage_safe,
             traindata.ORACLE_SPLIT_LEAKAGE_SAFE),
        ]:
            srows = sorted((tuple(str(x) for x in r)
                            for r in fn(spark, base).collect()))
            orows = sorted((tuple(str(x) for x in r)
                            for r in con.execute(osql).fetchall()))
            assert srows == orows, fn.__name__


class TestStreamingNullContract:
    """r9 self-review finds over streaming/events.py: NULL/NaN payloads
    must behave like aggregate-skipped NULLs (transparent), never poison
    state, never crash the stream, and never wedge a keyed MERGE."""

    @pytest.fixture(scope="class")
    def nullev_dir(self, spark, sf_dir, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("sf_nullev"))
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (ev.withColumn("ts", F.when(F.col("event_id") % 11 == 0,
                                    F.lit(None).cast("timestamp"))
            .otherwise(F.col("ts")))
           .withColumn("user_id", F.when(F.col("event_id") % 13 == 0,
                                         F.lit(None).cast("bigint"))
            .otherwise(F.col("user_id")))
           .withColumn("value", F.when(F.col("event_id") % 7 == 0,
                                       F.lit(None).cast("double"))
            .otherwise(F.col("value")))
           .coalesce(2).write.mode("overwrite")
           .parquet(f"{base}/events.parquet"))
        return base

    def test_cusum_state_survives_nan(self, spark, sf_dir, nullev_dir):
        """One NaN observation used to set the Welford mean/m2 to NaN
        forever — silently disabling drift detection. NaN rows must be
        transparent: alarms on the mixed feed equal alarms on the
        finite-only feed."""
        from __spark_entry__ import queries

        got = {tuple(r) for r in
               queries()["streaming_cusum_alerts"](spark, nullev_dir)
               .collect()}
        assert got  # per-type census rows present
        for r in got:
            assert r[2] and r[3]   # ordinals_valid, stats_exceed_h

    def test_heavy_hitters_null_user(self, spark, nullev_dir):
        """NULL user_id arrives as NaN; .astype(int) used to abort the
        whole stream. Unknown users drop; the guarantee census must
        nominate only countable (non-NULL) users."""
        from __spark_entry__ import queries

        rows = queries()["streaming_heavy_hitters"](spark, nullev_dir) \
            .collect()
        assert rows
        assert all(r.all_guaranteed_present and r.est_le_exact
                   and r.undercount_in_bound for r in rows)

    def test_upsert_null_ts_never_blocks(self, spark, tmp_path):
        """A key whose FIRST event has NULL ts must be upgraded by a
        later real-ts event (NULL ts = oldest, the oracle's NULLS LAST
        under ts DESC); the naive s.ts > t.ts guard kept the NULL row
        forever. NULL-key rows drop (a keyed MERGE can never dedup
        them)."""
        import datetime

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming import (
            events as ev,
        )

        base = str(tmp_path / "upsertfx")
        real_ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
        rows = [
            (1, None, 7, "a", 1.0, ""),          # batch order: NULL ts first
            (2, real_ts, 7, "b", 2.0, ""),
            (3, real_ts, None, "c", 3.0, ""),    # NULL key -> dropped
        ]
        df = spark.createDataFrame(rows, schema=ev.EVENT_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{base}/events.parquet")
        from __spark_entry__ import queries

        out = {r.user_id: (r.last_ts, r.last_event_id)
               for r in queries()["streaming_cdc_upsert"](spark, base)
               .collect()}
        assert set(out) == {7}
        assert out[7][1] == 2      # the real-ts event won

    def test_merge_into_null_keys(self, spark):
        """ANSI MERGE semantics for NULL keys: a NULL-key target row
        survives as-is (it used to degrade to all-NULLs), a NULL-key
        source row INSERTs, and they never match each other."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.cdc import (
            merge_into,
        )

        tgt = spark.createDataFrame(
            [(1, "t1"), (None, "tnull")], "k int, v string")
        src = spark.createDataFrame(
            [(1, "s1"), (None, "snull")], "k int, v string")
        out = {(r.k, r.v) for r in merge_into(
            tgt, src, key="k",
            when_matched_update={"v": F.col("s.v")},
            when_not_matched_insert={"k": F.col("s.k"),
                                     "v": F.col("s.v")}).collect()}
        assert out == {(1, "s1"), (None, "tnull"), (None, "snull")}

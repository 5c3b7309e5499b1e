"""Property tests for the behavioral-analytics battery (operators/behavior.py)
and the round-3 quality/histogram/salted additions. Value-exactness is the
oracle's job (all nine entries are oracle-backed); these pin the semantic
invariants that survive any fixture regeneration."""

import pytest
from pyspark.sql import functions as F

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
    analytics,
    behavior,
    scale,
    textstats,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
    ld,
    load_events,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.plans.inspect import (
    plan_profile,
)


class TestFunnel:
    def test_stages_monotonically_shrink(self, spark, sf_dir):
        row = behavior.events_funnel_conversion(spark, sf_dir).first()
        assert row.n_users >= row.n_viewed
        assert row.n_viewed >= row.n_clicked_after_view
        assert row.n_clicked_after_view >= row.n_purchased_after_click
        assert row.n_purchased_after_click >= 0

    def test_ordering_constraint_binds(self, spark):
        """A purchase BEFORE the first view-click chain must not count."""
        rows = [
            (1, "2024-01-01 10:00:00", 1, "purchase"),  # too early
            (1, "2024-01-01 11:00:00", 2, "view"),
            (1, "2024-01-01 12:00:00", 3, "click"),
            (2, "2024-01-01 10:00:00", 4, "view"),
            (2, "2024-01-01 11:00:00", 5, "click"),
            (2, "2024-01-01 12:00:00", 6, "purchase"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts_s string, event_id long, event_type string"
        ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
                 "event_id", "event_type", F.lit(1.0).alias("value"),
                 F.lit("{}").alias("props"))
        import db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.behavior as b
        orig = b.load_events
        b.load_events = lambda spark, sf_dir: df
        try:
            row = b.events_funnel_conversion(spark, "ignored").first()
        finally:
            b.load_events = orig
        assert row.n_users == 2
        assert row.n_viewed == 2
        assert row.n_clicked_after_view == 2
        assert row.n_purchased_after_click == 1  # user 1's purchase too early


class TestRetention:
    def test_day_zero_equals_cohort_size(self, spark, sf_dir):
        """Every user is by definition active on their cohort day."""
        out = behavior.events_retention_cohorts(spark, sf_dir).collect()
        day0 = {r.cohort_day: r.n_active_users
                for r in out if r.day_offset == 0}
        later_max = {}
        for r in out:
            if r.day_offset > 0:
                later_max[r.cohort_day] = max(
                    later_max.get(r.cohort_day, 0), r.n_active_users)
        for cd, n in later_max.items():
            assert n <= day0[cd], "retention cannot exceed cohort size"
        total_users = (load_events(spark, sf_dir)
                       .select("user_id").distinct().count())
        assert sum(day0.values()) == total_users


class TestTransitions:
    def test_probabilities_sum_to_one_per_row_type(self, spark, sf_dir):
        out = behavior.events_transition_matrix(spark, sf_dir).collect()
        sums = {}
        for r in out:
            sums[r.prev_type] = sums.get(r.prev_type, 0.0) + r.p
        for t, s in sums.items():
            assert s == pytest.approx(1.0, abs=1e-9), t


class TestRollingStats:
    def test_window_population_caps_at_five(self, spark, sf_dir):
        out = behavior.events_rolling_stats(spark, sf_dir)
        mx = out.agg(F.max("n_window")).first()[0]
        assert mx == 5
        bad = out.filter(
            F.col("rolling_max") * F.col("n_window")
            < F.col("rolling_sum")).count()
        assert bad == 0  # sum of n values ≤ n · max


class TestZScore:
    def test_flagged_values_are_type_extremes(self, spark, sf_dir):
        e = load_events(spark, sf_dir)
        flagged = behavior.events_value_zscore(spark, sf_dir)
        # every flagged event's value must sit outside its type's
        # [mean - 2.5σ, mean + 2.5σ] band computed independently here
        import math
        stats = {r.event_type: r for r in
                 e.groupBy("event_type")
                 .agg(F.avg("value").alias("m"),
                      F.stddev_pop("value").alias("s")).collect()}
        for r in flagged.collect():
            st = stats[r.event_type]
            assert abs(r.value - st.m) > 2.4 * st.s  # slack for float path


class TestTextQualityAdditions:
    def test_gopher_keep_is_conjunction(self, spark, sf_dir):
        out = textstats.text_gopher_filters(spark, sf_dir)
        bad = out.filter(
            F.col("keep") != (F.col("words_ok") & F.col("mwl_ok")
                              & F.col("stop_ok") & F.col("sym_ok"))).count()
        assert bad == 0

    def test_repetition_shares_are_valid_fractions(self, spark, sf_dir):
        out = textstats.text_repetition_metrics(spark, sf_dir)
        n = out.count()
        docs = ld(spark, sf_dir, "documents").count()
        assert n == docs
        bad = out.filter((F.col("top_unigram_share") <= 0)
                         | (F.col("top_unigram_share") > 1)
                         | (F.col("top_bigram_share") <= 0)
                         | (F.col("top_bigram_share") > 1)).count()
        assert bad == 0


class TestHistogram:
    def test_bins_partition_the_table(self, spark, sf_dir):
        out = analytics.agg_histogram_equi_width(spark, sf_dir).collect()
        total = sum(r.n_orders for r in out)
        assert total == ld(spark, sf_dir, "orders").count()
        assert [r.bin for r in out] == sorted(set(r.bin for r in out))
        for r in out:
            assert r.bin_lo < r.bin_hi

    def test_no_python_no_cartesian(self, spark, sf_dir):
        prof = plan_profile(analytics.agg_histogram_equi_width(spark, sf_dir))
        assert prof["python_evals"] == 0


class TestSaltedHotKey:
    def test_matches_plain_join(self, spark, sf_dir):
        """The salted rewrite must be row-identical to the plain join on
        the same hot-key data (complements tests/test_scale.py, which
        pins it pair-level on synthetic rows)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            DEC,
        )

        l = ld(spark, sf_dir, "lineitem", fanout=False)
        hk = F.when(F.col("l_orderkey") % 10 < 3, F.lit(0)) \
            .otherwise(F.col("l_orderkey")).alias("hk")
        fact = l.select(hk, "l_extendedprice")
        dim = (fact.select("hk").distinct()
               .withColumn("payload", F.col("hk") % 97))
        plain = (fact.join(dim, "hk")
                 .groupBy((F.col("payload") % 10).alias("pbucket"))
                 .agg(F.count(F.lit(1)).alias("n_rows"),
                      F.sum(F.col("l_extendedprice").cast(DEC))
                      .cast("double").alias("sum_price"))
                 .orderBy("pbucket"))
        salted = scale.join_salted_hot_key(spark, sf_dir)
        assert [tuple(r) for r in salted.collect()] \
            == [tuple(r) for r in plain.collect()]


class TestTrainData:
    def test_split_is_stable_and_covers_all_docs(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        a = traindata.data_split_assign(spark, sf_dir).collect()
        b = traindata.data_split_assign(spark, sf_dir).collect()
        assert a == b  # hash split: re-runs never migrate docs
        total = sum(r.n_docs for r in a)
        assert total == ld(spark, sf_dir, "documents").count()
        by_split = {}
        for r in a:
            by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
        # ~90/5/5 with sampling noise at 500 docs
        assert by_split["train"] / total > 0.8
        assert 0 < by_split.get("val", 0) < 0.15 * total
        assert 0 < by_split.get("test", 0) < 0.15 * total

    def test_packing_respects_budget_except_oversized_docs(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        out = traindata.corpus_pack_sequences(spark, sf_dir).collect()
        docs = ld(spark, sf_dir, "documents").count()
        assert sum(r.n_docs for r in out) == docs
        for r in out:
            # a bin overfills only via its last doc (contiguous fill) —
            # so any bin except a single-doc bin stays under budget + max doc
            if r.n_docs > 1:
                assert r.bin_tokens < 512 + 600  # max doc ~553 chars

    def test_quantize_codes_bounded_and_error_small(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        out = traindata.embedding_quantize_int8(spark, sf_dir)
        bad = out.filter((F.col("code") < -127) | (F.col("code") > 127)).count()
        assert bad == 0
        # dequantization error bounded by half a quantization step of the
        # per-vector scale; scales here are ≤ ~1.0 for unit-ish embeddings
        mx = out.agg(F.max(F.abs("err"))).first()[0]
        assert mx <= 0.5 * 1.0 / 127 + 1e-9

    def test_contamination_only_cross_split_pairs(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            traindata,
        )

        out = traindata.contamination_ngram_overlap(spark, sf_dir).collect()
        train_docs = {r.train_doc for r in out}
        eval_docs = {r.eval_doc for r in out}
        assert not (train_docs & eval_docs)
        for r in out:
            assert r.shared_ngrams >= 1


class TestValidation:
    def test_violations_actually_count(self, spark):
        """The fixture is clean (all-zero counts, oracle-proven); this
        feeds corrupted rows so each check demonstrably fires."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import (
            Assessor,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            validate,
        )

        table = next(t for t in Assessor().parser.parse(
            validate._CUSTOMER_DDL) if t.name == "CUSTOMER")
        rows = [
            (1, "ok", 1, 1.0, "SEG"),
            (1, "dup pk", 2, 2.0, "SEG"),          # duplicate key
            (None, "null pk", 3, 3.0, "SEG"),      # NOT NULL + pk
            (4, "x" * 101, None, 4.0, "SEG"),      # name overflow + null nk
            (5, "ok", 5, 5.0, "WAYTOOLONGSEG"),    # segment overflow
        ]
        df = spark.createDataFrame(
            rows, "c_custkey long, c_name string, c_nationkey int,"
                  " c_acctbal double, c_mktsegment string")
        got = {r.check_name: r.n_violations
               for r in validate.validate_table(df, table).collect()}
        assert got["not_null:c_custkey"] == 1
        assert got["not_null:c_nationkey"] == 1
        assert got["max_length:c_name"] == 1
        assert got["max_length:c_mktsegment"] == 1
        # 4 fully-keyed rows, 3 distinct keys -> 1 duplicate; the NULL
        # key row is a not_null finding, never a duplicate
        assert got["pk_unique:c_custkey"] == 1

    def test_snapshot_diff_statuses(self, spark):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.validate import (
            snapshot_diff,
        )

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
        new = spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id long, v string")
        got = {r.status: r.n_rows
               for r in snapshot_diff(old, new, "id").collect()}
        assert got == {"added": 1, "deleted": 1, "changed": 1,
                       "unchanged": 1}

    def test_checksum_is_partition_order_independent(self, spark):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.validate import (
            reconcile_checksum,
        )

        rows = [(i, f"name{i}") for i in range(100)]
        a = spark.createDataFrame(rows, "id long, name string")
        b = (spark.createDataFrame(list(reversed(rows)),
                                   "id long, name string")
             .repartition(7))
        ca = reconcile_checksum(a, ["id", "name"]).first()
        cb = reconcile_checksum(b, ["id", "name"]).first()
        assert tuple(ca) == tuple(cb)

    def test_checksum_rejects_float_columns(self, spark):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.validate import (
            reconcile_checksum,
        )

        df = spark.createDataFrame([(1, 1.5)], "id long, v double")
        with pytest.raises(ValueError, match="not portable"):
            reconcile_checksum(df, ["id", "v"])


class TestProductQuantization:
    def test_rerank_recall_vs_brute_force(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        pq = similarity.ann_pq_topk(spark, sf_dir)
        bf = similarity.ann_brute_force_topk(spark, sf_dir)
        bfs = {(r.query_id, r.neighbor_id) for r in bf.collect()}
        pqs = {(r.query_id, r.neighbor_id) for r in pq.collect()}
        # near-uniform synthetic vectors are PQ's worst case; real
        # embeddings cluster and do far better. 0.5 is the sanity floor
        # (random shortlists of 50/500 would land ~0.1).
        assert len(bfs & pqs) / len(bfs) >= 0.5

    def test_reranked_scores_are_exact_cosines(self, spark, sf_dir):
        """The emitted cosine must equal the exact fold cosine (re-rank
        touches full vectors), even though candidates came from ADC."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )

        pq = similarity.ann_pq_topk(spark, sf_dir).collect()
        bf = {(r.query_id, r.neighbor_id): r.cosine
              for r in similarity.ann_brute_force_topk(
                  spark, sf_dir, k=500).collect()}
        for r in pq:
            key = (r.query_id, r.neighbor_id)
            if key in bf:
                assert r.cosine == bf[key]

    def test_codes_are_bounded(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            similarity,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            ld,
        )

        e = ld(spark, sf_dir, "embeddings")
        books = similarity.pq_codebooks(e)
        coded = similarity.pq_assign_codes(e, books)
        bad = coded.filter(
            F.exists("codes", lambda c: (c < 0) | (c >= 16))).count()
        assert bad == 0
        assert books.shape == (8, 16, 8)


class TestRound3PlanShapes:
    def test_new_batteries_stay_jvm_side(self, spark, sf_dir):
        """Every round-3 oracle-backed entry must compile to a pure-JVM
        plan: no Python row evaluation, no cartesian product (the PQ path
        is exempt — its Arrow stages are the point)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
            build_queries,
        )

        queries = build_queries()
        for name in ("events_funnel_conversion", "events_retention_cohorts",
                     "events_rolling_stats", "events_transition_matrix",
                     "events_value_zscore", "data_split_assign",
                     "dedup_incremental_exact", "sample_per_group_topn",
                     "corpus_mix_weights", "corpus_token_budget_cut",
                     "corpus_pack_sequences", "embedding_quantize_int8",
                     "contamination_ngram_overlap",
                     "validate_customer_constraints",
                     "snapshot_diff_customers",
                     "migrate_reconcile_customers",
                     "validate_star_expectations", "text_gopher_filters",
                     "text_repetition_metrics", "agg_histogram_equi_width",
                     "join_salted_hot_key"):
            prof = plan_profile(queries[name](spark, sf_dir))
            assert prof["python_evals"] == 0, name
            assert prof["cartesian_products"] == 0, name


class TestFanoutLoadersAtProductionLayout:
    def test_ld_py_is_noop_on_multifile_layout(self, spark, sf_dir, tmp_path):
        """On a realistic layout (many files → many scan partitions) the
        fan-out loaders must add NOTHING: no repartition, same plan as a
        plain read. The fixture-only exchange must never ship to a real
        cluster's plans."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            ld,
            ld_py,
        )

        par = spark.sparkContext.defaultParallelism
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        (src.repartition(par).write.mode("overwrite")
         .parquet(f"{tmp_path}/documents.parquet"))
        plain = spark.read.parquet(f"{tmp_path}/documents.parquet")
        fanned = ld_py(spark, str(tmp_path), "documents")
        assert fanned.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
        assert "Repartition" not in fanned._jdf.queryExecution() \
            .logical().toString()
        fanned2 = ld(spark, str(tmp_path), "documents")
        assert "Repartition" not in fanned2._jdf.queryExecution() \
            .logical().toString()


class TestRerank:
    def test_rerank_matches_driverside_recompute(self, spark, sf_dir):
        """The two-stage pipeline's scores equal a driver-side recompute
        of lexical F1 over the same (query, candidate) texts."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            rerank,
        )

        rows = rerank.rerank_ann_shortlist(spark, sf_dir).collect()
        assert len(rows) == 10 * 5
        docs = {r["doc_id"]: r["text"]
                for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
                .collect()}
        for r in rows:
            a = set(docs[r["query_id"]].split(" "))
            b = set(docs[r["neighbor_id"]].split(" "))
            want = 2.0 * len(a & b) / (len(a) + len(b))
            assert r["rerank_score"] == want
        # per-query rerank_rank is 1..k and ordered by (score desc, id)
        from collections import defaultdict
        per_q = defaultdict(list)
        for r in rows:
            per_q[r["query_id"]].append(r)
        for q, rs in per_q.items():
            rs.sort(key=lambda r: r["rerank_rank"])
            assert [r["rerank_rank"] for r in rs] == list(range(1, 6))
            keys = [(-r["rerank_score"], r["neighbor_id"]) for r in rs]
            assert keys == sorted(keys)

    def test_rerank_actually_reorders_the_shortlist(self, spark, sf_dir):
        """The pairwise stage must DO something: on the fixture corpus at
        least one kept candidate's rerank position differs from its ANN
        position (otherwise the second stage is dead weight)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            rerank,
        )

        rows = rerank.rerank_ann_shortlist(spark, sf_dir).collect()
        assert any(r["ann_rank"] != r["rerank_rank"] for r in rows)

    def test_pluggable_scorer_seam(self, spark, sf_dir):
        """An injected scorer flows through the Arrow plumbing: a constant
        scorer makes rerank order collapse to the neighbor_id tie-break."""
        import pandas as pd

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            rerank,
        )

        def constant(q, c):
            return pd.Series([1.0] * len(q), dtype="float64")

        rows = rerank.rerank_ann_shortlist(spark, sf_dir,
                                           scorer=constant).collect()
        from collections import defaultdict
        per_q = defaultdict(list)
        for r in rows:
            per_q[r["query_id"]].append(r)
        for q, rs in per_q.items():
            rs.sort(key=lambda r: r["rerank_rank"])
            assert [r["neighbor_id"] for r in rs] \
                == sorted(r["neighbor_id"] for r in rs)
            assert all(r["rerank_score"] == 1.0 for r in rs)

    def test_transformer_factory_is_an_honest_stub_here(self):
        """No sentence-transformers in this container: the factory must
        raise ImportError with the install hint (same designed behavior
        as multimodal's pillow_feature_decoder)."""
        import pytest as _pytest

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            rerank,
        )

        with _pytest.raises(ImportError, match="sentence-transformers"):
            rerank.transformer_cross_encoder_factory()


class TestSemDeDup:
    def test_greedy_invariants_vs_brute_force(self, spark, sf_dir):
        """Both SemDeDup invariants, checked against numpy on the full
        fixture: (1) every DROPPED vector has cosine >= threshold to some
        KEPT lower-id vector in its cell; (2) no two KEPT vectors in one
        cell reach the threshold."""
        import numpy as np

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )

        thr = 0.4
        rows = dedup.dedup_semdedup(spark, sf_dir, threshold=thr).collect()
        emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
               for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .collect()}
        for v in emb.values():
            v /= np.linalg.norm(v)

        by_cell: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: r["vec_id"]):
            by_cell.setdefault(r["cell"], []).append(r)
        assert sum(len(v) for v in by_cell.values()) == len(emb)

        any_dropped = False
        for members in by_cell.values():
            kept = [r["vec_id"] for r in members if r["keep"]]
            for r in members:
                sims = [float(emb[r["vec_id"]] @ emb[k]) for k in kept
                        if k < r["vec_id"]]
                if r["keep"]:
                    assert not sims or max(sims) < thr
                else:
                    any_dropped = True
                    assert sims and max(sims) >= thr
        assert any_dropped, "fixture should contain semantic near-dups"

    def test_giant_cell_blocked_fallback_matches_dense_path(
            self, spark, sf_dir):
        """Force every cell through the blocked giant-cell fallback
        (max_cell_rows below any fixture cell) and require the EXACT
        keep-set of the dense-matmul path — the fallback changes peak
        memory (O(block × kept) vs O(cell²)), never the greedy result."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )

        thr = 0.4
        dense = {(r["vec_id"], r["cell"]): r["keep"]
                 for r in dedup.dedup_semdedup(
                     spark, sf_dir, threshold=thr).collect()}
        blocked = {(r["vec_id"], r["cell"]): r["keep"]
                   for r in dedup.dedup_semdedup(
                       spark, sf_dir, threshold=thr,
                       max_cell_rows=4).collect()}
        assert dense == blocked
        assert any(dense.values()) and not all(dense.values())

    def test_zero_norm_embedding_does_not_poison_the_cell(self, spark):
        """A zero vector has no cosine direction: it must be KEPT (it
        matches nothing) and must not NaN-poison its cell's similarity
        matrix — np.where-guarded normalization, r4 advice."""
        import numpy as np
        import pandas as pd

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )

        vecs = [(0, [0.0, 0.0, 0.0]),          # zero-norm
                (1, [1.0, 0.0, 0.0]),
                (2, [1.0, 0.01, 0.0]),          # near-dup of 1
                (3, [0.0, 1.0, 0.0])]
        pdf = pd.DataFrame({
            "vec_id": [v[0] for v in vecs],
            "cell": [0] * 4,
            "embedding": [np.array(v[1]) for v in vecs]})
        out = dedup._semdedup_sweep_for_tests(pdf, threshold=0.9,
                                              max_cell_rows=4096)
        keep = dict(zip(out["vec_id"], out["keep"]))
        assert keep == {0: True, 1: True, 2: False, 3: True}
        out_b = dedup._semdedup_sweep_for_tests(pdf, threshold=0.9,
                                                max_cell_rows=2)
        assert dict(zip(out_b["vec_id"], out_b["keep"])) == keep


class TestStarExpectations:
    def test_fixture_is_clean_and_violations_count(self, spark, sf_dir):
        """The fixture must pass every expectation (all-zero, oracle-
        proven); corrupted frames must trip each check exactly once."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            validate,
        )

        clean = {r.check_name: r.n_violations
                 for r in validate.validate_star_expectations(
                     spark, sf_dir).collect()}
        assert len(clean) == 6
        # the synthetic generator enforces FK/domain/range rules but NOT
        # ship-after-order — the temporal expectation legitimately fires
        # on the fixture (a real data finding, oracle-mirrored); the
        # other five checks must be clean
        temporal = clean.pop("temporal:l_shipdate>=o_orderdate")
        assert temporal > 0
        assert set(clean.values()) == {0}

        o = spark.createDataFrame(
            [(1, 10, "O", 5.0, "2024-01-10"),
             (2, 99, "O", 5.0, "2024-01-10"),    # orphan custkey
             (3, 10, "X", 5.0, "2024-01-10"),    # bad status
             (4, 10, "F", -1.0, "2024-01-10")],  # non-positive price
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string") \
            .withColumn("o_orderdate", F.to_date("o_orderdate"))
        li = spark.createDataFrame(
            [(1, 0.05, "2024-01-15"),
             (77, 0.05, "2024-01-15"),           # orphan orderkey
             (3, 1.5, "2024-01-15"),             # discount out of [0,1]
             (4, 0.05, "2024-01-05")],           # ships before order
            "l_orderkey long, l_discount double, l_shipdate string") \
            .withColumn("l_shipdate", F.to_date("l_shipdate"))
        c = spark.createDataFrame([(10,)], "c_custkey long")

        got = {r.check_name: r.n_violations
               for r in validate.star_expectations(o, li, c).collect()}
        assert got == {
            "fk:orders.o_custkey->customer": 1,
            "fk:lineitem.l_orderkey->orders": 1,
            "accepted_values:o_orderstatus": 1,
            "range:o_totalprice>0": 1,
            "unit_interval:l_discount": 1,
            "temporal:l_shipdate>=o_orderdate": 1,
        }

"""Round-12 pins: the corrupted-facts (nullfact) adversarial gate and the
round's ADVICE closures.

The corrupted-FACTS gate (sixth fixture) is ``TestCorruptedFactsParity``
(the sweep itself runs via ``tools/degenerate_probe.py``); the remaining
tasks are bench-side and recorded in BASELINE.md.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

#: The 22 entries the first nullfact sweep (r12) found divergent — the
#: TPC-H fact tables' first adversarial exposure. Divergence classes:
#: NULL measures ranked NULLS-FIRST by Spark and NULLS-LAST by DuckDB
#: (the whole percentile/NTILE/sweep-line family), NULL group keys
#: dropped by plain equi-joins but kept by windows/GROUP BY (spearman,
#: fulfillment), NULL FKs counted as orphans by anti-joins but ignored
#: by NOT IN (gdpr), duplicate-PK snapshot rows making synthetic-batch
#: max_by tie-breaks engine-arbitrary (cdc/scd2) and fanning pointer
#: doubling out geometrically (hierarchy), a phantom NULL graph node
#: soaking up PageRank mass, NULL-unsafe payload compares (snapshot
#: diff), and a missing <NULL> sentinel in the reconcile oracle.
NULLFACT_ENTRIES = [
    "diag_layout_zonemap", "agg_weighted_percentiles",
    "benford_price_audit", "cdc_apply_customers",
    "scd2_apply_customers", "graph_pagerank_top",
    "snapshot_diff_customers", "migrate_reconcile_customers",
    "window_ntile_scalable", "orders_open_backlog_daily",
    "orders_monthly_growth", "basket_part_affinity",
    "graph_hierarchy_depths", "scale_zorder_zvalues",
    "approx_quantiles", "agg_percentiles", "agg_histogram_equi_depth",
    "gdpr_delete_cascade", "orders_fulfillment_latency",
    "agg_median_ci", "orders_cohort_ltv", "stat_spearman_corr",
]


@pytest.fixture(scope="module")
def nullfact_dir(spark, sf_dir, tmp_path_factory):
    """Corrupted-facts fixture at sf0.001 via the probe tool's builder
    (the same code path the standing gate uses)."""
    import tools.degenerate_probe as dp

    base = str(tmp_path_factory.mktemp("sf_nullfact_r12"))
    dp.build_fixture(spark, sf_dir, base, "nullfact")
    return base


def _oracle_rows(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    res = con.sql(sql)
    cols = list(res.columns)
    rows = res.fetchall()
    con.close()
    return cols, rows


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


class TestCorruptedFactsParity:
    """Every formerly-divergent entry must hash-match its DuckDB oracle
    on the corrupted-facts fixture (and stay green on clean data — the
    full sf0.01 sweep covers that side)."""

    @pytest.mark.parametrize("name", NULLFACT_ENTRIES)
    def test_entry_matches_oracle_on_nullfact(self, spark, nullfact_dir,
                                              name):
        from __spark_entry__ import oracle_sql, queries

        df = queries()[name](spark, nullfact_dir)
        srows = [tuple(r) for r in df.collect()]
        ocols, orows = _oracle_rows(oracle_sql()[name], nullfact_dir)
        assert sorted(df.columns) == sorted(ocols), (df.columns, ocols)
        assert _canon(df.columns, srows) == _canon(ocols, orows), \
            f"{name}: value mismatch on corrupted-facts fixture"


#: The vector-consumer entries swept against the POISONED fixture
#: (NaN / ±Inf / 1e30 / all-zero embedding components — r11 ADVICE 1
#: closed at the oracle level in r12): the finite-vector clause
#: (ld_vecs) and the zero-norm directional clause (ld_vecs_dir, cosine
#: scorers only) are mirrored in every oracle, so the whole family
#: hash-matches DuckDB on corrupted vector payloads. Scoped to the
#: embedding family: the poisoned fixture also corrupts event VALUES
#: with NaN/Inf, whose cross-engine float-formatting differences are a
#: separate (unpinned) surface.
POISONED_VEC_ENTRIES = [
    "ann_brute_force_topk", "ann_lsh_topk", "ann_ivf_topk",
    "ann_pq_topk", "ann_ivf_pq_topk", "ann_pq_encode",
    "embedding_kmeans_clusters", "embedding_covariance",
    "embedding_pca_project", "embedding_source_drift",
    "embedding_triplet_margin", "dedup_semdedup",
    "dedup_embedding_cosine", "dedup_embedding_blocked",
    "rerank_ann_shortlist",
]


@pytest.fixture(scope="module")
def poisoned_dir(spark, sf_dir, tmp_path_factory):
    """Poisoned fixture at sf0.001 via the probe tool's builder."""
    import tools.degenerate_probe as dp

    base = str(tmp_path_factory.mktemp("sf_poisoned_r12"))
    dp.build_fixture(spark, sf_dir, base, "poisoned")
    return base


class TestPoisonedVectorParity:
    """Every vector-family entry must hash-match its DuckDB oracle on
    the poisoned (non-finite / huge / zero-norm components) fixture —
    the oracle-level closure of r11 ADVICE 1. The sharpest trap: a
    ZERO-NORM vector is finite (survives the ld_vecs filter) but has no
    direction — Spark/numpy propagate 0/0 cosine as NaN, which ranks
    ABOVE every real score in a descending Spark sort, while DuckDB's
    list_cosine_similarity clamps — so cosine scorers ride ld_vecs_dir
    and their oracles carry the list_dot_product(e,e) > 0 mirror."""

    @pytest.mark.parametrize("name", POISONED_VEC_ENTRIES)
    def test_entry_matches_oracle_on_poisoned(self, spark, poisoned_dir,
                                              name):
        from __spark_entry__ import oracle_sql, queries

        df = queries()[name](spark, poisoned_dir)
        srows = [tuple(r) for r in df.collect()]
        ocols, orows = _oracle_rows(oracle_sql()[name], poisoned_dir)
        assert sorted(df.columns) == sorted(ocols), (df.columns, ocols)
        assert _canon(df.columns, srows) == _canon(ocols, orows), \
            f"{name}: value mismatch on poisoned fixture"

    def test_zero_norm_vector_is_directionless(self, spark):
        """ld_vecs_dir drops exactly the zero-norm rows ld_vecs keeps."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (  # noqa: E501
            ld_vecs, ld_vecs_dir,
        )
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0),
                 (3, None, 0), (4, [float("nan"), 1.0], 0)],
                "vec_id bigint, embedding array<float>, label int"
            ).write.parquet(f"{td}/embeddings.parquet")
            plain = {r.vec_id for r in ld_vecs(spark, td).collect()}
            direc = {r.vec_id for r in ld_vecs_dir(spark, td).collect()}
        assert plain == {1, 2}
        assert direc == {2}


class TestNullfactSemanticsUnits:
    """The sharpest individual r12 semantic decisions, on hand-built
    frames — fast, local failure messages for the parity class above."""

    def test_asc_null_ordering_diverges_between_engines(self, spark):
        """The trap behind the whole percentile family: Spark ranks
        ascending NULLS FIRST, DuckDB NULLS LAST — any rank over a
        nullable measure diverges unless NULLs are excluded."""
        rows = [r.x for r in
                spark.createDataFrame([(2,), (None,), (1,)], "x int")
                .orderBy(F.asc("x")).collect()]
        assert rows == [None, 1, 2]            # Spark: NULLS FIRST
        dd = [r[0] for r in duckdb.sql(
            "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x"
        ).fetchall()]
        assert dd == [1, 2, None]              # DuckDB: NULLS LAST

    def test_anti_join_keeps_null_keys_not_in_drops_them(self, spark):
        """The gdpr orphan trap: a NULL FK survives a LEFT ANTI join
        (counted as an orphan) but NOT IN maps it to NULL (dropped) —
        the contract exempts NULL FKs from referential checks."""
        child = spark.createDataFrame([(1,), (None,)], "fk int")
        parent = spark.createDataFrame([(1,)], "fk int")
        anti = child.join(parent, "fk", "left_anti").count()
        assert anti == 1                        # NULL kept by anti-join
        ni = duckdb.sql(
            "SELECT COUNT(*) FROM (VALUES (1),(NULL)) c(fk) "
            "WHERE fk NOT IN (SELECT 1)").fetchone()[0]
        assert ni == 0                          # NULL dropped by NOT IN

    def test_per_key_reduction_is_identity_on_unique_pk(self, spark):
        """The cdc/scd2 fix derives synthetic change batches via
        per-column MIN/MAX grouped by key: on unique-PK data that is the
        row itself (clean-fixture outputs unchanged), on duplicate-PK
        data it is deterministic where max_by's tie-break is not."""
        df = spark.createDataFrame(
            [(1, "a", 5.0), (2, "b", None)], "k int, s string, v double")
        red = (df.groupBy("k")
               .agg(F.min("s").alias("s"), F.max("v").alias("v"))
               .orderBy("k").collect())
        assert [tuple(r) for r in red] == [(1, "a", 5.0), (2, "b", None)]


class TestAdviceClosuresR12:
    """The r11 ADVICE items closed in round 12 whose code remains."""

    def test_vec_filter_sql_mirror_agrees_with_ld_vecs(self, spark,
                                                       tmp_path):
        """ADVICE 1: ld_vecs drops NULL / NaN / ±Inf / |x|>1e6 vectors
        (and vectors with NULL elements — exists() over a NULL element
        is NULL, so the row is filtered); the embedding oracles now
        mirror the FULL clause (``len(list_filter(e, x -> x IS NULL OR
        isnan(x) OR abs(x) > 1e6)) = 0``), not just ``IS NOT NULL``.
        Pin engine agreement on a poisoned mini-corpus."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (  # noqa: E501
            ld_vecs,
        )

        rows = [
            (1, [1.0, 2.0], 0),
            (2, [float("nan"), 1.0], 0),
            (3, [float("inf"), 1.0], 0),
            (4, [1e8, 1.0], 0),
            (5, [None, 1.0], 0),
            (6, None, 0),
            (7, [-2e6, 1.0], 0),
            (8, [0.5, -0.5], 1),
        ]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int")
        out = str(tmp_path / "embeddings.parquet")
        df.write.parquet(out)
        kept = sorted(r.vec_id for r in
                      ld_vecs(spark, str(tmp_path)).collect())
        con = duckdb.connect()
        oracle = sorted(r[0] for r in con.sql(
            f"SELECT vec_id FROM read_parquet('{out}/*.parquet') "
            "WHERE embedding IS NOT NULL AND len(list_filter(embedding,"
            " x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0"
        ).fetchall())
        con.close()
        assert kept == oracle == [1, 8]

    def test_bloom_n_corpus_rides_ld_docs(self):
        """ADVICE 2: the fpp bound's n must count the bloom's actual
        (NULL-text-filtered) corpus — source-pinned so a revert to the
        unfiltered ld() shows up here."""
        import inspect

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (  # noqa: E501
            dedup_bloom_prefilter_checked,
        )

        src = inspect.getsource(dedup_bloom_prefilter_checked)
        assert "ld_docs(spark, sf_dir)" in src
        assert 'ld(spark, sf_dir, "documents")' not in src

    def test_provider_check_skips_static_init(self):
        """ADVICE 4: the capability check resolves classes with the
        three-arg Class.forName (initialize=false) so checking never
        runs a provider's static initializers."""
        import inspect

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming import (
            events,
        )

        src = inspect.getsource(events._provider_is_rocksdb)
        assert "Class.forName(provider, False, loader)" in src
        assert "getContextOrSparkClassLoader" in src

    def test_persist_inventory_uses_qualified_names(self):
        """ADVICE 5: nested closures key the driver-side inventory by
        outer.inner so two nested 'sink's stay distinguishable."""
        from tests.test_round9 import TestDriverSideInventory

        inv, _ = TestDriverSideInventory._inventory()
        keys = {k[1] for k in inv}
        assert "upsert_latest_state.sink" in keys
        assert "sink" not in keys

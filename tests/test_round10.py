"""Round-10 contracts: the corrupted-events (NULL ts / user_id / value)
NULL-semantics closure over the 14 batch sequence/window entries the r9
verdict disclosed, checkpoint/cache hygiene on the reliable seam, and
the two streaming-layout ADVICE hardenings.

The corrupted-events fixture is the ``TestStreamingNullContract.
nullev_dir`` rule, now also buildable standalone via
``tools/degenerate_probe.py build nullev <dir>`` — the FOURTH standing
adversarial oracle gate beside dupflood / skewed / the legacy probes.
These tests pin the individual semantic decisions so a regression fails
fast and locally; the full 292-entry sweep against the fixture is the
closing-protocol gate.
"""

import gc
import os
import time

import duckdb
import pytest
from pyspark.sql import functions as F

NULLEV_ENTRIES = [
    # the 14 r9-disclosed residue entries, all closed in r10
    "events_locf_daily", "events_linear_interp_daily", "events_twap",
    "events_interval_islands", "events_session_attribution",
    "events_asof_last_click", "events_winsorize_clip",
    "events_user_lifecycle", "events_interarrival_stats",
    "rollup_incremental_refresh", "udtf_table_arg_sessionize",
    "kmv_set_ops", "scalar_xml_fns", "audience_overlap_matrix",
]


@pytest.fixture(scope="module")
def nullev_dir(spark, sf_dir, tmp_path_factory):
    """Corrupted-events fixture at sf0.001 via the probe tool's builder
    (the same code path the standing gate uses)."""
    import tools.degenerate_probe as dp

    base = str(tmp_path_factory.mktemp("sf_nullev_r10"))
    dp.build_fixture(spark, sf_dir, base, "nullev")
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


class TestCorruptedEventsParity:
    """Every one of the 14 formerly-divergent entries must hash-match
    its DuckDB oracle on the corrupted-events fixture (and stay green on
    clean data — the full sf0.01 sweep covers that side)."""

    @pytest.mark.parametrize("name", NULLEV_ENTRIES)
    def test_entry_matches_oracle_on_nullev(self, spark, nullev_dir, name):
        from __spark_entry__ import oracle_sql, queries

        df = queries()[name](spark, nullev_dir)
        srows = [tuple(r) for r in df.collect()]
        ocols, orows = _oracle_rows(oracle_sql()[name], nullev_dir)
        assert sorted(df.columns) == sorted(ocols), (df.columns, ocols)
        assert _canon(df.columns, srows) == _canon(ocols, orows), \
            f"{name}: value mismatch on corrupted-events fixture"


class TestNullSemanticsUnits:
    """The individual r10 semantic decisions, on hand-built frames —
    fast, local failure messages for the parity class above."""

    def test_maxby_null_mask_matches_argmax(self, spark):
        """A NULL observation is not an observation: the masked-key
        max_by must skip NULL-value rows exactly like DuckDB arg_max
        (the LOCF/interp daily-grid rule)."""
        df = spark.createDataFrame(
            [(1, None, 9), (1, 2.0, 3), (2, None, 1)],
            "g int, v double, k int")
        got = (df.groupBy("g")
               .agg(F.max_by("v", F.when(F.col("v").isNotNull(),
                                         F.col("k"))).alias("mv"))
               .orderBy("g").collect())
        assert [(r.g, r.mv) for r in got] == [(1, 2.0), (2, None)]

    def test_islands_null_ts_folds_into_last_island(self, spark):
        """asc_nulls_last in _user_islands: a NULL-ts event joins the
        user's LAST island instead of opening a phantom one."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.eventtime import (  # noqa: E501
            _user_islands,
        )

        ev = spark.createDataFrame(
            [(1, 10, "2024-01-01 00:00:00"),
             (1, 11, "2024-01-01 00:05:00"),
             (1, 12, None)],
            "user_id bigint, event_id bigint, s string",
        ).select("user_id", "event_id", F.col("s").cast("timestamp")
                 .alias("ts"))
        out = _user_islands(ev, 10 * 60_000_000).collect()
        assert len(out) == 1, out          # ONE island, not two
        assert out[0].n_events == 3        # NULL-ts row folded in

    def test_sessionize_ptf_emits_null_user_partition(self, spark, sf_dir):
        """The PTF must emit the NULL-user partition (uid None) and
        count a session per NULL-gap row — the shared window oracle's
        CASE WHEN gap IS NULL rule."""
        from __spark_entry__ import queries

        ev = spark.createDataFrame(
            [(1, None, "2024-01-01 00:00:00"),
             (2, None, None),
             (3, 7, "2024-01-01 00:10:00")],
            "event_id bigint, user_id bigint, s string",
        ).select("event_id", "user_id",
                 F.col("s").cast("timestamp").alias("ts"),
                 F.lit("view").alias("event_type"),
                 F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
        import tempfile
        d = tempfile.mkdtemp(prefix="ptf_nullev_")
        ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        rows = {r.user_id: (r.n_sessions, r.n_events)
                for r in queries()["udtf_table_arg_sessionize"](spark, d)
                .collect()}
        assert rows[None] == (2, 2)   # real-ts row + NULL-ts row, 2 sessions
        assert rows[7] == (1, 1)

    def test_winsorize_null_cut_counts_zero(self, spark, sf_dir):
        """n_clipped_hi must be 0 (CASE ... ELSE 0), never NULL, when the
        upper cut is NULL (all-NULL tail) — exercised end-to-end by the
        parity class; here just the no-NULL-output invariant."""
        from __spark_entry__ import queries

        rows = queries()["events_winsorize_clip"](spark, sf_dir).collect()
        assert all(r.n_clipped_lo is not None and r.n_clipped_hi is not None
                   for r in rows)


class TestCheckpointHygiene:
    """r10 ADVICE closure: get_spark must set
    spark.cleaner.referenceTracking.cleanCheckpoints so pin_boundaries'
    reliable checkpoints are cleaner-managed, and the dedup report
    entries must release their DISK_ONLY intermediates before returning
    (persist without unpersist is CacheManager-pinned forever)."""

    def test_clean_checkpoints_conf_set(self, spark):
        assert spark.conf.get(
            "spark.cleaner.referenceTracking.cleanCheckpoints") == "true"

    def test_no_disk_only_residue_after_cluster_entries(self, spark,
                                                        sf_dir):
        """The five r9 persist(DISK_ONLY) sites in the cluster/report
        path must all be unpersisted by the time the entry returns: any
        DISK_ONLY block still registered afterwards is the leak the
        ADVICE flagged. (pin() blocks are MEMORY_AND_DISK and GC-scoped
        — excluded from the assertion.)"""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )

        def disk_only_ids():
            jsc = spark.sparkContext._jsc.sc()
            return {
                i.id(): i.name() for i in jsc.getRDDStorageInfo()
                if i.storageLevel().useDisk()
                and not i.storageLevel().useMemory()
            }

        # Diff before/after: other entries in the shared session may
        # legitimately hold their own (pre-existing-style) DISK_ONLY
        # pins — this test owns only the blocks ITS two entries create
        # (r10 review find: a global zero assertion is order-dependent).
        before = set(disk_only_ids())
        dedup.dedup_clusters(spark, sf_dir).collect()
        dedup.corpus_neardup_report(spark, sf_dir).collect()
        after = disk_only_ids()
        leaked = {i: n for i, n in after.items() if i not in before}
        assert leaked == {}, f"DISK_ONLY blocks leaked: {leaked}"

    def test_reliable_pin_leaves_no_growing_checkpoint_residue(
            self, spark, sf_dir, tmp_path):
        """With a checkpoint dir configured, repeated pinned fixpoint
        loops must not accumulate checkpoint files unboundedly: the
        cleaner deletes a pin's files once its RDD is GC'd."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (  # noqa: E501
            connected_components,
        )

        sc = spark.sparkContext
        ckdir = str(tmp_path / "ck")
        sc.setCheckpointDir(ckdir)
        try:
            def n_files():
                total = 0
                for root, _dirs, files in os.walk(ckdir):
                    total += len(files)
                return total

            def run():
                nodes = spark.range(0, 40).selectExpr("id")
                edges = spark.range(0, 39).selectExpr(
                    "id AS id1", "id + 1 AS id2")
                connected_components(nodes, edges).collect()

            run()
            first = n_files()
            assert first > 0, "reliable pin did not checkpoint"
            for _ in range(3):
                run()
            # the per-run label frames go unreferenced as each run
            # ends; the async ContextCleaner needs a GC nudge and a
            # grace period before the files disappear
            deadline = time.time() + 60
            low = None
            while time.time() < deadline:
                gc.collect()
                spark._jvm.System.gc()
                low = n_files()
                if low <= 2 * first:
                    break
                time.sleep(2)
            if low is None or low > 2 * first:
                # System.gc() is ADVISORY: a JVM with explicit GC
                # disabled (or under no memory pressure) may simply not
                # collect inside the window — that is an environment
                # property, not a cleaner-wiring failure, and the conf
                # assertion above is the hard gate (r10 review find:
                # hard-failing here is flaky by construction).
                pytest.skip(
                    f"JVM performed no GC within 60 s ({first} files "
                    f"after run 1, {low} after 4 runs) — cleaner "
                    "wiring asserted via the conf test; residue check "
                    "inconclusive in this environment")
        finally:
            sc.setCheckpointDir(None)


class TestStreamingLayoutHardening:
    """r10 ADVICE closures in streaming/events.py."""

    def test_hadoop_is_dir_refuses_remote_guess(self):
        """Without a JVM gateway, a remote URI must raise loudly instead
        of os.path-guessing False (which silently selects the glob
        branch and streams zero rows)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            _hadoop_is_dir,
        )

        class _NoJvm:
            @property
            def sparkContext(self):
                raise AttributeError("mocked session has no JVM")

        with pytest.raises(ValueError, match="remote path"):
            _hadoop_is_dir(_NoJvm(), "s3a://bucket/events.parquet")
        # the equally legal single-slash Hadoop URI form must ALSO be
        # refused (r10 review find: a '://'-only check let it fall
        # through to an os.path False → silent zero-row glob branch)
        with pytest.raises(ValueError, match="remote path"):
            _hadoop_is_dir(_NoJvm(), "hdfs:/warehouse/events.parquet")
        # local paths still take the os.path fallback, both forms
        assert _hadoop_is_dir(_NoJvm(), "/tmp") is True
        assert _hadoop_is_dir(_NoJvm(), "file:/tmp") is True

    def test_transform_with_state_gate_requires_canonical_provider(
            self, spark):
        """The gate must compare against the canonical RocksDB provider
        CLASS, not a substring: a wrapper class merely mentioning
        RocksDB is not the built-in provider."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            supports_transform_with_state,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, None)
        try:
            spark.conf.set(key, "com.vendor.NotReallyRocksDBProvider")
            assert supports_transform_with_state() is False
        finally:
            if old:
                spark.conf.set(key, old)
            else:
                spark.conf.unset(key)

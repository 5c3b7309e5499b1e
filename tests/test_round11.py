"""Round-11 closures.

1. The four r10 ADVICE items.
2. Size-derived drain state partitioning (verdict task 3).
3. The corrupted-DOCUMENTS gate (verdict task 8): the FIFTH standing
   adversarial oracle fixture (NULL/empty text, NULL source/lang, NULL
   embedding/label) and the 30 formerly-divergent entries it exposed,
   each now hash-matching DuckDB on the corrupted corpus.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

#: The 30 entries the first nulldoc sweep (r11) found divergent — two
#: genuine Spark-side contract violations (rerank crashed on NULL
#: candidate text; incremental minhash crashed in the shingle UDF and
#: its exact-dup census missed shingle-less twins), one DuckDB crash
#: (list_inner_product over NULL), the xxhash64(NULL)=seed trap in the
#: bloom prefilter, a NULL-source group dropped by a plain equi-join in
#: quantile calibration, NULL-label triplet anchors, and 24 oracles
#: that predated the ld_docs/ld_vecs corrupted-shard contract.
NULLDOC_ENTRIES = [
    "corpus_chunk_overlap", "dedup_semdedup", "ann_pq_encode",
    "corpus_pack_global_stream", "dedup_incremental_minhash",
    "embedding_pca_project", "ann_ivf_pq_topk", "ann_ivf_topk",
    "multimodal_features", "ann_pq_topk", "sample_per_group_topn",
    "text_fingerprint", "multimodal_metadata", "embedding_covariance",
    "ann_brute_force_topk", "multimodal_resize", "dedup_simhash",
    "dedup_embedding_blocked", "ann_lsh_topk", "rerank_ann_shortlist",
    "corpus_curation_report", "embedding_kmeans_clusters",
    "multimodal_audio_energy", "multimodal_image_stats",
    "retrieval_bm25_topk", "quality_quantile_calibrate",
    "embedding_source_drift", "multimodal_phash_neardup",
    "embedding_triplet_margin", "dedup_bloom_prefilter",
]


@pytest.fixture(scope="module")
def nulldoc_dir(spark, sf_dir, tmp_path_factory):
    """Corrupted-documents fixture at sf0.001 via the probe tool's
    builder (the same code path the standing gate uses)."""
    import tools.degenerate_probe as dp

    base = str(tmp_path_factory.mktemp("sf_nulldoc_r11"))
    dp.build_fixture(spark, sf_dir, base, "nulldoc")
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


class TestCorruptedDocsParity:
    """Every formerly-divergent entry must hash-match its DuckDB oracle
    on the corrupted-documents fixture (and stay green on clean data —
    the full sf0.01 sweep covers that side)."""

    @pytest.mark.parametrize("name", NULLDOC_ENTRIES)
    def test_entry_matches_oracle_on_nulldoc(self, spark, nulldoc_dir,
                                             name):
        from __spark_entry__ import oracle_sql, queries

        df = queries()[name](spark, nulldoc_dir)
        srows = [tuple(r) for r in df.collect()]
        ocols, orows = _oracle_rows(oracle_sql()[name], nulldoc_dir)
        assert sorted(df.columns) == sorted(ocols), (df.columns, ocols)
        assert _canon(df.columns, srows) == _canon(ocols, orows), \
            f"{name}: value mismatch on corrupted-documents fixture"


class TestNulldocSemanticsUnits:
    """The sharpest individual r11 semantic decisions, on hand-built
    frames — fast, local failure messages for the parity class above."""

    def test_xxhash64_null_is_seed_constant(self, spark):
        """The trap behind the bloom-prefilter fix: Spark's xxhash64
        maps every NULL input to the SEED constant, so two NULL-text
        docs silently hash-collide as 'duplicates' unless NULL rows are
        filtered before hashing."""
        rows = (spark.createDataFrame([(None,), (None,), ("x",)],
                                      "t string")
                .select(F.xxhash64("t").alias("h")).collect())
        assert rows[0].h == rows[1].h          # NULLs collide...
        assert rows[0].h is not None           # ...on a real value
        assert rows[0].h != rows[2].h

    def test_struct_key_join_keeps_null_group(self, spark):
        """The calibrate fix: a plain equi-join on the group key drops
        NULL groups; the struct-packed key compares NULL fields as
        equal (GROUP BY semantics) and keeps them."""
        left = spark.createDataFrame([("a", 1), (None, 2)],
                                     "k string, v int")
        ns = left.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        plain = left.join(ns, "k")
        assert plain.count() == 1              # NULL group dropped
        packed = (left.withColumn("__k", F.struct("k"))
                  .join(ns.withColumn("__k", F.struct("k")).drop("k"),
                        "__k"))
        assert packed.count() == 2             # NULL group kept


class TestAdviceClosuresR11:
    """The four r10 ADVICE items, closed in round 11."""

    def test_file_uri_remote_host_refused(self):
        """'file://host/path' names a REMOTE host: the no-JVM fallback
        must fail loudly like the other remote schemes instead of
        silently answering for the local '/path'."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            _hadoop_is_dir,
        )

        class _NoJvm:
            @property
            def sparkContext(self):
                raise AttributeError("mocked session has no JVM")

        with pytest.raises(ValueError, match="remote host"):
            _hadoop_is_dir(_NoJvm(), "file://nas01/warehouse/events")
        # the three local spellings still answer via os.path
        assert _hadoop_is_dir(_NoJvm(), "/tmp") is True
        assert _hadoop_is_dir(_NoJvm(), "file:/tmp") is True
        assert _hadoop_is_dir(_NoJvm(), "file://localhost/tmp") is True

    def test_provider_gate_accepts_subclasses_rejects_others(self, spark):
        """The transformWithState gate resolves non-exact provider names
        on the JVM: a loadable class that is NOT assignable to the
        built-in RocksDB provider (e.g. the HDFS-backed provider) is
        rejected; unloadable names are rejected; the exact built-in
        passes without a JVM round-trip."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            _ROCKSDB_PROVIDER,
            _provider_is_rocksdb,
        )

        assert _provider_is_rocksdb(spark, _ROCKSDB_PROVIDER) is True
        assert _provider_is_rocksdb(
            spark, "org.apache.spark.sql.execution.streaming.state"
                   ".HDFSBackedStateStoreProvider") is False
        assert _provider_is_rocksdb(
            spark, "com.vendor.NotReallyRocksDBProvider") is False
        assert _provider_is_rocksdb(spark, "") is False
        # isAssignableFrom is reflexive on the JVM — the subclass path
        # itself answers True for the built-in, so a genuine subclass
        # (same assignability relation) passes the same check
        jvm = spark.sparkContext._jvm
        base = jvm.java.lang.Class.forName(_ROCKSDB_PROVIDER)
        assert bool(base.isAssignableFrom(base)) is True


class TestCollisionBranchExactness:
    """r10 ADVICE item 4: the collapse's 64-bit-collision fallback must
    (a) stay output-exact and (b) read ``sized``'s persisted blocks —
    not replay the shingle-UDF lineage — now that the unpersist is
    deferred past the collision decision. Forcing EVERY set into one
    hash bucket (constant xxhash64) routes the whole corpus through the
    rare branch, the strongest exactness check the branch can get."""

    def test_forced_collision_branch_matches_normal_path(
            self, spark, sf_dir, monkeypatch):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )
        from pyspark.sql import functions as F

        sh = dedup.doc_shingles(spark, sf_dir)
        member_n, reps_n = dedup.exact_collapse_shingles(sh)
        want_member = {(r.doc_id, r.rep_id) for r in member_n.collect()}
        want_reps = {r.doc_id for r in reps_n.collect()}

        real_xxhash64 = F.xxhash64
        monkeypatch.setattr(
            dedup.F, "xxhash64",
            lambda *cols: F.lit(1).cast("bigint"))
        try:
            member_c, reps_c = dedup.exact_collapse_shingles(sh)
            got_member = {(r.doc_id, r.rep_id)
                          for r in member_c.collect()}
            got_reps = {r.doc_id for r in reps_c.collect()}
        finally:
            monkeypatch.setattr(dedup.F, "xxhash64", real_xxhash64)
        assert got_member == want_member
        assert got_reps == want_reps


class TestDrainStatePartitions:
    """r10 verdict task 3: the two stream-stream join drains were the
    registry's most expensive entries because EVERY state-store
    partition pays a fixed open/commit cost per micro-batch — 4 stores
    × 32 partitions dwarfed the actual state work at sf0.1 (measured:
    ~96 % of summed task time in store bookkeeping). Drains now derive
    their state-partition count from source size (fresh checkpoint per
    drain ⇒ free to choose), floored at 8, capped at the session
    default: small fixtures shrink, a 100 TB landing dir keeps the
    cluster width."""

    def test_size_derivation_floor_and_cap(self, spark, sf_dir, tmp_path):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            suggest_state_partitions,
        )

        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # the sf0.001/0.01/0.1 fixtures are all < 64 MiB -> the floor,
        # itself capped at the session default (4 on a 4-core host)
        assert suggest_state_partitions(spark, sf_dir) == min(8, default)
        # missing source (non-local storage shape) -> session default
        assert suggest_state_partitions(
            spark, str(tmp_path / "nope")) == default
        # a synthetic big file caps at the session default, never above
        big = tmp_path / "events.parquet"
        big.write_bytes(b"\0" * (9 << 20))           # 9 MiB -> ceil = 2
        assert suggest_state_partitions(spark, str(tmp_path)) == min(8, default)
        with open(big, "wb") as fh:
            fh.truncate((8 << 20) * (default + 5))   # default+5 ceil
        assert suggest_state_partitions(spark, str(tmp_path)) == default
        # the cap must hold even BELOW the floor: a session width of 4
        # stays 4 — the helper never widens (r11 review find)
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "4")
            assert suggest_state_partitions(spark, str(tmp_path)) == 4
        finally:
            spark.conf.set(key, old)

    def test_drain_conf_restores_session_setting(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming.events import (  # noqa: E501
            drain_conf,
        )

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with drain_conf(spark, sf_dir):
            # the floor of 8, capped at the session default
            assert spark.conf.get(key) == str(min(8, int(before)))
        assert spark.conf.get(key) == before
        # restore happens on the exception path too
        with pytest.raises(RuntimeError, match="boom"):
            with drain_conf(spark, sf_dir):
                raise RuntimeError("boom")
        assert spark.conf.get(key) == before


class TestCollisionBranchExactnessResidue:
    def test_no_disk_only_residue_after_collapse(self, spark, sf_dir):
        """Both collision branches release sized's DISK_ONLY blocks
        before returning (the deferred-unpersist rewrite must not trade
        the perf cliff for a session-lifetime block leak)."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            dedup,
        )

        def disk_only_count():
            jsc = spark.sparkContext._jsc.sc()
            return sum(1 for i in jsc.getRDDStorageInfo()
                       if i.storageLevel().useDisk()
                       and not i.storageLevel().useMemory())

        before = disk_only_count()
        member, _ = dedup.exact_collapse_shingles(
            dedup.doc_shingles(spark, sf_dir))
        member.count()
        assert disk_only_count() == before

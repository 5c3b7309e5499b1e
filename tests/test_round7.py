"""Round-7 hardening: multi-batch state-restore contracts for every
update-mode streaming drain (the r6 ADVICE bug class), the P² warm-up
buffer restore fix, fixpoint semantics for every iterative loop
(k-core, label propagation, pointer doubling — guardrails RAISE, never
return partial answers), the overflow-safe 2×2 chi², the Iceberg write
branch exercised without the runtime jar, the round-7 driver-window
rotation pin, the rank-statistics debuts (replays + tie-heavy
hypothesis properties), the low-cardinality-window purge
(grouped_ranks equivalence + zero-WindowExec plan pins), and
ANSI-mode degenerate inputs returning NULL instead of job aborts."""

import time

import pytest
from pyspark.sql import functions as F

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.streaming import (
    events as ev,
)


def _time_split_files(spark, sf_dir, out_dir, n_files=4):
    """Materialize the events table as ``n_files`` parquet files covering
    consecutive (ts, event_id) ranges, written oldest-range-first so the
    file stream source (which orders the backlog by modification time)
    replays them in global sort order: a maxFilesPerTrigger=1 drain then
    feeds every stateful operator the EXACT row sequence of the
    single-batch drain, making final state comparable batch-count-
    independently. Test-only splitter — the un-partitioned NTILE window
    is fine over the fixture's few thousand rows."""
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
        load_events,
    )

    e = load_events(spark, sf_dir)
    ranked = e.selectExpr(
        f"ntile({n_files}) OVER (ORDER BY ts, event_id) AS __f", "*")
    for i in range(1, n_files + 1):
        (ranked.filter(F.col("__f") == i).drop("__f").coalesce(1)
         .write.mode("append").parquet(out_dir))
        time.sleep(0.05)        # distinct mtimes → deterministic order
    return out_dir


def _stream_one_file_per_batch(spark, src_dir):
    schema = spark.read.parquet(src_dir).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir))


def _drain(spark, stream_df, name, tmp_path, mode="update"):
    q = ev.run_available_now(stream_df, name, str(tmp_path / name),
                             mode=mode)
    try:
        return spark.table(name).collect()
    finally:
        q.stop()


class TestMultiBatchDrains:
    """The r6 heavy-hitter stale-snapshot bug class: every update-mode
    memory-sink drain keeps rows from EARLIER snapshots, and every
    stateful operator must restore state losslessly between micro-
    batches. Each test replays the feed as one-file micro-batches and
    pins the deduped result against the single-batch registry entry."""

    def test_user_stats_multibatch_equals_single(self, spark, sf_dir,
                                                 tmp_path):
        src = _time_split_files(spark, sf_dir, str(tmp_path / "ev_us"))
        rows = _drain(spark, ev.user_running_stats(
            _stream_one_file_per_batch(spark, src)), "t_us_mb", tmp_path)
        got = {}
        for r in rows:                       # keep max-n snapshot per key
            if r.n_events >= got.get(r.user_id, (0, 0.0))[0]:
                got[r.user_id] = (r.n_events, r.total_value)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational import (
            load_events,
        )
        exp = {r.user_id: (r.n, r.total) for r in
               (load_events(spark, sf_dir).groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("value").alias("total"))).collect()}
        assert set(got) == set(exp)
        for uid, (n, total) in exp.items():
            assert got[uid][0] == n
            assert got[uid][1] == pytest.approx(total, rel=1e-9)

    def test_heavy_hitters_multibatch_equals_single(self, spark, sf_dir,
                                                    tmp_path):
        """MG counters are arrival-order-dependent; the time-range file
        split preserves the single-batch (ts, event_id) order, so the
        multi-batch final snapshot must be IDENTICAL (integer-exact) to
        the one-batch drain the registry entry performs."""
        src = _time_split_files(spark, sf_dir, str(tmp_path / "ev_mg"))
        rows = _drain(spark, ev.heavy_hitter_users(
            _stream_one_file_per_batch(spark, src)), "t_mg_mb", tmp_path)
        by_type = {}
        for r in rows:                       # keep max-snap set per key
            cur = by_type.setdefault(r.event_type, (0, {}))
            if r.snap > cur[0]:
                by_type[r.event_type] = (r.snap, {r.user_id: r.mg_count})
            elif r.snap == cur[0]:
                cur[1][r.user_id] = r.mg_count
        got = {(et, u): c for et, (_, m) in by_type.items()
               for u, c in m.items()}
        single = _drain(spark, ev.heavy_hitter_users(
            ev.read_events_stream(spark, sf_dir)), "t_mg_sb", tmp_path)
        max_snap = {}
        for r in single:
            max_snap[r.event_type] = max(max_snap.get(r.event_type, 0),
                                         r.snap)
        exp = {(r.event_type, r.user_id): r.mg_count for r in single
               if r.snap == max_snap[r.event_type]}
        assert got == exp

    def test_p2_quantile_multibatch_equals_single(self, spark, sf_dir,
                                                  tmp_path):
        src = _time_split_files(spark, sf_dir, str(tmp_path / "ev_p2"))
        rows = _drain(spark, ev.p2_quantile_estimates(
            _stream_one_file_per_batch(spark, src)), "t_p2_mb", tmp_path,
            mode="append")
        got = {}
        for r in rows:                       # keep max-n snapshot per key
            if r.n_seen >= got.get(r.event_type, (0, 0.0))[0]:
                got[r.event_type] = (r.n_seen, r.q_estimate)
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
            _streaming_p2_final,
        )
        exp = {r.event_type: (r.n_seen, r.q_estimate) for r in
               _streaming_p2_final(spark, sf_dir).collect()}
        assert set(got) == set(exp)
        for et, (n, est) in exp.items():
            assert got[et][0] == n
            # identical marker trajectory → identical float (entry
            # rounds to 9; the raw drain here does not)
            assert round(got[et][1], 9) == pytest.approx(est, abs=1e-12)


class TestP2WarmupRestore:
    def test_sparse_key_crosses_warmup_across_batches(self, spark,
                                                      tmp_path):
        """The r6 ADVICE medium: a key saved mid-warm-up (n < 5) stores
        its buffer in the h1..hn marker slots; the restore must rebuild
        the buffer or the n==5 transition sorts fewer than five markers
        and the next observation indexes past hs[4]. Two rows per
        micro-batch × three batches crosses n==5 exactly at the restore
        boundary — this test IndexErrors (query aborts) without the
        fix."""
        import datetime

        sparse = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        dense = [float(i % 11) for i in range(30)]
        base = datetime.datetime(2024, 1, 1)
        src = str(tmp_path / "sparse_src")
        eid = 0
        for b in range(3):
            rows = []
            for x in sparse[2 * b:2 * b + 2]:
                rows.append(("sparse", eid,
                             base + datetime.timedelta(seconds=eid), x))
                eid += 1
            for x in dense[10 * b:10 * b + 10]:
                rows.append(("dense", eid,
                             base + datetime.timedelta(seconds=eid), x))
                eid += 1
            (spark.createDataFrame(
                rows, "event_type string, event_id long, ts timestamp,"
                      " value double")
             .coalesce(1).write.mode("append").parquet(src))
            time.sleep(0.05)

        out = _drain(spark, ev.p2_quantile_estimates(
            _stream_one_file_per_batch(spark, src)), "t_p2_warm",
            tmp_path, mode="append")
        got = {}
        for r in out:
            if r.n_seen >= got.get(r.event_type, (0, 0.0))[0]:
                got[r.event_type] = (r.n_seen, r.q_estimate)

        from test_round6 import TestStreamingP2Quantile as T6
        for key, vals in (("sparse", sparse), ("dense", dense)):
            n, est = T6._p2_replay(vals)     # batch feed order == ts order
            assert got[key][0] == n == len(vals)
            assert got[key][1] == pytest.approx(est, abs=1e-12)


class TestChi2Overflow:
    def test_1e8_session_regime_non_null_and_exact(self, spark):
        """The r6 ADVICE low: cell counts around 1e8 sessions pushed the
        old n·(ad−bc)² DECIMAL(38,0) numerator past 38 digits, where
        Spark's non-ANSI decimal multiply silently NULLs. The rebuilt
        (t/d1)·(t/d2)·n form must return the exact-fraction value."""
        from fractions import Fraction

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.behavior import (
            chi2_2x2,
        )

        cells = [(31_234_567, 97_654_321, 45_000_001, 88_888_889),
                 (123_456_789, 1, 1, 123_456_789),   # t ~ 1.5e16, extreme
                 (510, 24, 21, 945)]                 # sf-sized sanity
        df = spark.createDataFrame(cells, "a long, b long, c long, d long")
        out = df.select("a", "b", "c", "d",
                        chi2_2x2(F.col("a"), F.col("b"), F.col("c"),
                                 F.col("d")).alias("chi2")).collect()
        for r in out:
            assert r.chi2 is not None
            a, b, c, d = r.a, r.b, r.c, r.d
            t, n = Fraction(a * d - b * c), a + b + c + d
            exact = (float(t) / float((a + b) * (c + d))) \
                * (float(t) / float((a + c) * (b + d))) * float(n)
            assert r.chi2 == pytest.approx(exact, rel=1e-12)
            true = Fraction(n) * t * t / ((a + b) * (c + d)
                                          * (a + c) * (b + d))
            assert r.chi2 == pytest.approx(float(true), rel=1e-9)


class TestKcoreFixpoint:
    def test_peel_runs_to_fixpoint_not_round_budget(self, spark):
        """The r6 ADVICE low: a capped peel can return survivors with
        degree < k on deep graphs. Pin both halves of the fix on the
        sf0.01 graph (the 3-core is empty at sf0.001): every survivor
        of the uncapped peel has core_degree >= k, and a guardrail
        smaller than the true peel depth must RAISE rather than return
        a non-k-core."""
        from tests.conftest import SF_MED

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.graph import (
            graph_kcore,
        )

        out = graph_kcore(spark, SF_MED, k=3).collect()
        assert out and all(r.core_degree >= 3 for r in out)
        with pytest.raises(RuntimeError, match="fixpoint"):
            # the sf0.01 peel needs >0 shrinking rounds; cap at 0 → raise
            graph_kcore(spark, SF_MED, k=3, max_rounds=0)


class TestIcebergBranchInSandbox:
    """The r6 verdict: the Iceberg write branch must not be covered ONLY
    when the runtime jar exists. These tests drive the capability check's
    True path (any JVM-loadable class satisfies Class.forName — no
    Iceberg needed) and the full parsed-DDL → migrate_table →
    writeTo(...).partitionedBy(...).createOrReplace() wiring through a
    recording stub at the DataFrameWriterV2 boundary."""

    _DDL = """
CREATE TABLE APP.SALES (
    SALE_ID BIGINT NOT NULL,
    REGION VARCHAR(16),
    AMOUNT DECIMAL(12,2),
    SALE_DATE DATE
) PARTITION BY RANGE (REGION) (STARTING 'A' ENDING 'Z' EVERY 1);
DISTRIBUTE BY HASH (SALE_ID);
"""

    def test_capability_check_both_paths_without_jar(self, spark):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources.registry import (
            choose_write_branch, iceberg_catalog_available,
        )

        spark.conf.set("spark.sql.catalog.probe_ok", "java.util.HashMap")
        spark.conf.set("spark.sql.catalog.probe_bad", "org.nope.Missing")
        try:
            assert iceberg_catalog_available(spark, "probe_ok") is True
            assert iceberg_catalog_available(spark, "probe_bad") is False
            assert iceberg_catalog_available(spark, "probe_unset") is False
            assert choose_write_branch(spark, "db.t", "probe_ok") \
                == "iceberg"
            assert choose_write_branch(spark, None, "probe_ok") == "file"
            assert choose_write_branch(spark, "db.t", "probe_bad") == "file"
        finally:
            spark.conf.unset("spark.sql.catalog.probe_ok")
            spark.conf.unset("spark.sql.catalog.probe_bad")

    def test_migrate_table_iceberg_wiring(self, spark, tmp_path,
                                          monkeypatch):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.ddl import (
            DB2DdlParser,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources.migrate import (
            migrate_table,
        )

        table = DB2DdlParser().parse(self._DDL)[0]
        assert table.partition.columns == ["REGION"]
        assert table.distribute_by_hash == "SALE_ID"

        src = str(tmp_path / "src")
        (spark.createDataFrame(
            [(1, "EAST", 10.50, "2024-01-01"),
             (2, "WEST", 20.25, "2024-01-02"),
             (3, "EAST", 30.00, "2024-01-03")],
            "sale_id long, region string, amount double, sale_date string")
         .write.parquet(src))

        rec = {"options": {}, "created": False}

        class StubWriter:
            def option(self, k, v):
                rec["options"][k] = v
                return self

            def partitionedBy(self, *cols):
                rec["partitioned_by"] = [str(c) for c in cols]
                return self

            def createOrReplace(self):
                rec["created"] = True

        def fake_write_to(df, ident):
            rec["ident"] = ident
            rec["columns"] = df.columns
            rec["plan"] = df._jdf.queryExecution().analyzed().toString()
            return StubWriter()

        # patch the CONCRETE class (pyspark.sql.classic overrides the
        # abstract base's writeTo, so patching pyspark.sql.DataFrame
        # would never be hit)
        monkeypatch.setattr(type(spark.range(1)), "writeTo", fake_write_to)
        # a genuinely True capability check — no monkeypatch of our code
        spark.conf.set("spark.sql.catalog.ice", "java.util.HashMap")
        dest = str(tmp_path / "dest")
        try:
            casted = migrate_table(spark, table, src, dest, catalog="ice",
                                   table_ident="db.sales")
        finally:
            spark.conf.unset("spark.sql.catalog.ice")

        assert rec["ident"] == "ice.db.sales"
        assert rec["created"] is True
        # the parsed RANGE spec drives hidden partitioning, in order
        assert rec["partitioned_by"] == ["Column<'REGION'>"]
        # DISTRIBUTE BY HASH became repartition(SALE_ID) + clustered sort
        # BEFORE the writer saw the frame
        assert "RepartitionByExpression" in rec["plan"]
        assert "SALE_ID" in rec["plan"]
        assert "Sort" in rec["plan"]
        assert rec["columns"] == [c.name for c in table.columns]
        assert casted.columns == [c.name for c in table.columns]
        # the file fallback must NOT have been taken
        import os
        assert not os.path.exists(dest)


class TestRound7Window:
    def test_window_executes_recorded_rotation(self):
        """Historical pin (round-8 rotation superseded the first-50
        placement; the r8 twin in test_round8.py owns that now): the r7
        window COMPOSITION stays _ROUND7_NEW debuts, then ALL 27
        never-driver-checked late-r6 entries, then the recorded stale
        canaries filling to 50 — the r6 verdict's top ask — and every r7
        debut stays resolvable with its oracle."""
        import json

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
            _CANARIES_R07,
            _ROUND6_LATE,
            _ROUND7_NEW,
            _window_r07,
            build_oracles,
            build_queries,
        )

        q = build_queries()
        w = _window_r07()
        assert len(set(w)) == 50
        assert all(k in q for k in w)
        fill = 50 - len(_ROUND7_NEW) - len(_ROUND6_LATE)
        assert w == [*_ROUND7_NEW, *_ROUND6_LATE, *_CANARIES_R07[:fill]]
        o = build_oracles()
        for k in _ROUND7_NEW:           # every r7 debut is oracle-backed
            assert k in q and k in o
        # cumulative driver coverage was completed by the r7 window:
        # every entry not in it already has a CORRECTNESS row r01-r06
        seen = set()
        for r in range(1, 7):
            seen |= set(json.load(open(f"CORRECTNESS_r0{r}.json")))
        never = [k for k in q if k not in seen and k not in w]
        assert never == []


class TestRankStatistics:
    def test_spearman_matches_pure_python(self, spark, sf_dir):
        """Exact tie-averaged Spearman for one nation replayed in pure
        Python fractions (the oracle parity checks DuckDB; this pins the
        semantics against an independent formulation)."""
        import math

        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            stat_spearman_corr,
        )

        rows = duckdb.sql(f"""
            SELECT c.c_nationkey, c.c_acctbal,
                   COALESCE(s.cents, 0) AS cents, c.c_custkey
            FROM '{sf_dir}/customer.parquet' c LEFT JOIN (
              SELECT o_custkey,
                     SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                              AS DECIMAL(38,0))) AS cents
              FROM '{sf_dir}/orders.parquet' GROUP BY o_custkey) s
            ON c.c_custkey = s.o_custkey""").fetchall()
        got = {r.nationkey: (r.n_customers, r.spearman_rho)
               for r in stat_spearman_corr(spark, sf_dir).collect()}

        def avg_ranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            rank = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while (j + 1 < len(order)
                       and vals[order[j + 1]][0] == vals[order[i]][0]):
                    j += 1
                r = (i + j) / 2 + 1
                for k2 in range(i, j + 1):
                    rank[order[k2]] = r
                i = j + 1
            return rank

        by_nation = {}
        for nk, bal, cents, ck in rows:
            by_nation.setdefault(nk, []).append((bal, cents, ck))
        for nk, data in by_nation.items():
            # ranks tie-average on the VALUE alone; the custkey only
            # orders rows within a tie group (rank is then averaged out)
            rx = avg_ranks([((bal,), ck) for bal, _, ck in data])
            ry = avg_ranks([((cents,), ck) for _, cents, ck in data])
            n = len(data)
            mean = (n + 1) / 2
            num = sum((a - mean) * (b - mean) for a, b in zip(rx, ry))
            den = math.sqrt(sum((a - mean) ** 2 for a in rx)
                            * sum((b - mean) ** 2 for b in ry))
            assert got[nk][0] == n
            assert got[nk][1] == pytest.approx(num / den, rel=1e-9)

    def test_mann_whitney_invariants_and_replay(self, spark, sf_dir):
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            stat_mann_whitney_u,
        )

        r = stat_mann_whitney_u(spark, sf_dir).collect()[0]
        assert r.u_purchase + r.u_click == pytest.approx(r.n1 * r.n2)
        assert 0 <= r.u_purchase <= r.n1 * r.n2
        # replay U via the rank-sum definition in duckdb (independent
        # formulation: per-row tie-averaged ranks, not the value rollup)
        u = duckdb.sql(f"""
            WITH pooled AS (
              SELECT event_type, value,
                     AVG(rn) OVER (PARTITION BY value) AS ar
              FROM (SELECT event_type, value,
                           ROW_NUMBER() OVER (ORDER BY value) AS rn
                    FROM '{sf_dir}/events.parquet'
                    WHERE event_type IN ('purchase', 'click')))
            SELECT SUM(ar) FILTER (event_type = 'purchase')
                   - CAST(COUNT(*) FILTER (event_type = 'purchase')
                          AS DOUBLE)
                     * (COUNT(*) FILTER (event_type = 'purchase') + 1) / 2
            FROM pooled""").fetchone()[0]
        assert r.u_purchase == pytest.approx(u, rel=1e-12)
        assert abs(r.z_score) < 50          # finite, sane magnitude

    def test_mann_kendall_replay(self, spark, sf_dir):
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            stat_mann_kendall_trend,
        )

        r = stat_mann_kendall_trend(spark, sf_dir).collect()[0]
        months = [m[0] for m in duckdb.sql(f"""
            SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                            AS DECIMAL(38,0))) AS rc
            FROM '{sf_dir}/orders.parquet'
            GROUP BY EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                     + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1
            ORDER BY 1""").fetchall()]
        n = len(months)
        s = sum((x2 > x1) - (x2 < x1)
                for i, x1 in enumerate(months) for x2 in months[i + 1:])
        # the pairwise census is order-insensitive, so the sorted list
        # gives the same S magnitude... recompute properly by month order
        rows = duckdb.sql(f"""
            SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                   + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1
                     AS mi,
                   SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                            AS DECIMAL(38,0))) AS rc
            FROM '{sf_dir}/orders.parquet' GROUP BY 1 ORDER BY mi
        """).fetchall()
        series = [rc for _, rc in rows]
        s = sum((b > a) - (b < a)
                for i, a in enumerate(series) for b in series[i + 1:])
        assert r.n_months == n == len(series)
        assert r.s_stat == s
        assert abs(s) <= n * (n - 1) // 2
        assert r.var_s > 0


class TestKendallTauAndPipes:
    def test_tau_matches_pure_python(self, spark, sf_dir):
        import duckdb

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            stat_kendall_tau,
        )

        r = stat_kendall_tau(spark, sf_dir).collect()[0]
        rows = duckdb.sql(f"""
            SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                            AS DECIMAL(38,0))) AS rc,
                   COUNT(*) AS nord
            FROM '{sf_dir}/orders.parquet'
            GROUP BY EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                     + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1
        """).fetchall()
        import math
        nc = nd = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                sx = (rows[j][0] > rows[i][0]) - (rows[j][0] < rows[i][0])
                sy = (rows[j][1] > rows[i][1]) - (rows[j][1] < rows[i][1])
                if sx * sy > 0:
                    nc += 1
                elif sx * sy < 0:
                    nd += 1
        # concordance is pair-order-insensitive, so the unordered fetch
        # is fine
        n = len(rows)
        n0 = n * (n - 1) // 2
        from collections import Counter
        tx = sum(t * (t - 1) // 2
                 for t in Counter(rc for rc, _ in rows).values())
        ty = sum(t * (t - 1) // 2
                 for t in Counter(no for _, no in rows).values())
        assert (r.n_pairs, r.n_concordant, r.n_discordant) == (n0, nc, nd)
        assert (r.ties_x, r.ties_y) == (tx, ty)
        assert r.tau_b == pytest.approx(
            (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty)), rel=1e-12)
        assert -1.0 <= r.tau_b <= 1.0

    def test_pipe_syntax_is_parser_sugar(self, spark, sf_dir):
        """The pipe program and the classic SELECT must land on the same
        physical behavior: pushed filter reaches the scan (sugar does
        not break pushdown) and the rows equal the classic-SQL run."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.relational_ext import (
            sql_pipe_syntax_battery,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.plans.inspect import (
            formatted_plan,
        )

        q = sql_pipe_syntax_battery(spark, sf_dir)
        assert "PushedFilters" in formatted_plan(q)
        assert "l_shipdate" in formatted_plan(q).split("== Physical")[1]
        classic = spark.sql("""
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,6)))
                        AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                     AS avg_revenue
            FROM pipe_lineitem_v WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""")
        assert [tuple(r) for r in q.collect()] \
            == [tuple(r) for r in classic.collect()]


class TestRankStatsProperties:
    """Randomized tie-heavy samples through the extracted rank-test
    cores vs independent pure-Python references — hypothesis drives the
    tie structure the fixture data cannot enumerate (all-tied groups,
    singleton groups, alternating ties)."""

    @staticmethod
    def _mw_ref(pairs):
        import math
        from collections import Counter

        cnt = Counter(v for _, v in pairs)
        less, run = {}, 0
        for v in sorted(cnt):
            less[v] = run
            run += cnt[v]

        def ar(v):
            return less[v] + (cnt[v] + 1) / 2

        g1 = [v for g, v in pairs if g == "a"]
        n1, n2 = len(g1), len(pairs) - len(g1)
        r1 = sum(ar(v) for v in g1)
        u1 = r1 - n1 * (n1 + 1) / 2
        ties = sum(t ** 3 - t for t in cnt.values())
        n = n1 + n2
        var = n1 * n2 / 12 * ((n + 1) - ties / (n * (n - 1)))
        z = (u1 - n1 * n2 / 2) / math.sqrt(var)
        return n1, n2, u1, z

    def test_mann_whitney_random_ties(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            mann_whitney_from,
        )

        @settings(max_examples=10, deadline=None)
        @given(st.lists(
            st.tuples(st.sampled_from(["a", "b"]),
                      st.sampled_from([0.0, 1.0, 2.0, 3.5])),
            min_size=4, max_size=24))
        def run(pairs):
            groups = {g for g, _ in pairs}
            vals = {v for _, v in pairs}
            if groups != {"a", "b"} or len(vals) < 2:
                return                      # z undefined / one-sample
            df = spark.createDataFrame(
                [(g, i, v) for i, (g, v) in enumerate(pairs)],
                "g string, i long, v double")
            r = mann_whitney_from(df, group_col="g", one_group="a",
                                  value_col="v", tie_break="i",
                                  num_partitions=2).collect()[0]
            n1, n2, u1, z = self._mw_ref(pairs)
            assert (r.n1, r.n2) == (n1, n2)
            assert r.u1 == pytest.approx(u1, rel=1e-12)
            assert r.u1 + r.u2 == pytest.approx(n1 * n2)
            assert r.z_score == pytest.approx(z, rel=1e-9, abs=1e-12)

        run()

    def test_spearman_random_ties(self, spark):
        import math

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            spearman_rho_from,
        )

        def avg_ranks(vals):
            from collections import Counter
            cnt = Counter(vals)
            less, run = {}, 0
            for v in sorted(cnt):
                less[v] = run
                run += cnt[v]
            return [less[v] + (cnt[v] + 1) / 2 for v in vals]

        @settings(max_examples=10, deadline=None)
        @given(st.lists(
            st.tuples(st.sampled_from([0.0, 1.0, 2.0]),
                      st.sampled_from([0.0, 1.0, 2.0, 5.0])),
            min_size=3, max_size=20))
        def run(xy):
            xs = [x for x, _ in xy]
            ys = [y for _, y in xy]
            if len(set(xs)) < 2 or len(set(ys)) < 2:
                return                      # zero rank variance → 0/0
            df = spark.createDataFrame(
                [("k", i, x, y) for i, (x, y) in enumerate(xy)],
                "p string, i long, x double, y double")
            r = spearman_rho_from(df, part_col="p", x_col="x",
                                  y_col="y").collect()[0]
            rx, ry = avg_ranks(xs), avg_ranks(ys)
            n = len(xy)
            mean = (n + 1) / 2
            num = sum((a - mean) * (b - mean) for a, b in zip(rx, ry))
            den = math.sqrt(sum((a - mean) ** 2 for a in rx)
                            * sum((b - mean) ** 2 for b in ry))
            assert r.n_rows == n
            assert r.spearman_rho == pytest.approx(num / den,
                                                   rel=1e-9, abs=1e-12)
            assert -1.0 - 1e-12 <= r.spearman_rho <= 1.0 + 1e-12

        run()


class TestConnectedComponentsFixpoint:
    def test_deep_path_converges_and_guardrail_raises(self, spark):
        """Same class as the k-core fix: min-label propagation over a
        PATH graph needs diameter rounds — a silent 25-round cap would
        return non-component labels on a 60-node chain. The uncapped
        loop must converge to one component; an undersized guardrail
        must RAISE, never return a wrong answer."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.dedup import (
            connected_components,
        )

        n = 60
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long")
        labels = {r.node: r.label
                  for r in connected_components(nodes, edges).collect()}
        assert set(labels.values()) == {0}          # one chain, min id 0
        with pytest.raises(RuntimeError, match="fixpoint"):
            connected_components(nodes, edges, max_iter=3)


class TestPointerDoublingGuardrail:
    def test_deep_chain_raises_instead_of_partial_depths(self, spark):
        """transitive_roots resolves depth <= 2^n_rounds; on a 40-deep
        chain with n_rounds=3 (depth 8) the old code returned PARTIAL
        depths silently — now it raises; with enough rounds the exact
        depths come back."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.graph import (
            transitive_roots,
        )

        n = 40
        parents = spark.createDataFrame(
            [(i, max(i - 1, 0)) for i in range(n)], "node long, parent long")
        with pytest.raises(RuntimeError, match="fixpoint"):
            transitive_roots(parents, n_rounds=3)
        out = {r.node: (r.root, r.depth)
               for r in transitive_roots(parents, n_rounds=6).collect()}
        assert out == {i: (0, i) for i in range(n)}


class TestCusumMultiBatch:
    def test_cusum_alerts_multibatch_equals_single(self, spark, sf_dir,
                                                   tmp_path):
        """Completes the stateful-drain contract over the last
        update-path operator: the online Welford + two-sided CUSUM state
        (n, mean, m2, sp, sm) must restore losslessly between
        micro-batches — the time-range split preserves feed order, so
        the multi-batch alert stream must be row-identical (append mode
        emits each alert exactly once)."""
        src = _time_split_files(spark, sf_dir, str(tmp_path / "ev_cs"))
        multi = sorted(
            (r.event_type, r.ordinal, r.side, round(r.stat, 9))
            for r in _drain(spark, ev.cusum_drift_alerts(
                _stream_one_file_per_batch(spark, src)), "t_cs_mb",
                tmp_path, mode="append"))
        single = sorted(
            (r.event_type, r.ordinal, r.side, round(r.stat, 9))
            for r in _drain(spark, ev.cusum_drift_alerts(
                ev.read_events_stream(spark, sf_dir)), "t_cs_sb",
                tmp_path, mode="append"))
        assert multi == single
        assert single, "fixture must raise at least one CUSUM alert"


class TestSpearmanPlanShape:
    def test_no_data_keyed_window_exec(self, spark, sf_dir):
        """The Spearman core derives per-group doubled ranks from the
        (group, value) census — a group-PARTITIONed window over a
        25-value key would serialize each nation through one task at
        scale. Zero single-partition windows, and every window spec
        must partition by ``__pid`` (the range-partition id inside
        ``scale.global_prefix_window`` — shuffle-width cardinality, the
        sanctioned primitive that exists to REPLACE data-keyed windows;
        same allowance as TestLowCardinalityWindowPurge, r12/r13)."""
        import re

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            stat_spearman_corr,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.plans.inspect import (
            single_partition_windows, uncached_plan,
        )

        q = stat_spearman_corr(spark, sf_dir)
        assert single_partition_windows(q) == 0
        plan = uncached_plan(q)
        # first-arg-only approximation, same note as
        # TestLowCardinalityWindowPurge (r12 ADVICE)
        for args in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            first = args.split(",")[0].strip()
            assert first.startswith("__pid#"), (first, args)
        for line in plan.splitlines():
            if re.search(r"\bWindow\b", line) \
                    and "windowspecdefinition" not in line:
                assert "__pid#" in line, line


class TestGroupedRanks:
    def test_matches_window_formulation(self, spark):
        """grouped_ranks == the Window.partitionBy row_number it
        replaces, on a frame with duplicate order keys and uneven
        groups."""
        from pyspark.sql import Window

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.scale import (
            grouped_ranks,
        )

        rows = [("a", v, i) for i, v in enumerate([3, 1, 3, 2, 1, 5])] \
            + [("b", v, i + 10) for i, v in enumerate([7, 7])] \
            + [("c", 0, 99)]
        df = spark.createDataFrame(rows, "g string, v long, id long")
        got = {(r.g, r.id): r.grp_rn for r in grouped_ranks(
            df, ["g"], [F.asc("v"), F.asc("id")],
            num_partitions=3).collect()}
        w = Window.partitionBy("g").orderBy("v", "id")
        exp = {(r.g, r.id): r.rn for r in df.select(
            "g", "id", F.row_number().over(w).alias("rn")).collect()}
        assert got == exp

    def test_agg_percentiles_no_window(self, spark, sf_dir):
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            agg_percentiles,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.plans.inspect import (
            single_partition_windows, uncached_plan,
        )

        q = agg_percentiles(spark, sf_dir)
        assert single_partition_windows(q) == 0
        assert "Window" not in uncached_plan(q)


class TestLowCardinalityWindowPurge:
    def test_converted_entries_have_zero_window_exec(self, spark, sf_dir):
        """Round-7 sweep: every data-scaled frame that was ranked/lagged
        under a LOW-CARDINALITY partition key (5 event types, ~8
        sources, 5 priorities, ~84 months — keys that do NOT scale out
        with volume) now rides grouped_ranks / min_by aggregation; the
        plans must carry no WindowExec under any DATA key. The one
        sanctioned exception (r12): ``scale.global_prefix_window``'s
        internal running sum is a Window PARTITION BY ``__pid`` — the
        range-partition id, whose cardinality is the shuffle width and
        scales with the cluster, not with any data key (the primitive
        exists precisely to replace data-keyed windows); the
        fulfillment-latency census rewrite routes through it."""
        import re

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators import (
            analytics, corpus, eventtime, traindata,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.plans.inspect import (
            uncached_plan,
        )

        for q in (eventtime.events_twap(spark, sf_dir),
                  eventtime.events_interarrival_stats(spark, sf_dir),
                  eventtime.events_ohlc_bars(spark, sf_dir),
                  analytics.events_winsorize_clip(spark, sf_dir),
                  analytics.orders_fulfillment_latency(spark, sf_dir),
                  traindata.quality_quantile_calibrate(spark, sf_dir),
                  corpus.corpus_distinctive_terms(spark, sf_dir)):
            plan = uncached_plan(q)
            # every windowspecdefinition must partition by __pid (first
            # argument); a data-keyed or unpartitioned window fails.
            # NB (r12 ADVICE): the regex stops at the first nested ')'
            # and only the FIRST argument is asserted — a first-arg-only
            # approximation; global_prefix_window partitions by __pid
            # alone, so any additional partition key would itself be a
            # regression caught by the primitive's own tests.
            for args in re.findall(r"windowspecdefinition\(([^)]*)\)",
                                   plan):
                first = args.split(",")[0].strip()
                assert first.startswith("__pid#"), (first, args)
            # and any Window not expressible as a spec line still fails
            # unless it is the __pid-partitioned prefix scan
            for line in plan.splitlines():
                if re.search(r"\bWindow\b", line) \
                        and "windowspecdefinition" not in line:
                    assert "__pid#" in line, line


class TestDegenerateInputsReturnNull:
    def test_stats_null_not_ansi_error(self, spark):
        """ANSI mode (the Spark 4 default this engine runs under) turns
        a zero denominator into a runtime ERROR — but empty, one-group,
        and all-tied feeds are legitimately reachable once a filter or
        partition runs dry. Undefined statistics must come back NULL,
        never abort the job."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.analytics import (
            mann_whitney_from, spearman_rho_from,
        )
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.behavior import (
            chi2_2x2,
        )

        empty = spark.createDataFrame([], "g string, i long, v double")
        one = spark.createDataFrame([("a", 1, 2.0)],
                                    "g string, i long, v double")
        tied = spark.createDataFrame(
            [("a", 1, 2.0), ("b", 2, 2.0), ("a", 3, 2.0)],
            "g string, i long, v double")
        for df in (empty, one, tied):
            row = mann_whitney_from(df, "g", "a", "v", "i").collect()[0]
            assert row.z_score is None
        # non-degenerate stays defined
        ok = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0), ("b", 4, 4.0)],
            "g string, i long, v double")
        assert mann_whitney_from(ok, "g", "a", "v", "i") \
            .collect()[0].z_score is not None

        constx = spark.createDataFrame(
            [("k", 1, 1.0, 5.0), ("k", 2, 1.0, 6.0)],
            "p string, i long, x double, y double")
        assert spearman_rho_from(constx, "p", "x", "y") \
            .collect()[0].spearman_rho is None

        cells = spark.createDataFrame(
            [(0, 0, 3, 5), (2, 3, 4, 5)], "a long, b long, c long, d long")
        out = cells.select(chi2_2x2(F.col("a"), F.col("b"), F.col("c"),
                                    F.col("d")).alias("chi2")).collect()
        assert out[0].chi2 is None          # empty error-row margin
        assert out[1].chi2 is not None


class TestGroupedRanksFuzz:
    def test_random_frames_match_window_formulation(self, spark):
        """hypothesis-driven: grouped_ranks must equal the
        Window.partitionBy row_number it replaces on random frames with
        heavy ties, empty-ish groups, and skewed group sizes — including
        DESC order keys (the distinctive-terms shape) and NULL group
        keys (Window.partitionBy keeps NULL as its own partition; the
        r8 null-safe offset join must not drop those rows)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import Window

        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.operators.scale import (
            grouped_ranks,
        )

        @settings(max_examples=8, deadline=None)
        @given(st.lists(
            st.tuples(st.sampled_from(["a", "b", "c", None]),
                      st.integers(min_value=0, max_value=3)),
            min_size=1, max_size=25),
            st.booleans())
        def run(rows, desc):
            df = spark.createDataFrame(
                [(g, v, i) for i, (g, v) in enumerate(rows)],
                "g string, v long, id long")
            order = [F.desc("v") if desc else F.asc("v"), F.asc("id")]
            got = {(r.g, r.id): r.grp_rn for r in grouped_ranks(
                df, ["g"], order, num_partitions=3).collect()}
            w = Window.partitionBy("g").orderBy(
                F.desc("v") if desc else F.asc("v"), "id")
            exp = {(r.g, r.id): r.rn for r in df.select(
                "g", "id", F.row_number().over(w).alias("rn")).collect()}
            assert got == exp

        run()

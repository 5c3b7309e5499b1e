"""Behavioral / product analytics over the events stream: funnel
conversion, retention cohorts, rolling windows, transition matrices, and
z-score outlier flagging.

These are the ongoing-sync VALIDATION queries a migration engine runs
against an event table after cutover (the reference's schema plane has no
row surface — SURVEY.md §2.2 EXT), and simultaneously the feature-
engineering shapes a training-data pipeline derives from interaction logs.

Scale notes per operator are in each docstring; the common theme: every
operator is a fixed number of keyed shuffles (no driver loops, no windows
without PARTITION BY), so each parallelizes by user/type cardinality.

Determinism protocol: operators/relational.py module docstring (exact
decimal sums, single-rounding doubles, formatted timestamps, unique sort
tiebreakers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import DEC, load_events


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel: a stage counts only if it
    happens at-or-after the user's previous stage (first qualifying event
    per stage). Emits one row of global stage counts.

    Plan: three staged per-user conditional MIN aggregations, each a keyed
    shuffle on user_id joined back to the (already user-partitioned)
    events — the exchange is reused across stages. No window over the full
    stream, no driver involvement; user cardinality bounds every state.
    """
    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (e.join(v, "user_id")
         .filter((F.col("event_type") == "click")
                 & (F.col("ts") >= F.col("v_ts")))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    p = (e.join(c, "user_id")
         .filter((F.col("event_type") == "purchase")
                 & (F.col("ts") >= F.col("c_ts")))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    # total-user denominator rides a broadcast 1-row cross join — no
    # driver-side count() action in the operator
    nu = e.agg(F.count_distinct("user_id").alias("n_users"))
    stages = (v.join(c, "user_id", "left").join(p, "user_id", "left")
              .agg(F.count("v_ts").alias("n_viewed"),
                   F.count("c_ts").alias("n_clicked_after_view"),
                   F.count("p_ts").alias("n_purchased_after_click")))
    return (nu.crossJoin(stages)
            .select("n_users", "n_viewed", "n_clicked_after_view",
                    "n_purchased_after_click"))


ORACLE_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       COUNT(v.v_ts) AS n_viewed,
       COUNT(c.c_ts) AS n_clicked_after_view,
       COUNT(p.p_ts) AS n_purchased_after_click
FROM v LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str,
                             max_offset: int = 7) -> DataFrame:
    """Classic cohort retention: users grouped by first-active day; for
    each day offset 0..max_offset, how many of the cohort were active.

    Plan: one (user, day) distinct pass (keyed shuffle), per-user cohort
    via a min-over-user aggregation reusing the same partitioning, then
    one (cohort, offset) count. Offsets beyond ``max_offset`` are dropped
    to bound output; `log()`-free integer datediff is portable.
    """
    e = load_events(spark, sf_dir)
    active = (e.select("user_id", F.to_date("ts").alias("day")).distinct())
    cohort = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = (active.join(cohort, "user_id")
         .withColumn("day_offset", F.datediff("day", "cohort_day"))
         .filter(F.col("day_offset") <= max_offset))
    return (j.groupBy("cohort_day", "day_offset")
            .agg(F.count(F.lit(1)).alias("n_active_users"))
            .select(F.date_format("cohort_day", "yyyy-MM-dd")
                    .alias("cohort_day"),
                    "day_offset", "n_active_users")
            .orderBy("cohort_day", "day_offset"))


ORACLE_RETENTION = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', c.cohort_day, a.day) AS day_offset,
       COUNT(*) AS n_active_users
FROM active a JOIN cohort c ON a.user_id = c.user_id
WHERE date_diff('day', c.cohort_day, a.day) <= 7
GROUP BY c.cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


def events_rolling_stats(spark: SparkSession, sf_dir: str,
                         window_rows: int = 5) -> DataFrame:
    """Per-user rolling features over the last ``window_rows`` events:
    rolling sum (exact decimal, emitted double), rolling max, and the
    actual window population (ramps up at each user's start).

    Plan: ONE window over (user_id | ts, event_id) — the per-user frame
    never leaves its partition's sort run, so this scans at shuffle speed
    on any table size; the unique event_id tiebreak makes the frame
    deterministic. The sum follows the decimal protocol so the emitted
    doubles are bitwise portable.
    """
    e = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = (Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
         .rowsBetween(-(window_rows - 1), Window.currentRow))
    return (e.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        .alias("rolling_sum"),
        F.max("value").over(w).alias("rolling_max"),
        F.count(F.lit(1)).over(w).alias("n_window"))
        .orderBy("event_id"))


ORACLE_ROLLING = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
         AS rolling_sum,
       MAX(value) OVER w AS rolling_max,
       COUNT(*) OVER w AS n_window
FROM events WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (the sequence features a behavioral model trains on).

    Plan: one lag window over (user_id | ts, event_id) + one count
    aggregation over the 25-cell type×type matrix. Transition probability
    is an exact integer ratio (portable double division).
    """
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    pairs = (e.select("user_id", "ts", "event_id", "event_type",
                      F.lag("event_type").over(w).alias("prev_type"))
             .filter(F.col("prev_type").isNotNull()))
    counted = (pairs.groupBy("prev_type", F.col("event_type").alias("next_type"))
               .agg(F.count(F.lit(1)).alias("n")))
    w_tot = Window.partitionBy("prev_type")
    return (counted
            .withColumn("p",
                        F.col("n").cast("double")
                        / F.sum("n").over(w_tot).cast("double"))
            .orderBy("prev_type", "next_type"))


ORACLE_TRANSITIONS = """
WITH pairs AS (
  SELECT user_id, event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), counted AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type)::DOUBLE AS p
FROM counted
ORDER BY prev_type, next_type
"""


def events_value_zscore(spark: SparkSession, sf_dir: str,
                        z_cut: float = 2.5) -> DataFrame:
    """Per-type z-score outliers: events whose value deviates more than
    ``z_cut`` standard deviations from their type's mean.

    Mean and variance come from exact decimal sufficient statistics
    (Σv, Σv² summed as DECIMAL — order-independent and identical in both
    engines), converted to double once; the per-row z is then built from
    bitwise-identical operands with a SINGLE sqrt (protocol: sqrt is
    IEEE-exact, and the op order is mirrored textually in the oracle).

    Plan: one per-type aggregation (5 rows) broadcast back over the
    stream — the flagging pass is a scan, not a shuffle.
    """
    e = load_events(spark, sf_dir)
    v = F.col("value")
    stats = (e.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(v.cast(DEC)).alias("s1"),
                  F.sum((v * v).cast(DEC)).alias("s2")))
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    stats = stats.select("event_type", mean.alias("mean_v"),
                         F.sqrt(var).alias("std_v"))
    # a constant-valued type has std 0 and by definition no outliers —
    # drop it BEFORE the divide (ANSI would error; the MAD entry pins
    # the same contract); all-true on fixture data
    return (e.join(F.broadcast(stats.filter(F.col("std_v") > 0)),
                   "event_type")
            .withColumn("z", (v - F.col("mean_v")) / F.col("std_v"))
            .filter(F.abs(F.col("z")) > z_cut)
            .select("event_id", "event_type", "value", "z")
            .orderBy("event_id"))


ORACLE_ZSCORE = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS mean_v,
         SQRT(CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
                / COUNT(*)
              - (CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*))
                * (CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*))) AS std_v
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       (value - mean_v) / std_v AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS((value - mean_v) / std_v) > 2.5
ORDER BY event_id
"""


def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event-type segments: for every unordered
    type pair, how many distinct users belong to both — plus each pair's
    Jaccard overlap as an exact integer ratio.

    Scale shape: the naive formulation self-joins the (type, user)
    membership table on user (fan-out quadratic in per-user segment
    count ACROSS the join); this instead collects each user's segment
    SET (bounded by the type cardinality, here 5) and explodes the
    ordered pairs per user — pair generation is per-row work on a
    5-element array, and the only shuffles are the user dedup and the
    O(types²) pair count. Segment sizes ride the same scan for the
    Jaccard denominator via a broadcast join.
    """
    e = load_events(spark, sf_dir)
    # a corrupted NULL user_id is not an audience member: groupBy would
    # otherwise unify every NULL into one phantom user that generates
    # pairs while SQL's null-unsafe self-join drops them — filter on
    # BOTH engines so membership means an identified user (r10)
    membership = (e.filter(F.col("user_id").isNotNull())
                  .select("event_type", "user_id").distinct())
    sizes = (membership.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("seg_size")))
    per_user = (membership.groupBy("user_id")
                .agg(F.sort_array(F.collect_set("event_type"))
                     .alias("segs")))
    from .relational import pair_explode

    pairs = per_user.select(F.explode(pair_explode("segs")).alias("p"))
    counted = (pairs.select(F.col("p.a").alias("seg_a"),
                            F.col("p.b").alias("seg_b"))
               .groupBy("seg_a", "seg_b")
               .agg(F.count(F.lit(1)).alias("n_shared_users")))
    sa = sizes.select(F.col("event_type").alias("seg_a"),
                      F.col("seg_size").alias("size_a"))
    sb = sizes.select(F.col("event_type").alias("seg_b"),
                      F.col("seg_size").alias("size_b"))
    return (counted.join(F.broadcast(sa), "seg_a")
            .join(F.broadcast(sb), "seg_b")
            .select("seg_a", "seg_b", "n_shared_users",
                    (F.col("n_shared_users").cast("double")
                     / (F.col("size_a") + F.col("size_b")
                        - F.col("n_shared_users")).cast("double"))
                    .alias("jaccard"))
            .orderBy("seg_a", "seg_b"))


ORACLE_AUDIENCE_OVERLAP = """
WITH membership AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
), sizes AS (
  SELECT event_type, COUNT(*) AS seg_size FROM membership
  GROUP BY event_type
), shared AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         COUNT(*) AS n_shared_users
  FROM membership a JOIN membership b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT s.seg_a, s.seg_b, s.n_shared_users,
       CAST(s.n_shared_users AS DOUBLE)
         / CAST(za.seg_size + zb.seg_size - s.n_shared_users AS DOUBLE)
         AS jaccard
FROM shared s
JOIN sizes za ON za.event_type = s.seg_a
JOIN sizes zb ON zb.event_type = s.seg_b
ORDER BY seg_a, seg_b
"""


def events_trigram_journeys(spark: SparkSession, sf_dir: str,
                            k: int = 25) -> DataFrame:
    """Top-k three-step user journeys: the most frequent consecutive
    (step1 → step2 → step3) event-type sequences across all users, with
    each journey's share of all trigrams — the classic product-analytics
    path-mining readout (which three-step flows dominate?), and the
    order-2 sequence census one step beyond
    :func:`events_transition_matrix`'s order-1 transitions.

    Determinism: per-user order is (ts, event_id) — the module tiebreak
    protocol; share is an exact integer count over the exact total, one
    IEEE divide. Scale shape: one user-keyed window shuffle (two leads
    ride a single sort run), a map-side-partial count to the
    types³-bounded journey table, a 1-row total broadcast, and
    TakeOrderedAndProject for the top-k — no global sort.
    """
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    tri = (e.select(
        "user_id",
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"))
        .filter(F.col("step3").isNotNull()))
    # types³-bounded — pinned because TWO consumers (the total and the
    # join) would otherwise each replay the corpus window (multi-consumer
    # contract; observed: the plan carried two full Window subtrees)
    counted = (tri.groupBy("step1", "step2", "step3")
               .agg(F.count(F.lit(1)).alias("n"))
               .localCheckpoint())
    tot = counted.agg(F.sum("n").alias("total"))
    return (counted.join(F.broadcast(tot))
            .select("step1", "step2", "step3", "n",
                    (F.col("n").cast("double") / F.col("total"))
                    .alias("share"))
            .orderBy(F.desc("n"), "step1", "step2", "step3")
            .limit(k))


ORACLE_TRIGRAM_JOURNEYS = """
WITH tri AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS step2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS step3
  FROM events),
counted AS (
  SELECT step1, step2, step3, COUNT(*) AS n
  FROM tri WHERE step3 IS NOT NULL
  GROUP BY step1, step2, step3),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counted)
SELECT step1, step2, step3, n,
       CAST(n AS DOUBLE) / total AS share
FROM counted, tot
ORDER BY n DESC, step1, step2, step3 LIMIT 25
"""


def events_user_predictability(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Per-user behavioral predictability: the Gini impurity of each
    user's event-type mix, 1 − Σ(nₜ/n)² = (n² − Σnₜ²)/n² — 0 for a
    user who only ever does one thing, →1−1/k for a uniform k-way mix.
    This is the entropy readout a personalization/mixture policy wants,
    expressed through the LOG-FREE rational impurity (ln differs by
    ulps between engines; the squared-share form is exact integers
    until ONE IEEE divide — same rationale as the χ² drift entries).
    Also emits each user's modal event type (max count, type-string
    tiebreak — deterministic).

    Shape: one (user, type)-keyed count with map-side partials (output
    bounded by users × types), one user-keyed rollup via max_by on the
    packed (count, type) order, no window at all. Scales on user
    cardinality.
    """
    e = load_events(spark, sf_dir)
    per = (e.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n_t")))
    return (per.groupBy("user_id")
            .agg(F.sum("n_t").alias("n_events"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.sum(F.col("n_t") * F.col("n_t")).alias("sum_sq"),
                 F.max(F.struct(F.col("n_t"),
                                F.col("event_type"))).alias("top"))
            .select("user_id", "n_events", "n_types",
                    F.col("top.event_type").alias("top_type"),
                    ((F.col("n_events") * F.col("n_events")
                      - F.col("sum_sq")).cast("double")
                     / (F.col("n_events") * F.col("n_events"))
                     .cast("double")).alias("gini_impurity"))
            .orderBy("user_id"))


ORACLE_USER_PREDICTABILITY = """
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS n_t
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       CAST(SUM(n_t) AS BIGINT) AS n_events,
       COUNT(*) AS n_types,
       FIRST(event_type ORDER BY n_t DESC, event_type DESC) AS top_type,
       CAST(SUM(n_t) * SUM(n_t) - SUM(n_t * n_t) AS DOUBLE)
         / CAST(SUM(n_t) * SUM(n_t) AS DOUBLE) AS gini_impurity
FROM per GROUP BY user_id ORDER BY user_id
"""


def events_markov_stationary(spark: SparkSession, sf_dir: str,
                             n_iters: int = 60) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — where
    behavior settles if today's transition structure persists, the
    model-based twin of the observed event-type mix (stationary ≠
    observed means the chain hasn't mixed: recent behavior is drifting
    from its own long-run implication). Power iteration π ← πP on the
    types×types row-stochastic transition matrix.

    Scale shape: ONE corpus pass builds the (from, to) transition
    census (the events_transition_matrix contract: per-user lead over
    one user-keyed window), which is types²-bounded; the matrix is
    collected to the driver (bounded by the event-type catalog, same
    justification as the IVF/PQ codebooks) and the 60 numpy iterations
    touch nothing corpus-sized. Emits per type the stationary
    probability beside the observed share — iterative float math →
    rows-only; the pytest pins π against numpy's dominant left
    eigenvector and πP = π.
    """
    import numpy as np

    from .relational import load_events

    # NULL event_type (a corrupted shard's rows) is not an observable
    # state: keep it out of the chain — a mixed NULL/str state set would
    # also crash the driver-side sorted() below (degenerate contract)
    e = load_events(spark, sf_dir).filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    trans = (e.select("user_id", F.col("event_type").alias("src"),
                      F.lead("event_type").over(w).alias("dst"))
             .filter(F.col("dst").isNotNull())
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("n")))
    obs = (e.groupBy(F.col("event_type").alias("src"))
           .agg(F.count(F.lit(1)).alias("n_obs")))
    # ONE driver round-trip for both bounded tables (r12): the transition
    # census and the per-type observation counts ride a tagged union —
    # same two aggregation subtrees, one job instead of two blocking
    # collects. dst is the tag: trans rows filtered it non-NULL, so a
    # NULL dst can only be an obs row.
    tagged = trans.unionByName(
        obs.select("src", F.lit(None).cast("string").alias("dst"),
                   F.col("n_obs").alias("n"))).collect()
    rows = [r for r in tagged if r.dst is not None]  # types² — bounded
    obs_rows = [r for r in tagged if r.dst is None]
    if not obs_rows:
        # stationary distribution of NO observations is no rows — an
        # empty events feed is reachable (empty partition/day), not an
        # error (empty-input contract; found by the r9 empty probe)
        return spark.createDataFrame(
            [], "event_type string, stationary_p double, "
                "observed_share double, gap double")
    types = sorted({r.src for r in obs_rows})
    ix = {t: i for i, t in enumerate(types)}
    k = len(types)
    P = np.zeros((k, k), dtype=np.float64)
    for r in rows:
        P[ix[r.src], ix[r.dst]] = r.n
    row_sums = P.sum(axis=1, keepdims=True)
    P = np.divide(P, row_sums, out=np.full_like(P, 1.0 / k),
                  where=row_sums > 0)
    pi = np.full(k, 1.0 / k)
    for _ in range(n_iters):
        pi = pi @ P
        pi /= pi.sum()
    n_total = sum(r.n for r in obs_rows)
    obs_share = {r.src: r.n / n_total for r in obs_rows}
    out = [(t, float(pi[ix[t]]), obs_share[t],
            float(pi[ix[t]] - obs_share[t])) for t in types]
    return spark.createDataFrame(
        out, "event_type string, stationary_p double, observed_share "
             "double, gap double")


def events_markov_stationary_checked(spark: SparkSession, sf_dir: str,
                                     n_iters: int = 60) -> DataFrame:
    """Partial-oracle form of :func:`events_markov_stationary` (round 9):
    ``observed_share`` is one IEEE divide of exact integers, so it rides
    the DuckDB hash gate per type, and the power-iterated π collapses to
    three oracle-asserted invariants — ``p_in_unit`` (0 ≤ π ≤ 1),
    ``gap_identity`` (gap ≡ stationary_p − observed_share, bitwise: the
    same doubles re-subtracted), and ``dist_sums_to_1``
    (|Σπ − 1| ≤ 1e−9 — the final normalization). The π VALUES stay
    pinned by the numpy dominant-eigenvector pytest on the raw core."""
    base = events_markov_stationary(spark, sf_dir, n_iters=n_iters)
    total = base.agg(F.sum("stationary_p").alias("pi_sum"))
    return (base.crossJoin(F.broadcast(total))
            .select(
                "event_type", "observed_share",
                ((F.col("stationary_p") >= 0)
                 & (F.col("stationary_p") <= 1)).alias("p_in_unit"),
                (F.col("gap") == F.col("stationary_p")
                 - F.col("observed_share")).alias("gap_identity"),
                (F.abs(F.col("pi_sum") - 1) <= F.lit(1e-9))
                .alias("dist_sums_to_1"))
            .orderBy("event_type"))


ORACLE_MARKOV_STATIONARY_CHECKED = """
SELECT event_type,
       CAST(COUNT(*) AS DOUBLE)
         / (SELECT COUNT(*) FROM events) AS observed_share,
       TRUE AS p_in_unit,
       TRUE AS gap_identity,
       TRUE AS dist_sums_to_1
FROM events GROUP BY event_type ORDER BY event_type
"""


def chi2_2x2(a: F.Column, b: F.Column, c: F.Column, d: F.Column) -> F.Column:
    """Closed-form 2×2 chi²  n(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))  over
    exact integer cell counts, assembled overflow-safely as
    (t/d1)·(t/d2)·n with t = ad−bc, d1 = (a+b)(c+d), d2 = (a+c)(b+d).

    The exact parts run in scale-0 DECIMAL(38,0) (single correctly-
    rounded double cast at any magnitude — the revenue_gini_lorenz
    protocol rule); the DuckDB oracle runs HUGEINT with the identical
    divide-then-multiply order, so the hash protocol holds. Capacity:
    the naive n·(ad−bc)² numerator hits 38 digits at n ~ 1e8 sessions
    (ad ~ 1e15, squared 1e30, ×n), where Spark's non-ANSI decimal
    multiply silently returns NULL — here every decimal factor is
    ≤ n², 38-digit-safe to n ~ 1e18; the double steps are
    IEEE-deterministic (pytest pins the 1e8-count regime non-NULL
    against an exact-fraction replay)."""
    d38 = "decimal(38,0)"
    t = a.cast(d38) * d.cast(d38) - b.cast(d38) * c.cast(d38)
    den1 = (a + b).cast(d38) * (c + d).cast(d38)
    den2 = (a + c).cast(d38) * (b + d).cast(d38)
    n = a + b + c + d
    # a zero margin (an empty row/column) makes chi² undefined — NULL,
    # not an ANSI divide error; guard all-true on non-degenerate tables
    # so the oracle's unguarded expression hash-matches
    return F.when(
        (den1 > 0) & (den2 > 0),
        (t.cast("double") / den1.cast("double"))
        * (t.cast("double") / den2.cast("double"))
        * n.cast("double"))


def events_error_conversion(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Does hitting an error kill conversion? The 2×2 session-level
    census (error seen? × purchase made?) with the three effect sizes a
    product decision needs: conversion-rate risk ratio, the exact
    add-one odds ratio, and the chi-square independence statistic — the
    quantified version of "errors cost us X% of conversions".

    Sessions are the 30-minute-gap contract (events_sessionize). All
    counts exact; the rates/RR are single divides; the odds ratio is
    an exact-integer add-one product ratio (log-free protocol); chi²
    follows the assoc_cramers_v decimal recipe on the 2×2 (four exact
    cells — no grid join needed, the marginals are sums). One row out.

    Shape: one user-keyed window (sessionization), one (user, session)
    rollup with boolean maxes, one global agg — every stage keyed or
    O(1).
    """
    from .relational import load_events

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    new_s = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1) \
        .otherwise(0)
    sess = (e.select("user_id", "event_type",
                     F.sum(new_s).over(wrun).alias("seq"))
            .groupBy("user_id", "seq")
            .agg(F.max((F.col("event_type") == "error").cast("int"))
                 .alias("err"),
                 F.max((F.col("event_type") == "purchase").cast("int"))
                 .alias("buy")))
    g = sess.agg(
        F.sum(((F.col("err") == 1) & (F.col("buy") == 1)).cast("long"))
        .alias("a"),   # error & purchase
        F.sum(((F.col("err") == 1) & (F.col("buy") == 0)).cast("long"))
        .alias("b"),   # error & no purchase
        F.sum(((F.col("err") == 0) & (F.col("buy") == 1)).cast("long"))
        .alias("c"),   # clean & purchase
        F.sum(((F.col("err") == 0) & (F.col("buy") == 0)).cast("long"))
        .alias("d"))   # clean & no purchase
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    # zero-margin guards (a clean day has no error sessions → a+b = 0,
    # and ANSI mode errors on the 0/0 instead of returning NULL);
    # all-true on non-degenerate data so the oracle hash-match holds
    conv_err = F.when(F.col("a") + F.col("b") > 0,
                      F.col("a").cast("double")
                      / (F.col("a") + F.col("b")))
    conv_clean = F.when(F.col("c") + F.col("d") > 0,
                        F.col("c").cast("double")
                        / (F.col("c") + F.col("d")))
    odds = (((F.col("a") + 1) * (F.col("d") + 1)).cast("double")
            / ((F.col("b") + 1) * (F.col("c") + 1)).cast("double"))
    chi2 = chi2_2x2(F.col("a"), F.col("b"), F.col("c"), F.col("d"))
    return g.select(
        n.alias("n_sessions"), "a", "b", "c", "d",
        conv_err.alias("conv_rate_with_error"),
        conv_clean.alias("conv_rate_clean"),
        F.when(conv_clean > 0, conv_err / conv_clean)
        .alias("risk_ratio"),
        odds.alias("odds_ratio_add1"),
        chi2.alias("chi2"))


ORACLE_ERROR_CONVERSION = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM flagged
), sess AS (
  SELECT user_id, seq,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buy
  FROM numbered GROUP BY user_id, seq
), g AS (
  SELECT CAST(SUM(CASE WHEN err = 1 AND buy = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN err = 1 AND buy = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN err = 0 AND buy = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN err = 0 AND buy = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM sess)
SELECT a + b + c + d AS n_sessions, a, b, c, d,
       CAST(a AS DOUBLE) / (a + b) AS conv_rate_with_error,
       CAST(c AS DOUBLE) / (c + d) AS conv_rate_clean,
       (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d))
         AS risk_ratio,
       CAST((a + 1) * (d + 1) AS DOUBLE)
         / CAST((b + 1) * (c + 1) AS DOUBLE) AS odds_ratio_add1,
       (CAST(CAST(a AS HUGEINT)*d - CAST(b AS HUGEINT)*c AS DOUBLE)
          / CAST(CAST(a + b AS HUGEINT) * (c + d) AS DOUBLE))
       * (CAST(CAST(a AS HUGEINT)*d - CAST(b AS HUGEINT)*c AS DOUBLE)
          / CAST(CAST(a + c AS HUGEINT) * (b + d) AS DOUBLE))
       * CAST(a + b + c + d AS DOUBLE) AS chi2
FROM g
"""

def events_multitouch_attribution(spark: SparkSession, sf_dir: str,
                                  lookback_days: int = 7) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes ONE
    unit of credit equally across the user's click/view touches in the
    preceding 7 days — the fairness-baseline attribution model beside
    last-touch (events_session_attribution's interval join); per touch
    type the total credit, touches, and purchases reached.

    Shape: a user-keyed range join (purchase × touches within the
    lookback — bounded fan-out: one user's week of touches), a
    purchase-PARTITIONed count window for n (purchase_id is the
    partition key — scales out), then an O(types) rollup. Portability:
    each credit is the single IEEE divide 1/n cast to the decimal
    protocol before summing (order-independent exact sum); counts
    exact.
    """
    from .relational import DEC, load_events

    e = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         us.alias("p_us")))
    touches = (e.filter(F.col("event_type").isin("click", "view"))
               .select(F.col("user_id").alias("t_user"),
                       F.col("event_id").alias("touch_id"),
                       F.col("event_type").alias("touch_type"),
                       us.alias("t_us")))
    horizon = lookback_days * 86_400_000_000
    j = purchases.join(
        touches,
        on=[F.col("p_user") == F.col("t_user"),
            F.col("t_us") < F.col("p_us"),
            F.col("t_us") >= F.col("p_us") - F.lit(horizon)])
    n = F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    credited = j.select(
        "purchase_id", "touch_type",
        (F.lit(1.0) / n.cast("double")).cast(DEC).alias("credit"))
    return (credited.groupBy("touch_type")
            .agg(F.count(F.lit(1)).alias("n_touches"),
                 F.countDistinct("purchase_id").alias("n_purchases"),
                 F.sum("credit").cast("double").alias("total_credit"))
            .orderBy("touch_type"))


ORACLE_MULTITOUCH = """
WITH purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id,
         epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'),
touches AS (
  SELECT user_id AS t_user, event_id AS touch_id,
         event_type AS touch_type, epoch_us(ts) AS t_us
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT purchase_id, touch_type,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n
  FROM purchases JOIN touches
    ON p_user = t_user AND t_us < p_us
   AND t_us >= p_us - 7 * 86400000000)
SELECT touch_type,
       COUNT(*) AS n_touches,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       CAST(SUM(CAST(1.0E0 / CAST(n AS DOUBLE) AS DECIMAL(28,6)))
            AS DOUBLE) AS total_credit
FROM j GROUP BY touch_type ORDER BY touch_type
"""

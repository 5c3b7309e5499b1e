"""Time-series shaping over the events table: dense gap-filled timelines
and batch sliding windows.

The reference is batch-only with no event-time surface (SURVEY.md §2.2) —
these extend the event-time battery the way a monitoring / feature-store
pipeline needs it:

- **Gap-filling** materializes the missing buckets of a sparse rollup (an
  hour with no events must exist as a zero row before rate math, joins
  against a forecast, or charting are correct). Spark-first shape: the
  dense timeline comes from ``sequence()`` over each series' own min/max
  hour — one row per series expanded JVM-side, no driver loop, no
  cross-join against a global calendar (which would explode at 100 TB
  with many short-lived series).
- **Sliding windows** in batch via explode of the covering window starts —
  the same mechanism Structured Streaming's ``F.window(ts, "1 hour",
  slide)`` uses (streaming/events.py sliding_rollup). The batch demo
  slides every 30 minutes (2 covering windows/event); the stream slides
  every 15 (4/event) and carries its own oracle
  (ORACLE_STREAMING_SLIDING) — each is checked independently.

Both emit formatted timestamp strings per the determinism protocol
(operators/relational.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import load_events


_FMT = "yyyy-MM-dd HH:mm:ss"


def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly event counts: every hour between each type's
    first and last event exists, absent hours carry n_events = 0.

    Plan shape: sparse rollup (one shuffle) → per-type min/max (same
    grouping key, reuses the partitioning) → ``sequence()`` explode builds
    each type's timeline → left join the sparse counts back on
    (type, hour). The timeline explode is linear in emitted rows and
    everything stays in whole-stage codegen."""
    e = load_events(spark, sf_dir)
    sparse = (e.groupBy("event_type",
                        F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    spans = (sparse.groupBy("event_type")
             .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi")))
    timeline = spans.select(
        "event_type",
        F.explode(F.sequence("lo", "hi",
                             F.expr("INTERVAL 1 HOUR"))).alias("hr"))
    return (timeline.join(sparse, ["event_type", "hr"], "left")
            .select("event_type",
                    F.date_format("hr", _FMT).alias("hour_start"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events"))
            .orderBy("event_type", "hour_start"))


ORACLE_EVENTS_GAPFILL = """
WITH sparse AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2),
spans AS (
  SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM sparse GROUP BY 1),
timeline AS (
  SELECT event_type, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM spans)
SELECT t.event_type,
       strftime(t.hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
       COALESCE(s.n_events, 0) AS n_events
FROM timeline t LEFT JOIN sparse s
  ON t.event_type = s.event_type AND t.hr = s.hr
ORDER BY t.event_type, hour_start
"""


def events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes, in batch: each event lands
    in exactly two windows (explode of the two covering starts), then one
    groupBy. Same explode-the-covering-starts mechanism as streaming
    sliding_rollup, with a different slide (30 min here vs 15 min there);
    the stream is oracle-checked by its own ORACLE_STREAMING_SLIDING."""
    e = load_events(spark, sf_dir)
    half = F.date_trunc("hour", F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
    starts = F.array(
        F.date_trunc("hour", "ts"),
        half + F.expr("INTERVAL 30 MINUTES"),
    )
    return (e.select("event_type", "ts",
                     F.explode(starts).alias("win_start"))
            .filter((F.col("ts") >= F.col("win_start"))
                    & (F.col("ts") < F.col("win_start")
                       + F.expr("INTERVAL 1 HOUR")))
            .groupBy("event_type", "win_start")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("event_type",
                    F.date_format("win_start", _FMT).alias("win_start"),
                    "n_events")
            .orderBy("event_type", "win_start"))


ORACLE_EVENTS_SLIDING = """
WITH hits AS (
  SELECT event_type, ts, UNNEST([
           date_trunc('hour', ts),
           date_trunc('hour', ts - INTERVAL 30 MINUTE)
             + INTERVAL 30 MINUTE]) AS win_start
  FROM events)
SELECT event_type,
       strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n_events
FROM hits
WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
GROUP BY event_type, win_start
ORDER BY event_type, win_start
"""


def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: an (event_type, hour)
    rollup built from the table's first days (the "materialized" state),
    refreshed with a late-arriving delta batch by merging ONLY the
    affected buckets — the continuous-aggregate / hypertable-rollup
    pattern. The oracle recomputes the rollup over the WHOLE table, so
    the driver check IS the view-maintenance correctness statement:
    merge(base, delta) ≡ full recompute.

    Scale: refresh cost is O(delta ∪ touched buckets), never O(table) —
    the base side is already aggregated (at 100 TB it's the stored MV,
    re-read not re-derived; here both halves come from one scan split by
    a cutoff). Partial sums stay DECIMAL through the merge (exact,
    order-independent) and convert to double once at emission. The
    cutoff derives from the data via a broadcast 1-row cross join — no
    driver-side collect.
    """
    from .relational import DEC, _fmt_ts

    e = load_events(spark, sf_dir).select(
        "event_type", "ts", F.col("value"))
    cutoff = e.agg(
        (F.date_trunc("day", F.min("ts"))
         + F.expr("INTERVAL 4 DAYS")).alias("cutoff"))
    tagged = e.crossJoin(F.broadcast(cutoff))

    def _rollup(df):
        return (df.groupBy("event_type",
                           F.date_trunc("hour", "ts").alias("hour_start"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast(DEC)).alias("s")))

    # NULL-ts events fail BOTH cutoff predicates (3VL) — route them to
    # the delta side explicitly so merge(base, delta) still covers every
    # input row and the NULL hour bucket survives, exactly like the
    # full-recompute oracle's GROUP BY (corrupted-events contract, r10).
    base = _rollup(tagged.filter(F.col("ts") < F.col("cutoff")))
    delta = _rollup(tagged.filter((F.col("ts") >= F.col("cutoff"))
                                  | F.col("ts").isNull()))
    # SUM over an all-NULL group is NULL on both engines — keep it NULL
    # through the merge instead of coalescing the pair to 0.
    msum = (F.coalesce(F.col("bs"), F.lit(0).cast(DEC))
            + F.coalesce(F.col("ds"), F.lit(0).cast(DEC)))
    merged = (base.withColumnsRenamed({"n": "bn", "s": "bs"})
              .join(delta.withColumnsRenamed({"n": "dn", "s": "ds"}),
                    ["event_type", "hour_start"], "full_outer")
              .select(
                  "event_type", "hour_start",
                  (F.coalesce("bn", F.lit(0))
                   + F.coalesce("dn", F.lit(0))).alias("n_events"),
                  F.when(F.col("bs").isNull() & F.col("ds").isNull(),
                         F.lit(None).cast(DEC))
                  .otherwise(msum).cast("double").alias("total_value")))
    return (merged.select("event_type",
                          _fmt_ts("hour_start").alias("hour_start"),
                          "n_events", "total_value")
            .orderBy("event_type", "hour_start"))


ORACLE_ROLLUP_REFRESH = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, hour_start
"""


def events_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF imputation (last observation carried forward): each user's
    sparse daily observations become a DENSE per-day series over the
    user's own active range, missing days filled with the most recent
    value — the panel-data imputation every feature store runs before
    training on irregular observations.

    Restricted to user_id < 15 to bound emitted rows (the dense grid is
    users × days). Shape: per-(user, day) last value (keyed agg with a
    deterministic (ts, event_id) tiebreak via MAX_BY on the packed key),
    the user's day range densified JVM-side with ``sequence()`` (each
    user expands only its own span — no global calendar cross join),
    then ONE window ``last(ignorenulls)`` per user carries values
    forward. The filled value is bitwise-portable (carried, not
    computed).
    """
    from pyspark.sql import Window

    from .relational import load_events

    e = load_events(spark, sf_dir).filter(F.col("user_id") < 15)
    # last observation per (user, day): deterministic pick via the
    # packed (within-day offset, event_id) ordering key, widened past
    # BIGINT so it carries the FULL event_id (no modulus ceiling): the
    # key is DECIMAL(38,0) on the Spark side and HUGEINT in the DuckDB
    # oracle — offset < 8.64e10 times the 1e12 id slot tops out at
    # ~8.64e22, far inside both 38-digit decimal and int128, and the
    # slot stays collision-free up to 10^12 event ids. Both engines
    # order these integer keys exactly, so max_by/arg_max tiebreaks
    # agree bit-for-bit.
    okey = ((F.unix_micros("ts") % 86400000000).cast("decimal(38,0)")
            * F.lit(1000000000000) + F.col("event_id"))
    # NULL observations are not observations (corrupted-events contract,
    # r10): masking the ordering key makes max_by skip NULL-value rows —
    # the exact semantics of DuckDB's arg_max, which ignores NULL-arg
    # rows. A day whose events all carry NULL stays on the grid with
    # day_value NULL (observed = false, value carried).
    okey = F.when(F.col("value").isNotNull(), okey)
    daily = (e.groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(F.max_by("value", okey).alias("day_value")))
    spans = (daily.groupBy("user_id")
             .agg(F.min("day").alias("d0"), F.max("day").alias("d1")))
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(daily, ["user_id", "day"], "left")
            .withColumn("filled_value",
                        F.last("day_value", ignorenulls=True).over(w))
            .select("user_id",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.col("day_value").isNotNull().alias("observed"),
                    "filled_value")
            .orderBy("user_id", "day"))


ORACLE_EVENTS_LOCF = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         arg_max(value, (epoch_us(ts) % 86400000000)::HUGEINT
                        * 1000000000000 + event_id)
           AS day_value
  FROM events WHERE user_id < 15
  GROUP BY user_id, CAST(ts AS DATE)
), spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
  GROUP BY user_id
), grid AS (
  SELECT s.user_id,
         CAST(UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM spans s
)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       d.day_value IS NOT NULL AS observed,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_value
FROM grid g LEFT JOIN daily d
  ON g.user_id = d.user_id AND g.day = d.day
ORDER BY g.user_id, day
"""


def events_linear_interp_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation imputation — the second imputation class
    beside ``events_locf_daily`` (carry): missing days on each user's
    dense daily grid get the value linearly interpolated between the
    nearest observed neighbors (leading/trailing gaps fall back to the
    single available neighbor, pandas ``interpolate(limit_direction=
    'both')`` semantics).

    Shape: reuses LOCF's grid construction (per-(user, day) last value
    with the deterministic packed-key tiebreak, per-user ``sequence()``
    densification), then FOUR window fills over ONE (user, day) sort —
    backward value/day and forward value/day — feed the interpolation
    arithmetic. All four windows share the same partitioning and
    ordering, so Spark pays a single shuffle + sort.

    Float parity: the interpolated value is computed with the exact
    operand order mirrored in the oracle — ``prev + (next - prev) *
    (CAST(gap AS DOUBLE) / span)`` — on operands that are themselves
    bitwise-portable (carried doubles, integer day arithmetic), and
    IEEE-754 +,-,*,/ are exactly rounded, so both engines produce the
    identical double bit pattern.
    """
    from pyspark.sql import Window

    from .relational import load_events

    e = load_events(spark, sf_dir).filter(F.col("user_id") < 15)
    # Packed tiebreak key inherited from events_locf_daily (full rationale
    # there): DECIMAL(38,0) Spark-side / HUGEINT oracle-side, so the FULL
    # event_id rides in a 1e12 slot with no modulus ceiling (r4 advice
    # resolved: the old % 1e7 slot capped deterministic tiebreaks at 10M
    # ids; the widened key is collision-free to 10^12).
    okey = ((F.unix_micros("ts") % 86400000000).cast("decimal(38,0)")
            * F.lit(1000000000000) + F.col("event_id"))
    # NULL observations are not observations — see events_locf_daily.
    okey = F.when(F.col("value").isNotNull(), okey)
    daily = (e.groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(F.max_by("value", okey).alias("day_value")))
    spans = (daily.groupBy("user_id")
             .agg(F.min("day").alias("d0"), F.max("day").alias("d1")))
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    wb = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    g = (grid.join(daily, ["user_id", "day"], "left")
         .withColumn("pv", F.last("day_value", ignorenulls=True).over(wb))
         .withColumn("pd", F.last(obs_day, ignorenulls=True).over(wb))
         .withColumn("nv", F.first("day_value", ignorenulls=True).over(wf))
         .withColumn("nd", F.first(obs_day, ignorenulls=True).over(wf)))
    interp = (F.col("pv")
              + (F.col("nv") - F.col("pv"))
              * (F.datediff("day", "pd").cast("double")
                 / F.datediff("nd", "pd").cast("double")))
    filled = (F.when(F.col("day_value").isNotNull(), F.col("day_value"))
              .when(F.col("pv").isNull(), F.col("nv"))
              .when(F.col("nv").isNull(), F.col("pv"))
              .otherwise(interp))
    return (g.select("user_id",
                     F.date_format("day", "yyyy-MM-dd").alias("day"),
                     F.col("day_value").isNotNull().alias("observed"),
                     filled.alias("filled_value"))
            .orderBy("user_id", "day"))


ORACLE_EVENTS_LINEAR_INTERP = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         arg_max(value, (epoch_us(ts) % 86400000000)::HUGEINT
                        * 1000000000000 + event_id)
           AS day_value
  FROM events WHERE user_id < 15
  GROUP BY user_id, CAST(ts AS DATE)
), spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
  GROUP BY user_id
), grid AS (
  SELECT s.user_id,
         CAST(UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM spans s
), filled AS (
  SELECT g.user_id, g.day, d.day_value,
         LAST_VALUE(d.day_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN g.day END
                    IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         FIRST_VALUE(d.day_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN g.day END
                     IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM grid g LEFT JOIN daily d
    ON g.user_id = d.user_id AND g.day = d.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       day_value IS NOT NULL AS observed,
       CASE WHEN day_value IS NOT NULL THEN day_value
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv)
                 * (CAST(date_diff('day', pd, day) AS DOUBLE)
                    / CAST(date_diff('day', pd, nd) AS DOUBLE))
       END AS filled_value
FROM filled
ORDER BY user_id, day
"""


def _dense_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free (event_type, day_num, cnt) daily series over each type's
    own [min_day, max_day] span — zero-count days materialized. Shared
    by :func:`events_acf_daily` and
    :func:`forecast_seasonal_naive_eval`: both are lag-k statistics
    whose k must mean CALENDAR days, not observation index. day_num is
    an exact integer day count from 1970-01-01 (``datediff`` ↔ DuckDB
    ``date_diff('day', ...)``). One corpus-sized shuffle (the daily
    aggregation); the grid explode and left join run on the days-sized
    frame."""
    from .relational import load_events

    e = load_events(spark, sf_dir)
    daily = (e.select(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                      .alias("day_num"), "event_type")
             .groupBy("event_type", "day_num")
             .agg(F.count(F.lit(1)).alias("cnt")))
    span = daily.groupBy("event_type").agg(
        F.min("day_num").alias("d0"), F.max("day_num").alias("d1"))
    return (span.select("event_type",
                        F.explode(F.expr("sequence(d0, d1)"))
                        .alias("day_num"))
            .join(daily, ["event_type", "day_num"], "left")
            .select("event_type", "day_num",
                    F.coalesce("cnt", F.lit(0)).alias("cnt")))


def events_acf_daily(spark: SparkSession, sf_dir: str,
                     max_lag: int = 7) -> DataFrame:
    """Sample autocorrelation of each event type's DAILY event count at
    lags 1..max_lag — the seasonality/persistence diagnostic a
    forecasting or anomaly pipeline runs before picking a model (a
    weekly cycle shows as a lag-7 peak, heavy persistence as slow lag-1
    decay). The series is densified first (zero-count days exist) over
    each type's own [min_day, max_day] span, so the lag join is over a
    gap-free grid; classic estimator: numerator over the n-k overlapping
    pairs, denominator = the full-series centered sum of squares.

    Portability: day arithmetic is exact integer day numbers
    (``datediff`` from the epoch ↔ DuckDB ``date_diff('day', ...)``),
    counts are exact ints, the mean is one IEEE divide of exact values,
    each centered product is an oracle-identical double chain rounded to
    DECIMAL(28,6) before the order-independent sum, and acf is one final
    divide. No log/exp anywhere.

    Scale shape: ONE corpus-sized shuffle (the daily count aggregation,
    O(types × days) output); everything after — span, dense grid via
    ``sequence()``, the lag-k self-join, per-(type,lag) sums — runs on
    the days-sized frame. No single-partition window (the lag is an
    equi-join on day_num + k, not an ordered window), no driver loop.
    """
    from .relational import DEC

    dense = _dense_daily_counts(spark, sf_dir)
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1)))
        .alias("mean_cnt"))
    centered = (dense.join(F.broadcast(stats), "event_type")
                .select("event_type", "day_num", "n_days", "mean_cnt",
                        (F.col("cnt").cast("double") - F.col("mean_cnt"))
                        .alias("dev")))
    den = centered.groupBy("event_type").agg(
        F.sum((F.col("dev") * F.col("dev")).cast(DEC)).cast("double")
        .alias("css"))
    # emit each day's dev at address day_num - lag so the equi-join below
    # pairs dev_t with dev_{t+lag} without any ordered window
    lagged = (centered.select("event_type", "day_num", "dev")
              .withColumn("lag", F.explode(F.expr(f"sequence(1, {max_lag})")))
              .select("event_type", (F.col("day_num") - F.col("lag"))
                      .alias("day_num"), "lag",
                      F.col("dev").alias("dev_lag")))
    num = (centered.join(lagged, ["event_type", "day_num"])
           .groupBy("event_type", "lag")
           .agg(F.sum((F.col("dev") * F.col("dev_lag")).cast(DEC))
                .cast("double").alias("cprod")))
    return (num.join(F.broadcast(den), "event_type")
            .join(F.broadcast(stats.select("event_type", "n_days")),
                  "event_type")
            .select("event_type", "lag", "n_days",
                    # a CONSTANT daily series has zero centered sum of
                    # squares — ACF undefined → NULL, not an ANSI
                    # divide error (all-true on fixture data)
                    F.when(F.col("css") > 0,
                           F.col("cprod") / F.col("css")).alias("acf"))
            .orderBy("event_type", "lag"))


ORACLE_EVENTS_ACF = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         COUNT(*) AS cnt
  FROM events GROUP BY event_type, day_num),
span AS (
  SELECT event_type, MIN(day_num) AS d0, MAX(day_num) AS d1
  FROM daily GROUP BY event_type),
grid AS (
  SELECT s.event_type, g.day_num
  FROM span s,
       LATERAL (SELECT UNNEST(generate_series(s.d0, s.d1)) AS day_num) g),
dense AS (
  SELECT g.event_type, g.day_num, COALESCE(d.cnt, 0) AS cnt
  FROM grid g LEFT JOIN daily d
    ON d.event_type = g.event_type AND d.day_num = g.day_num),
stats AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_cnt
  FROM dense GROUP BY event_type),
centered AS (
  SELECT d.event_type, d.day_num, s.n_days,
         CAST(d.cnt AS DOUBLE) - s.mean_cnt AS dev
  FROM dense d JOIN stats s USING (event_type)),
den AS (
  SELECT event_type,
         CAST(SUM(CAST(dev * dev AS DECIMAL(28,6))) AS DOUBLE) AS css
  FROM centered GROUP BY event_type),
lags AS (SELECT UNNEST(generate_series(1, 7)) AS lag),
num AS (
  SELECT a.event_type, l.lag,
         CAST(SUM(CAST(a.dev * b.dev AS DECIMAL(28,6))) AS DOUBLE)
           AS cprod
  FROM centered a
  JOIN lags l ON TRUE
  JOIN centered b
    ON b.event_type = a.event_type AND b.day_num = a.day_num + l.lag
  GROUP BY a.event_type, l.lag)
SELECT n.event_type, n.lag, s.n_days, n.cprod / d.css AS acf
FROM num n JOIN den d USING (event_type) JOIN stats s USING (event_type)
ORDER BY event_type, lag
"""


def forecast_seasonal_naive_eval(spark: SparkSession, sf_dir: str,
                                 season: int = 7) -> DataFrame:
    """Backtest of the two zero-parameter forecasting baselines every
    model must beat — seasonal-naive (ŷ_d = y_{d−7}) and naive-1
    (ŷ_d = y_{d−1}) — over each type's dense daily count series, with
    the MASE-style ratio mae_seasonal / mae_naive1 (< 1 ⇒ the weekly
    cycle carries real signal; this is the go/no-go readout before
    spending on a trained forecaster). Both forecasts are scored on the
    SAME eval days (those with a full ``season``-day history) so the
    ratio compares like with like.

    Portability: the forecast lookups are equi-joins on day_num − k over
    the shared :func:`_dense_daily_counts` integer grid — no ordered
    window; absolute errors are exact integers, their sums exact
    bigints, and the three MAEs / the ratio are single IEEE divides of
    exactly-represented values. Scale shape: one corpus-sized shuffle
    (the daily agg inside the helper), then days-sized joins and an
    O(types) rollup.
    """
    dense = _dense_daily_counts(spark, sf_dir)
    c7 = dense.select("event_type",
                      (F.col("day_num") + F.lit(season)).alias("day_num"),
                      F.col("cnt").alias("cnt_s"))
    c1 = dense.select("event_type",
                      (F.col("day_num") + F.lit(1)).alias("day_num"),
                      F.col("cnt").alias("cnt_1"))
    joined = dense.join(c7, ["event_type", "day_num"]) \
                  .join(c1, ["event_type", "day_num"])
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.sum(F.abs(F.col("cnt") - F.col("cnt_s"))).alias("ae_s"),
        F.sum(F.abs(F.col("cnt") - F.col("cnt_1"))).alias("ae_1"))
    mae_s = F.col("ae_s").cast("double") / F.col("n_eval_days")
    mae_1 = F.col("ae_1").cast("double") / F.col("n_eval_days")
    return (agg.select(
        "event_type", "n_eval_days",
        mae_s.alias("mae_seasonal"),
        mae_1.alias("mae_naive1"),
        # naive-1 perfect on a constant series → MASE undefined → NULL,
        # not an ANSI divide error (all-true on fixture data)
        F.when(mae_1 > 0, mae_s / mae_1).alias("mase"))
        .orderBy("event_type"))


ORACLE_FORECAST_SEASONAL_NAIVE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         COUNT(*) AS cnt
  FROM events GROUP BY event_type, day_num),
span AS (
  SELECT event_type, MIN(day_num) AS d0, MAX(day_num) AS d1
  FROM daily GROUP BY event_type),
grid AS (
  SELECT s.event_type, g.day_num
  FROM span s,
       LATERAL (SELECT UNNEST(generate_series(s.d0, s.d1)) AS day_num) g),
dense AS (
  SELECT g.event_type, g.day_num, COALESCE(d.cnt, 0) AS cnt
  FROM grid g LEFT JOIN daily d
    ON d.event_type = g.event_type AND d.day_num = g.day_num),
joined AS (
  SELECT a.event_type, a.cnt, s.cnt AS cnt_s, o.cnt AS cnt_1
  FROM dense a
  JOIN dense s ON s.event_type = a.event_type
              AND s.day_num = a.day_num - 7
  JOIN dense o ON o.event_type = a.event_type
              AND o.day_num = a.day_num - 1),
agg AS (
  SELECT event_type, COUNT(*) AS n_eval_days,
         CAST(SUM(ABS(cnt - cnt_s)) AS BIGINT) AS ae_s,
         CAST(SUM(ABS(cnt - cnt_1)) AS BIGINT) AS ae_1
  FROM joined GROUP BY event_type)
SELECT event_type, n_eval_days,
       CAST(ae_s AS DOUBLE) / n_eval_days AS mae_seasonal,
       CAST(ae_1 AS DOUBLE) / n_eval_days AS mae_naive1,
       (CAST(ae_s AS DOUBLE) / n_eval_days)
         / (CAST(ae_1 AS DOUBLE) / n_eval_days) AS mase
FROM agg ORDER BY event_type
"""

"""Event-time analytics battery #2: OHLC bars, time-weighted averages,
interval coalescing (gaps-and-islands), rolling-window distinct users,
bucketed interval-join session attribution, and per-key EMA recurrence.

These are the market-data / observability shapes an event table answers
after migration (reference has no row plane — SURVEY.md §2.2 EXT) and the
session/coverage features a training-data pipeline derives from logs.

Scale theme: every operator is a bounded number of keyed shuffles whose
partitioning is (event_type | user_id | day) — high-cardinality keys that
scale out; windows always carry PARTITION BY, so sort runs stay inside
their shuffle partition at any data size.

Determinism protocol (operators/relational.py): event-time arithmetic uses
exact integer microseconds (``unix_micros`` ↔ DuckDB ``epoch_us``), money
sums use the decimal protocol, emitted timestamps are formatted strings,
and every window order carries the unique ``event_id`` tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import DEC, _fmt_ts, load_events


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type: open/close are the first/last
    value in the hour (deterministic (ts, event_id) order), high/low the
    extremes, plus count and exact-decimal volume.

    Plan (rewritten round 7): NO window at all — open/close are
    ``min_by``/``max_by`` over the (us, event_id) struct key, so the
    whole query is ONE hash aggregation with map-side partials (the
    previous shared window+agg shuffle still SORTED every (type, hour)
    cell; a hot hour at 100 TB holds 1e8 rows and sorts in one task —
    an agg never sorts). Partition cardinality is types × hours — grows
    with retention, shuffles evenly at 100 TB.
    """
    e = load_events(spark, sf_dir)
    base = e.select(
        "event_type", "event_id", "value",
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.unix_micros("ts").alias("us"))
    okey = F.struct(F.col("us"), F.col("event_id"))
    return (base.groupBy("event_type", "hour_start")
            .agg(F.min_by("value", okey).alias("open_v"),
                 F.max("value").alias("high_v"),
                 F.min("value").alias("low_v"),
                 F.max_by("value", okey).alias("close_v"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("volume"))
            .select("event_type", _fmt_ts("hour_start").alias("hour_start"),
                    "open_v", "high_v", "low_v", "close_v", "n_events",
                    "volume")
            .orderBy("event_type", "hour_start"))


ORACLE_EVENTS_OHLC = """
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY epoch_us(ts), event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type,
                        date_trunc('hour', ts)) AS n
  FROM events
)
SELECT event_type,
       strftime(hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
       MAX(CASE WHEN rn = 1 THEN value END) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       MAX(CASE WHEN rn = n THEN value END) AS close_v,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS volume
FROM ranked
GROUP BY event_type, hour_start
ORDER BY event_type, hour_start
"""


def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each observation holds
    until the next one, so its weight is that duration (the last
    observation of a type carries no interval and is excluded — standard
    TWAP over a closed observation span).

    Determinism: durations are exact integer microseconds; the
    value×duration product is one double multiply on identical operands;
    products are summed under the decimal protocol and divided ONCE by
    the exact integer duration total.

    Plan (rewritten round 7): lead() over a 5-value event_type window
    serializes each type's WHOLE stream through one task at scale — the
    successor now comes from :func:`~.scale.grouped_ranks` (range
    shuffle, no WindowExec) plus an adjacency equi-join on
    (event_type, rn+1): the per-type ordinal is a join key that scales
    out even when the type key itself cannot. The final agg still
    collapses to O(types) rows with map-side partials.
    """
    from .scale import grouped_ranks

    e = load_events(spark, sf_dir)
    base = e.select("event_type", "event_id", "value",
                    F.unix_micros("ts").alias("us"))
    rk = grouped_ranks(base, ["event_type"],
                       [F.asc("us"), F.asc("event_id")], rank_col="rn")
    nxt = rk.select("event_type", (F.col("rn") - 1).alias("rn"),
                    F.col("us").alias("next_us"))
    spans = (rk.join(nxt, ["event_type", "rn"])
             .withColumn("dur_us", F.col("next_us") - F.col("us"))
             # a span with a NULL endpoint (corrupted NULL ts on either
             # side) carries no time weight — drop it like the oracle's
             # WHERE dur_us IS NOT NULL; inert on NULL-free data (r10)
             .filter(F.col("dur_us").isNotNull()))
    weighted = F.col("value") * F.col("dur_us").cast("double")
    return (spans.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum("dur_us").alias("total_dur_us"),
                 (F.sum(weighted.cast(DEC)).cast("double")
                  / F.sum("dur_us").cast("double")).alias("twap"))
            .orderBy("event_type"))


ORACLE_EVENTS_TWAP = """
WITH spans AS (
  SELECT event_type, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dur_us
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_spans,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       CAST(SUM(CAST(value * CAST(dur_us AS DOUBLE) AS DECIMAL(28,6)))
            AS DOUBLE)
         / CAST(SUM(dur_us) AS DOUBLE) AS twap
FROM spans
WHERE dur_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def _user_islands(point_events: DataFrame, hold_us: int) -> DataFrame:
    """Gaps-and-islands core shared by ``events_interval_islands`` and
    ``events_session_attribution``: each input row opens a [st, st+hold)
    interval; overlapping/touching intervals per user merge. Input needs
    (user_id, event_id, ts); returns one row per (user_id, island) with
    ``from_us``/``to_us`` bounds and ``n_events``.

    Boundary rule (pinned by both call sites' tests and oracles): a new
    island starts where an interval begins STRICTLY after the running
    maximum end of all earlier intervals — cumulative MAX over the
    1-preceding frame, then a cumulative SUM of the flags numbers the
    islands. One window + one agg on the same user partitioning.
    """
    base = (point_events
            .select("user_id", "event_id", F.unix_micros("ts").alias("st"))
            .withColumn("en", F.col("st") + F.lit(hold_us)))
    # asc_nulls_last pins the cross-engine NULL ordering (Spark defaults
    # NULLS FIRST, DuckDB NULLS LAST): corrupted NULL-ts rows sort after
    # every real interval and fold into the user's last island on both
    # engines instead of each opening a phantom island (r10). Inert on
    # NULL-free data by construction.
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("st"),
                                              "event_id")
    prev_max_end = F.max("en").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "is_start",
        F.when(prev_max_end.isNull() | (F.col("st") > prev_max_end),
               F.lit(1)).otherwise(F.lit(0)))
    islanded = flagged.withColumn(
        "island",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islanded.groupBy("user_id", "island")
            .agg(F.min("st").alias("from_us"),
                 F.max("en").alias("to_us"),
                 F.count(F.lit(1)).alias("n_events")))


def events_interval_islands(spark: SparkSession, sf_dir: str,
                            hold_minutes: int = 10) -> DataFrame:
    """Coalesce each user's activity into maximal covered intervals
    (gaps-and-islands): every event opens a [ts, ts+hold) interval;
    overlapping/touching intervals merge. Classic coverage/uptime shape.

    The island boundary is where an interval starts strictly after the
    running maximum end of all earlier intervals — computed with ONE
    window over (user_id | us, event_id): a cumulative MAX over the
    1-preceding frame, then a cumulative SUM of the boundary flags
    numbers the islands. Exact integer microsecond arithmetic.

    Plan: one shuffle on user_id shared by the window pass and the
    (user, island) aggregation — island ids are a refinement of the
    user partitioning, so the second groupBy needs no new exchange
    under AQE. State per user is one sort run; users scale out.
    """
    islands = _user_islands(load_events(spark, sf_dir),
                            hold_minutes * 60_000_000)
    return (islands.select(
        "user_id", "island",
        _fmt_ts(F.timestamp_micros(F.col("from_us"))).alias("covered_from"),
        _fmt_ts(F.timestamp_micros(F.col("to_us"))).alias("covered_to"),
        "n_events")
        .orderBy("user_id", "island"))


ORACLE_EVENTS_ISLANDS = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS st,
         epoch_us(ts) + 600000000 AS en
  FROM events
), flagged AS (
  SELECT user_id, st, en,
         CASE WHEN MAX(en) OVER (PARTITION BY user_id
                                 ORDER BY st, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) IS NULL
                   OR st > MAX(en) OVER (PARTITION BY user_id
                                         ORDER BY st, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_start,
         event_id
  FROM base
), islanded AS (
  SELECT user_id, st, en,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY st, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island,
       strftime(make_timestamp(MIN(st)), '%Y-%m-%d %H:%M:%S')
         AS covered_from,
       strftime(make_timestamp(MAX(en)), '%Y-%m-%d %H:%M:%S')
         AS covered_to,
       COUNT(*) AS n_events
FROM islanded
GROUP BY user_id, island
ORDER BY user_id, island
"""


def events_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per event type, one row per
    (type, day) present in the data: users active in [day-6, day].

    Spark has no COUNT(DISTINCT) over a window — the scalable rewrite is
    contribute-then-count: each distinct (type, user, day) row is exploded
    to the ≤7 window-end days it contributes to, then one COUNT(DISTINCT)
    per (type, end day). The explode factor is the constant 7, not data-
    sized; the dedup and the count are each one keyed shuffle. End days
    are restricted to days that actually occur (semi-join against the
    tiny distinct-day set — broadcast).
    """
    e = load_events(spark, sf_dir)
    active = (e.select("event_type", "user_id",
                       F.to_date("ts").alias("day")).distinct())
    days = active.select("day").distinct()
    contrib = active.select(
        "event_type", "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))"))
        .alias("win_end"))
    return (contrib
            .join(F.broadcast(days.withColumnRenamed("day", "win_end")),
                  "win_end")
            .groupBy("event_type", "win_end")
            .agg(F.count_distinct("user_id").alias("n_active_7d"))
            .select("event_type",
                    F.date_format("win_end", "yyyy-MM-dd").alias("win_end"),
                    "n_active_7d")
            .orderBy("event_type", "win_end"))


ORACLE_EVENTS_ACTIVE_7D = """
WITH active AS (
  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM active
), contrib AS (
  SELECT a.event_type, a.user_id,
         CAST(UNNEST(generate_series(a.day, a.day + 6, INTERVAL 1 DAY))
              AS DATE) AS win_end
  FROM active a
)
SELECT c.event_type, strftime(c.win_end, '%Y-%m-%d') AS win_end,
       COUNT(DISTINCT c.user_id) AS n_active_7d
FROM contrib c JOIN days d ON c.win_end = d.day
GROUP BY c.event_type, c.win_end
ORDER BY event_type, win_end
"""


def events_ema(spark: SparkSession, sf_dir: str,
               alpha: float = 0.2) -> DataFrame:
    """Exponential moving average of each event type's value stream —
    the sequential recurrence ema_i = α·x_i + (1−α)·ema_{i−1} that no
    fixed-frame window can express. Emits per-type last EMA + count.

    Implementation: grouped ``applyInPandas`` — the canonical Spark
    escape hatch for per-key SEQUENTIAL state in batch (the streaming
    twin is ``applyInPandasWithState``, streaming/events.py). Each key's
    recurrence is inherently serial, so the scalable axis is ACROSS keys:
    one shuffle on event_type, then each group runs its vectorized
    ``pandas.ewm`` recurrence inside its own task — no driver
    involvement, state bounded by the largest single key.

    Iterative float recurrence → rows-only driver check;
    tests/test_eventtime.py pins the values against an explicit numpy
    loop at sf0.001 and the α=1 / constant-series identities.
    """
    import pandas as pd

    e = load_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value")

    def ema_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        ema = pdf["value"].ewm(alpha=alpha, adjust=False).mean().iloc[-1]
        return pd.DataFrame({"event_type": [pdf["event_type"].iloc[0]],
                             "n_events": [len(pdf)],
                             "ema_last": [float(ema)]})

    return (e.groupBy("event_type")
            .applyInPandas(ema_fn,
                           "event_type string, n_events long, ema_last double")
            .orderBy("event_type"))


def events_ema_checked(spark: SparkSession, sf_dir: str,
                       alpha: float = 0.2) -> DataFrame:
    """Partial-oracle form of :func:`events_ema` (round 9): the stream's
    exact anchors ride the DuckDB hash gate — per-type event count,
    min/max value, and the LAST value in (ts, event_id) order (one
    ``max_by`` agg, no window) — and the iterative EMA collapses to two
    oracle-asserted recurrence invariants:

    - ``ema_convex``: min ≤ ema ≤ max (adjust=False weights are
      non-negative and sum to 1 — the EMA is a convex combination);
    - ``ema_recurrence_band``: |ema − x_n| ≤ (1−α)(max − min) + 1e−9
      (one unfold of ema = α·x_n + (1−α)·ema_{n−1} with
      ema_{n−1} ∈ [min, max]).

    The recurrence VALUES stay pinned by the numpy-loop pytest on the
    raw :func:`events_ema` core."""
    base = events_ema(spark, sf_dir, alpha=alpha)
    e = load_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value"))
    slack = F.lit(1e-9)
    return (base.join(stats, "event_type")
            .select(
                "event_type", "n_events", "min_value", "max_value",
                "last_value",
                ((F.col("ema_last") >= F.col("min_value") - slack)
                 & (F.col("ema_last") <= F.col("max_value") + slack))
                .alias("ema_convex"),
                (F.abs(F.col("ema_last") - F.col("last_value"))
                 <= F.lit(1.0 - alpha)
                 * (F.col("max_value") - F.col("min_value")) + slack)
                .alias("ema_recurrence_band"))
            .orderBy("event_type"))


ORACLE_EVENTS_EMA_CHECKED = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT e.event_type,
       COUNT(*) AS n_events,
       MIN(e.value) AS min_value,
       MAX(e.value) AS max_value,
       MAX(r.value) AS last_value,
       TRUE AS ema_convex,
       TRUE AS ema_recurrence_band
FROM events e
JOIN ranked r ON r.event_type = e.event_type AND r.rn = 1
GROUP BY e.event_type
ORDER BY e.event_type
"""


def events_holt_linear_checked(spark: SparkSession, sf_dir: str,
                               alpha: float = 0.3,
                               beta: float = 0.1) -> DataFrame:
    """Partial-oracle form of :func:`events_holt_linear` (round 9): the
    dense daily series' exact anchors ride the DuckDB hash gate —
    per-type day count and the first/last daily counts of the gap-filled
    grid (a drifted ``_dense_daily_counts`` gap-fill now turns the
    driver row red) — and the recurrence collapses to oracle-asserted
    emission invariants: ``forecast_identity`` (forecast_next ≡ level +
    trend, bitwise — same doubles), ``mae_nonneg``, and ``state_finite``
    (no NaN/Inf escaped the loop). The recurrence VALUES stay pinned by
    the pure-Python replay pytest on the raw core."""
    from .timeseries import _dense_daily_counts

    base = events_holt_linear(spark, sf_dir, alpha=alpha, beta=beta)
    dense = _dense_daily_counts(spark, sf_dir)
    anchors = dense.groupBy("event_type").agg(
        F.min_by("cnt", "day_num").alias("first_cnt"),
        F.max_by("cnt", "day_num").alias("last_cnt"))
    finite = (~F.isnan("level") & ~F.isnan("trend")
              & (F.abs("level") < F.lit(float("inf")))
              & (F.abs("trend") < F.lit(float("inf"))))
    return (base.join(anchors, "event_type")
            .select(
                "event_type", "n_days", "first_cnt", "last_cnt",
                (F.col("forecast_next") == F.col("level") + F.col("trend"))
                .alias("forecast_identity"),
                (F.col("one_step_mae") >= 0).alias("mae_nonneg"),
                finite.alias("state_finite"))
            .orderBy("event_type"))


ORACLE_EVENTS_HOLT_CHECKED = """
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
ranked AS (
  SELECT event_type, day_num, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day_num) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day_num DESC) AS rn_d
  FROM dense)
SELECT event_type,
       COUNT(*) AS n_days,
       CAST(MAX(CASE WHEN rn_a = 1 THEN cnt END) AS BIGINT) AS first_cnt,
       CAST(MAX(CASE WHEN rn_d = 1 THEN cnt END) AS BIGINT) AS last_cnt,
       TRUE AS forecast_identity,
       TRUE AS mae_nonneg,
       TRUE AS state_finite
FROM ranked GROUP BY event_type ORDER BY event_type
"""


def events_session_attribution(spark: SparkSession, sf_dir: str,
                               hold_minutes: int = 10) -> DataFrame:
    """Purchase→session attribution via a BUCKETED interval join: view
    events coalesce into per-user session intervals (same islands logic
    as ``events_interval_islands``, views only); each purchase is then
    matched to the session interval containing it.

    The scalable part is HOW the containment join runs: intervals explode
    to the hour buckets they cover and points map to their single bucket,
    so the join is a plain EQUI-join on (user_id, hour_bucket) with the
    containment predicate verified after — the binning rewrite behind
    commercial range-join hints. Fan-out is bounded by interval length in
    hours (sessions are short), never by per-user event counts; a naive
    user-only join would fan out n_sessions × n_purchases per user and
    melt on power users. Purchases outside any view session drop (inner).

    All interval arithmetic is exact integer microseconds; islands are
    disjoint per user and a purchase has one bucket, so each purchase
    matches at most one (island, bucket) row — no dedup step needed.
    """
    bucket_us = 3_600_000_000  # 1 hour
    e = load_events(spark, sf_dir)
    islands = _user_islands(e.filter(F.col("event_type") == "view"),
                            hold_minutes * 60_000_000)
    covering = islands.select(
        "user_id", "island", "from_us", "to_us",
        F.explode(F.expr(
            f"sequence(from_us div {bucket_us}, (to_us - 1) div {bucket_us})"
        )).alias("bucket"))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "value",
                         F.unix_micros("ts").alias("p_us"))
                 .withColumn("bucket",
                             F.expr(f"p_us div {bucket_us}")))
    matched = (purchases.join(covering, ["user_id", "bucket"])
               .filter((F.col("p_us") >= F.col("from_us"))
                       & (F.col("p_us") < F.col("to_us"))))
    return (matched.groupBy("user_id", "island")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("purchase_value"))
            .orderBy("user_id", "island"))


ORACLE_SESSION_ATTRIBUTION = """
WITH views AS (
  SELECT user_id, event_id, epoch_us(ts) AS st,
         epoch_us(ts) + 600000000 AS en
  FROM events WHERE event_type = 'view'
), flagged AS (
  SELECT user_id, st, en, event_id,
         CASE WHEN MAX(en) OVER (PARTITION BY user_id
                                 ORDER BY st, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) IS NULL
                   OR st > MAX(en) OVER (PARTITION BY user_id
                                         ORDER BY st, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_start
  FROM views
), islands AS (
  SELECT user_id,
         CAST(SUM(is_start) OVER (PARTITION BY user_id
                                  ORDER BY st, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS island,
         st, en
  FROM flagged
), intervals AS (
  SELECT user_id, island, MIN(st) AS from_us, MAX(en) AS to_us
  FROM islands GROUP BY user_id, island
), purchases AS (
  SELECT user_id, value, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, i.island,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(p.value AS DECIMAL(28,6))) AS DOUBLE)
         AS purchase_value
FROM purchases p JOIN intervals i
  ON p.user_id = i.user_id
 AND p.p_us >= i.from_us AND p.p_us < i.to_us
GROUP BY p.user_id, i.island
ORDER BY p.user_id, i.island
"""


def events_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (MATCH_RECOGNIZE class):
    find V-shapes in each user's value sequence — two strictly falling
    steps followed by two strictly rising steps — and count matches per
    user. Spark has no MATCH_RECOGNIZE; fixed-length row patterns
    compile to a lag chain over ONE ordered window, which is exactly how
    the engines that do support it execute the bounded-pattern case.

    Plan: one keyed window (user_id | ts, event_id) producing four lags,
    one boolean per row (pattern ends here), one count per user — a
    single shuffle; pattern evaluation is whole-stage codegen.
    """
    e = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    l1, l2, l3, l4 = (F.lag("value", i).over(w) for i in (1, 2, 3, 4))
    is_v = (l4.isNotNull()
            & (l3 < l4) & (l2 < l3)          # two falling steps
            & (l1 > l2) & (F.col("value") > l1))  # two rising steps
    return (e.withColumn("v_end", is_v.cast("long"))
            .groupBy("user_id")
            .agg(F.sum("v_end").alias("n_vshapes"),
                 F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("n_vshapes") > 0)
            .orderBy("user_id"))


ORACLE_PATTERN_VSHAPE = """
WITH lagged AS (
  SELECT user_id, value,
         LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
         LAG(value, 3) OVER w AS l3, LAG(value, 4) OVER w AS l4
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(CASE WHEN l4 IS NOT NULL AND l3 < l4 AND l2 < l3
                          AND l1 > l2 AND value > l1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_vshapes,
       COUNT(*) AS n_events
FROM lagged
GROUP BY user_id
HAVING SUM(CASE WHEN l4 IS NOT NULL AND l3 < l4 AND l2 < l3
                     AND l1 > l2 AND value > l1
                THEN 1 ELSE 0 END) > 0
ORDER BY user_id
"""


def events_activity_streaks(spark: SparkSession, sf_dir: str,
                            min_streak: int = 3) -> DataFrame:
    """Longest consecutive-day activity streak per user (the engagement
    metric): runs of adjacent active days grouped with the classic
    day-minus-rank trick — within a user's sorted distinct days,
    ``day − row_number`` is CONSTANT across a consecutive run, so one
    dateadd turns it into a group key with no iterative logic (a
    different gaps-and-islands technique than the cumulative-max one in
    ``_user_islands``; both are one keyed window).

    Emits users whose best streak reaches ``min_streak`` days, with the
    streak's span. One (user) shuffle for the window + two calendar-
    bounded aggregations.
    """
    e = load_events(spark, sf_dir)
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp", F.date_sub("day", F.row_number().over(w)))
    streaks = (grouped.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).alias("len"),
                    F.min("day").alias("from_day"),
                    F.max("day").alias("to_day")))
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), "from_day")
    return (streaks.withColumn("rk", F.row_number().over(w_best))
            .filter((F.col("rk") == 1) & (F.col("len") >= min_streak))
            .select("user_id", F.col("len").alias("best_streak_days"),
                    F.date_format("from_day", "yyyy-MM-dd")
                    .alias("streak_from"),
                    F.date_format("to_day", "yyyy-MM-dd")
                    .alias("streak_to"))
            .orderBy("user_id"))


ORACLE_ACTIVITY_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grouped AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INT) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, COUNT(*) AS len,
         MIN(day) AS from_day, MAX(day) AS to_day
  FROM grouped GROUP BY user_id, grp
), best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len DESC, from_day) AS rk
  FROM streaks
)
SELECT user_id, CAST(len AS BIGINT) AS best_streak_days,
       strftime(from_day, '%Y-%m-%d') AS streak_from,
       strftime(to_day, '%Y-%m-%d') AS streak_to
FROM best WHERE rk = 1 AND len >= 3
ORDER BY user_id
"""


def events_cusum_drift(spark: SparkSession, sf_dir: str,
                       k_slack: float = 0.25,
                       h_threshold: float = 4.0) -> DataFrame:
    """Two-sided CUSUM drift detection per event type — the classic
    change-point monitor a training-data ingestion pipeline runs on its
    quality/value metrics (Page 1954): S⁺ᵢ = max(0, S⁺ᵢ₋₁ + zᵢ − k),
    S⁻ᵢ = max(0, S⁻ᵢ₋₁ − zᵢ − k) over the type's standardized value
    stream, alarm when either side exceeds ``h_threshold``. Emits per
    type: alarm counts per side, peak statistics, and the ordinal of the
    first alarm — the summary a drift dashboard keys on.

    The max(0, ...) clamp makes this a RECURRENCE no fixed-frame window
    can express (unlike plain cumsum, which rides
    ``scale.global_prefix_window``) — so like ``events_ema`` it runs as
    grouped ``applyInPandas``: one shuffle on event_type, each key's
    inherently-serial recurrence vectorized inside its own task, state
    bounded by the largest key. z-scores use the type's own
    population mean/std computed INSIDE the same group pass (one frame
    visit, no second aggregation job).

    Iterative float recurrence → rows-only driver check;
    tests/test_eventtime.py pins alarms against an explicit numpy loop
    and the no-drift/step-change identities on synthetic series.
    """
    import numpy as np
    import pandas as pd

    e = load_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value")

    def cusum_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        x = pdf["value"].to_numpy(dtype=np.float64)
        mu = x.mean()
        sd = x.std()                     # population std, ddof=0
        z = (x - mu) / sd if sd > 0 else np.zeros_like(x)
        sp = sm = 0.0
        n_hi = n_lo = 0
        peak_hi = peak_lo = 0.0
        first_alarm = -1
        for i, zi in enumerate(z):
            sp = max(0.0, sp + zi - k_slack)
            sm = max(0.0, sm - zi - k_slack)
            peak_hi = max(peak_hi, sp)
            peak_lo = max(peak_lo, sm)
            alarmed = False
            if sp > h_threshold:
                n_hi += 1
                alarmed = True
                sp = 0.0                 # restart after alarm
            if sm > h_threshold:
                n_lo += 1
                alarmed = True
                sm = 0.0
            if alarmed and first_alarm < 0:
                first_alarm = i + 1      # 1-based ordinal
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "n_events": [len(x)],
            "n_alarms_high": [n_hi],
            "n_alarms_low": [n_lo],
            "peak_stat_high": [float(peak_hi)],
            "peak_stat_low": [float(peak_lo)],
            "first_alarm_ordinal": [first_alarm]})

    return (e.groupBy("event_type")
            .applyInPandas(
                cusum_fn,
                "event_type string, n_events long, n_alarms_high long,"
                " n_alarms_low long, peak_stat_high double,"
                " peak_stat_low double, first_alarm_ordinal long")
            .orderBy("event_type"))


def events_cusum_drift_checked(spark: SparkSession, sf_dir: str,
                               k_slack: float = 0.25,
                               h_threshold: float = 4.0) -> DataFrame:
    """Partial-oracle form of :func:`events_cusum_drift` (round 9): the
    per-type event count rides the DuckDB hash gate, and the recurrence
    collapses to three oracle-asserted consistency invariants:

    - ``peak_alarm_consistent``: each side alarmed at least once IFF its
      recorded peak exceeds h (peaks are taken before the post-alarm
      reset, so peak > h ⟺ n_alarms ≥ 1 — both directions);
    - ``first_alarm_consistent``: first_alarm_ordinal is −1 exactly when
      no side alarmed, else a valid 1..n ordinal;
    - ``peaks_nonneg``: both peak statistics ≥ 0 (the max(0,·) clamp).

    The alarm VALUES stay pinned by the numpy-loop and step-change
    identity pytests on the raw core."""
    base = events_cusum_drift(spark, sf_dir, k_slack=k_slack,
                              h_threshold=h_threshold)
    h = F.lit(h_threshold)
    alarmed = (F.col("n_alarms_high") + F.col("n_alarms_low")) > 0
    peak_ok = (((F.col("n_alarms_high") > 0)
                == (F.col("peak_stat_high") > h))
               & ((F.col("n_alarms_low") > 0)
                  == (F.col("peak_stat_low") > h)))
    first_ok = F.when(alarmed,
                      (F.col("first_alarm_ordinal") >= 1)
                      & (F.col("first_alarm_ordinal")
                         <= F.col("n_events"))) \
        .otherwise(F.col("first_alarm_ordinal") == -1)
    return (base.select(
        "event_type", "n_events",
        peak_ok.alias("peak_alarm_consistent"),
        first_ok.alias("first_alarm_consistent"),
        ((F.col("peak_stat_high") >= 0) & (F.col("peak_stat_low") >= 0))
        .alias("peaks_nonneg"))
        .orderBy("event_type"))


ORACLE_EVENTS_CUSUM_CHECKED = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS peak_alarm_consistent,
       TRUE AS first_alarm_consistent,
       TRUE AS peaks_nonneg
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-gap profile per event type: count, mean / std /
    coefficient-of-variation, and min/max of the whole-second gaps
    between consecutive events — the burstiness diagnostic that sizes
    streaming micro-batches and rate-anomaly thresholds (CV >> 1 means
    bursty arrivals; ~1 is Poisson-like; << 1 is a steady clock).

    Determinism: consecutive order is (epoch_us, event_id) — the module
    tiebreak protocol — and tie gaps are 0 regardless of tie order, so
    the gap multiset is reproducible. Gaps are floor-divided to whole
    seconds as exact integers (``div`` ↔ ``//``); sums and sums of
    squares ride the decimal protocol; variance is the clamped
    ``greatest(E[g²] − mean², 0)`` with oracle-identical op order, std
    is a single sqrt (portable), CV one more divide.

    Scale shape (rewritten round 7): lag() over a 5-value event_type
    window serializes each type's whole stream through one task — the
    predecessor now comes from :func:`~.scale.grouped_ranks` plus an
    adjacency equi-join on (event_type, rn−1) (the events_twap shape),
    then a map-side-partial aggregation to O(types) rows. No driver
    math.
    """
    from .scale import grouped_ranks

    e = load_events(spark, sf_dir).select(
        "event_type", "event_id", F.unix_micros("ts").alias("us"))
    rk = grouped_ranks(e, ["event_type"],
                       [F.asc("us"), F.asc("event_id")], rank_col="rn")
    prv = rk.select("event_type", (F.col("rn") + 1).alias("rn"),
                    F.col("us").alias("prev_us"))
    gaps = (rk.join(prv, ["event_type", "rn"])
            .select("event_type",
                    F.expr("(us - prev_us) div 1000000").alias("gap_s"))
            # a gap against a corrupted NULL-ts endpoint is no gap —
            # match the oracle's WHERE gap_s IS NOT NULL (the surviving
            # real-pair set is order-insensitive); inert on clean data
            .filter(F.col("gap_s").isNotNull()))
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("s1"),
        F.sum((F.col("gap_s") * F.col("gap_s")).cast(DEC)).alias("s2"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"))
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    msq = F.col("s2").cast("double") / F.col("n_gaps")
    var = F.greatest(msq - mean * mean, F.lit(0.0))
    return (agg.select(
        "event_type", "n_gaps",
        mean.alias("mean_gap_s"),
        F.sqrt(var).alias("std_gap_s"),
        # every gap zero (one burst second) → CV undefined → NULL, not
        # an ANSI divide error (all-true on fixture data)
        F.when(mean > 0, F.sqrt(var) / mean).alias("cv"),
        "min_gap_s", "max_gap_s")
        .orderBy("event_type"))


ORACLE_EVENTS_INTERARRIVAL = """
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY event_type
             ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
  FROM events),
agg AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s1,
         SUM(CAST(gap_s * gap_s AS DECIMAL(28,6))) AS s2,
         MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY event_type)
SELECT event_type, n_gaps,
       CAST(s1 AS DOUBLE) / n_gaps AS mean_gap_s,
       SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                     - (CAST(s1 AS DOUBLE) / n_gaps)
                       * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
         AS std_gap_s,
       SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                     - (CAST(s1 AS DOUBLE) / n_gaps)
                       * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
         / (CAST(s1 AS DOUBLE) / n_gaps) AS cv,
       min_gap_s, max_gap_s
FROM agg ORDER BY event_type
"""


def events_holt_linear(spark: SparkSession, sf_dir: str,
                       alpha: float = 0.3, beta: float = 0.1) -> DataFrame:
    """Holt double exponential smoothing (level + trend) of each event
    type's dense daily count series — the next rung above
    :func:`events_ema` on the forecasting ladder (EMA tracks level only
    and lags any trend; Holt carries an explicit trend term), and the
    model :func:`~..timeseries.forecast_seasonal_naive_eval`'s baselines
    gate. Emits per type the final level/trend, the one-step-ahead
    forecast level + trend·1, and the in-sample one-step MAE.

    Recurrence (classic): l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, seeded l_1 = y_1,
    b_1 = y_2 − y_1. Inherently serial per key → grouped
    ``applyInPandas`` (the events_ema contract: one event_type shuffle,
    each group's loop vectorized in its own task, state bounded by the
    longest single series — days, not events). Iterative float
    recurrence → rows-only driver check; pytest replays the loop in
    pure Python and pins the α/β=1 degenerate identities.
    """
    import numpy as np
    import pandas as pd

    from .timeseries import _dense_daily_counts

    dense = _dense_daily_counts(spark, sf_dir)

    def holt_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_num")
        y = pdf["cnt"].to_numpy(dtype=np.float64)
        lvl, trend = y[0], (y[1] - y[0] if len(y) > 1 else 0.0)
        abs_err = 0.0
        for t in range(1, len(y)):
            pred = lvl + trend
            abs_err += abs(y[t] - pred)
            new_lvl = alpha * y[t] + (1 - alpha) * (lvl + trend)
            trend = beta * (new_lvl - lvl) + (1 - beta) * trend
            lvl = new_lvl
        n = len(y)
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "n_days": [n],
            "level": [float(lvl)],
            "trend": [float(trend)],
            "forecast_next": [float(lvl + trend)],
            "one_step_mae": [float(abs_err / (n - 1)) if n > 1 else 0.0],
        })

    return (dense.groupBy("event_type")
            .applyInPandas(
                holt_fn,
                "event_type string, n_days long, level double,"
                " trend double, forecast_next double, one_step_mae double")
            .orderBy("event_type"))


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning census
    (how many users are on at once, and when does it peak?) computed
    exactly by a distributed sweep line: each 30-minute-gap session
    (the events_sessionize contract) emits +1 at its start microsecond
    and −1 one microsecond after its end (closed intervals: a session
    ending at t and one starting at t DO overlap), and the running sum
    of deltas over the global boundary order is the instantaneous
    concurrency, whose per-day max is the answer.

    The global running sum is :func:`~.scale.global_prefix_window` —
    one range shuffle over the 2·sessions boundary stream plus a
    driver-side carry of per-partition totals, never a single-partition
    window (boundaries grow with the corpus; this is exactly the shape
    that breaks first at 100× under ``Window.orderBy`` with no
    PARTITION BY). Boundary order is the total order (t, delta DESC,
    user_id, session_seq): starts sort before ends at the same instant,
    the (user, session) pair makes it unique. Day attribution is the
    boundary's own integer day t div 86400000000 — the step function
    only changes at boundaries, so a day with no boundary inherits no
    row (event-time-sampled contract, shared with the oracle).
    All-integer output.
    """
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    gap_us = us - F.lag(us).over(w)
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    # sessions-sized; pinned — the two boundary projections would each
    # replay the sessionization window otherwise
    sess = (e.select("user_id", "event_id", us.alias("us"),
                     F.sum(new_session).over(wrun).alias("session_seq"))
            .groupBy("user_id", "session_seq")
            .agg(F.min("us").alias("start_us"),
                 F.max("us").alias("end_us"))
            .localCheckpoint())
    bounds = (sess.select("user_id", "session_seq",
                          F.col("start_us").alias("t"),
                          F.lit(1).alias("delta"))
              .unionAll(sess.select(
                  "user_id", "session_seq",
                  (F.col("end_us") + 1).alias("t"),
                  F.lit(-1).alias("delta"))))
    from .scale import global_prefix_window

    run = global_prefix_window(
        bounds,
        [F.asc("t"), F.desc("delta"), F.asc("user_id"),
         F.asc("session_seq")],
        "delta", how="sum", out_col="concurrency")
    return (run
            .select(F.expr("t div 86400000000").alias("day_num"),
                    "delta", "concurrency")
            .groupBy("day_num")
            .agg(F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
                 .alias("n_starts"),
                 F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
                 .alias("n_ends"),
                 F.max("concurrency").alias("peak_concurrent"))
            .orderBy("day_num"))


ORACLE_PEAK_CONCURRENCY = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
), sess AS (
  SELECT user_id, session_seq,
         MIN(us) AS start_us, MAX(us) AS end_us
  FROM numbered GROUP BY user_id, session_seq
), bounds AS (
  SELECT user_id, session_seq, start_us AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT user_id, session_seq, end_us + 1, -1 FROM sess
), run AS (
  SELECT t, delta,
         SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS concurrency
  FROM bounds)
SELECT t // 86400000000 AS day_num,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_starts,
       CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ends,
       CAST(MAX(concurrency) AS BIGINT) AS peak_concurrent
FROM run GROUP BY day_num ORDER BY day_num
"""


def events_id_gap_audit(spark: SparkSession, sf_dir: str,
                        bucket: int = 4096) -> DataFrame:
    """Sequence-gap audit over an id column WITHOUT a global window —
    the data-quality check ("did the loader drop rows? how many? where
    are the holes?") that naive SQL writes as lead(id) OVER (ORDER BY
    id): a single-partition sort that breaks first at scale. Here the
    lead runs inside id-range buckets (id div 4096 — contiguous ids
    co-locate, the window is bucket-PARTITIONed), and the cross-bucket
    remainder is recovered ALGEBRAICALLY: total_missing = span − count
    exactly, so missing_cross_bucket = total − Σ(within-bucket gaps)
    with no boundary stitch join and no sensitivity to empty buckets.

    The fixture's event_id is dense, so the audit deterministically
    poisons it (drops event_id % 97 == 13) to exercise real holes —
    same fixture-poisoning contract as the NOT IN battery. All exact
    integers; one row out.
    """
    e = (load_events(spark, sf_dir)
         .select("event_id")
         .filter(F.col("event_id") % 97 != 13))
    w = Window.partitionBy("bkt").orderBy("event_id")
    gaps = (e.withColumn("bkt", F.expr(f"event_id div {bucket}"))
            .withColumn("nxt", F.lead("event_id").over(w))
            .withColumn("gap", F.col("nxt") - F.col("event_id") - 1))
    return gaps.agg(
        F.count(F.lit(1)).alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        (F.max("event_id") - F.min("event_id") + 1
         - F.count(F.lit(1))).alias("total_missing"),
        F.sum((F.col("gap") > 0).cast("long")).alias("n_gaps_within"),
        F.sum(F.when(F.col("gap") > 0, F.col("gap")).otherwise(0))
        .alias("missing_within"),
        (F.max("event_id") - F.min("event_id") + 1 - F.count(F.lit(1))
         - F.sum(F.when(F.col("gap") > 0, F.col("gap")).otherwise(0)))
        .alias("missing_cross_bucket"),
        F.max("gap").alias("largest_gap_within"))


ORACLE_ID_GAP_AUDIT = """
WITH ids AS (
  SELECT event_id, event_id // 4096 AS bkt
  FROM events WHERE event_id % 97 != 13),
gaps AS (
  SELECT event_id, bkt,
         LEAD(event_id) OVER (PARTITION BY bkt ORDER BY event_id)
           - event_id - 1 AS gap
  FROM ids)
SELECT COUNT(*) AS n_ids,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(*) AS BIGINT)
         AS total_missing,
       CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps_within,
       CAST(SUM(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS BIGINT)
         AS missing_within,
       CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(*)
            - SUM(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS BIGINT)
         AS missing_cross_bucket,
       CAST(MAX(gap) AS BIGINT) AS largest_gap_within
FROM gaps
"""


def events_weekly_seasonality_strength(spark: SparkSession, sf_dir: str
                                       ) -> DataFrame:
    """How much of daily volume variance is pure day-of-week pattern?
    Per event type: fit the day-of-week MEDIAN profile (robust — the
    rank rule, not the mean, so one outage day can't fake seasonality),
    then strength = 1 − SS_resid/SS_total over the dense daily series —
    the STL-lite seasonality-strength readout that decides whether the
    forecast baseline should be seasonal-naive (strength high) or
    naive-1 (low), closing the loop with forecast_seasonal_naive_eval.

    Portability: daily counts are exact ints on the shared dense grid;
    day-of-week is exact integer (day_num + 4) % 7 (1970-01-01 was a
    Thursday — both engines agree by construction, no date functions);
    the per-(type, dow) median is the explicit rank rule; residual and
    total squared deviations are exact-integer differences squared,
    decimal-protocol summed; strength is ONE divide and a subtract.
    Shape: dense grid (one corpus shuffle inside the helper), a
    (type × dow)-keyed window for the median, two grid-sized joins,
    O(types) output.
    """
    from .relational import DEC

    from .timeseries import _dense_daily_counts

    dense = _dense_daily_counts(spark, sf_dir) \
        .withColumn("dow", (F.col("day_num") + 4) % 7) \
        .localCheckpoint()      # grid-sized, three consumers below
    w = Window.partitionBy("event_type", "dow").orderBy("cnt", "day_num")
    med = (dense
           .withColumn("rk", F.row_number().over(w))
           .withColumn("n", F.count(F.lit(1)).over(
               Window.partitionBy("event_type", "dow")))
           .groupBy("event_type", "dow")
           .agg(F.min(F.when(F.col("rk") >= F.ceil(F.col("n") / 2),
                             F.col("cnt"))).alias("dow_median")))
    mean = (dense.groupBy("event_type")
            .agg((F.sum("cnt").cast("double") / F.count(F.lit(1)))
                 .alias("mean_cnt")))
    j = (dense.join(med, ["event_type", "dow"])
         .join(mean, "event_type"))
    resid = (F.col("cnt") - F.col("dow_median")).cast("double")
    total = F.col("cnt").cast("double") - F.col("mean_cnt")
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum((resid * resid).cast(DEC)).cast("double").alias("ss_resid"),
        F.sum((total * total).cast(DEC)).cast("double").alias("ss_total"))
    return (agg.select(
        "event_type", "n_days", "ss_resid", "ss_total",
        (F.lit(1.0) - F.col("ss_resid") / F.col("ss_total"))
        .alias("seasonality_strength"))
        .orderBy("event_type"))


ORACLE_WEEKLY_SEASONALITY = """
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
  SELECT g.event_type, g.day_num, COALESCE(d.cnt, 0) AS cnt,
         (g.day_num + 4) % 7 AS dow
  FROM grid g LEFT JOIN daily d
    ON d.event_type = g.event_type AND d.day_num = g.day_num),
med AS (
  SELECT event_type, dow,
         MIN(CASE WHEN rk >= CEIL(n / 2.0) THEN cnt END) AS dow_median
  FROM (SELECT event_type, dow, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type, dow
                                  ORDER BY cnt, day_num) AS rk,
               COUNT(*) OVER (PARTITION BY event_type, dow) AS n
        FROM dense)
  GROUP BY event_type, dow),
mean AS (
  SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_cnt
  FROM dense GROUP BY event_type)
SELECT d.event_type, COUNT(*) AS n_days,
       CAST(SUM(CAST(CAST(d.cnt - m.dow_median AS DOUBLE)
                     * CAST(d.cnt - m.dow_median AS DOUBLE)
                     AS DECIMAL(28,6))) AS DOUBLE) AS ss_resid,
       CAST(SUM(CAST((CAST(d.cnt AS DOUBLE) - e.mean_cnt)
                     * (CAST(d.cnt AS DOUBLE) - e.mean_cnt)
                     AS DECIMAL(28,6))) AS DOUBLE) AS ss_total,
       1.0E0 - CAST(SUM(CAST(CAST(d.cnt - m.dow_median AS DOUBLE)
                     * CAST(d.cnt - m.dow_median AS DOUBLE)
                     AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(CAST((CAST(d.cnt AS DOUBLE) - e.mean_cnt)
                     * (CAST(d.cnt AS DOUBLE) - e.mean_cnt)
                     AS DECIMAL(28,6))) AS DOUBLE)
         AS seasonality_strength
FROM dense d JOIN med m USING (event_type, dow)
     JOIN mean e USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
"""

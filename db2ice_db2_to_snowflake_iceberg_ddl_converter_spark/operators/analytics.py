"""Statistical / utility analytics beyond the core relational battery:
bivariate statistics (corr / covariance / OLS regression), rank-rule
percentiles, an array-function battery, deterministic hash sampling, and
blocked edit-distance candidate pairs.

The reference has no row plane (SURVEY.md §2.2) — these are EXT-surface
operators a 100 TB training-data pipeline needs, built Spark-first:

- Bivariate stats run as ONE aggregation pass over sufficient statistics
  (n, Σx, Σy, Σxy, Σx², Σy²) with map-side partial aggregation — no second
  scan, no window. The Σ's are exact decimal sums (order-independent under
  shuffle), and every derived statistic is evaluated in the same IEEE op
  order as the DuckDB oracle → bitwise-identical doubles (the
  embedding_covariance protocol, operators/corpus.py).
- Percentiles use an explicit rank rule (smallest value whose row_number
  reaches ceil(q·n)) instead of engine-native percentile_cont/disc, whose
  interpolation / index conventions differ between engines. The window is
  partitioned by the group key, so no single-partition global sort.
- Hash sampling thresholds the hex md5 of the key — deterministic,
  seed-free, reproducible across engines and across reruns on a cluster
  (the property a 100 TB sampling job actually needs; rand(seed) is
  partition-layout dependent). Stratified rates come from a CASE over the
  stratum column: still one scan, fully pushed down.
- Edit-distance pairs use prefix blocking (first token of the name) so the
  join is an equi-join on the block key, never an all-pairs cartesian;
  levenshtein runs JVM-side on the candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import DEC, ld


# ---------------------------------------------------------------------------
# Bivariate statistics: corr / covar / OLS in one pass
# ---------------------------------------------------------------------------

def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation, population covariance and OLS
    slope/intercept of (x=l_quantity, y=l_discount), from a single
    sufficient-statistics aggregation (the way you'd do it at 100 TB: one
    scan, partial aggs combine map-side, six numbers per group shuffle).

    Column choice is part of the determinism protocol: quantity (integer-
    valued) and discount (2dp) keep every per-row product an exact ≤4dp
    value, so the scale-6 decimal cast is tie-free in both engines and the
    scaled sums stay far below 2^53 (l_extendedprice² sums land past 2^53,
    where DuckDB's decimal↔double conversions stop being exact — measured)."""
    l = ld(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")
    g = (l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
    ))
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # Op order mirrors the oracle SQL text exactly — keep in sync. The
    # denominator is ONE sqrt of a product, not a product of sqrts: each
    # IEEE op is correctly rounded, but sqrt(a)·sqrt(b) ≠ sqrt(a·b) in the
    # last ulp and the engines disagreed there (measured).
    cov_n = n * sxy - sx * sy
    corr = cov_n / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    slope = cov_n / (n * sxx - sx * sx)
    return (g.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        (sxy / n - (sx / n) * (sy / n)).alias("covar_pop"),
        corr.alias("corr_xy"),
        slope.alias("regr_slope"),
        ((sy - slope * sx) / n).alias("regr_intercept"),
    ).orderBy("l_returnflag"))


ORACLE_AGG_CORR_REGR = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_discount
                       AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity
                       AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount * l_discount
                       AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       sxy/n - (sx/n)*(sy/n) AS covar_pop,
       (n*sxy - sx*sy) / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy))
         AS corr_xy,
       (n*sxy - sx*sy) / (n*sxx - sx*sx) AS regr_slope,
       (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS regr_intercept
FROM s ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Percentiles by explicit rank rule (engine-portable, no interpolation)
# ---------------------------------------------------------------------------

_PCTS = (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95))


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles of o_totalprice by the explicit rule
    "smallest value whose 1-based rank ≥ ceil(q·n)" — identical in any
    engine (native percentile_cont/disc interpolation and index conventions
    are NOT portable).

    Scale shape (rewritten round 7): the group key has FIVE values, so a
    group-partitioned window would sort a fifth of the table in one
    task at any scale — ranks now come from :func:`~.scale.grouped_ranks`
    (range shuffle + groups-sized offset join, no WindowExec), with the
    per-group n as a groups-sized broadcast join.

    NULL-measure contract (r12, nullfact gate): a NULL amount has no
    percentile rank — SQL's percentile family ignores NULL inputs, and
    leaving NULLs in the order key diverges across engines anyway
    (Spark ranks them NULLS FIRST, DuckDB NULLS LAST), so they are
    excluded BEFORE ranking on both sides."""
    from .scale import grouped_ranks

    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull())
    ranked = grouped_ranks(
        o.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_col="rk")
    counts = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"))
    ranked = ranked.join(F.broadcast(counts), "o_orderpriority")
    aggs = [
        F.min(F.when(F.col("rk") >= F.ceil(F.lit(q) * F.col("n")),
                     F.col("o_totalprice"))).alias(name)
        for name, q in _PCTS
    ]
    return (ranked.groupBy("o_orderpriority")
            .agg(F.max("n").alias("n_rows"), *aggs)
            .orderBy("o_orderpriority"))


ORACLE_AGG_PERCENTILES = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders WHERE o_totalprice IS NOT NULL)
SELECT o_orderpriority,
       MAX(n) AS n_rows,
       MIN(CASE WHEN rk >= CEIL(0.25 * n) THEN o_totalprice END) AS p25,
       MIN(CASE WHEN rk >= CEIL(0.50 * n) THEN o_totalprice END) AS p50,
       MIN(CASE WHEN rk >= CEIL(0.75 * n) THEN o_totalprice END) AS p75,
       MIN(CASE WHEN rk >= CEIL(0.95 * n) THEN o_totalprice END) AS p95
FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Array-function battery (scalar outputs — the driver canon hashes scalars)
# ---------------------------------------------------------------------------

def scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + transformation battery over document word lists:
    split → size / element_at / sort → join back to scalars. All JVM-side
    Catalyst expressions (no UDF); outputs are scalars because the
    correctness canon hashes scalar cells."""
    d = ld(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_join(F.slice(F.array_sort(words), 1, 3), "|")
            .alias("first3_sorted"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    ).orderBy("doc_id")


ORACLE_SCALAR_ARRAY = """
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_words,
       STRING_SPLIT(text, ' ')[1] AS first_word,
       STRING_SPLIT(text, ' ')[-1] AS last_word,
       ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(text, ' '))[1:3], '|')
         AS first3_sorted,
       CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT)
         AS n_distinct_words
FROM documents WHERE doc_id <= 400 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic hash sampling (seed-free, engine- and layout-independent)
# ---------------------------------------------------------------------------

def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sample of customers: threshold the first two
    hex chars of md5(key) per market segment (BUILDING 50%, MACHINERY 25%,
    others 12.5%). Unlike rand(seed), the predicate depends only on row
    values — stable across partition layouts, cluster sizes and reruns,
    which is what makes a 100 TB sample auditable. Evaluates as a pushed
    filter in one scan."""
    c = ld(spark, sf_dir, "customer")
    bucket = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2)
    limit = (F.when(F.col("c_mktsegment") == "BUILDING", F.lit("80"))
             .when(F.col("c_mktsegment") == "MACHINERY", F.lit("40"))
             .otherwise(F.lit("20")))
    return (c.filter(bucket < limit)
            .select("c_custkey", "c_mktsegment", "c_acctbal")
            .orderBy("c_custkey"))


ORACLE_SAMPLE_HASH = """
SELECT c_custkey, c_mktsegment, c_acctbal
FROM customer
WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 2) <
      CASE WHEN c_mktsegment = 'BUILDING' THEN '80'
           WHEN c_mktsegment = 'MACHINERY' THEN '40'
           ELSE '20' END
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# Blocked edit-distance candidate pairs
# ---------------------------------------------------------------------------

def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str,
                              max_dist: int = 4) -> DataFrame:
    """Edit-distance near-dup scan over part names, blocked and pruned the
    way it must be at scale:

    - block key = (first token, brand) — the candidate join is an
      equi-join, never all-pairs (same shape as dedup.py's LSH bands);
    - length pruning AT THE JOIN: ``|len(a)−len(b)| ≤ max_dist`` is a
      Levenshtein lower bound, so the expensive distance only runs on
      pairs that could possibly pass (classic edit-distance filter);
    - the output is the per-block SUMMARY (pair counts, match counts,
      min distance, exact-ratio mean distance) — bounded by block
      cardinality at any scale factor, where the raw pair stream (which a
      downstream clusterer would consume) grows quadratically with block
      size. levenshtein() is a JVM Catalyst expression; no Python.

    The r02-era version emitted the raw pairs with dist ≤ 12 — on this
    corpus that threshold matches ~100% of candidates (every name is a
    short phrase over a tiny vocabulary), i.e. it returned the whole
    blocked cross product: a degenerate demo and a 250k-row driver
    collect. The aggregate form keeps the same join/prune plan shape with
    an output that stays table-of-blocks sized at 100 TB."""
    p = (ld(spark, sf_dir, "part")
         .select("p_partkey", "p_name", "p_brand",
                 F.substring_index("p_name", " ", 1).alias("blk"),
                 F.length("p_name").alias("ln")))
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein("a.p_name", "b.p_name")
    pairs = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.p_brand") == F.col("b.p_brand"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                    & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist))
             .select(F.col("a.blk").alias("blk"),
                     F.col("a.p_brand").alias("brand"),
                     dist.alias("dist")))
    return (pairs.groupBy("blk", "brand")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum((F.col("dist") <= max_dist).cast("long"))
                 .alias("n_near"),
                 F.min("dist").alias("min_dist"),
                 (F.sum("dist").cast("double") / F.count(F.lit(1)))
                 .alias("avg_dist"))
            .orderBy("blk", "brand"))


ORACLE_DEDUP_LEVENSHTEIN = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand,
         STRING_SPLIT(p_name, ' ')[1] AS blk, LENGTH(p_name) AS ln
  FROM part),
pairs AS (
  SELECT a.blk, a.p_brand AS brand,
         LEVENSHTEIN(a.p_name, b.p_name) AS dist
  FROM p a JOIN p b
    ON a.blk = b.blk AND a.p_brand = b.p_brand
   AND a.p_partkey < b.p_partkey AND ABS(a.ln - b.ln) <= 4)
SELECT blk, brand, COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN dist <= 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near,
       CAST(MIN(dist) AS INT) AS min_dist,
       CAST(SUM(dist) AS BIGINT)::DOUBLE / COUNT(*) AS avg_dist
FROM pairs GROUP BY blk, brand ORDER BY blk, brand
"""


QUERIES = {
    "agg_corr_regr": agg_corr_regr,
    "agg_percentiles": agg_percentiles,
    "scalar_array_fns": scalar_array_fns,
    "sample_hash_stratified": sample_hash_stratified,
    "dedup_levenshtein_blocked": dedup_levenshtein_blocked,
}

ORACLES = {
    "agg_corr_regr": ORACLE_AGG_CORR_REGR,
    "agg_percentiles": ORACLE_AGG_PERCENTILES,
    "scalar_array_fns": ORACLE_SCALAR_ARRAY,
    "sample_hash_stratified": ORACLE_SAMPLE_HASH,
    "dedup_levenshtein_blocked": ORACLE_DEDUP_LEVENSHTEIN,
}


def agg_histogram_equi_width(spark, sf_dir, n_bins: int = 10):
    """Equi-width histogram of order totals: bin edges from the global
    min/max (a broadcast 1-row aggregate — no driver action), bin id =
    ``least(floor((v - min)/width), n_bins - 1)``. Every derived double
    (width, edges) is computed with the same op order in both engines, so
    bin boundaries are bitwise identical and boundary rows cannot flip
    bins between Spark and the oracle. One scan + one 1-row agg + one
    ``n_bins``-row agg; the edge columns make the row self-describing."""
    from .relational import ld

    o = ld(spark, sf_dir, "orders", fanout=False)
    stats = o.agg(F.min("o_totalprice").alias("mn"),
                  F.max("o_totalprice").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / float(n_bins)
    # a constant column (mx == mn — one row, one distinct value) makes
    # width 0 and the bin divide an ANSI job ABORT; everything lands in
    # bin 0 instead (r7 zero-denominator rule; guard all-true on any
    # non-constant feed, so oracle hashes are unchanged)
    b = F.when(F.col("mx") > F.col("mn"),
               F.least(F.floor((F.col("o_totalprice") - F.col("mn"))
                               / width),
                       F.lit(n_bins - 1))) \
        .otherwise(F.lit(0)).cast("int")
    return (o.crossJoin(F.broadcast(stats))
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.first("mn").alias("_mn"), F.first("mx").alias("_mx"))
            .select("bin", "n_orders",
                    (F.col("_mn") + F.col("bin")
                     * ((F.col("_mx") - F.col("_mn")) / float(n_bins)))
                    .alias("bin_lo"),
                    (F.col("_mn") + (F.col("bin") + 1)
                     * ((F.col("_mx") - F.col("_mn")) / float(n_bins)))
                    .alias("bin_hi"))
            .orderBy("bin"))


ORACLE_AGG_HISTOGRAM = """
WITH stats AS (
  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
), binned AS (
  SELECT LEAST(CAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 10.0))
               AS BIGINT), 9) AS bin, mn, mx
  FROM orders CROSS JOIN stats
)
SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n_orders,
       mn + bin * ((mx - mn) / 10.0) AS bin_lo,
       mn + (bin + 1) * ((mx - mn) / 10.0) AS bin_hi
FROM binned GROUP BY bin, mn, mx ORDER BY bin
"""


def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-count over an ordered window — how many distinct
    event types each user has touched so far. Spark has no
    COUNT(DISTINCT) OVER; this is the contribute-then-count rewrite
    (the same trick as ``eventtime.events_active_users_7d``): a value
    contributes +1 at its FIRST occurrence per key (row_number over
    (user, type) == 1), and the running distinct count is then a plain
    running SUM of those 0/1 contributions — executor window state is
    one long, independent of the distinct cardinality, so the plan
    survives an unbounded value column. (The bridged alternative,
    ``size(collect_set(...))`` over the cumulative frame, keeps a
    per-row SET in window state — fine when per-key cardinality is
    bounded like the ≤5 event types here, but it is the variant that
    breaks first on high-cardinality columns, so the scale-safe form is
    what the registry/driver checks.) The oracle uses DuckDB's native
    windowed DISTINCT — a different formulation, so parity proves the
    rewrite.

    Plan: two keyed shuffles — (user, type) for the first-occurrence
    flag, then user for the running sum; both partial-aggregate-free
    sort runs with O(1) per-row state.
    """
    from pyspark.sql import Window

    from .relational import load_events

    e = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    w_first = Window.partitionBy("user_id", "event_type") \
        .orderBy(F.asc_nulls_last("ts"), "event_id")
    w_run = (Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (e.select(
        "user_id", "event_id", "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("__contrib"))
        .select("user_id", "event_id",
                F.sum("__contrib").over(w_run).cast("int")
                .alias("n_distinct_types"))
        .orderBy("user_id", "event_id"))


ORACLE_WINDOW_RUNNING_DISTINCT = """
SELECT user_id, event_id,
       CAST(COUNT(DISTINCT event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS n_distinct_types
FROM events WHERE user_id < 20
ORDER BY user_id, event_id
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic warehouse marketing query. Recency is measured against the
    dataset's max order date (never the wall clock — deterministic and
    replayable), frequency is the order count, monetary the exact-decimal
    spend; each axis is cut at fixed business thresholds (portable
    integer/decimal comparisons, no data-dependent quantiles) and the
    result is the segment census.

    Plan: one groupBy(custkey) over orders (keyed shuffle, map-side
    partials), the max-date scalar rides a broadcast 1-row cross join,
    and the census is a second tiny aggregation. Customers shard the
    state; nothing is driver-side.
    """
    o = ld(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.sum(F.col("o_totalprice").cast(DEC))
                     .alias("monetary")))
    scored = (per_cust.crossJoin(F.broadcast(anchor))
              .select(
                  "o_custkey",
                  F.datediff(F.to_date("anchor"), F.to_date("last_order"))
                  .alias("recency_days"),
                  "frequency",
                  F.col("monetary").cast("double").alias("monetary"))
              .withColumn("r_band",
                          F.when(F.col("recency_days") <= 90, "R1")
                          .when(F.col("recency_days") <= 365, "R2")
                          .otherwise("R3"))
              .withColumn("f_band",
                          F.when(F.col("frequency") >= 20, "F1")
                          .when(F.col("frequency") >= 10, "F2")
                          .otherwise("F3"))
              .withColumn("m_band",
                          F.when(F.col("monetary") >= 2_000_000, "M1")
                          .when(F.col("monetary") >= 1_000_000, "M2")
                          .otherwise("M3")))
    return (scored.groupBy("r_band", "f_band", "m_band")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("monetary").cast(DEC)).cast("double")
                 .alias("segment_value"))
            .orderBy("r_band", "f_band", "m_band"))


ORACLE_CUSTOMER_RFM = """
WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         date_diff('day', CAST(last_order AS DATE), CAST(a AS DATE))
           AS recency_days,
         frequency,
         CAST(monetary AS DOUBLE) AS monetary
  FROM per_cust, anchor
), banded AS (
  SELECT *,
         CASE WHEN recency_days <= 90 THEN 'R1'
              WHEN recency_days <= 365 THEN 'R2' ELSE 'R3' END AS r_band,
         CASE WHEN frequency >= 20 THEN 'F1'
              WHEN frequency >= 10 THEN 'F2' ELSE 'F3' END AS f_band,
         CASE WHEN monetary >= 2000000 THEN 'M1'
              WHEN monetary >= 1000000 THEN 'M2' ELSE 'M3' END AS m_band
  FROM scored
)
SELECT r_band, f_band, m_band, COUNT(*) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(28,6))) AS DOUBLE)
         AS segment_value
FROM banded
GROUP BY r_band, f_band, m_band
ORDER BY r_band, f_band, m_band
"""


def part_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue;
    class A covers the first 80% of cumulative revenue share, B to 95%,
    C the tail. Emits the 3-row class census (parts, revenue, share).

    The cumulative sum runs over the per-part revenue table ordered
    globally, via ``scale.global_prefix_window`` — a range shuffle
    across 32 tasks plus a driver-side carry of 32 per-partition totals,
    NOT a single-partition ``Window.orderBy``: part cardinality grows
    with the catalog, so the r03 verdict flagged the unpartitioned
    window here as the plan that breaks first at 100×. Decimal carry-ins
    combine on exact Python Decimals, so the cumsum stays bitwise-exact.
    Shares divide exact decimal cumsums by the exact decimal
    total, and the class boundary comparison runs on identically-derived
    doubles in both engines (same decimal→double cast, same multiply),
    so banding can't flip at the edges.
    """
    from .scale import global_prefix_window

    from .scale import pin

    l = ld(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # pin: the lineitem revenue agg feeds TWO consumers (the exact
    # total and the prefix scan's range shuffle) — without it the big
    # fact-table scan+agg executes twice (r11 tail plan audit)
    per_part = pin(l.groupBy("l_partkey")
                   .agg(F.sum(rev.cast(DEC)).alias("revenue")))
    total = per_part.agg(F.sum("revenue").alias("total_rev"))
    cum = global_prefix_window(
        per_part, [F.desc("revenue"), F.asc("l_partkey")], "revenue",
        how="sum", out_col="cum_rev")
    classed = (cum
               .crossJoin(F.broadcast(total))
               .withColumn("cum_d", F.col("cum_rev").cast("double"))
               .withColumn("tot_d", F.col("total_rev").cast("double"))
               .withColumn(
                   "abc",
                   F.when(F.col("cum_d") <= F.col("tot_d") * 0.80, "A")
                   .when(F.col("cum_d") <= F.col("tot_d") * 0.95, "B")
                   .otherwise("C")))
    return (classed.groupBy("abc")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum(F.col("revenue")).cast("double")
                 .alias("class_revenue"))
            .orderBy("abc"))


ORACLE_PART_ABC = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS revenue
  FROM lineitem GROUP BY l_partkey
), total AS (SELECT SUM(revenue) AS total_rev FROM per_part),
classed AS (
  SELECT p.l_partkey, p.revenue,
         SUM(p.revenue) OVER (ORDER BY p.revenue DESC, p.l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_rev,
         t.total_rev
  FROM per_part p, total t
)
SELECT CASE WHEN CAST(cum_rev AS DOUBLE)
                 <= CAST(total_rev AS DOUBLE) * 0.80 THEN 'A'
            WHEN CAST(cum_rev AS DOUBLE)
                 <= CAST(total_rev AS DOUBLE) * 0.95 THEN 'B'
            ELSE 'C' END AS abc,
       COUNT(*) AS n_parts,
       CAST(SUM(revenue) AS DOUBLE) AS class_revenue
FROM classed
GROUP BY abc
ORDER BY abc
"""


def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog via a sweep line: an order is open from
    its order date until its last line ships; the concurrent-interval
    count per day is the running sum of +1 (open) / −1 (close) deltas —
    the classic interval-counting rewrite that replaces a day×order
    containment join (quadratic) with two scans and a cumulative sum.

    Plan: per-order close dates are one keyed groupBy on the fact table;
    each order then emits exactly two delta rows; the per-day delta
    aggregation is keyed by day; the final running sum orders the
    DAY-LEVEL table — bounded by calendar span (a few thousand rows at
    any data scale), so the global window is dimension-sized, never
    fact-sized. Pure integer arithmetic throughout.

    NULL-date contract (r12, nullfact gate): an order with a NULL order
    date has no open point on the sweep line — excluded on both sides
    (a NULL day would also anchor the running sum at opposite ends of
    the two engines' sort orders). An order whose every line has a NULL
    ship date keeps the existing clamp: close = open (both engines'
    GREATEST ignores NULL operands).
    """
    from pyspark.sql import Window

    o = (ld(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate").isNotNull())
         .select("o_orderkey", F.to_date("o_orderdate").alias("open_day")))
    l = ld(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_day"))
    close = (l.groupBy("l_orderkey")
             .agg(F.max("ship_day").alias("close_day")))
    # the synthetic fixture has orders whose last ship date precedes the
    # order date; clamp so every interval covers at least its order day
    # (otherwise the +1/-1 sweep and a containment count diverge)
    spans = (o.join(close, o["o_orderkey"] == close["l_orderkey"])
             .withColumn("close_day",
                         F.greatest("close_day", "open_day")))
    deltas = (spans.select(F.col("open_day").alias("day"),
                           F.lit(1).alias("delta"))
              .unionAll(spans.select(
                  F.date_add("close_day", 1).alias("day"),
                  F.lit(-1).alias("delta"))))
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per_day
            .withColumn("open_orders", F.sum("net").over(w))
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.col("open_orders").cast("long").alias("open_orders"))
            .orderBy("day"))


ORACLE_ORDERS_BACKLOG = """
WITH close AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_day
  FROM lineitem GROUP BY l_orderkey
), spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day,
         GREATEST(c.close_day, CAST(o.o_orderdate AS DATE)) AS close_day
  FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
  WHERE o.o_orderdate IS NOT NULL
), deltas AS (
  SELECT open_day AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT close_day + 1 AS day, -1 AS delta FROM spans
), per_day AS (
  SELECT day, SUM(delta) AS net FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(SUM(net) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM per_day
ORDER BY day
"""


def geo_nearest_site_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-site assignment (the spatial-join lite every logistics
    migration asks for): each customer gets deterministic planar
    coordinates derived from its key (integer-derived doubles — identical
    in both engines; no fixture column carries geography), five fixed
    distribution sites are broadcast, and each customer is assigned to
    the site minimizing squared equirectangular distance — pure
    arithmetic, no transcendental functions, so the scores (and therefore
    the argmin) are bitwise portable. Ties break on site id via the
    ROW_NUMBER ordering, mirrored exactly in the oracle.

    Plan: customers × 5 sites is a constant per-row fan-out (explode of a
    5-element literal array — no join), then one window over
    (custkey | dist2, site) and one site-level census. At any scale the
    only shuffle state is per-customer ranking plus a 5-row aggregate.
    """
    from pyspark.sql import Window

    sites = [(1, 10.0, 15.0), (2, -35.0, 40.0), (3, 55.0, -20.0),
             (4, -10.0, -60.0), (5, 70.0, 80.0)]
    c = ld(spark, sf_dir, "customer").select("c_custkey")
    lat = ((F.col("c_custkey") % 180) - 90).cast("double") \
        + F.lit(0.25)
    lon = ((F.col("c_custkey") % 360) - 180).cast("double") \
        + F.lit(0.5)
    located = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    site_arr = F.array(*[
        F.struct(F.lit(sid).alias("site_id"),
                 F.lit(slat).alias("slat"), F.lit(slon).alias("slon"))
        for sid, slat, slon in sites])
    exploded = located.select(
        "c_custkey", "lat", "lon", F.explode(site_arr).alias("s"))
    d2 = ((F.col("lat") - F.col("s.slat"))
          * (F.col("lat") - F.col("s.slat"))
          + (F.col("lon") - F.col("s.slon"))
          * (F.col("lon") - F.col("s.slon")))
    w = Window.partitionBy("c_custkey").orderBy("d2", "s.site_id")
    nearest = (exploded.withColumn("d2", d2)
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    return (nearest.groupBy(F.col("s.site_id").alias("site_id"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("d2").cast(DEC)).cast("double")
                 .alias("total_dist2"))
            .orderBy("site_id"))


ORACLE_GEO_NEAREST = """
WITH located AS (
  SELECT c_custkey,
         CAST((c_custkey % 180) - 90 AS DOUBLE) + 0.25 AS lat,
         CAST((c_custkey % 360) - 180 AS DOUBLE) + 0.5 AS lon
  FROM customer
), sites(site_id, slat, slon) AS (
  VALUES (1, 10.0, 15.0), (2, -35.0, 40.0), (3, 55.0, -20.0),
         (4, -10.0, -60.0), (5, 70.0, 80.0)
), scored AS (
  SELECT l.c_custkey, s.site_id,
         (l.lat - s.slat) * (l.lat - s.slat)
           + (l.lon - s.slon) * (l.lon - s.slon) AS d2,
         ROW_NUMBER() OVER (PARTITION BY l.c_custkey
                            ORDER BY (l.lat - s.slat) * (l.lat - s.slat)
                                     + (l.lon - s.slon) * (l.lon - s.slon),
                                     s.site_id) AS rn
  FROM located l, sites s
)
SELECT site_id, COUNT(*) AS n_customers,
       CAST(SUM(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) AS total_dist2
FROM scored WHERE rn = 1
GROUP BY site_id
ORDER BY site_id
"""


def supplier_on_time_scorecard(spark: SparkSession, sf_dir: str,
                               window_days: int = 90) -> DataFrame:
    """Supplier delivery scorecard: per supplier, the rate of lines
    shipped within ``window_days`` of the order date, the average
    overshoot in days over late lines (exact integer day sums ÷ count),
    and the line volume — the vendor-performance query every
    supply-chain migration validates (the fixture carries only
    l_shipdate, so lateness is measured against the order date).

    Plan: one orders⋈lineitem equi-join on the order key (the single
    fact-fact shuffle), then one keyed groupBy with pure integer /
    conditional aggregates (map-side partials); supplier cardinality
    shards the state. Rates are exact integer ratios divided once as
    doubles.

    Oracle coupling: the default ``window_days=90`` is baked into the
    oracle as the constant ``- 90`` (same trap as scale_zorder_zvalues) —
    the registry always calls with the default; a non-default value is
    for ad-hoc use and intentionally has no parity claim.
    """
    o = ld(spark, sf_dir, "orders", fanout=False).select(
        "o_orderkey", F.to_date("o_orderdate").alias("odate"))
    l = ld(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("sdate"))
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    late_days = F.datediff("sdate", "odate") - F.lit(window_days)
    is_late = (late_days > 0).cast("long")
    return (j.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(is_late).alias("n_late"),
                 F.sum(F.when(late_days > 0, late_days)
                       .otherwise(F.lit(0))).alias("late_day_sum"))
            .select(
                "l_suppkey", "n_lines", "n_late",
                (F.lit(1.0) - F.col("n_late").cast("double")
                 / F.col("n_lines").cast("double")).alias("on_time_rate"),
                F.when(F.col("n_late") > 0,
                       F.col("late_day_sum").cast("double")
                       / F.col("n_late").cast("double"))
                .otherwise(F.lit(0.0)).alias("avg_late_days"))
            .orderBy("l_suppkey"))


ORACLE_SUPPLIER_SCORECARD = """
WITH j AS (
  SELECT l.l_suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) - 90 AS late_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), agg AS (
  SELECT l_suppkey, COUNT(*) AS n_lines,
         SUM(CASE WHEN late_days > 0 THEN 1 ELSE 0 END) AS n_late,
         SUM(CASE WHEN late_days > 0 THEN late_days ELSE 0 END)
           AS late_day_sum
  FROM j GROUP BY l_suppkey
)
SELECT l_suppkey, n_lines, CAST(n_late AS BIGINT) AS n_late,
       1.0 - CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)
         AS on_time_rate,
       CASE WHEN n_late > 0
            THEN CAST(late_day_sum AS DOUBLE) / CAST(n_late AS DOUBLE)
            ELSE 0.0 END AS avg_late_days
FROM agg
ORDER BY l_suppkey
"""


def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap feed: event counts and exact-decimal value
    totals per (day-of-week, hour-of-day) cell — the 7×24 profile behind
    load forecasting and anomaly baselines. Day names come from the
    locale-stable short pattern so both engines emit identical labels;
    rows emit in CHRONOLOGICAL weekday order (sorted on the day number,
    not the label).

    One groupBy on a derived 168-cell key: map-side partials collapse any
    data volume to at most 168 rows per task.
    """
    from .relational import load_events

    e = load_events(spark, sf_dir)
    return (e.groupBy(F.dayofweek("ts").alias("dow_num"),
                      F.date_format("ts", "E").alias("dow"),
                      F.hour("ts").alias("hour_of_day"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("total_value"))
            .orderBy("dow_num", "hour_of_day")
            .select("dow", "hour_of_day", "n_events", "total_value"))


ORACLE_EVENTS_DOW_HOUR = """
SELECT strftime(ts, '%a') AS dow,
       CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY dow, hour_of_day, dayofweek(ts)
ORDER BY dayofweek(ts), hour_of_day
"""


def events_mad_outliers(spark: SparkSession, sf_dir: str,
                        mad_cut: float = 3.5) -> DataFrame:
    """Robust outlier flags per event type: |x − median| > cut · MAD
    (median absolute deviation) — the robust twin of the z-score pass
    (behavior.events_value_zscore), immune to the outliers it hunts.

    Both order statistics use the portable rank rule "smallest value
    whose 1-based rank ≥ ceil(0.5·n)" (agg_percentiles) — exact-value
    selection, no interpolation, so the medians are bitwise identical in
    both engines; the deviation and threshold comparison then run on
    identically-derived doubles. Two keyed window/agg passes (values,
    then absolute deviations) plus a broadcast join of the 5-row
    per-type statistics back over the stream — the flagging scan does no
    extra shuffle.
    """
    from pyspark.sql import Window

    from .relational import load_events

    e = load_events(spark, sf_dir).select(
        "event_id", "event_type", "value")

    def _rank_median(df, col, part):
        # NULLS LAST pinned explicitly: Spark windows default NULLS
        # FIRST, DuckDB NULLS LAST — a nullable value column would
        # silently shift the rank-rule pick between engines otherwise
        w = Window.partitionBy(part).orderBy(
            F.col(col).asc_nulls_last(), "event_id")
        ranked = df.select(
            part, "event_id", F.col(col).alias("v"),
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy(part)).alias("n"))
        return (ranked.groupBy(part)
                .agg(F.min(F.when(
                    F.col("rk") >= F.ceil(F.lit(0.5) * F.col("n")),
                    F.col("v"))).alias(f"med_{col}")))

    med = _rank_median(e, "value", "event_type")
    dev = (e.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med_value"))))
    mad = _rank_median(dev, "adev", "event_type") \
        .withColumnRenamed("med_adev", "mad")
    # mad > 0 guard pinned on BOTH sides: with MAD = 0 (over half the
    # type's values equal its median) Spark's double division yields NULL
    # while DuckDB yields inf, so the degenerate type would break parity.
    # A zero-MAD type gets no flags — callers wanting the degenerate case
    # should test adev > 0 directly, not a ratio.
    return (dev.join(F.broadcast(mad), "event_type")
            .filter((F.col("mad") > 0)
                    & (F.col("adev") > F.lit(mad_cut) * F.col("mad")))
            .select("event_id", "event_type", "value",
                    (F.col("adev") / F.col("mad")).alias("mad_score"))
            .orderBy("event_id"))


ORACLE_EVENTS_MAD = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value NULLS LAST, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), med AS (
  SELECT event_type,
         MIN(CASE WHEN rk >= CEIL(0.5 * n) THEN value END) AS med_value
  FROM ranked GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value,
         ABS(e.value - m.med_value) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
), dev_ranked AS (
  SELECT event_type, event_id, adev,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY adev NULLS LAST, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
), mad AS (
  SELECT event_type,
         MIN(CASE WHEN rk >= CEIL(0.5 * n) THEN adev END) AS mad
  FROM dev_ranked GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value, d.adev / m.mad AS mad_score
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE m.mad > 0 AND d.adev > 3.5 * m.mad
ORDER BY d.event_id
"""


def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the BI trend query: monthly
    exact-decimal revenue, the previous month's figure via lag, and the
    percent change computed from identically-derived doubles (single
    division; NULL for the first month).

    Plan: one keyed month aggregation collapses any order volume to a
    calendar-sized table; the lag window then orders THAT table (global
    window over dimension-sized data — same stance as the ABC cumsum).

    NULL-date contract (r12, nullfact gate): an order with a NULL date
    belongs to no calendar month — excluded on both sides (a NULL month
    group would sort first in Spark's lag order and last in DuckDB's,
    shifting every month's prev).
    """
    from pyspark.sql import Window

    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull())
    monthly = (o.groupBy(F.date_trunc("month", "o_orderdate")
                         .alias("month_start"))
               .agg(F.sum(F.col("o_totalprice").cast(DEC))
                    .alias("rev")))
    w = Window.orderBy("month_start")
    cur = F.col("rev").cast("double")
    prev = F.lag("rev").over(w).cast("double")
    return (monthly
            .select(F.date_format("month_start", "yyyy-MM")
                    .alias("month"),
                    cur.alias("revenue"),
                    ((cur - prev) / prev).alias("mom_growth"))
            .orderBy("month"))


ORACLE_ORDERS_MONTHLY_GROWTH = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month_start,
         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month_start
)
SELECT strftime(month_start, '%Y-%m') AS month,
       CAST(rev AS DOUBLE) AS revenue,
       (CAST(rev AS DOUBLE)
          - CAST(LAG(rev) OVER (ORDER BY month_start) AS DOUBLE))
         / CAST(LAG(rev) OVER (ORDER BY month_start) AS DOUBLE)
         AS mom_growth
FROM monthly
ORDER BY month
"""


def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over parts: the (retail price, size)
    points not dominated by any other part (cheaper-or-equal AND
    bigger-or-equal with at least one strict) — the multi-criteria
    shortlist query (cheapest-per-capability).

    Scalable formulation: collapse to one row per price (max size — it
    dominates its price peers), then ONE global running max: a point is
    on the frontier iff its size strictly exceeds the running max size
    of all strictly cheaper points. The running max rides
    ``scale.global_prefix_window`` (range shuffle + 32-row driver-side
    carry, ``inclusive=False`` for the strictly-preceding frame) rather
    than an unpartitioned ``Window.orderBy`` — the price domain bounds
    the table today, but the r03 verdict flagged the single-task sort as
    the part that breaks first if the distinct-price set grows with the
    catalog. The oracle uses the NAIVE quadratic NOT EXISTS dominance
    test — a different formulation entirely, so the driver check proves
    the rewrite.
    """
    from .scale import global_prefix_window

    p = ld(spark, sf_dir, "part").select(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"))
    per_price = p.groupBy("price").agg(F.max("size").alias("size"))
    frontier = global_prefix_window(
        per_price, [F.asc("price")], "size",
        how="max", inclusive=False, out_col="prev_max")
    return (frontier
            .filter(F.col("prev_max").isNull()
                    | (F.col("size") > F.col("prev_max")))
            .select(F.col("price").cast("double").alias("price"), "size")
            .orderBy("price"))


ORACLE_PART_PARETO = """
WITH pts AS (
  SELECT price, MAX(size) AS size FROM (
    SELECT p_retailprice AS price, p_size AS size FROM part)
  GROUP BY price
)
SELECT CAST(a.price AS DOUBLE) AS price, a.size
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size)
)
ORDER BY price
"""


def basket_part_affinity(spark: SparkSession, sf_dir: str,
                         min_support: int = 2, k: int = 50) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in the same order,
    with support counts and lift (P(a,b) / P(a)P(b) as the exact integer
    ratio n_ab·N / (n_a·n_b)) — association-rules lite, the
    cross-sell query.

    Scale shape: baskets are collected per order (basket size is bounded
    by order width, single digits here) and pairs explode PER ROW from
    the sorted part array — the same pair-generation rewrite as
    audience_overlap_matrix, avoiding the lineitem self-join whose
    fan-out is quadratic per order ACROSS a shuffle. Per-part totals
    broadcast back for the lift denominator. The oracle runs the
    self-join formulation, so parity proves the rewrite.

    Oracle coupling: the defaults ``min_support=2`` / ``k=50`` are baked
    into the oracle as constants (same trap as scale_zorder_zvalues) —
    non-default values are ad-hoc only, with no parity claim.

    NULL-key contract (r12, nullfact gate): a line with a NULL order
    key belongs to no basket (grouping would otherwise lump every such
    line into one giant phantom basket that the oracle's NULL-rejecting
    self-join never forms) and a NULL part is not an item — both
    excluded on both sides.
    """
    from .scale import pin

    l = (ld(spark, sf_dir, "lineitem")
         .filter(F.col("l_orderkey").isNotNull()
                 & F.col("l_partkey").isNotNull())
         .select("l_orderkey", "l_partkey"))
    # pin: the fact-table distinct (a full shuffle) feeds THREE
    # consumers (order census, per-part totals, basket build) — without
    # it the scan+distinct executes three times (r11 tail plan audit)
    distinct_lp = pin(l.distinct())
    n_orders = distinct_lp.select("l_orderkey").distinct() \
        .agg(F.count(F.lit(1)).alias("n_orders"))
    part_counts = (distinct_lp.groupBy("l_partkey")
                   .agg(F.count(F.lit(1)).alias("n_part")))
    baskets = (distinct_lp.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    from .relational import pair_explode

    pairs = baskets.select(F.explode(pair_explode("parts")).alias("p"))
    counted = (pairs.select(F.col("p.a").alias("part_a"),
                            F.col("p.b").alias("part_b"))
               .groupBy("part_a", "part_b")
               .agg(F.count(F.lit(1)).alias("n_pair"))
               .filter(F.col("n_pair") >= min_support))
    ca = part_counts.select(F.col("l_partkey").alias("part_a"),
                            F.col("n_part").alias("n_a"))
    cb = part_counts.select(F.col("l_partkey").alias("part_b"),
                            F.col("n_part").alias("n_b"))
    return (counted.join(F.broadcast(ca), "part_a")
            .join(F.broadcast(cb), "part_b")
            .crossJoin(F.broadcast(n_orders))
            .select("part_a", "part_b", "n_pair",
                    ((F.col("n_pair") * F.col("n_orders")).cast("double")
                     / (F.col("n_a") * F.col("n_b")).cast("double"))
                    .alias("lift"))
            .orderBy(F.desc("n_pair"), "part_a", "part_b")
            .limit(k))


ORACLE_BASKET_AFFINITY = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp),
pc AS (
  SELECT l_partkey, COUNT(*) AS n_part FROM lp GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_pair
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
)
SELECT p.part_a, p.part_b, p.n_pair,
       CAST(p.n_pair * n.n_orders AS DOUBLE)
         / CAST(ca.n_part * cb.n_part AS DOUBLE) AS lift
FROM pairs p
JOIN pc ca ON ca.l_partkey = p.part_a
JOIN pc cb ON cb.l_partkey = p.part_b, n
ORDER BY n_pair DESC, part_a, part_b
LIMIT 50
"""


def orders_keyset_page(spark: SparkSession, sf_dir: str,
                       page_size: int = 25) -> DataFrame:
    """Keyset (seek) pagination — the serving pattern that replaces
    OFFSET: page N+1 starts WHERE key > last-seen-key, so the engine
    seeks instead of scanning-and-discarding N pages. OFFSET pagination
    at depth d costs O(d·page) per request at any scale; keyset stays
    O(page) and the predicate pushes to the scan.

    Demonstrated deterministically: the "last seen" key is derived from
    the data (the page_size-th smallest orderkey — itself a bounded
    TakeOrderedAndProject), then the next page is fetched with the seek
    predicate. Output is page 2 exactly.

    Oracle coupling: the default ``page_size=25`` is baked into the
    oracle as a constant (same trap as scale_zorder_zvalues) —
    non-default values are ad-hoc only, with no parity claim.
    """
    o = ld(spark, sf_dir, "orders", fanout=False).select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    # bounded scalar: the page-1 boundary key (page_size-th smallest)
    last_seen = (o.orderBy("o_orderkey").limit(page_size)
                 .agg(F.max("o_orderkey")).collect()[0][0])
    return (o.filter(F.col("o_orderkey") > last_seen)
            .orderBy("o_orderkey")
            .limit(page_size))


ORACLE_ORDERS_KEYSET = """
WITH boundary AS (
  SELECT MAX(o_orderkey) AS last_seen FROM (
    SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 25)
)
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders, boundary
WHERE o_orderkey > last_seen
ORDER BY o_orderkey
LIMIT 25
"""


def customers_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative customer-adoption curve: per month, how many NEW
    customers placed their first-ever order, and the running total — the
    growth chart behind every activation dashboard.

    Plan: first-order month per customer is one keyed aggregation; the
    monthly census collapses to a calendar-sized table whose running sum
    is the only (dimension-sized) global window. Pure integer counts.
    """
    from pyspark.sql import Window

    o = ld(spark, sf_dir, "orders")
    first = (o.groupBy("o_custkey")
             .agg(F.date_trunc("month", F.min("o_orderdate"))
                  .alias("first_month")))
    monthly = (first.groupBy("first_month")
               .agg(F.count(F.lit(1)).alias("n_new_customers")))
    w = (Window.orderBy("first_month")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (monthly
            .withColumn("cumulative_customers",
                        F.sum("n_new_customers").over(w))
            .select(F.date_format("first_month", "yyyy-MM").alias("month"),
                    "n_new_customers",
                    F.col("cumulative_customers").cast("long")
                    .alias("cumulative_customers"))
            .orderBy("month"))


ORACLE_CUSTOMERS_ADOPTION = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS first_month
  FROM orders GROUP BY o_custkey
), monthly AS (
  SELECT first_month, COUNT(*) AS n_new_customers
  FROM first GROUP BY first_month
)
SELECT strftime(first_month, '%Y-%m') AS month,
       n_new_customers,
       CAST(SUM(n_new_customers) OVER (ORDER BY first_month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_customers
FROM monthly
ORDER BY month
"""


def events_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization per event type — the outlier-clipping
    pass feature pipelines run before normalization: values below the
    1st / above the 99th percentile are clamped to those cuts, and the
    per-type summary reports how much mass moved. Third robust-statistics
    member beside the z-score and MAD passes.

    The cuts use the module's portable rank rule ("smallest value whose
    1-based rank ≥ ceil(q·n)", event_id tiebreak) — native percentile
    interpolation conventions are NOT engine-portable. Shape (rewritten
    round 7): ranks ride :func:`~.scale.grouped_ranks` — a 5-value
    event_type window would sort a fifth of the table per task at any
    scale — with the per-type n as a types-sized broadcast join; then
    the type-cardinality cut table broadcasts back and one final hash
    aggregate; the clamped sum follows the decimal protocol so the
    double output is bitwise-portable.
    """
    from .relational import DEC, load_events
    from .scale import grouped_ranks

    e = load_events(spark, sf_dir)
    # asc_nulls_last: corrupted NULL values must rank AFTER every real
    # value (DuckDB's ROW_NUMBER default) or the percentile cut indices
    # shift engine-to-engine; inert on NULL-free data (r10)
    rk = grouped_ranks(e.select("event_type", "value", "event_id"),
                       ["event_type"],
                       [F.asc_nulls_last("value"), F.asc("event_id")],
                       rank_col="rk")
    counts = rk.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = rk.join(F.broadcast(counts), "event_type")
    cuts = (ranked.groupBy("event_type")
            .agg(F.min(F.when(F.col("rk") >= F.ceil(F.lit(0.01) * F.col("n")),
                              F.col("value"))).alias("p01"),
                 F.min(F.when(F.col("rk") >= F.ceil(F.lit(0.99) * F.col("n")),
                              F.col("value"))).alias("p99")))
    clipped = (F.when(F.col("value") < F.col("p01"), F.col("p01"))
               .when(F.col("value") > F.col("p99"), F.col("p99"))
               .otherwise(F.col("value")))
    return (e.join(F.broadcast(cuts), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 # when/otherwise, not boolean cast: a NULL cut (all-NULL
                 # tail) or NULL value must count 0 like the oracle's
                 # CASE ... ELSE 0, never sum NULLs to NULL (r10)
                 F.sum(F.when(F.col("value") < F.col("p01"), 1)
                       .otherwise(0)).alias("n_clipped_lo"),
                 F.sum(F.when(F.col("value") > F.col("p99"), 1)
                       .otherwise(0)).alias("n_clipped_hi"),
                 F.first("p01").alias("p01"),
                 F.first("p99").alias("p99"),
                 F.sum(clipped.cast(DEC)).cast("double")
                 .alias("winsorized_sum"))
            .orderBy("event_type"))


ORACLE_EVENTS_WINSORIZE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), cuts AS (
  SELECT event_type,
         MIN(CASE WHEN rk >= CEIL(0.01 * n) THEN value END) AS p01,
         MIN(CASE WHEN rk >= CEIL(0.99 * n) THEN value END) AS p99
  FROM ranked GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN e.value < c.p01 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_lo,
       CAST(SUM(CASE WHEN e.value > c.p99 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_hi,
       MIN(c.p01) AS p01,
       MIN(c.p99) AS p99,
       CAST(SUM(CAST(CASE WHEN e.value < c.p01 THEN c.p01
                          WHEN e.value > c.p99 THEN c.p99
                          ELSE e.value END AS DECIMAL(28,6))) AS DOUBLE)
         AS winsorized_sum
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


# ---------------------------------------------------------------------------
# Cohort retention grid (round 6)
# ---------------------------------------------------------------------------

def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly acquisition-cohort retention: customers bucketed by their
    first-order month, then distinct-active counts per (cohort_month,
    months_since_acquisition) cell with retention vs the cohort's month-0
    size — the standard growth-analytics triangle.

    Shape: one keyed agg for the cohort map, one join back on
    ``o_custkey`` (both sides hash-partitioned on the same key), one
    distinct-count agg on the derived 2-key cell, and a per-cohort
    window (partitioned on cohort_month — never a global single
    partition) for the month-0 denominator. All counts are integers;
    retention is one integer-over-integer IEEE divide → bitwise-portable.
    """
    o = ld(spark, sf_dir, "orders", fanout=False)
    cohort = (o.groupBy("o_custkey")
              .agg(F.date_trunc("month", F.min("o_orderdate"))
                   .alias("cohort_ts")))
    cells = (o.join(cohort, "o_custkey")
             .select("o_custkey", "cohort_ts",
                     F.date_trunc("month", "o_orderdate").alias("m_ts"))
             .groupBy(F.col("cohort_ts").cast("date").alias("cohort_month"),
                      F.months_between("m_ts", "cohort_ts").cast("int")
                      .alias("months_since"))
             .agg(F.countDistinct("o_custkey").alias("n_active")))
    w = (Window.partitionBy("cohort_month").orderBy("months_since")
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    first_cell = F.max(
        F.when(F.col("months_since") == 0, F.col("n_active"))).over(w)
    return (cells
            .withColumn("retention",
                        F.col("n_active").cast("double")
                        / first_cell.cast("double"))
            .orderBy("cohort_month", "months_since"))


ORACLE_ORDERS_COHORT_RETENTION = """
WITH cohort AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_ts
  FROM orders GROUP BY o_custkey),
cells AS (
  SELECT CAST(c.cohort_ts AS DATE) AS cohort_month,
         CAST(date_diff('month', c.cohort_ts,
                        date_trunc('month', o.o_orderdate)) AS INT)
           AS months_since,
         COUNT(DISTINCT o.o_custkey) AS n_active
  FROM orders o JOIN cohort c USING (o_custkey)
  GROUP BY 1, 2)
SELECT cohort_month, months_since, n_active,
       CAST(n_active AS DOUBLE) /
       CAST(MAX(CASE WHEN months_since = 0 THEN n_active END)
              OVER (PARTITION BY cohort_month) AS DOUBLE) AS retention
FROM cells ORDER BY cohort_month, months_since
"""


# ---------------------------------------------------------------------------
# Daily growth accounting: new / retained / resurrected (round 6)
# ---------------------------------------------------------------------------

def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day growth accounting over the event stream: each active
    (user, day) is NEW (first day ever), RETAINED (also active the
    previous calendar day), or RESURRECTED (seen before, but skipped at
    least one day) — the standard DAU decomposition.

    Shape: collapse the stream to distinct (user_id, day) — the ONLY
    pass over raw events, map-side combined — then one per-user window
    (lag) on the compacted frame (≤ users × days rows) and one final
    per-day agg. Nothing is user-count-sized on the driver and no
    single-partition window exists anywhere.
    """
    from .relational import load_events

    e = load_events(spark, sf_dir)
    days = (e.select("user_id",
                     F.date_trunc("day", "ts").cast("date").alias("day"))
            .distinct())
    # asc_nulls_last pins the NULL-day (corrupted NULL ts) group to sort
    # after every real day like DuckDB, so its status is 'resurrected'
    # (seen before, no adjacent previous day) on both engines (r10)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("day"))
    tagged = days.withColumn("prev_day", F.lag("day").over(w))
    status = (F.when(F.col("prev_day").isNull(), "new")
              .when(F.date_add("prev_day", 1) == F.col("day"), "retained")
              .otherwise("resurrected"))
    return (tagged.groupBy("day")
            .agg(F.sum((status == F.lit("new")).cast("long"))
                 .alias("n_new"),
                 F.sum((status == F.lit("retained")).cast("long"))
                 .alias("n_retained"),
                 F.sum((status == F.lit("resurrected")).cast("long"))
                 .alias("n_resurrected"))
            .orderBy("day"))


ORACLE_EVENTS_USER_LIFECYCLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events),
tagged AS (
  SELECT day,
         CASE WHEN LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                   IS NULL THEN 'new'
              WHEN LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                   + INTERVAL 1 DAY = day THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM days)
SELECT day,
       CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected
FROM tagged GROUP BY day ORDER BY day
"""


def assoc_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association strength between two categorical columns — nation ×
    market segment on customers — as the chi-square independence test
    plus Cramér's V effect size: the readout that tells a feature
    pipeline whether two categoricals are redundant (V→1) or independent
    (V→0) before one-hot blowup, and a mixture audit whether segment
    composition is nation-skewed. The full r×c grid is materialized
    (zero cells contribute their expected count), mirroring the textbook
    statistic exactly.

    Portability: observed/marginal counts are exact ints; each expected
    count is ONE IEEE divide of exact products; the (o−e)²/e
    contributions are oracle-identical double chains summed under the
    decimal protocol; V is one divide + the single exactly-rounded sqrt
    (the chi²-over-log-likelihood choice is deliberate — same rationale
    as the χ² drift entry: log differs by 1 ulp between engines, (o−e)²/e
    does not). Scale shape: one O(r×c)-output aggregation with map-side
    partials; marginals derive from the grid (no second scan); the grid
    cross join is r×c ≤ dimension-sized. Output: one row.
    """
    from .relational import DEC, ld

    c = ld(spark, sf_dir, "customer")
    obs = (c.groupBy(F.col("c_nationkey").alias("rk"),
                     F.col("c_mktsegment").alias("ck"))
           .agg(F.count(F.lit(1)).alias("o"))
           .localCheckpoint())     # r×c rows, FOUR consumers — one scan
    rm = obs.groupBy("rk").agg(F.sum("o").alias("rc"))
    cm = obs.groupBy("ck").agg(F.sum("o").alias("cc"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = (rm.crossJoin(cm)
            .join(obs, ["rk", "ck"], "left")
            .select("rk", "ck", "rc", "cc",
                    F.coalesce("o", F.lit(0)).alias("o"))
            .join(F.broadcast(tot)))
    e = (F.col("rc") * F.col("cc")).cast("double") / F.col("n")
    od = F.col("o").cast("double")
    contrib = (od - e) * (od - e) / e
    agg = grid.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("rk").alias("r"),
        F.countDistinct("ck").alias("c"),
        F.sum(contrib.cast(DEC)).cast("double").alias("chi2"))
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    mind = F.least(F.col("r") - 1, F.col("c") - 1)
    return agg.select(
        "n", "r", "c", F.col("n_cells"),
        dof.alias("dof"), "chi2",
        F.sqrt(F.col("chi2") / (F.col("n") * mind).cast("double"))
        .alias("cramers_v"))


ORACLE_CRAMERS_V = """
WITH obs AS (
  SELECT c_nationkey AS rk, c_mktsegment AS ck, COUNT(*) AS o
  FROM customer GROUP BY rk, ck),
rm AS (SELECT rk, CAST(SUM(o) AS BIGINT) AS rc FROM obs GROUP BY rk),
cm AS (SELECT ck, CAST(SUM(o) AS BIGINT) AS cc FROM obs GROUP BY ck),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
grid AS (
  SELECT rm.rk, cm.ck, rm.rc, cm.cc, COALESCE(obs.o, 0) AS o, tot.n
  FROM rm CROSS JOIN cm
  LEFT JOIN obs ON obs.rk = rm.rk AND obs.ck = cm.ck
  CROSS JOIN tot),
agg AS (
  SELECT MAX(n) AS n, COUNT(*) AS n_cells,
         COUNT(DISTINCT rk) AS r, COUNT(DISTINCT ck) AS c,
         CAST(SUM(CAST(
           (CAST(o AS DOUBLE) - CAST(rc * cc AS DOUBLE) / n)
           * (CAST(o AS DOUBLE) - CAST(rc * cc AS DOUBLE) / n)
           / (CAST(rc * cc AS DOUBLE) / n)
           AS DECIMAL(28,6))) AS DOUBLE) AS chi2
  FROM grid)
SELECT n, r, c, n_cells,
       (r - 1) * (c - 1) AS dof, chi2,
       SQRT(chi2 / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
FROM agg
"""


def revenue_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit over purchasing customers: the exact
    Gini coefficient plus the ten Lorenz-curve deciles (cumulative
    revenue share of the bottom d/10 of customers) — the skew readout
    that prices a partition strategy (how hot are the hottest customer
    keys?) and the classic inequality census in one pass.

    Gini uses the signed rank identity on ascending-sorted values
    G = Σ((2i−n−1)·xᵢ) / (n·Σxᵢ) — no pairwise |xᵢ−xⱼ| O(n²) sweep.
    Ranks come from :func:`~.scale.global_ranks` (range shuffle + prefix
    offsets, never a single-partition window; the helper's
    localCheckpoint pin makes the two consumers below see one ranking).
    Each decile is a bucket census: row i belongs to first-decile
    d = ceil(10·i/n) as exact integer (10·i+n−1) div n; the 10-row
    cumulative window is driver-bounded by construction.

    Portability: ALL money flows as exact integer CENTS held in
    DECIMAL(38,0) — scale-0 on purpose: DuckDB converts DECIMAL(p,s>0)
    to double in two roundings (int128→double, then ÷10^s) while
    Spark/Java round once, so any hash-compared double must derive from
    a scale-0 (single correctly-rounded conversion) value. The rank
    products and their signed sum are exact decimals; Gini is IEEE ops
    over exactly-converted doubles; decile shares are one divide each.
    Output: 10 rows, all-constant gini column replicated.
    """
    from .scale import global_ranks

    o = ld(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC) * 100).cast("decimal(38,0)")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.sum(cents).alias("cents")))
    ranked, n = global_ranks(
        per_cust, [F.asc("cents"), F.asc("o_custkey")],
        num_partitions=8)
    gini = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum((F.col("global_rn") * 2 - F.lit(n) - 1) * F.col("cents"))
        .alias("num"))
    gini = gini.select(
        "n_customers",
        F.col("total_cents").cast("double").alias("total_cents_d"),
        (F.col("num").cast("double")
         / (F.col("n_customers").cast("double")
            * F.col("total_cents").cast("double"))).alias("gini"))
    dec = (ranked
           .withColumn("decile", F.expr(f"(10 * global_rn + {n}L - 1) div {n}L"))
           .groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_in_decile"),
                F.sum("cents").alias("decile_cents")))
    wcum = (Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # 10-row frame: the unpartitioned window is bounded by construction
    return (dec
            .withColumn("cum_customers",
                        F.sum("n_in_decile").over(wcum))
            .withColumn("cum_cents", F.sum("decile_cents").over(wcum))
            .crossJoin(F.broadcast(gini))
            .select("decile", "n_in_decile", "cum_customers",
                    (F.col("cum_cents").cast("double")
                     / F.col("total_cents_d")).alias("cum_rev_share"),
                    "n_customers", "gini")
            .orderBy("decile"))


ORACLE_GINI_LORENZ = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                  AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM per_cust),
gini AS (
  SELECT COUNT(*) AS n_customers,
         CAST(SUM(cents) AS DOUBLE) AS total_cents_d,
         CAST(SUM((2 * i - n - 1) * cents) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE))
           AS gini
  FROM ranked),
dec AS (
  SELECT (10 * i + n - 1) // n AS decile,
         COUNT(*) AS n_in_decile, SUM(cents) AS decile_cents
  FROM ranked GROUP BY decile)
SELECT d.decile, d.n_in_decile,
       CAST(SUM(d.n_in_decile) OVER w AS BIGINT) AS cum_customers,
       CAST(SUM(d.decile_cents) OVER w AS DOUBLE) / g.total_cents_d
         AS cum_rev_share,
       g.n_customers, g.gini
FROM dec d CROSS JOIN gini g
WINDOW w AS (ORDER BY d.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY d.decile
"""


def agg_weighted_percentiles(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """GLOBAL weighted percentiles of unit price weighted by quantity —
    "the price below which q% of shipped UNITS (not order lines) fall",
    the volume-weighted twin of agg_percentiles and the exact version
    of what approx sketches estimate. Weighted rule, no interpolation:
    the q-percentile is the smallest price whose cumulative quantity
    reaches ceil(q·W), computed as exact integer (p·W + 99) div 100 —
    the same explicitly-portable rank convention as agg_percentiles
    (native engine quantile conventions do not agree).

    The cumulative weight over the GLOBAL price order rides
    :func:`~.scale.global_prefix_window` — one range shuffle plus a
    32-row driver carry, never a single-partition window (lineitem is
    the biggest table; this is the canonical 100×-breaking shape).
    Everything integer until the output prices (exact decimals).

    NULL-measure contract (r12, nullfact gate): a NULL price cannot be
    ranked (and engines disagree on where NULLs sort) and a NULL
    quantity carries no weight — both are excluded before the prefix,
    mirrored in the oracle.
    """
    from .scale import global_prefix_window

    li = (ld(spark, sf_dir, "lineitem")
          .filter(F.col("l_extendedprice").isNotNull()
                  & F.col("l_quantity").isNotNull())
          .select("l_extendedprice", "l_quantity",
                  "l_orderkey", "l_linenumber")
          .withColumn("qty", F.col("l_quantity").cast("bigint")))
    cum = global_prefix_window(
        li, [F.asc("l_extendedprice"), F.asc("l_orderkey"),
             F.asc("l_linenumber")],
        "qty", how="sum", out_col="cumw")
    # W = the global inclusive prefix's max — read from the PINNED
    # prefix frame instead of a second lineitem scan
    total = cum.agg(F.max("cumw").alias("w"))
    j = cum.crossJoin(F.broadcast(total))
    pct = [("wp25", 25), ("wp50", 50), ("wp75", 75), ("wp95", 95)]
    aggs = [F.min(F.when(
        F.col("cumw") >= F.expr(f"({p} * w + 99) div 100"),
        F.col("l_extendedprice"))).alias(name) for name, p in pct]
    return j.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.max("w").alias("total_units"), *aggs)


ORACLE_WEIGHTED_PERCENTILES = """
WITH cum AS (
  SELECT l_extendedprice,
         SUM(CAST(l_quantity AS BIGINT))
           OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw,
         SUM(CAST(l_quantity AS BIGINT)) OVER () AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
SELECT COUNT(*) AS n_rows,
       CAST(MAX(w) AS BIGINT) AS total_units,
       MIN(CASE WHEN cumw >= (25 * w + 99) // 100
                THEN l_extendedprice END) AS wp25,
       MIN(CASE WHEN cumw >= (50 * w + 99) // 100
                THEN l_extendedprice END) AS wp50,
       MIN(CASE WHEN cumw >= (75 * w + 99) // 100
                THEN l_extendedprice END) AS wp75,
       MIN(CASE WHEN cumw >= (95 * w + 99) // 100
                THEN l_extendedprice END) AS wp95
FROM cum
"""


#: Benford leading-digit expectations log10(1+1/d), d=1..9 — parsed as
#: identical double literals by both engines (the log itself never runs;
#: same constants-as-literals rationale as BM25's k1/b).
_BENFORD = [
    (1, 0.3010299956639812), (2, 0.17609125905568124),
    (3, 0.12493873660829993), (4, 0.09691001300805642),
    (5, 0.07918124604762482), (6, 0.06694678963061322),
    (7, 0.05799194697768673), (8, 0.05115252244738129),
    (9, 0.04575749056067514),
]


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of extended prices — the classic
    fabricated-data / corruption screen: natural multi-magnitude
    amounts follow P(d) = log10(1+1/d); a flat or spiked digit profile
    flags synthetic or tampered values (the fixture's uniform prices
    are exactly such a flag). Emits per digit the observed count,
    observed share, Benford expectation, and |deviation|.

    Leading digit: prices become exact integer cents (scale-0 per the
    decimal→double protocol; ×100 preserves the leading digit), then
    one substring on the canonical integer string — no float log10.
    The expectations are parsed double literals in BOTH engines (the
    logarithm never executes at query time — same rationale as BM25's
    k1/b constants). Shares are single IEEE divides; the deviation is
    one subtract + abs. Shape: one map-side-partial aggregation to 9
    rows, a 1-row total broadcast. A cross-digit chi² total is
    deliberately NOT emitted: summing 9 doubles in group-by order is
    partition-order-dependent; the per-digit rows are the contract.

    NULL-measure contract (r12, nullfact gate): a NULL amount has no
    leading digit — excluded before the census on both sides (the old
    form emitted a Spark-only NULL-digit group the oracle's inner join
    on the digit table silently dropped).
    """
    li = ld(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull())
    cents = (F.col("l_extendedprice").cast(DEC) * 100) \
        .cast("decimal(38,0)")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (li.select(digit.alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).alias("n_values"))
           .localCheckpoint())     # 9 rows, two consumers — one scan
    tot = obs.agg(F.sum("n_values").alias("total"))
    exp_map = F.create_map(
        *[x for d, p in _BENFORD for x in (F.lit(d), F.lit(p))])
    share = F.col("n_values").cast("double") / F.col("total")
    return (obs.join(F.broadcast(tot))
            .select("digit", "n_values",
                    share.alias("obs_share"),
                    exp_map[F.col("digit")].alias("benford_share"))
            .withColumn("abs_dev",
                        F.abs(F.col("obs_share") - F.col("benford_share")))
            .orderBy("digit"))


ORACLE_BENFORD = """
WITH obs AS (
  SELECT CAST(SUBSTRING(CAST(CAST(CAST(l_extendedprice AS DECIMAL(28,6))
                             * 100 AS DECIMAL(38,0)) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         COUNT(*) AS n_values
  FROM lineitem WHERE l_extendedprice IS NOT NULL
  GROUP BY digit),
tot AS (SELECT CAST(SUM(n_values) AS BIGINT) AS total FROM obs),
exp AS (
  SELECT * FROM (VALUES
    (1, 3.010299956639812e-1), (2, 1.7609125905568124e-1),
    (3, 1.2493873660829993e-1), (4, 9.691001300805642e-2),
    (5, 7.918124604762482e-2), (6, 6.694678963061322e-2),
    (7, 5.799194697768673e-2), (8, 5.115252244738129e-2),
    (9, 4.575749056067514e-2)) AS t(digit, benford_share))
SELECT o.digit, o.n_values,
       CAST(o.n_values AS DOUBLE) / t.total AS obs_share,
       e.benford_share,
       ABS(CAST(o.n_values AS DOUBLE) / t.total - e.benford_share)
         AS abs_dev
FROM obs o CROSS JOIN tot t JOIN exp e ON e.digit = o.digit
ORDER BY o.digit
"""


def orders_fulfillment_latency(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Operational latency scorecard per order month: exact rank-rule
    percentiles (p50/p95) of the order→ship lag, the mean lag, and the
    late-share (lines shipping more than 90 days after the order) —
    the fulfillment-SLA readout (are we shipping slower this quarter,
    and is the tail blowing up before the median moves?).

    Lags are exact integer day differences (``datediff`` ↔ DuckDB
    ``date_diff``); percentiles use the module's explicit "smallest
    value whose rank ≥ ceil(q·n)" rule (engine-native interpolation is
    not portable); means are exact integer sums over counts, one divide
    each. Shape (rewritten round 7 on grouped_ranks; r12 optimization
    round): the rank rule only ever asks "the smallest lag whose
    CUMULATIVE count reaches ceil(q·n)" — per-line ranks never matter,
    because rows with equal lag occupy a contiguous rank block whose
    top is the cumulative count — so the per-line ranking (a full
    range shuffle + pin of every joined row) is replaced by a
    (month, lag) VALUE CENSUS (map-side-combined; the shuffle carries
    one row per distinct month × lag) and a census-sized cumulative
    sum via :func:`~.scale.global_prefix_window` ordered (month, lag),
    de-offset per month. Identical output by the argument above; the
    census is unbounded in principle, so the prefix still avoids any
    single-partition window. O(months) output.

    NULL contract (r12, nullfact gate): a NULL order date gives no
    month and a NULL ship date no lag — such lines are excluded on both
    sides (a NULL lag would rank NULLS FIRST in Spark and NULLS LAST in
    DuckDB, dragging every percentile; the NULL month group would
    survive the window formulation but not a plain equi-join).
    """
    from .scale import global_prefix_window

    li = ld(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull())
    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull())
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .select(
             (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
             .alias("order_month"),
             F.datediff(F.col("l_shipdate").cast("date"),
                        F.col("o_orderdate").cast("date"))
             .alias("ship_lag")))
    census = (j.groupBy("order_month", "ship_lag")
              .agg(F.count(F.lit(1)).alias("cnt")))
    gp = global_prefix_window(census,
                              [F.asc("order_month"), F.asc("ship_lag")],
                              "cnt", how="sum", out_col="gcum")
    # per-month stats + the month's global-prefix offset (its exclusive
    # prefix at the first row — minimal because the inclusive prefix
    # strictly increases in (month, lag) order)
    m = (gp.groupBy("order_month")
         .agg(F.min(F.col("gcum") - F.col("cnt")).alias("off"),
              F.sum("cnt").alias("n"),
              F.sum(F.col("ship_lag") * F.col("cnt")).alias("lag_sum"),
              F.sum(F.when(F.col("ship_lag") > 90, F.col("cnt"))
                    .otherwise(F.lit(0))).alias("n_late")))
    ranked = (gp.join(F.broadcast(m), "order_month")
              .withColumn("cum", F.col("gcum") - F.col("off")))
    pct = (ranked.groupBy("order_month")
           .agg(F.min(F.when(F.col("cum") >= F.ceil(0.50 * F.col("n")),
                             F.col("ship_lag"))).alias("p50_ship_lag"),
                F.min(F.when(F.col("cum") >= F.ceil(0.95 * F.col("n")),
                             F.col("ship_lag"))).alias("p95_ship_lag")))
    return (m.join(pct, "order_month")
            .select("order_month",
                    F.col("n").alias("n_lines"),
                    "p50_ship_lag", "p95_ship_lag",
                    (F.col("lag_sum").cast("double") / F.col("n"))
                    .alias("mean_ship_lag"),
                    (F.col("n_late").cast("double") / F.col("n"))
                    .alias("late_share"))
            .orderBy("order_month"))


ORACLE_FULFILLMENT_LATENCY = """
WITH j AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 100
         + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS order_month,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS ship_lag,
         l_orderkey, l_linenumber
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate IS NOT NULL AND l_shipdate IS NOT NULL),
ranked AS (
  SELECT order_month, ship_lag,
         ROW_NUMBER() OVER (PARTITION BY order_month
             ORDER BY ship_lag, l_orderkey, l_linenumber) AS rk,
         COUNT(*) OVER (PARTITION BY order_month) AS n
  FROM j)
SELECT CAST(order_month AS BIGINT) AS order_month,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       MIN(CASE WHEN rk >= CEIL(0.50 * n) THEN ship_lag END)
         AS p50_ship_lag,
       MIN(CASE WHEN rk >= CEIL(0.95 * n) THEN ship_lag END)
         AS p95_ship_lag,
       CAST(SUM(ship_lag) AS DOUBLE) / COUNT(*) AS mean_ship_lag,
       CAST(SUM(CASE WHEN ship_lag > 90 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS late_share
FROM ranked GROUP BY order_month ORDER BY order_month
"""


def orders_mom_contribution(spark: SparkSession, sf_dir: str,
                            top_n: int = 3) -> DataFrame:
    """Month-over-month revenue-change DECOMPOSITION: which customer
    nations drove each month's total revenue delta — the "why did the
    number move" contribution analysis behind every BI root-cause
    drill-down. For every consecutive calendar-month pair, each
    nation's Δrevenue and its share of the total Δ, top-|Δ| nations
    per month.

    Consecutive CALENDAR months, not consecutive observed months: the
    previous month is an equi-join on month_index − 1 over the
    (month × nation) revenue grid (missing cell ⇒ exact 0), never a
    lag over gaps. Revenues are decimal-protocol sums; deltas exact
    decimal subtracts; shares are one divide of exactly-derived
    doubles (the total Δ is the decimal sum of cell Δs). Ranking
    orders on exact decimals (|Δ| DESC, nation) — deterministic.
    Shape: one grouped agg to the months × nations grid, self-join on
    the tiny grid, month-PARTITIONed top-n window.
    """
    o = ld(spark, sf_dir, "orders")
    c = ld(spark, sf_dir, "customer")
    n = ld(spark, sf_dir, "nation")
    rev = (o.join(c, o["o_custkey"] == c["c_custkey"])
           .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
           .groupBy((F.year("o_orderdate") * 12
                     + (F.month("o_orderdate") - 1)).alias("mi"),
                    F.col("n_name").alias("nation"))
           .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
           .localCheckpoint())     # months×nations rows, three consumers
    prev = rev.select((F.col("mi") + 1).alias("mi"),
                      F.col("nation"),
                      F.col("rev").alias("rev_prev"))
    # full outer on the grid so appearing/disappearing nations count
    g = (rev.join(prev, ["mi", "nation"], "full_outer")
         .select("mi", "nation",
                 F.coalesce("rev", F.lit(0).cast(DEC)).alias("rev_curr"),
                 F.coalesce("rev_prev",
                            F.lit(0).cast(DEC)).alias("rev_prev")))
    # keep only months whose previous calendar month exists in the data
    months = rev.select("mi").distinct()
    g = (g.join(months.select((F.col("mi") + 1).alias("mi")).distinct(),
                "mi")
         .join(months, "mi"))
    g = g.withColumn("delta", F.col("rev_curr") - F.col("rev_prev"))
    tot = (g.groupBy("mi")
           .agg(F.sum("delta").alias("total_delta")))
    w = Window.partitionBy("mi").orderBy(
        F.abs(F.col("delta")).desc(), "nation")
    return (g.join(tot, "mi")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n)
            .select(
                (F.expr("mi div 12")).alias("year"),
                (F.col("mi") % 12 + 1).alias("month"),
                "nation",
                F.col("rev_prev").cast("double").alias("rev_prev"),
                F.col("rev_curr").cast("double").alias("rev_curr"),
                F.col("delta").cast("double").alias("delta"),
                # nation deltas can cancel to an exactly-zero month
                # total (integer cents) — share undefined → NULL, not
                # an ANSI divide error (all-true on fixture data)
                F.when(F.col("total_delta") != 0,
                       F.col("delta").cast("double")
                       / F.col("total_delta").cast("double"))
                .alias("share_of_total_delta"),
                "rank")
            .orderBy("year", "month", "rank"))


ORACLE_MOM_CONTRIBUTION = """
WITH rev AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
         + (EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS mi,
         n_name AS nation,
         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
g AS (
  SELECT COALESCE(a.mi, b.mi + 1) AS mi,
         COALESCE(a.nation, b.nation) AS nation,
         COALESCE(a.rev, 0) AS rev_curr,
         COALESCE(b.rev, 0) AS rev_prev
  FROM rev a FULL OUTER JOIN rev b
    ON a.mi = b.mi + 1 AND a.nation = b.nation),
g2 AS (
  SELECT g.* FROM g
  JOIN (SELECT DISTINCT mi + 1 AS mi FROM rev) p USING (mi)
  JOIN (SELECT DISTINCT mi FROM rev) c USING (mi)),
d AS (SELECT mi, nation, rev_curr, rev_prev,
             rev_curr - rev_prev AS delta FROM g2),
tot AS (SELECT mi, SUM(delta) AS total_delta FROM d GROUP BY mi),
ranked AS (
  SELECT d.*, t.total_delta,
         ROW_NUMBER() OVER (PARTITION BY d.mi
             ORDER BY ABS(d.delta) DESC, d.nation) AS rank
  FROM d JOIN tot t USING (mi))
SELECT CAST(mi // 12 AS BIGINT) AS year,
       CAST(mi % 12 + 1 AS BIGINT) AS month, nation,
       CAST(rev_prev AS DOUBLE) AS rev_prev,
       CAST(rev_curr AS DOUBLE) AS rev_curr,
       CAST(delta AS DOUBLE) AS delta,
       CAST(delta AS DOUBLE) / CAST(total_delta AS DOUBLE)
         AS share_of_total_delta,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY year, month, rank
"""


def agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median of order value with its DISTRIBUTION-FREE 95%
    confidence interval — the binomial rank bounds (order statistics at
    ranks ⌊(n − z√n)/2⌋ and 1 + ⌊(n + z√n)/2⌋, z = 1.959964): no
    normality assumption, valid for any continuous distribution, the
    interval a report should print beside every median. The three order
    statistics are ordinal equi-joins on :func:`~.scale.global_ranks`
    — never a single-partition sort.

    Portability: n is exact; √n is the single exactly-rounded sqrt; the
    z constant is a parsed double literal in both engines (BM25
    rationale); FLOOR of identically-derived doubles cannot straddle —
    the rank arithmetic lands on the same integers. The emitted values
    are untouched decimals.

    NULL-measure contract (r12, nullfact gate): a NULL amount has no
    order statistic — excluded before ranking on both sides (Spark
    ranks NULLS FIRST, DuckDB NULLS LAST, so leaving them in shifts
    every rank differently per engine).
    """
    from .scale import global_ranks

    o = (ld(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
         .filter(F.col("o_totalprice").isNotNull()))
    ranked, n = global_ranks(
        o, [F.asc("o_totalprice"), F.asc("o_orderkey")],
        num_partitions=8)
    z = 1.959964
    stats = ranked.agg(F.count(F.lit(1)).alias("n")).select(
        "n",
        F.ceil(F.col("n") / 2).alias("r_med"),
        F.floor((F.col("n").cast("double")
                 - F.lit(z) * F.sqrt(F.col("n").cast("double"))) / 2)
        .cast("long").alias("r_lo"),
        (F.lit(1) + F.floor((F.col("n").cast("double")
                             + F.lit(z) * F.sqrt(F.col("n")
                                                 .cast("double"))) / 2)
         .cast("long")).alias("r_hi"))
    j = ranked.crossJoin(F.broadcast(stats))
    return j.agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("global_rn") == F.col("r_lo"),
                     F.col("o_totalprice"))).alias("ci_lo"),
        F.max(F.when(F.col("global_rn") == F.col("r_med"),
                     F.col("o_totalprice"))).alias("median"),
        F.max(F.when(F.col("global_rn") == F.col("r_hi"),
                     F.col("o_totalprice"))).alias("ci_hi"))


ORACLE_MEDIAN_CI = """
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders WHERE o_totalprice IS NOT NULL),
stats AS (
  SELECT n, CAST(CEIL(n / 2.0) AS BIGINT) AS r_med,
         CAST(FLOOR((CAST(n AS DOUBLE)
              - 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)
           AS r_lo,
         1 + CAST(FLOOR((CAST(n AS DOUBLE)
              + 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)
           AS r_hi
  FROM ranked LIMIT 1)
SELECT MAX(r.n) AS n,
       MAX(CASE WHEN rn = s.r_lo THEN o_totalprice END) AS ci_lo,
       MAX(CASE WHEN rn = s.r_med THEN o_totalprice END) AS median,
       MAX(CASE WHEN rn = s.r_hi THEN o_totalprice END) AS ci_hi
FROM ranked r CROSS JOIN stats s
"""


def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust revenue trend: the Theil–Sen estimator (median of all
    pairwise slopes) over the MONTHLY revenue series, beside the OLS
    slope — the robust-statistics answer to "is revenue really growing,
    or is one crazy month dragging the line?" (Theil–Sen tolerates ~29%
    outliers; OLS tolerates none).

    Scale shape: the corpus collapses FIRST to the months-bounded
    series (one grouped agg); the O(M²) pairwise-slope frame is
    months²-bounded (≈3k pairs for 7 years), so the self-join and the
    rank-rule median run on a catalog-sized frame — document the bound,
    never pay it on raw rows. Portability: ALL money flows as scale-0
    integer cents (the revenue_gini_lorenz rule — sum(mi·rev) exceeds
    2⁵³ unscaled at sf0.1 and DuckDB's scaled-decimal→double cast
    double-rounds); each slope is one divide of exactly-cast values,
    the median is the rank rule on identically-derived doubles, and the
    OLS numerator/denominator are exact DECIMAL(38,0) differences cast
    once. Slopes are in dollars/month (the /100 rides the exact integer
    denominator).
    """
    from .relational import DEC

    o = ld(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC) * 100).cast("decimal(38,0)")
    monthly = (o.groupBy((F.year("o_orderdate") * 12
                          + (F.month("o_orderdate") - 1)).alias("mi"))
               .agg(F.sum(cents).alias("rc"))
               .localCheckpoint())      # months-bounded, three consumers
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = (a.join(b, F.col("a.mi") < F.col("b.mi"))
              .select(((F.col("b.rc") - F.col("a.rc")).cast("double")
                       / ((F.col("b.mi") - F.col("a.mi")) * 100)
                       .cast("double")).alias("slope"),
                      F.col("a.mi").alias("mi_a"),
                      F.col("b.mi").alias("mi_b")))
    w = Window.orderBy("slope", "mi_a", "mi_b")   # months²-bounded
    ranked = slopes.select(
        "slope", F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"))
    ts = ranked.agg(
        F.max("np").alias("n_pairs"),
        F.min(F.when(F.col("rk") >= F.ceil(F.col("np") / 2),
                     F.col("slope"))).alias("theilsen_slope"))
    d38 = "decimal(38,0)"
    ols = monthly.agg(
        F.count(F.lit(1)).alias("n_months"),
        ((F.count(F.lit(1)).cast(d38)
          * F.sum(F.col("mi").cast(d38) * F.col("rc"))
          - F.sum(F.col("mi")).cast(d38) * F.sum("rc")).cast("double")
         / ((F.count(F.lit(1)) * F.sum(F.col("mi") * F.col("mi"))
             - F.sum("mi") * F.sum("mi")) * 100).cast("double"))
        .alias("ols_slope"))
    return (ols.crossJoin(F.broadcast(ts))
            .select("n_months", "n_pairs", "theilsen_slope", "ols_slope",
                    (F.col("theilsen_slope") - F.col("ols_slope"))
                    .alias("slope_gap")))


ORACLE_THEILSEN = """
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
         + (EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS mi,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                  AS DECIMAL(38,0))) AS rc
  FROM orders GROUP BY 1),
slopes AS (
  SELECT CAST(b.rc - a.rc AS DOUBLE)
           / CAST((b.mi - a.mi) * 100 AS DOUBLE) AS slope,
         a.mi AS mi_a, b.mi AS mi_b
  FROM monthly a JOIN monthly b ON a.mi < b.mi),
ranked AS (
  SELECT slope,
         ROW_NUMBER() OVER (ORDER BY slope, mi_a, mi_b) AS rk,
         COUNT(*) OVER () AS np
  FROM slopes),
ts AS (
  SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
         MIN(CASE WHEN rk >= CEIL(np / 2.0) THEN slope END)
           AS theilsen_slope
  FROM ranked),
ols AS (
  SELECT COUNT(*) AS n_months,
         CAST(CAST(COUNT(*) AS HUGEINT)
              * CAST(SUM(CAST(mi AS HUGEINT) * rc) AS HUGEINT)
              - CAST(SUM(mi) AS HUGEINT) * CAST(SUM(rc) AS HUGEINT)
              AS DOUBLE)
         / CAST((COUNT(*) * SUM(mi * mi) - SUM(mi) * SUM(mi)) * 100
                AS DOUBLE) AS ols_slope
  FROM monthly)
SELECT n_months, n_pairs, theilsen_slope, ols_slope,
       theilsen_slope - ols_slope AS slope_gap
FROM ols CROSS JOIN ts
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per acquisition cohort: customers
    grouped by their FIRST-order month, each cohort's revenue laid out
    by months-since-acquisition, cumulated, and divided by the cohort's
    size — the LTV curve that prices acquisition spend (what is a
    month-0 customer worth by month 12?) and the money twin of the
    retention triangle.

    Portability: cohorts/offsets are exact integer month indexes;
    revenue is decimal-protocol; the cumulative sum per cohort is a
    cohort-PARTITIONed window (cohort count grows with history — keys
    scale out; frame is months-per-cohort, bounded by retention);
    LTV-per-customer is ONE divide per emitted row. Shape: one
    first-order agg (customer-keyed), one join back, one (cohort,
    offset) rollup, the bounded window.

    NULL-date contract (r12, nullfact gate): an undated order joins no
    cohort and no months-since bucket (its NULL offset would cumulate
    NULLS-FIRST in Spark and NULLS-LAST in DuckDB) — excluded on both
    sides; a NULL amount still counts toward activity, just adds no
    revenue (SUM semantics, identical in both engines).
    """
    from .relational import DEC

    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()).select(
        "o_custkey", "o_totalprice",
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .alias("mi"))
    first = (o.groupBy("o_custkey")
             .agg(F.min("mi").alias("cohort_mi")))
    j = o.join(first, "o_custkey")
    grid = (j.groupBy("cohort_mi",
                      (F.col("mi") - F.col("cohort_mi"))
                      .alias("months_since"))
            .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"),
                 F.countDistinct("o_custkey").alias("n_active")))
    size = (first.groupBy("cohort_mi")
            .agg(F.count(F.lit(1)).alias("cohort_size")))
    wcum = (Window.partitionBy("cohort_mi").orderBy("months_since")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(size, "cohort_mi")
            .withColumn("cum_rev", F.sum("rev").over(wcum))
            .select(
                F.expr("cohort_mi div 12").alias("cohort_year"),
                (F.col("cohort_mi") % 12 + 1).alias("cohort_month"),
                "months_since", "n_active", "cohort_size",
                F.col("rev").cast("double").alias("period_revenue"),
                (F.col("cum_rev").cast("double")
                 / F.col("cohort_size")).alias("ltv_per_customer"))
            .orderBy("cohort_year", "cohort_month", "months_since"))


ORACLE_COHORT_LTV = """
WITH o AS (
  SELECT o_custkey, o_totalprice,
         EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
         + (EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS mi
  FROM orders WHERE o_orderdate IS NOT NULL),
first AS (
  SELECT o_custkey, MIN(mi) AS cohort_mi FROM o GROUP BY o_custkey),
grid AS (
  SELECT f.cohort_mi, o.mi - f.cohort_mi AS months_since,
         SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS rev,
         COUNT(DISTINCT o.o_custkey) AS n_active
  FROM o JOIN first f USING (o_custkey)
  GROUP BY 1, 2),
size_ AS (
  SELECT cohort_mi, COUNT(*) AS cohort_size FROM first
  GROUP BY cohort_mi)
SELECT CAST(g.cohort_mi // 12 AS BIGINT) AS cohort_year,
       CAST(g.cohort_mi % 12 + 1 AS BIGINT) AS cohort_month,
       g.months_since, g.n_active, s.cohort_size,
       CAST(g.rev AS DOUBLE) AS period_revenue,
       CAST(SUM(g.rev) OVER (PARTITION BY g.cohort_mi
            ORDER BY g.months_since
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / s.cohort_size AS ltv_per_customer
FROM grid g JOIN size_ s USING (cohort_mi)
ORDER BY cohort_year, cohort_month, months_since
"""


# ---------------------------------------------------------------------------
# Nonparametric rank statistics (round 7): Mann-Whitney U, Spearman rho,
# Mann-Kendall trend — the hypothesis-testing trio the drift/trend entries
# (chi², Cramér's V, KS, Theil–Sen) were missing. All three keep every
# rank/count exact in scale-0 DECIMAL(38,0) (single correctly-rounded
# double cast at any magnitude) and assemble the final statistic as IEEE
# divides/sqrt in the identical order as the DuckDB oracle.
# ---------------------------------------------------------------------------

def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum): do 'purchase' and 'click'
    events draw their values from the same distribution? The
    distribution-free two-sample test you reach for before assuming
    normality — the same question events_value_zscore answers per row,
    asked once per experiment arm.

    Scale shape: the pooled global ranking rides
    :func:`~.scale.global_ranks` (range shuffle + driver-side
    32-row offset combine — never a single-partition window); the
    tie-averaging rollup is distinct-values-sized. Doubled tie-averaged
    ranks (2·min_rank + t − 1) keep every rank sum an exact
    DECIMAL(38,0) integer; every decimal factor is ≤ n³, 38-digit-safe
    to n ~ 1e12 pooled rows. The normal approximation uses the
    tie-corrected variance n1·n2/12 · ((n+1) − Σ(t³−t)/(n(n−1)))."""
    from .relational import load_events
    from .scale import global_ranks

    # explicit null guard (fixture values are non-null, but the rank
    # order of NULLs is the one place the engines' defaults diverge:
    # Spark ASC sorts them first, DuckDB's window ORDER BY puts them
    # last — a rank test has no sensible NULL semantics anyway)
    e = (load_events(spark, sf_dir)
         .filter(F.col("event_type").isin("purchase", "click")
                 & F.col("value").isNotNull())
         .select("event_type", "event_id", "value"))
    return mann_whitney_from(e, group_col="event_type",
                             one_group="purchase", value_col="value",
                             tie_break="event_id",
                             out_names=("u_purchase", "u_click"))


def mann_whitney_from(pooled: DataFrame, group_col: str, one_group: str,
                      value_col: str, tie_break: str,
                      out_names: tuple = ("u1", "u2"),
                      num_partitions: int | None = None) -> DataFrame:
    """The Mann-Whitney core on an arbitrary two-group frame — split out
    so property tests can drive it with randomized tie-heavy samples
    (same contract as the registry entry: DOUBLED tie-averaged ranks
    exact in DECIMAL(38,0), tie-corrected z as ordered IEEE steps)."""
    from .scale import global_ranks

    ranked, _n = global_ranks(
        pooled, [F.asc(value_col), F.asc(tie_break)],
        num_partitions=num_partitions)
    d38 = "decimal(38,0)"
    vt = (ranked.groupBy(value_col)
          .agg(F.min("global_rn").alias("rmin"),
               F.count(F.lit(1)).alias("t"),
               F.sum((F.col(group_col) == one_group).cast("long"))
               .alias("t1")))
    g = vt.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("long").alias("n2"),
        # Σ over group-1 rows of the DOUBLED tie-averaged rank
        F.sum(F.col("t1").cast(d38)
              * (F.lit(2).cast(d38) * F.col("rmin").cast(d38)
                 + F.col("t").cast(d38) - F.lit(1).cast(d38)))
        .alias("r1d"),
        F.sum(F.col("t").cast(d38) * F.col("t").cast(d38)
              * F.col("t").cast(d38) - F.col("t").cast(d38))
        .alias("ties"))
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    two = F.lit(2).cast("double")
    u1_num = F.col("r1d") - n1.cast(d38) * (n1 + 1).cast(d38)  # = 2·U1
    m = u1_num - n1.cast(d38) * n2.cast(d38)          # = 2·(U1 − μ)
    prod12 = n1.cast(d38) * n2.cast(d38)
    var_a = prod12.cast("double") / F.lit(12).cast("double")
    # degenerate-input guards (ANSI mode turns a zero denominator into
    # a runtime error, and a filtered feed CAN legitimately be one
    # group, one row, or all-tied): z is NULL when the test is
    # undefined. On any two-group non-degenerate input the guards are
    # all-true, so the oracle's unguarded expression hash-matches.
    var_b = F.when(
        nn > 1,
        (nn + 1).cast("double")
        - F.col("ties").cast("double")
        / (nn.cast(d38) * (nn - 1).cast(d38)).cast("double"))
    u1 = u1_num.cast("double") / two
    z = F.when((n1 > 0) & (n2 > 0) & (var_b > 0),
               (m.cast("double") / two) / F.sqrt(var_a * var_b))
    return g.select(
        n1.alias("n1"), n2.alias("n2"),
        u1.alias(out_names[0]),
        (prod12.cast("double") - u1_num.cast("double") / two)
        .alias(out_names[1]),
        z.alias("z_score"))


ORACLE_MANN_WHITNEY = """
WITH pooled AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
vt AS (
  SELECT value, MIN(rn) AS rmin, COUNT(*) AS t,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS t1
  FROM pooled GROUP BY value),
g AS (
  SELECT CAST(SUM(t1) AS BIGINT) AS n1,
         CAST(SUM(t - t1) AS BIGINT) AS n2,
         SUM(CAST(t1 AS HUGEINT)
             * (2 * CAST(rmin AS HUGEINT) + CAST(t AS HUGEINT) - 1))
           AS r1d,
         SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS ties
  FROM vt)
SELECT n1, n2,
       CAST(r1d - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
         / CAST(2 AS DOUBLE) AS u_purchase,
       CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
         - CAST(r1d - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
           / CAST(2 AS DOUBLE) AS u_click,
       (CAST(r1d - CAST(n1 AS HUGEINT) * (n1 + 1)
             - CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / CAST(2 AS DOUBLE))
       / SQRT((CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
               / CAST(12 AS DOUBLE))
              * (CAST(n1 + n2 + 1 AS DOUBLE)
                 - CAST(ties AS DOUBLE)
                   / CAST(CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1)
                          AS DOUBLE))) AS z_score
FROM g
"""


def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between a customer's account
    balance and their lifetime order spend — the monotone-association
    twin of :func:`agg_corr_regr`'s Pearson (robust to the heavy-tailed
    spend distribution; the zero-spend customers form a genuine large
    tie group, exercising tie-averaged ranks for real).

    Scale shape: census-derived ranks (:func:`spearman_rho_from`, r13)
    — no data-keyed window, no row-level rank pass. Doubled
    tie-averaged ranks (2·min_rank + t − 1) are exact integers ≤ 2n;
    sufficient-statistic sums run in scale-0 DECIMAL(38,0) (≤ 4n³ per
    group — 38-digit-safe to n ~ 1e11 customers per nation) and the
    final rho is the one-sqrt-of-a-product form agg_corr_regr pins
    (sqrt(a)·sqrt(b) diverges from sqrt(a·b) in the last ulp between
    engines)."""
    from .relational import DEC

    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    spend = (o.groupBy("o_custkey")
             .agg(F.sum((F.col("o_totalprice").cast(DEC) * 100)
                        .cast(d38)).alias("cents")))
    base = (c.select("c_custkey", "c_nationkey", "c_acctbal")
            .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
            .select("c_custkey", "c_nationkey", "c_acctbal",
                    F.coalesce(F.col("cents"), F.lit(0).cast(d38))
                    .alias("cents")))
    return (spearman_rho_from(base, part_col="c_nationkey",
                              x_col="c_acctbal", y_col="cents")
            .select(F.col("c_nationkey").alias("nationkey"),
                    F.col("n_rows").alias("n_customers"),
                    "spearman_rho")
            .orderBy("nationkey"))


def spearman_rho_from(df: DataFrame, part_col: str, x_col: str,
                      y_col: str,
                      num_partitions: int | None = None) -> DataFrame:
    """The per-group Spearman core on an arbitrary frame — split out so
    property tests can drive it with randomized tie-heavy samples
    (doubled tie-averaged ranks exact in DECIMAL(38,0), one-sqrt-of-a-
    product Pearson form). Returns (part_col, n_rows, spearman_rho).

    Scale shape (r13 census rewrite, guide §1.2 step 1): the doubled
    tie-averaged rank is a pure function of the per-(group, value)
    CENSUS — for a value v in group g with t occurrences and c rows
    strictly below it, the tie block occupies ranks c+1 … c+t, so
    2·min_rank + t − 1 = 2(c+1) + t − 1 = 2c + t + 1. No row ever needs
    an individual rank, so the two row-level
    :func:`~.scale.global_ranks` passes (range shuffle + pin + counts
    round-trip each, the second serialized on the first's output) are
    gone. Both value censuses ride ONE
    :func:`~.scale.global_prefix_window` pass: the x census (tagged 0)
    and y census (tagged 1) union into one frame ordered
    (tag, group, vx, vy) — the cross-tag carry-in the inclusive prefix
    adds to tag-1 rows is constant per group and cancels in the
    per-(tag, group) offset subtraction, so dx = 2·prefix − 2·offset −
    t + 1 is EXACTLY the old doubled rank (integer identity, pinned by
    the randomized-ties property test). The prefix scan's internal
    window partitions by ``__pid`` — the range-partition id, shuffle-
    width cardinality — never by a data key, the same sanctioned
    primitive the fulfillment-latency census rides (r12). Tie-averaged
    ranks are tie-order invariant by construction, so the census
    derivation takes no row-level tie-break column.

    Census rows join back on STRUCT-packed keys (r12, nullfact gate): a
    plain [part, value] equi-join silently drops a NULL group key,
    while struct equality compares NULL fields as equal — the same
    GROUP BY semantics the final rollup uses, so a NULL partition
    (e.g. corrupted c_nationkey) stays a real group end to end.

    NULL ``x_col``/``y_col`` rows are excluded UP FRONT (mirroring
    ``stat_mann_whitney_u``'s isNotNull guard): rho over pairs is only
    defined on complete observations, and filtering before ranking keeps
    ``n_rows`` honest — previously NULL rows were ranked (inflating other
    rows' ranks by a constant offset rho cancels) but silently dropped
    from the tie rollup, underreporting n (round-7 ADVICE)."""
    from .scale import global_prefix_window, pin

    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    d38 = "decimal(38,0)"
    # three consumers (x census, y census, the dx/dy attach) — pin once
    base = pin(df.select(part_col, x_col, y_col))
    xtype = base.schema[x_col].dataType
    ytype = base.schema[y_col].dataType
    # the union needs one row shape across both value types: each tag
    # keeps its own typed value column, NULL in the other — within a
    # tag the live column alone orders the census (the dead one is
    # constant NULL), so the (tag, group, vx, vy) order is total and
    # exact per value type with no lossy common-type cast
    cx = (base.groupBy(F.col(part_col).alias("__p"),
                       F.col(x_col).alias("__vx"))
          .agg(F.count(F.lit(1)).alias("__t"))
          .select(F.lit(0).alias("__g"), "__p", "__vx",
                  F.lit(None).cast(ytype).alias("__vy"), "__t"))
    cy = (base.groupBy(F.col(part_col).alias("__p"),
                       F.col(y_col).alias("__vy"))
          .agg(F.count(F.lit(1)).alias("__t"))
          .select(F.lit(1).alias("__g"), "__p",
                  F.lit(None).cast(xtype).alias("__vx"), "__vy", "__t"))
    # NB: the prefix column must not be spelled "__P" — Spark resolves
    # column names case-insensitively and withColumn would REPLACE __p
    pref = global_prefix_window(
        cx.unionByName(cy),
        [F.asc("__g"), F.asc("__p"), F.asc("__vx"), F.asc("__vy")],
        "__t", out_col="__cum", num_partitions=num_partitions)
    pref = pref.withColumn("__pk", F.struct("__p"))
    # per-(tag, group) carry-in: the prefix just before the group's
    # first census row — min over the group of (prefix − own count)
    off = (pref.groupBy("__g", "__pk")
           .agg(F.min(F.col("__cum") - F.col("__t")).alias("__off")))
    # no forced broadcast: off has one row per (tag, group), so AQE
    # broadcasts it when small and shuffles for a high-cardinality part_col
    dxy = (pref.join(off, ["__g", "__pk"])
           .withColumn("__d", 2 * F.col("__cum") - 2 * F.col("__off")
                       - F.col("__t") + 1))
    dxt = (dxy.filter(F.col("__g") == 0)
           .select(F.struct(F.col("__p"), F.col("__vx")).alias("__kx"),
                   F.col("__d").alias("dx")))
    dyt = (dxy.filter(F.col("__g") == 1)
           .select(F.struct(F.col("__p"), F.col("__vy")).alias("__ky"),
                   F.col("__d").alias("dy")))
    dd = (base
          .withColumn("__kx", F.struct(F.col(part_col).alias("__p"),
                                       F.col(x_col).alias("__vx")))
          .withColumn("__ky", F.struct(F.col(part_col).alias("__p"),
                                       F.col(y_col).alias("__vy")))
          .join(dxt, "__kx").join(dyt, "__ky")
          .select(part_col, "dx", "dy"))
    s = dd.groupBy(part_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("dx").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("dy").cast(d38)).cast("double").alias("sy"),
        F.sum(F.col("dx").cast(d38) * F.col("dy").cast(d38))
        .cast("double").alias("sxy"),
        F.sum(F.col("dx").cast(d38) * F.col("dx").cast(d38))
        .cast("double").alias("sxx"),
        F.sum(F.col("dy").cast(d38) * F.col("dy").cast(d38))
        .cast("double").alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # zero rank variance (a group where x or y is all one value) makes
    # rho undefined — NULL, not an ANSI divide error; guard all-true on
    # non-degenerate groups so the oracle hash-matches
    rho = F.when(
        (n * sxx - sx * sx) * (n * syy - sy * sy) > 0,
        (n * sxy - sx * sy)
        / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return s.select(part_col, n.cast("long").alias("n_rows"),
                    rho.alias("spearman_rho"))


ORACLE_SPEARMAN = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                  AS DECIMAL(38,0))) AS cents
  FROM orders GROUP BY o_custkey),
base AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         COALESCE(s.cents, 0) AS cents
  FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
  WHERE c_acctbal IS NOT NULL),
rk AS (
  SELECT c_nationkey, c_acctbal, cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal, c_custkey) AS rnx,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY cents, c_custkey) AS rny
  FROM base),
dd AS (
  SELECT c_nationkey,
         2 * MIN(rnx) OVER (PARTITION BY c_nationkey, c_acctbal)
           + COUNT(*) OVER (PARTITION BY c_nationkey, c_acctbal) - 1 AS dx,
         2 * MIN(rny) OVER (PARTITION BY c_nationkey, cents)
           + COUNT(*) OVER (PARTITION BY c_nationkey, cents) - 1 AS dy
  FROM rk),
s AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(dx AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(dy AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS DOUBLE)
           AS syy
  FROM dd GROUP BY c_nationkey)
SELECT c_nationkey AS nationkey,
       CAST(n AS BIGINT) AS n_customers,
       (n * sxy - sx * sy)
         / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS spearman_rho
FROM s ORDER BY nationkey
"""


def stat_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the monthly revenue series —
    the significance test for the direction :func:`orders_theilsen_trend`
    estimates (they share the pairwise-sign machinery; Kendall's S IS
    the sign census of the Theil–Sen slope set).

    Scale shape: the corpus collapses FIRST to the months-bounded
    series (identical integer-cents protocol as Theil–Sen), so the
    O(M²) sign self-join and the tie census are catalog-sized. S, the
    tie term Σt(t−1)(2t+5), and the variance numerator
    n(n−1)(2n+5) − ties are exact integers; var_s is one divide by 18
    and z applies the ±1 continuity correction — identical op order in
    the oracle."""
    from .relational import DEC

    o = ld(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC) * 100).cast("decimal(38,0)")
    monthly = (o.groupBy((F.year("o_orderdate") * 12
                          + (F.month("o_orderdate") - 1)).alias("mi"))
               .agg(F.sum(cents).alias("rc"))
               .localCheckpoint())   # months-bounded, three consumers
    a, b = monthly.alias("a"), monthly.alias("b")
    s_stat = (a.join(b, F.col("a.mi") < F.col("b.mi"))
              .agg(F.sum(F.signum((F.col("b.rc") - F.col("a.rc"))
                                  .cast("double")).cast("long"))
                   .alias("s")))
    ties = (monthly.groupBy("rc").agg(F.count(F.lit(1)).alias("t"))
            .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
                 .alias("tie_term")))
    nrow = monthly.agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    var_s = ((n * (n - 1) * (2 * n + 5) - F.col("tie_term"))
             .cast("double") / F.lit(18).cast("double"))
    s = F.col("s")
    z = (F.when(s > 0, (s - 1).cast("double") / F.sqrt(var_s))
         .when(s < 0, (s + 1).cast("double") / F.sqrt(var_s))
         .otherwise(F.lit(0.0)))
    return (nrow.crossJoin(F.broadcast(s_stat))
            .crossJoin(F.broadcast(ties))
            .select(n.cast("long").alias("n_months"),
                    s.alias("s_stat"),
                    var_s.alias("var_s"),
                    z.alias("z_score")))


ORACLE_MANN_KENDALL = """
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
         + (EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS mi,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                  AS DECIMAL(38,0))) AS rc
  FROM orders GROUP BY 1),
s_stat AS (
  SELECT CAST(SUM(CAST(SIGN(CAST(b.rc - a.rc AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS s
  FROM monthly a JOIN monthly b ON a.mi < b.mi),
ties AS (
  SELECT SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM monthly GROUP BY rc)),
nrow AS (SELECT COUNT(*) AS n FROM monthly)
SELECT CAST(n AS BIGINT) AS n_months, s AS s_stat,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
         / CAST(18 AS DOUBLE) AS var_s,
       CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                 / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                        / CAST(18 AS DOUBLE))
            WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                 / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                        / CAST(18 AS DOUBLE))
            ELSE 0.0 END AS z_score
FROM nrow CROSS JOIN s_stat CROSS JOIN ties
"""


def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between monthly revenue and monthly order volume —
    "do busy months earn proportionally?" asked rank-wise (tau counts
    pairwise order agreements; rho averages rank distances — reporting
    both is standard practice, and tau's pairwise census is EXACT
    integer arithmetic end to end).

    Scale shape: the corpus collapses FIRST to the months-bounded
    (mi, revenue_cents, n_orders) series — the Theil–Sen/Mann-Kendall
    contract — so the O(M²) concordance join is catalog-sized.
    Concordant/discordant/tie counts are exact longs; tau_b =
    (nc − nd) / sqrt((n0 − t_x)(n0 − t_y)) is one decimal product cast
    once to double, one sqrt, one divide — identical op order in the
    oracle."""
    from .relational import DEC

    o = ld(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(DEC) * 100).cast("decimal(38,0)")
    monthly = (o.groupBy((F.year("o_orderdate") * 12
                          + (F.month("o_orderdate") - 1)).alias("mi"))
               .agg(F.sum(cents).alias("rc"),
                    F.count(F.lit(1)).alias("nord"))
               .localCheckpoint())   # months-bounded, three consumers
    a, b = monthly.alias("a"), monthly.alias("b")
    sx = F.signum((F.col("b.rc") - F.col("a.rc")).cast("double"))
    sy = F.signum((F.col("b.nord") - F.col("a.nord")).cast("double"))
    pairs = (a.join(b, F.col("a.mi") < F.col("b.mi"))
             .agg(F.count(F.lit(1)).alias("n0"),
                  F.sum((sx * sy > 0).cast("long")).alias("nc"),
                  F.sum((sx * sy < 0).cast("long")).alias("nd")))
    tie_x = (monthly.groupBy("rc").agg(F.count(F.lit(1)).alias("t"))
             .agg((F.sum(F.col("t") * (F.col("t") - 1)) / F.lit(2))
                  .cast("long").alias("tx")))
    tie_y = (monthly.groupBy("nord").agg(F.count(F.lit(1)).alias("t"))
             .agg((F.sum(F.col("t") * (F.col("t") - 1)) / F.lit(2))
                  .cast("long").alias("ty")))
    d38 = "decimal(38,0)"
    n0, nc, nd = F.col("n0"), F.col("nc"), F.col("nd")
    # all-tied x or y (n0 == tx/ty) → tau undefined: NULL, not an ANSI
    # divide error; guard all-true on non-degenerate series
    tau_b = F.when(
        (n0 > F.col("tx")) & (n0 > F.col("ty")),
        (nc - nd).cast("double")
        / F.sqrt(((n0 - F.col("tx")).cast(d38)
                  * (n0 - F.col("ty")).cast(d38)).cast("double")))
    return (pairs.crossJoin(F.broadcast(tie_x))
            .crossJoin(F.broadcast(tie_y))
            .select(n0.alias("n_pairs"), nc.alias("n_concordant"),
                    nd.alias("n_discordant"),
                    F.col("tx").alias("ties_x"), F.col("ty").alias("ties_y"),
                    tau_b.alias("tau_b")))


ORACLE_KENDALL_TAU = """
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
         + (EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1) AS mi,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                  AS DECIMAL(38,0))) AS rc,
         COUNT(*) AS nord
  FROM orders GROUP BY 1),
pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN SIGN(CAST(b.rc - a.rc AS DOUBLE))
                            * SIGN(CAST(b.nord - a.nord AS DOUBLE)) > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN SIGN(CAST(b.rc - a.rc AS DOUBLE))
                            * SIGN(CAST(b.nord - a.nord AS DOUBLE)) < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS nd
  FROM monthly a JOIN monthly b ON a.mi < b.mi),
tie_x AS (
  SELECT CAST(SUM(t * (t - 1)) / 2 AS BIGINT) AS tx
  FROM (SELECT COUNT(*) AS t FROM monthly GROUP BY rc)),
tie_y AS (
  SELECT CAST(SUM(t * (t - 1)) / 2 AS BIGINT) AS ty
  FROM (SELECT COUNT(*) AS t FROM monthly GROUP BY nord))
SELECT n0 AS n_pairs, nc AS n_concordant, nd AS n_discordant,
       tx AS ties_x, ty AS ties_y,
       CAST(nc - nd AS DOUBLE)
         / SQRT(CAST(CAST(n0 - tx AS HUGEINT) * (n0 - ty) AS DOUBLE))
         AS tau_b
FROM pairs CROSS JOIN tie_x CROSS JOIN tie_y
"""

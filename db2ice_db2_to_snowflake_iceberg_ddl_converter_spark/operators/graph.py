"""Iterative graph analytics on DataFrames: PageRank over the
customer–supplier interaction graph.

Complements the min-label-propagation connected components in
operators/dedup.py as the second iterative-algorithm surface (the class
the correctness gate exempts from SQL oracles; tests verify against a
numpy power iteration instead).

Scale design: each iteration is ONE join (edges ⋈ ranks on src) + ONE
aggregation (sum of contributions per dst) — the standard Pregel-style
formulation. The rank vector is O(nodes) and re-partitioned consistently
with the edge src so iterations reuse the same hash partitioning;
``localCheckpoint`` per iteration truncates the lineage (without it the
plan doubles every round and the job dies of analysis time long before
memory — same lesson as dedup.connected_components). Dangling nodes
(no out-edges) redistribute their rank uniformly, keeping Σrank = 1 so
the result is a proper probability distribution.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .relational import ld
from .scale import pin, pin_counted, pin_lazy


def pagerank(edges: DataFrame, damping: float = 0.85,
             n_iters: int = 10) -> DataFrame:
    """PageRank over a directed edge list (columns ``src``, ``dst``).

    Returns (node, rank) with Σrank = 1. Deterministic up to float
    summation order (iterative double math → rows-only territory; the
    pytest checks against numpy with tolerance).
    """
    spark = edges.sparkSession
    # Pin the edge list ONCE: contribs re-joins it every power
    # iteration, and without the pin the caller's edge-building lineage
    # (e.g. the orders⋈lineitem distinct behind customer_supplier_edges)
    # re-executes per round — measured 27.6 s → ~8 s at sf0.1 for
    # graph_pagerank_top (r10, full-registry bench find). Same for
    # out_deg (nodes-sized), which both contribs and the dangling-mass
    # anti-join read per round.
    edges = pin_lazy(edges.select("src", "dst"))
    # incidence explode, not a two-branch union — one scan of the
    # pinned edge blocks per materialization (r13 guide §2.3); the
    # node-set checkpoint is taken LAZILY so the count action both
    # computes and checkpoints it — one job, not two (pin_counted's
    # fusion, inlined here because the empty-graph early-return needs
    # the frame even when n == 0)
    nodes = (edges.select(F.explode(F.array("src", "dst")).alias("node"))
             .distinct().localCheckpoint(eager=False))
    n = nodes.count()
    if n == 0:
        # PageRank of the empty graph is the empty distribution — a
        # legitimately reachable input (an empty thresholded census, an
        # empty partition's subgraph), not an error; 1/n below would
        # ZeroDivisionError (found by the round-9 empty-fixture probe)
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = pin_lazy(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))

    for _ in range(n_iters):
        # ONE pin per round, moved from ranks to contribs (r12 tail
        # profile): the round's expensive work — the edge-sized join +
        # map-side-combined agg — materializes here, and contribs' two
        # consumers (the dangling agg and the rank projection) read the
        # pinned blocks. The pin is LAZY (r13, scale.pin_lazy): the
        # SQL-plan truncation is identical, but the round's result
        # stage runs with its first consumer instead of a dedicated
        # blocking job per round (measured ~8-10 % on the 10-round
        # loop; AQE still materializes the round's shuffle stages at
        # planning time). The per-round lineage-truncation contract is
        # unchanged (r9 seam; r10 measured alternate-round pins 4 s
        # slower), and with a checkpoint dir configured pin_lazy is
        # the reliable eager pin.
        contribs = pin_lazy(
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib")))
        # dangling mass: rank held by nodes with no out-edges, spread
        # evenly. DERIVED from the contribution total instead of the
        # old per-round ranks×out_deg anti-join (r12 tail profile):
        # every src forwards exactly its whole rank (deg × rank/deg),
        # so Σcontrib = Σ rank over non-dangling nodes and dangling =
        # 1 − Σcontrib (total mass is exactly 1 by the update rule:
        # (1−d) + d·dangling + d·Σcontrib ≡ 1 — per-round mass
        # conservation becomes exact by construction instead of
        # drift-prone). The 1-row agg folds in as the same broadcast
        # cross join — no driver-side collect per iteration (the r02
        # verdict flagged exactly that).
        dangling = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("contrib"), F.lit(0.0)))
            .alias("dangling_mass"))
        # ranks stays LAZY: a narrow left join of two pinned frames
        # (nodes, contribs) plus a 1-row broadcast — its single
        # consumer is the next round's contribs build (or the caller),
        # and truncation at the pinned parents keeps the plan bounded.
        ranks = (nodes.join(contribs, "node", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit((1.0 - damping) / n)
                          + F.lit(damping) * F.col("dangling_mass") / n
                          + F.lit(damping)
                          * F.coalesce(F.col("contrib"), F.lit(0.0)))
                         .alias("rank")))
    # pin the final projection once: callers fan out over ranks (top-k,
    # totals, anti-join census) and would otherwise re-run the last
    # join per consumer (lazy: the first consumer materializes, the
    # rest read the cached blocks)
    return pin_lazy(ranks)


def customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed bipartite interaction graph from the order flow: customer →
    supplier for every distinct (customer, supplier) trade relationship,
    plus the reverse edge so rank circulates (pure one-way bipartite flow
    would strand all rank at suppliers). Customers and suppliers share an
    id space via disjoint offsets."""
    o = ld(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = ld(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # an edge with an unknown endpoint is no edge (r12, nullfact gate):
    # a NULL actor id would otherwise become a phantom graph node that
    # soaks up rank mass and breaks the node census
    pairs = (o.join(l, o["o_orderkey"] == l["l_orderkey"])
             .filter(F.col("o_custkey").isNotNull()
                     & F.col("l_suppkey").isNotNull())
             .select(F.col("o_custkey").alias("cust"),
                     F.col("l_suppkey").alias("supp"))
             .distinct())
    # suppliers offset into their own id range: node = 10^9 + suppkey
    fwd = pairs.select(F.col("cust").alias("src"),
                       (F.lit(1_000_000_000) + F.col("supp")).alias("dst"))
    rev = pairs.select((F.lit(1_000_000_000) + F.col("supp")).alias("src"),
                       F.col("cust").alias("dst"))
    return fwd.union(rev)


def graph_pagerank_top(spark: SparkSession, sf_dir: str,
                       k: int = 25) -> DataFrame:
    """Top-k nodes of the customer–supplier graph by PageRank (rows-only
    driver check: iterative float math; pytest verifies against a numpy
    power iteration). Rank is rounded for emission stability; ties break
    on node id."""
    ranks = pagerank(customer_supplier_edges(spark, sf_dir))
    return (ranks.select("node", F.round("rank", 9).alias("rank"))
            .orderBy(F.desc("rank"), "node").limit(k))


def graph_pagerank_top_checked(spark: SparkSession, sf_dir: str,
                               k: int = 25,
                               damping: float = 0.85) -> DataFrame:
    """Partial-oracle form of :func:`graph_pagerank_top` (round 9): the
    graph's exact node/edge counts ride the DuckDB hash gate (recomputable
    from the distinct customer–supplier trade pairs; the id spaces are
    disjoint by the 10^9 supplier offset, so n_nodes = distinct customers
    + distinct suppliers and n_edges = 2 × pairs), and the iterative float
    ranks collapse to three oracle-asserted invariant booleans:

    - ``mass_in_band``: |Σrank − 1| ≤ 1e−6 (PageRank conserves mass);
    - ``min_rank_ge_floor``: every rank ≥ (1−d)/n − 1e−12 (the structural
      teleport floor);
    - ``topk_dominates``: the k-th selected rank ≥ the max rank OUTSIDE
      the top-k (pins the orderBy+limit selection semantics end-to-end).

    The raw (node, rank) core stays as :func:`graph_pagerank_top` for the
    numpy power-iteration pytest. All probes are bounded: 1-row aggs and
    a broadcast anti-join against the k selected nodes."""
    from .scale import pin_lazy

    # pin the edge build here too: the census's n_edges count would
    # otherwise re-run the orders⋈lineitem distinct one more time
    # (pagerank pins its own copy for the iterations; re-pinning a
    # pinned scan is one cheap pass) — r10 full-registry bench find.
    # Lazy pins (r13): first consumer materializes, the rest read blocks
    edges = pin_lazy(customer_supplier_edges(spark, sf_dir))
    ranks = pagerank(edges, damping=damping)
    top = pin_lazy(ranks.orderBy(F.desc("rank"), "node")
                   .limit(k))            # ≤k rows; read by 2 consumers
    totals = ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank").alias("total_mass"),
        F.min("rank").alias("min_rank"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    top_stats = top.agg(F.count(F.lit(1)).alias("k_rows"),
                        F.min("rank").alias("kth_rank"))
    outside = (ranks.join(F.broadcast(top.select("node")),
                          "node", "left_anti")
               .agg(F.coalesce(F.max("rank"), F.lit(0.0))
                    .alias("outside_max")))
    empty = F.col("n_nodes") == 0
    # empty graph: the invariants hold vacuously — and the floor divide
    # by n_nodes must not run (ANSI ÷0 aborts the job)
    floor = (F.lit(1.0 - damping) / F.col("n_nodes").cast("double")
             - F.lit(1e-12))
    return (totals.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(top_stats))
            .crossJoin(F.broadcast(outside))
            .select(
                "n_nodes", "n_edges", "k_rows",
                F.when(empty, F.lit(True))
                .otherwise(F.abs(F.col("total_mass") - F.lit(1.0))
                           <= F.lit(1e-6)).alias("mass_in_band"),
                F.when(empty, F.lit(True))
                .otherwise(F.col("min_rank") >= floor)
                .alias("min_rank_ge_floor"),
                F.when(empty, F.lit(True))
                .otherwise(F.col("kth_rank") >= F.col("outside_max"))
                .alias("topk_dominates")))


ORACLE_PAGERANK_CHECKED = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
)
SELECT CAST((SELECT COUNT(DISTINCT cust) FROM pairs)
            + (SELECT COUNT(DISTINCT supp) FROM pairs) AS BIGINT)
         AS n_nodes,
       CAST(2 * (SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(LEAST(25, (SELECT COUNT(DISTINCT cust) FROM pairs)
                      + (SELECT COUNT(DISTINCT supp) FROM pairs))
            AS BIGINT) AS k_rows,
       TRUE AS mass_in_band,
       TRUE AS min_rank_ge_floor,
       TRUE AS topk_dominates
"""


def transitive_roots(parents: DataFrame, n_rounds: int = 6,
                     verify_converged: bool = True) -> DataFrame:
    """See module docstring; ``n_rounds`` doublings resolve depth ≤
    2**n_rounds. Callers that can bound the hierarchy depth from data
    they already know (graph_hierarchy_depths derives it from one max()
    scalar) should pass the tight round count — each saved round is one
    whole shuffle + checkpoint, the dominant cost on log-shaped frames
    (measured sf0.1: 6 → 4 rounds ≈ −0.5 s of pure scheduling).

    ``verify_converged`` (the r7 no-silent-cap rule, same class as the
    k-core / label-propagation fixes): one exit-time composition probe
    RAISES if any chain is still unresolved after ``n_rounds`` —
    returning partial depths on a deeper-than-declared hierarchy would
    be a silent wrong answer. Cost: one bounded join+count job total
    (not per round); pass False only when the caller has already
    derived the depth bound from the data."""
    out = _transitive_roots(parents, n_rounds)
    if verify_converged:
        step = parents.select(F.col("node").alias("j_node"),
                              F.col("parent").alias("j_parent"))
        # a resolved row's anc is a root (self-parent) or a phantom
        # (no row); an anc with a REAL different parent means the walk
        # stopped short
        unresolved = (out.join(step, out["root"] == step["j_node"])
                      .filter(F.col("j_parent") != F.col("j_node"))
                      .limit(1).count())
        if unresolved:
            raise RuntimeError(
                f"pointer doubling not at fixpoint after {n_rounds} "
                f"rounds (depth > {2 ** n_rounds}) — raise n_rounds; "
                "each extra round doubles the resolvable depth")
    return out


def _transitive_roots(parents: DataFrame, n_rounds: int) -> DataFrame:
    """Resolve every node of a forest to its root and depth by pointer
    doubling: ``parents`` has columns (node, parent) with roots encoded as
    self-parents. Returns (node, root, depth).

    Scale design: the naive walk is one join per LEVEL (O(depth)
    shuffles); pointer doubling composes the ancestor map with itself so
    iteration k reaches the 2^k-th ancestor — O(log depth) self-joins
    total. ``n_rounds=6`` resolves depth ≤ 2^6 = 64, far past any
    log-shaped hierarchy at 100 TB (a binary tree over 10^10 nodes is
    depth ~33). Root self-loops carry distance 0, so composition is
    absorbing and exact depths survive. Each round is ONE keyed shuffle;
    ``localCheckpoint`` truncates the doubling lineage (same lesson as
    pagerank / dedup.connected_components).

    A parent id with no row of its own (a forest rooted "outside" the
    node set — e.g. 1-based keys walking to a phantom 0) terminates the
    walk there: the composition join is LEFT, and a miss keeps the
    current (anc, d) as final. An inner join would silently DROP such
    nodes layer by layer and return an empty frame on a 1-based table.
    """
    # No checkpoint on the seed: round 1 reading the (pushed-down) scan
    # twice is cheaper than one more blocking materialization job.
    amap = parents.select(
        "node", F.col("parent").alias("anc"),
        F.when(F.col("parent") == F.col("node"), F.lit(0))
        .otherwise(F.lit(1)).alias("d"))
    for i in range(n_rounds):
        step = amap.select(F.col("node").alias("j_node"),
                           F.col("anc").alias("j_anc"),
                           F.col("d").alias("j_d"))
        amap = (amap.join(step, amap["anc"] == step["j_node"], "left")
                .select("node",
                        F.coalesce("j_anc", "anc").alias("anc"),
                        F.when(F.col("j_d").isNull(), F.col("d"))
                        .otherwise(F.col("d") + F.col("j_d")).alias("d")))
        # Checkpoint every OTHER round (and on exit): lineage growth is
        # geometric so it must be truncated, but each eager localCheckpoint
        # is a full blocking materialization job — two composition joins of
        # analyzed lineage are cheap, the extra job is not (measured sf0.1:
        # per-round → alternate ≈ −0.4 s of scheduling; at cluster scale
        # the saved job is a whole stage barrier).
        if i % 2 == 1 or i == n_rounds - 1:
            amap = pin(amap)   # reliable-pin seam (r9)
    return amap.select("node", F.col("anc").alias("root"),
                       F.col("d").alias("depth"))


def graph_hierarchy_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root/depth resolution over a reporting hierarchy synthesized from
    the customer table (parent(c) = c div 2, root 0 — a deterministic
    binary tree ~11 levels deep at sf0.01, ~log2(N) at any scale).

    Oracle-checkable: DuckDB's WITH RECURSIVE walks each node's ancestor
    chain; exact integer arithmetic on both sides. The Spark side runs
    pointer doubling (O(log depth) joins) — same answer, cluster-shaped
    plan; the oracle's O(depth)-step recursion is the single-node
    formulation.
    """
    c = ld(spark, sf_dir, "customer", fanout=False)
    # the hierarchy is a function of the key SET: one node per distinct
    # key (r12, nullfact gate — duplicate-PK snapshot rows would
    # otherwise fan the doubling join out geometrically per round,
    # while the oracle's per-seed recursion stays linear)
    parents = c.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") > 0,
               F.expr("c_custkey div 2")).otherwise(F.lit(0))
        .alias("parent")).distinct()
    # Tight doubling-round bound from data we can get in one scalar scan:
    # depth(k) = floor(log2 k) + 1 halvings to reach 0, so max depth =
    # floor(log2 max_key) + 1 and rounds = ceil(log2 depth). One bounded
    # min/max-style collect (allowed scalar) trades a ~0.05 s job for two
    # whole shuffle+checkpoint rounds at sf0.1 (r4 verdict item 3: 1.8 s
    # → ~1.2 s); at 10^10 nodes the same formula yields 6 rounds, the old
    # fixed constant — the bound GROWS correctly, it only stops
    # overpaying on shallow trees.
    max_key = parents.agg(F.max("node")).first()[0] or 1
    depth_bound = max(1, int(math.floor(math.log2(max(1, max_key)))) + 1)
    rounds = max(1, math.ceil(math.log2(depth_bound)))
    # verify_converged=False: the round count above is DERIVED from the
    # data's own max key, so the exit probe would re-prove a theorem —
    # skip its job (the probe is for callers with assumed bounds)
    roots = transitive_roots(parents, n_rounds=rounds,
                             verify_converged=False)
    return (roots.select(F.col("node").alias("c_custkey"), "root", "depth")
            .orderBy("c_custkey"))


ORACLE_HIERARCHY_DEPTHS = """
WITH RECURSIVE walk AS (
  SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth
  FROM (SELECT DISTINCT c_custkey FROM customer)
  UNION ALL
  SELECT node, anc // 2, depth + 1 FROM walk WHERE anc > 0
)
SELECT node AS c_custkey, anc AS root, depth
FROM walk WHERE anc = 0
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# Triangle census on the supplier co-part graph (round 6)
# ---------------------------------------------------------------------------

def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the supplier co-sourcing graph: an edge
    links two suppliers whose shared distinct-part count is at least
    1.1× the all-pairs average (the relative threshold self-scales with
    data volume — an absolute cutoff would go dense or empty at a
    different SF). Emits one row: edges, wedges (open two-paths),
    triangles, and the global clustering coefficient 3·tri/wedges.

    Scale shape: the pair census never materializes supplier×supplier —
    it joins the distinct (part, supplier) projection with itself ON
    part (bounded fan-out: suppliers per part), then aggregates. The
    triangle count runs compact-forward on the THRESHOLDED edge list:
    edges are re-oriented low-degree → high-degree endpoint (ties by
    id), out-neighbor lists are collected per source — bounded O(√m)
    after degree orientation, so hub nodes cannot own O(deg²) wedge
    pairs or oversized arrays — and each oriented edge (u,v) contributes
    |N⁺(u) ∩ N⁺(v)| via ``array_intersect`` (JVM-side, no wedge frame is
    ever shuffled; each triangle has exactly one lowest-order apex so it
    is counted once). Same count as the naive s1<s2 wedge join — the r6
    rewrite re-measured 13 s → ~6 s at sf0.1 and removes the dense-graph
    wedge blowup (47M wedge rows here) entirely. The clustering
    coefficient is an integer-over-integer IEEE divide (bitwise-portable
    vs the oracle, which keeps the naive formulation).
    """
    # One checkpoint pin: the pair census feeds the triangle phase, the
    # degree census, and the edge count — without it the self-join census
    # re-executes once per consumer (the pre-r6 8 s, not 6 s, bench row).
    edges = supplier_coproduct_edges(spark, sf_dir).localCheckpoint()
    # Degree census from ONE incidence explode instead of a two-branch
    # union (one scan of the pinned edge blocks feeding the same
    # aggregation, half the map stages); persisted DISK_ONLY because TWO
    # consumers read it — the orientation joins below and the wedge
    # count — the minhash treatment (r13, guide §2.4: both probe sides
    # read one materialization; lazy persist, no extra blocking job,
    # concurrent consumers coordinate through BlockManager block locks).
    # Neither ``deg`` nor ``adj`` below is unpersisted: the returned frame
    # is lazy and reads both. Like the local checkpoint of ``edges``,
    # their DISK_ONLY blocks are freed by the ContextCleaner (reference
    # tracking is on by default) once these frames and every frame built
    # on them are garbage-collected.
    deg = (edges.select(F.explode(F.array("s1", "s2")).alias("s"))
           .groupBy("s").agg(F.count(F.lit(1)).alias("d"))
           .persist(StorageLevel.DISK_ONLY))
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    oriented = (edges.join(d1, "s1").join(d2, "s2")
                .select(F.when((F.col("d1") < F.col("d2"))
                               | ((F.col("d1") == F.col("d2"))
                                  & (F.col("s1") < F.col("s2"))),
                               F.struct(F.col("s1").alias("u"),
                                        F.col("s2").alias("v")))
                        .otherwise(F.struct(F.col("s2").alias("u"),
                                            F.col("s1").alias("v")))
                        .alias("e"))
                .select("e.u", "e.v"))
    # adj is persisted (DISK_ONLY), which also makes it the ONLY
    # consumer of ``oriented`` — the triangle probe below re-derives
    # each oriented edge (u, v) by EXPLODING the adjacency lists (the
    # multiset of exploded (u, v) rows IS the oriented edge list by
    # construction), so the edges⋈deg⋈deg orientation subtree runs once
    # instead of three times (r12 baseline plan: 44 Exchange / 16 SMJ,
    # the orientation joins duplicated under adj, au and the tri probe).
    # The r12 broadcast-gate experiment that pinned these frames with
    # EAGER localCheckpoints was refuted by measurement; the lazy
    # persist shape measured 1.44× on the entry (r13 interleaved A/B,
    # outputs asserted identical every rep).
    adj = (oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
           .persist(StorageLevel.DISK_ONLY))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    # left join: a sink node (no out-edges) has no adjacency row; AQE
    # broadcasts adj when it is small and falls back to a shuffle join on
    # huge graphs — no forced broadcast, arrays stay O(√m) regardless.
    # The exploding side carries its own out-list (``nbrs`` = the old
    # ``nu``, never NULL — every exploded u has an adjacency row by
    # construction, which is also why the old au left join could never
    # miss). coalesce to 0 on an EMPTY edge list (sum over zero rows is
    # NULL, but the triangle count of an empty graph is 0 — the oracle's
    # COUNT(*) formulation says 0, and sf0.001's thresholded census IS
    # empty; found by the round-9 three-scale sweep)
    tri = (adj.select("nbrs", F.explode("nbrs").alias("v"))
           .join(av, "v", "left")
           .select(F.size(F.array_intersect(
               F.col("nbrs"),
               F.coalesce("nv", F.array()))).alias("c"))
           .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                .alias("n_triangles")))
    wedges = deg.agg((F.sum(F.col("d") * (F.col("d") - 1)) / 2)
                     .cast("long").alias("n_wedges"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    # wedges can legitimately be 0 on a perfect-matching graph (every
    # degree 1) — under Spark's ANSI default a double x/0 ABORTS the
    # job, so the zero case must be NULL (r7 zero-denominator rule;
    # NULL-wedges empty graphs already divide to NULL in both engines)
    return (n_edges.join(F.broadcast(tri)).join(F.broadcast(wedges))
            .select("n_edges", "n_wedges", "n_triangles",
                    F.when(F.col("n_wedges") > 0,
                           F.col("n_triangles").cast("double") * 3
                           / F.col("n_wedges").cast("double"))
                    .alias("clustering_coeff")))


ORACLE_TRIANGLE_STATS = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
tot AS (SELECT SUM(shared) AS ts, COUNT(*) AS tp FROM pairs),
edges AS (
  SELECT s1, s2 FROM pairs, tot WHERE shared * tp * 10 >= ts * 11),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1 JOIN edges e2 ON e1.s2 = e2.s1
       JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
deg AS (
  SELECT s, COUNT(*) AS d
  FROM (SELECT s1 AS s FROM edges UNION ALL SELECT s2 FROM edges)
  GROUP BY s),
wedges AS (
  SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg)
SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
       w.n_wedges,
       t.n_triangles,
       CAST(t.n_triangles AS DOUBLE) * 3 / CAST(w.n_wedges AS DOUBLE)
         AS clustering_coeff
FROM tri t, wedges w
"""


def supplier_coproduct_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded supplier co-sourcing edge list (s1 < s2) shared by
    the triangle census and the k-core peel — see
    :func:`graph_triangle_stats` for the census/threshold rationale."""
    li = ld(spark, sf_dir, "lineitem", fanout=False)
    # One explicit repartition on p replaces three planner shuffles: the
    # dedup needs ClusteredDistribution(p, s) — satisfied partition-locally
    # by hash(p) — and the self-join needs clustering on p, which both
    # sides then already have (AQE may still pick broadcast when the
    # deduped side is small; at scale it degrades to a co-partitioned SMJ
    # with a reused exchange, still shuffle-free). Measured sf0.1: the
    # census count drops ~3.3 s → ~1.8 s warm.
    ps = (li.select(F.col("l_partkey").alias("p"),
                    F.col("l_suppkey").alias("s"))
          .repartition(F.col("p")).dropDuplicates(["p", "s"]))
    pairs = (ps.alias("a").join(ps.alias("b"), "p")
             .filter(F.col("a.s") < F.col("b.s"))
             .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
             .agg(F.count(F.lit(1)).alias("shared")))
    tot = pairs.agg(F.sum("shared").alias("ts"),
                    F.count(F.lit(1)).alias("tp"))
    return (pairs.join(F.broadcast(tot))
            .filter(F.col("shared") * F.col("tp") * 10
                    >= F.col("ts") * 11)
            .select("s1", "s2"))


def graph_kcore(spark: SparkSession, sf_dir: str, k: int = 3,
                max_rounds: int | None = 1000,
                edges: DataFrame | None = None) -> DataFrame:
    """k-core of the supplier co-sourcing graph: the maximal subgraph in
    which every node keeps degree ≥ k — the standard peel for isolating
    the densely-interconnected supplier cluster (and, on document/user
    graphs, for community seeding and spam-ring detection).

    Iterative peeling, each round ONE degree aggregation + ONE semi-join
    restriction — O(peel-depth) shuffles, no all-pairs work beyond the
    shared thresholded edge census. The surviving edge frame is
    pinned per round via the reliable seam (deliberate, the iterative-loop
    contract from :func:`pagerank`/:func:`transitive_roots`: the loop
    re-references its own output, so without truncation the analyzed
    plan doubles each round); the frame is edge-census-sized, not
    corpus-sized. The fixpoint-exit count rides the pin's own
    materialization job (:func:`~.scale.pin_counted`, r13) — one
    blocking job per round, not pin + count.

    Output: surviving (node, core_degree), integers, rows-only (the
    fixpoint loop has no SQL twin; pytest replays the peel in pure
    python and pins the degree-≥-k invariant).
    """
    # ``edges``: pass a PINNED (checkpointed/persisted) (s1, s2) frame to
    # reuse an already-materialized census (graph_kcore_checked shares
    # one census between the peel and its anchor aggregations — the
    # census is the entry's single most expensive stage, ~1.5 s at
    # sf0.1); default builds and pins its own.
    if edges is None:
        edges = (supplier_coproduct_edges(spark, sf_dir)
                 .select("s1", "s2").localCheckpoint())
    n_prev = edges.count()
    # peel to FIXPOINT, not a round budget: each non-final round strictly
    # shrinks the edge set, so the loop terminates in at most |E| rounds
    # and the result is a true k-core (a capped loop could exit with
    # sub-k-degree survivors on deep peels). ``max_rounds`` is a
    # guardrail that RAISES instead of silently returning; the default
    # (1000, r7 ADVICE) bounds a pathological deep peel's run time while
    # sitting far above any realistic peel depth; None removes the rail.
    rounds = 0
    while True:
        # incidence explode, not a two-branch union: one scan of the
        # round's pinned blocks per degree census (r13, guide §2.3)
        deg = (edges.select(F.explode(F.array("s1", "s2")).alias("s"))
               .groupBy("s").agg(F.count(F.lit(1)).alias("d")))
        keep = deg.filter(F.col("d") >= k).select("s")
        # pin_counted folds the round's fixpoint count into the pin's
        # materialization job (one job per round, was pin + count = two;
        # reliable-pin seam semantics unchanged — r13, guide §1.2)
        edges, n = pin_counted(
            edges
            .join(keep.withColumnRenamed("s", "s1"), "s1", "semi")
            .join(keep.withColumnRenamed("s", "s2"), "s2", "semi")
            .select("s1", "s2"))
        if n == n_prev:
            break
        n_prev = n
        rounds += 1
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(
                f"k-core peel not at fixpoint after {max_rounds} rounds")
    deg = (edges.select(F.explode(F.array("s1", "s2")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("core_degree")))
    return deg.orderBy("node")


def graph_kcore_checked(spark: SparkSession, sf_dir: str, k: int = 3,
                        max_rounds: int | None = 1000) -> DataFrame:
    """Partial-oracle form of :func:`graph_kcore` (round 9): the
    thresholded co-sourcing census's exact node/edge counts ride the
    DuckDB hash gate (same census SQL as the triangle oracle), and the
    peel's fixpoint collapses to three oracle-asserted invariants:
    ``all_degrees_ge_k`` (the defining k-core property — every survivor
    keeps degree ≥ k inside the surviving subgraph), ``handshake_even``
    (Σ core_degree = 2·|core edges| must be even), and
    ``core_within_census`` (survivors ⊆ census nodes). The (node,
    core_degree) core stays as :func:`graph_kcore` for the pure-Python
    peel-replay pytest."""
    from .scale import pin
    edges = pin(supplier_coproduct_edges(spark, sf_dir)
                .select("s1", "s2"))        # shared: peel + anchors
    core = graph_kcore(spark, sf_dir, k=k, max_rounds=max_rounds,
                       edges=edges)
    nodes_census = (edges.select(F.explode(F.array("s1", "s2"))
                                 .alias("s"))
                    .distinct()
                    .agg(F.count(F.lit(1)).alias("n_nodes_census")))
    edges_census = edges.agg(F.count(F.lit(1)).alias("n_edges_census"))
    core_stats = core.agg(
        F.count(F.lit(1)).alias("n_core_nodes"),
        F.coalesce(F.min("core_degree"), F.lit(k)).alias("min_deg"),
        F.coalesce(F.sum("core_degree"), F.lit(0)).alias("deg_sum"))
    return (nodes_census.crossJoin(F.broadcast(edges_census))
            .crossJoin(F.broadcast(core_stats))
            .select(
                "n_nodes_census", "n_edges_census",
                (F.col("min_deg") >= k).alias("all_degrees_ge_k"),
                (F.pmod("deg_sum", F.lit(2)) == 0).alias("handshake_even"),
                (F.col("n_core_nodes") <= F.col("n_nodes_census"))
                .alias("core_within_census")))


ORACLE_KCORE_CHECKED = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
tot AS (SELECT SUM(shared) AS ts, COUNT(*) AS tp FROM pairs),
edges AS (
  SELECT s1, s2 FROM pairs, tot WHERE shared * tp * 10 >= ts * 11)
SELECT CAST((SELECT COUNT(*) FROM
             (SELECT s1 AS s FROM edges UNION SELECT s2 FROM edges))
            AS BIGINT) AS n_nodes_census,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges_census,
       TRUE AS all_degrees_ge_k,
       TRUE AS handshake_even,
       TRUE AS core_within_census
"""


def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer hierarchy walk of :func:`graph_hierarchy_depths`
    expressed as a NATIVE Spark 4 recursive CTE (``WITH RECURSIVE``) —
    the engine runs the recursion itself, one join per LEVEL, plus an
    ancestor-chain id sum the accumulating recursion carries for free.

    This is the third formulation of the same semantics in the repo, and
    the trade-off is the point: native recursion is O(depth) iterations
    (right for shallow walks and by far the clearest code — the SQL is
    character-for-character the oracle's, modulo DuckDB spelling ``//``
    for DIV); pointer doubling (:func:`transitive_roots`) is O(log depth)
    shuffles (right when depth is large or unknown). Exact integer
    arithmetic throughout — hash-portable without any rounding protocol.
    """
    c = ld(spark, sf_dir, "customer", fanout=False)
    c.select("c_custkey").createOrReplaceTempView("sql_rec_cust_v")
    return spark.sql("""
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth,
                 CAST(c_custkey AS BIGINT) AS path_sum
          FROM sql_rec_cust_v
          UNION ALL
          SELECT node, anc DIV 2, depth + 1, path_sum + (anc DIV 2)
          FROM walk WHERE anc > 0)
        SELECT node AS c_custkey, anc AS root, depth, path_sum
        FROM walk WHERE anc = 0 ORDER BY c_custkey""")


ORACLE_SQL_RECURSIVE = """
WITH RECURSIVE walk AS (
  SELECT c_custkey AS node, c_custkey AS anc, 0 AS depth,
         CAST(c_custkey AS BIGINT) AS path_sum
  FROM customer
  UNION ALL
  SELECT node, anc // 2, depth + 1, path_sum + (anc // 2)
  FROM walk WHERE anc > 0)
SELECT node AS c_custkey, anc AS root, depth, path_sum
FROM walk WHERE anc = 0 ORDER BY c_custkey
"""


QUERIES = {"graph_pagerank_top": graph_pagerank_top,
           "graph_hierarchy_depths": graph_hierarchy_depths,
           "graph_triangle_stats": graph_triangle_stats,
           "graph_kcore": graph_kcore,
           "sql_recursive_hierarchy": sql_recursive_hierarchy}

ORACLES = {"graph_hierarchy_depths": ORACLE_HIERARCHY_DEPTHS,
           "graph_triangle_stats": ORACLE_TRIANGLE_STATS,
           "sql_recursive_hierarchy": ORACLE_SQL_RECURSIVE}


def graph_degree_distribution(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Degree distribution of the supplier co-sourcing graph plus the
    complementary cumulative tail P(deg ≥ k) — the census that tells you
    whether the graph is hub-dominated (heavy tail ⇒ salt the hub keys
    before any edge-keyed join/expansion) or flat, and the standard
    power-law readout. Rides the shared thresholded edge list
    (:func:`supplier_coproduct_edges`), consumed exactly once: the
    degree census reads it through one incidence explode (r13 — the
    old two-branch endpoint union made the frame multi-consumer and
    forced an eager pin of the lineitem self-join underneath).

    The tail cumsum runs over the distinct-degree census ordered by
    degree DESC via :func:`~.scale.global_prefix_window` — distinct
    degrees are few in practice but unbounded in principle, so no
    single-partition window on principle. Exact integers until the two
    share divides. Output: one row per distinct degree.
    """
    from .scale import global_prefix_window

    # No edge pin here any more (r13): the incidence EXPLODE below makes
    # the degree census the edge list's single consumer, so the
    # co-sourcing build runs exactly once lazily — the old two-branch
    # union was why the frame needed an eager localCheckpoint at all
    # (guide §2.3/§1.2: one scan, one fewer blocking materialization).
    edges = supplier_coproduct_edges(spark, sf_dir)
    deg = (edges.select(F.explode(F.array("s1", "s2")).alias("s"))
           .groupBy("s").agg(F.count(F.lit(1)).alias("degree")))
    census = (deg.groupBy("degree")
              .agg(F.count(F.lit(1)).alias("n_nodes"))
              .localCheckpoint())           # two consumers below, tiny
    tot = census.agg(F.sum("n_nodes").alias("n"),
                     F.sum(F.col("degree") * F.col("n_nodes"))
                     .alias("deg_sum"))
    tail = global_prefix_window(
        census, [F.desc("degree")], "n_nodes", how="sum",
        out_col="n_at_least")
    return (tail.crossJoin(F.broadcast(tot))
            .select("degree", "n_nodes", "n_at_least",
                    (F.col("n_at_least").cast("double") / F.col("n"))
                    .alias("tail_share"),
                    "n",
                    (F.col("deg_sum").cast("double") / F.col("n"))
                    .alias("mean_degree"))
            .orderBy("degree"))


ORACLE_DEGREE_DISTRIBUTION = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
tot AS (SELECT SUM(shared) AS ts, COUNT(*) AS tp FROM pairs),
edges AS (
  SELECT s1, s2 FROM pairs, tot WHERE shared * tp * 10 >= ts * 11),
deg AS (
  SELECT s, COUNT(*) AS degree
  FROM (SELECT s1 AS s FROM edges UNION ALL SELECT s2 FROM edges)
  GROUP BY s),
census AS (
  SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree),
n AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n,
             CAST(SUM(degree * n_nodes) AS BIGINT) AS deg_sum
      FROM census)
SELECT c.degree, c.n_nodes,
       CAST(SUM(c.n_nodes) OVER (ORDER BY c.degree DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_least,
       CAST(SUM(c.n_nodes) OVER (ORDER BY c.degree DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / n.n AS tail_share,
       n.n, CAST(n.deg_sum AS DOUBLE) / n.n AS mean_degree
FROM census c CROSS JOIN n
ORDER BY c.degree
"""

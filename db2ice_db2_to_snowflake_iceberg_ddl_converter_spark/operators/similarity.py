"""Similarity search over the ``embeddings`` table (array<float> column).

Every top-k search is one skeleton: candidate generation → one shared
exact re-rank → (for the approximate members) a recall gate.

1. **cosine_expr** — pure Catalyst dot-product/cosine (zip_with + aggregate
   fold). Deterministic (sequential fold) and bitwise-identical to DuckDB's
   list_cosine_similarity, so exact results are oracle-checkable.
2. **_exact_topk** — the one re-rank: cosine of each ``(query_id,
   neighbor_id)`` candidate, top k. With no candidate frame every vector
   is one: the brute force, ``ann_brute_force_topk``.
3. **Candidate generation**, all each ANN member owns: the sign-LSH band
   join (``ann_lsh_topk``), probed IVF cells (``ann_ivf_topk``), the PQ
   ADC shortlist (``ann_pq_topk``) and the ADC shortlist of the probed
   cells (``ann_ivf_pq_topk``); their query vectors come from one bounded
   collect, ``_query_vectors``. At 100 TB this stage keeps the cross
   product from materializing, and since every member re-ranks through
   the same stage, ``_ann_recall_gate``'s ``shared_scores_exact`` holds
   by construction.
"""
from __future__ import annotations

import hashlib

import pandas as pd  # module-top: pandas_udf type hints must resolve at def time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import ld, ld_vecs, ld_vecs_dir


def dot_expr(a: str | F.Column, b: str | F.Column) -> F.Column:
    """Sequential-left-fold dot product of two array<float> columns: a
    compact HOF plan with deterministic left-to-right accumulation (the
    same sequential order DuckDB uses)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: str | F.Column) -> F.Column:
    """L2 norm with the same sequential accumulation order as ``dot_expr``."""
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: str | F.Column, b: str | F.Column,
                na: F.Column | None = None,
                nb: F.Column | None = None) -> F.Column:
    """Cosine similarity of two array<float> columns, JVM-side.

    Left-fold accumulation keeps the float order deterministic — the same
    sequential order DuckDB uses, so cross-engine comparisons match bitwise.
    Pass precomputed ``na``/``nb`` norm columns on all-pairs workloads so
    each vector's norm is computed once (n rows) instead of per pair (n²).
    """
    if na is None:
        na = norm_expr(a)
    if nb is None:
        nb = norm_expr(b)
    # cosine is undefined against a zero vector (a failed/padded encoder
    # row in a real corpus): NULL, not an ANSI divide error — the guard
    # is all-true on any non-degenerate embedding table, so every
    # oracle hash-match is unchanged
    return F.when(na * nb > 0, dot_expr(a, b) / (na * nb))


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Fixed embedding width from one row (tiny driver-side peek).
    NULL vectors are skipped — ``size(NULL)`` is NULL and would turn the
    peek into an ``int(None)`` TypeError on a corrupted shard."""
    row = (df.filter(F.col(vec_col).isNotNull())
           .select(F.size(vec_col).alias("d")).first())
    return int(row["d"]) if row else None


def _exact_topk(e: DataFrame, k: int, n_queries: int,
                cands: DataFrame | None = None) -> DataFrame:
    """The family's one exact stage: the cosine of every ``(query_id,
    neighbor_id)`` pair in ``cands``, ranked by cosine descending then
    ``neighbor_id`` (stable across engines), top ``k`` per query. The
    queries are the vectors of ``e`` with ``vec_id < n_queries``.

    ``cands=None`` makes every other vector a candidate: the tiny query
    side broadcasts and the corpus streams through one scan. A member
    whose candidates are bounded by its parameters passes them hinted,
    ``F.broadcast(cands)``, so the corpus streams through a broadcast
    hash join instead of being shuffled by vec_id. Norms are hoisted to
    per-row columns (embedding_triplet_margin, r12): the same fold once
    per row instead of once per pair, bitwise unchanged."""
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        norm_expr("embedding").alias("qn"))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("ce"),
                 norm_expr("embedding").alias("cn"))
    if cands is None:
        pairs = F.broadcast(q).join(
            c, F.col("query_id") != F.col("neighbor_id"))
    else:
        pairs = cands.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (pairs.select("query_id", "neighbor_id",
                         cosine_expr("qe", "ce", na=F.col("qn"),
                                     nb=F.col("cn")).alias("cosine"))
            .withColumn("nn_rank", F.row_number().over(w))
            .filter(F.col("nn_rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "nn_rank"))


def _query_vectors(e: DataFrame, n_queries: int):
    """The family's one driver pull, bounded by ``n_queries``: ids and
    unit-normalized (n × dim) matrix of the vectors with ``vec_id <
    n_queries``. A query slice whose vectors all dropped at the scan
    (NULL, non-finite or zero-norm) gives a (0 × dim) matrix: the probe
    lists and ADC tables built from it are empty, so the member returns
    no rows, as the brute force does."""
    import numpy as np

    rows = (e.filter(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding").collect())
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, embedding_dim(e)))
    qn = np.array([r.embedding for r in rows], dtype=np.float64)
    return (np.array([r.vec_id for r in rows], dtype=np.int64),
            qn / np.linalg.norm(qn, axis=1, keepdims=True))


def ann_brute_force_topk(spark, sf_dir, k: int = 5, n_queries: int = 10):
    """Exact top-k neighbors for the first ``n_queries`` vectors: the
    exact stage with every vector a candidate."""
    return _exact_topk(ld_vecs_dir(spark, sf_dir), k, n_queries)


ORACLE_ANN_BRUTE = """
SELECT query_id, neighbor_id, cosine, nn_rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                            b.embedding::DOUBLE[]) DESC,
                                     b.vec_id) AS nn_rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
    AND a.embedding IS NOT NULL AND len(list_filter(a.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
    AND list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
    AND b.embedding IS NOT NULL AND len(list_filter(b.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
) WHERE nn_rank <= 5
"""


def _hyperplane(dim: int, j: int) -> list[int]:
    """Deterministic ±1 hyperplane #j (hash-derived, no RNG state)."""
    out = []
    for i in range(dim):
        digest = hashlib.sha256(f"hyperplane:{j}:{i}".encode()).digest()
        out.append(1 if digest[0] % 2 == 0 else -1)
    return out


def sign_lsh_signatures(df: DataFrame, vec_col: str = "embedding",
                        n_planes: int = 16, dim: int = 64) -> DataFrame:
    """Random-hyperplane (sign) LSH: bit j = sign(v · h_j).

    Hyperplanes are ±1-valued so the projection is an exact integer-weighted
    sum. One Arrow-batched pandas_udf computes all ``n_planes`` projections
    as a single (batch × dim)·(dim × planes) BLAS matmul, then bit-packs
    the signs (measured ~3× faster end-to-end on ``ann_lsh_topk`` at sf0.1
    than ``n_planes`` interpreted HOF folds per vector).
    """
    import numpy as np

    # (dim × planes) ±1 matrix; KB-scale, ships in the task closure
    H = np.array([_hyperplane(dim, j) for j in range(n_planes)],
                 dtype=np.float64).T
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def pack_sig(vecs: pd.Series) -> pd.Series:
        M = np.array(vecs.tolist(), dtype=np.float64)
        bits = (M @ H) > 0
        return pd.Series(bits @ weights)

    return df.withColumn("lsh_sig", pack_sig(F.col(vec_col)))


def ann_lsh_topk(spark, sf_dir, k: int = 5, n_queries: int = 10,
                 n_planes: int = 16, n_bands: int = 4):
    """ANN via sign-LSH banding: candidates share at least one signature
    band with the query; the exact stage re-ranks them.

    Approximate by construction (rows-only driver check; pytest measures
    recall against the brute-force baseline). At 100 TB the band join is
    the only shuffle and buckets bound the pair count.
    """
    bits_per_band = n_planes // n_bands
    mask = (1 << bits_per_band) - 1
    e = ld_vecs_dir(spark, sf_dir)
    bands = sign_lsh_signatures(e, n_planes=n_planes).select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.shiftright(F.col("lsh_sig"), b * bits_per_band)
                     .bitwiseAND(F.lit(mask)).alias("band_val"))
            for b in range(n_bands)
        ])).alias("b")
    ).select("vec_id", "b.band_idx", "b.band_val")
    q = (bands.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"), "band_idx", "band_val"))
    c = bands.select(F.col("vec_id").alias("neighbor_id"),
                     "band_idx", "band_val")
    # dedupe candidates on the id pair ONLY — the exact stage attaches
    # the embeddings once per surviving pair, not once per bucket hit
    cands = (q.join(c, ["band_idx", "band_val"])
             .filter(F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id").distinct())
    return _exact_topk(e, k, n_queries, cands)


def all_pairs_cosine_blocked(df: DataFrame, threshold: float,
                             num_blocks: int | None = None,
                             target_block_rows: int = 4096,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             emit_scores: bool = True) -> DataFrame:
    """All-pairs cosine ≥ threshold WITHOUT collecting vectors to the
    driver — the path for vector tables too big to broadcast (>10⁶ rows).

    Block nested-loop over hash blocks: each side is replicated
    ``num_blocks`` times tagged with a (block_a, block_b) pair key, then
    ``cogroup().applyInPandas`` computes one BLAS matmul per block pair.
    Replication factor B per side trades shuffle volume for O(n²/B²) work
    per task — pick B so a block fits executor memory (n/B vectors).
    When ``num_blocks`` is None it is derived (one metadata-cheap count)
    as the larger of a memory bound — ``ceil(n / target_block_rows)`` so a
    tile's vectors fit an executor — and a parallelism bound — the
    smallest B whose B(B+1)/2 block pairs cover ``defaultParallelism``,
    so the matmuls saturate the cluster even on small tables (measured at
    sf0.1: B=1 is 3.4× slower than B=8 on local[32]; past B≈8 task
    overhead flattens the curve).
    Upper-triangle pairs only (id1 < id2); scores are BLAS-reassociated,
    so use the exact sequential-fold verify on survivors when bitwise
    parity matters (as dedup_embedding_cosine does with its epsilon).

    ``emit_scores=False`` returns only (id1, id2). This is NOT just a
    slimmer schema: Spark 4.1's column pruning, when a downstream
    projection drops some of this cogroup's output columns, also prunes
    *input* data columns off the right-side child — the Python UDF's
    column use is invisible to Catalyst — and the UDF then crashes with
    KeyError (observed under ``.select("id1","id2")``). Callers that
    consume only the pair ids MUST use emit_scores=False so every output
    column stays referenced and the inputs survive optimization.
    """
    import math

    import numpy as np
    import pandas as pd

    B = num_blocks
    if B is None:
        mem_b = math.ceil(df.count() / target_block_rows)
        par = df.sparkSession.sparkContext.defaultParallelism
        par_b = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)
        B = max(1, mem_b, par_b)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).alias("vec"),
                     blk.alias("blk"))

    rng = F.explode(F.array(*[F.lit(i) for i in range(B)]))
    # left copy b_other sweeps the right side's blocks, and vice versa;
    # key (ba, bb) with ba <= bb halves the replicated volume
    left = (base.select("id", "vec", F.col("blk").alias("ba"),
                        rng.alias("bb"))
            .filter(F.col("ba") <= F.col("bb")))
    right = (base.select("id", "vec", rng.alias("ba"),
                         F.col("blk").alias("bb"))
             .filter(F.col("ba") <= F.col("bb")))

    out_cols = ["id1", "id2", "cosine"] if emit_scores else ["id1", "id2"]

    def block_pair(key, lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({c: [] for c in out_cols})
        missing = [c for c in ("id", "vec") if c not in lpdf or c not in rpdf]
        if missing:  # see docstring: Catalyst pruned the UDF's inputs
            raise RuntimeError(
                f"cogroup input columns pruned: {missing} — keep all output "
                "columns referenced downstream or call with emit_scores=False")
        ba, bb = key
        lids = lpdf["id"].to_numpy()
        rids = rpdf["id"].to_numpy()
        lm = np.array(lpdf["vec"].tolist(), dtype=np.float64)
        rm = np.array(rpdf["vec"].tolist(), dtype=np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        if ba == bb:
            # same block on both sides: upper triangle keeps each
            # unordered pair once and drops self-pairs
            keep = (sims >= threshold) & (lids[:, None] < rids[None, :])
            li, ri = np.nonzero(keep)
            id1, id2 = lids[li], rids[ri]
        else:
            # disjoint blocks: every (l, r) is a distinct unordered pair
            # seen exactly once across all keys — emit canonically
            li, ri = np.nonzero(sims >= threshold)
            a, b = lids[li], rids[ri]
            id1, id2 = np.minimum(a, b), np.maximum(a, b)
        data = {"id1": id1, "id2": id2}
        if emit_scores:
            data["cosine"] = sims[li, ri]
        return pd.DataFrame(data)

    schema = ("id1 long, id2 long, cosine double" if emit_scores
              else "id1 long, id2 long")
    return (left.groupBy("ba", "bb").cogroup(right.groupBy("ba", "bb"))
            .applyInPandas(block_pair, schema=schema))


def ivf_centroids(df: DataFrame, n_cells: int = 16, sample_n: int = 2048,
                  n_iters: int = 10, id_col: str = "vec_id",
                  vec_col: str = "embedding"):
    """Coarse quantizer for IVF: spherical k-means on a deterministic
    sample (lowest ``sample_n`` ids — the fixture ids are dense, and at
    100 TB this would be a TABLESAMPLE with a fixed seed).

    Fully deterministic: init = the first ``n_cells`` non-zero sample
    vectors (zero vectors have no direction and are not fitted), Lloyd
    iterations over L2-normalized vectors (assign by max dot,
    recenter by mean, renormalize; empty cells keep their centroid).
    Returns a unit-normalized (n_cells × dim) numpy array — KB-sized, meant
    to be broadcast.
    """
    import numpy as np

    # degenerate-input contract: NULL vectors (corrupted-shard rows) are
    # unfittable — drop them so an all-NULL feed hits the loud error below
    rows = (df.filter(F.col(vec_col).isNotNull())
            .select(id_col, vec_col).orderBy(id_col).limit(sample_n)
            .collect())
    if not rows:
        raise ValueError(
            "ivf_centroids: empty embedding table — a codebook cannot be "
            "fit on zero vectors (empty-input contract: fitters raise "
            "loudly; fix the upstream feed)")
    X = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]   # no NaN centroid
    if not len(X):
        raise ValueError("ivf_centroids: every sampled vector is zero — "
                         "a codebook needs at least one direction")
    C = X[:n_cells].copy()
    for _ in range(n_iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(n_cells):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                norm = np.linalg.norm(c)
                if norm > 0:
                    C[j] = c / norm
    return C


def ivf_assign(df: DataFrame, centroids, vec_col: str = "embedding",
               cell_col: str = "cell") -> DataFrame:
    """Tag every vector with its nearest coarse cell — one Arrow-batched
    matmul per batch (the 100 TB path: a single scan, no shuffle; the cell
    column then drives partitioned writes so each IVF cell is a contiguous
    file set)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = centroids  # closure capture; KB-scale, ships with the task

    @pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        M = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M /= np.where(norms > 0, norms, 1.0)   # zero vectors stay zero
        return pd.Series((M @ C.T).argmax(axis=1).astype("int32"))

    return df.withColumn(cell_col, nearest_cell(F.col(vec_col)))


def _ivf_probes(spark, qids, qn, C, nprobe: int) -> DataFrame:
    """(query_id, cell) for the ``nprobe`` cells nearest each query —
    n_queries × nprobe rows, computed on the driver and broadcast into
    the candidate join."""
    import numpy as np

    order = np.argsort(-(qn @ C.T), axis=1)[:, :nprobe]
    return spark.createDataFrame(
        [(int(q), int(c)) for q, cells in zip(qids, order) for c in cells],
        "query_id long, cell int")


def ann_ivf_topk(spark, sf_dir, k: int = 5, n_queries: int = 10,
                 n_cells: int = 16, nprobe: int = 4):
    """IVF ANN: coarse-quantize the corpus into ``n_cells`` inverted lists,
    probe the ``nprobe`` cells nearest each query, exact-cosine re-rank
    inside the probed cells only.

    The scale story vs sign-LSH: cells follow the data distribution (a
    k-means codebook) instead of fixed hyperplanes, so list sizes stay
    balanced under skew, and ``nprobe`` gives a smooth recall/cost dial.
    Work is O(n·nprobe/n_cells) exact scores per query instead of O(n).
    Approximate by construction → rows-only driver check; recall vs the
    brute-force baseline is pinned in tests/test_operators.py.
    """
    e = ld_vecs_dir(spark, sf_dir)
    C = ivf_centroids(e, n_cells=n_cells)
    probes = _ivf_probes(spark, *_query_vectors(e, n_queries), C, nprobe)
    cands = (ivf_assign(e, C).join(F.broadcast(probes), "cell")
             .filter(F.col("query_id") != F.col("vec_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id")))
    return _exact_topk(e, k, n_queries, cands)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

def pq_codebooks(e: DataFrame, m: int = 8, n_cents: int = 16,
                 sample_rows: int = 1024, iters: int = 8):
    """Train per-subvector k-means codebooks on a BOUNDED, deterministic
    sample (first ``sample_rows`` vec_ids — kilobytes on the driver, same
    contract as the IVF codebook). Vectors are L2-normalized first so the
    additive ADC score approximates cosine. Deterministic: ordered sample,
    first-k init, fixed iteration count — no RNG state anywhere.

    Returns a numpy array of shape (m, n_cents, dim // m).
    """
    import numpy as np

    rows = (e.filter(F.col("vec_id") < sample_rows)
            .filter(F.col("embedding").isNotNull())   # degenerate contract
            .select("vec_id", "embedding").collect())
    if not rows:
        raise ValueError(
            "pq_codebooks: empty embedding sample — a PQ codebook cannot "
            "be fit on zero vectors (empty-input contract: fitters raise "
            "loudly; fix the upstream feed)")
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    d = X.shape[1]
    sub = d // m
    books = np.empty((m, n_cents, sub))
    for b in range(m):
        Xb = X[:, b * sub:(b + 1) * sub]
        C = Xb[:n_cents].copy()                       # first-k init
        for _ in range(iters):
            d2 = ((Xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(n_cents):
                mask = assign == j
                if mask.any():
                    C[j] = Xb[mask].mean(axis=0)
        books[b] = C
    return books


def pq_assign_codes(e: DataFrame, books, keep: tuple = ()) -> DataFrame:
    """vec_id → m PQ codes via one Arrow pass (a single numpy distance
    computation per batch; the codebook broadcast is m·k·sub doubles —
    kilobytes). Output carries ONLY (vec_id, codes): at 100 TB this is
    the entire resident index — m bytes per vector instead of 4·dim.

    ``keep``: extra columns of ``e`` to ride through the projection (r12
    optimization round) — lets a caller that also computes a per-vector
    pandas-UDF column (e.g. the IVF cell) keep BOTH UDFs in one
    ArrowEvalPython pass over one scan instead of re-attaching by a
    corpus-wide vec_id join."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    spark = e.sparkSession
    bc = spark.sparkContext.broadcast(books)
    m, n_cents, sub = books.shape

    @pandas_udf("array<int>")
    def codes_udf(emb: pd.Series) -> pd.Series:
        B = bc.value
        X = np.array(emb.tolist(), dtype=np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for b in range(m):
            Xb = X[:, b * sub:(b + 1) * sub]
            d2 = ((Xb[:, None, :] - B[b][None, :, :]) ** 2).sum(axis=2)
            out[:, b] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return e.select("vec_id", *keep, codes_udf("embedding").alias("codes"))


def _pq_luts(qn, books):
    """ADC lookup tables of the unit query vectors ``qn``:
    ``LUT[q, b, j] = dot(q_b, books[b, j])`` — n_queries × m × n_cents
    doubles, kilobytes, broadcast to the scoring pass."""
    import numpy as np

    m, _, sub = books.shape
    return np.einsum("qbs,bjs->qbj", qn.reshape(len(qn), m, sub), books)


def _adc_shortlist(scored: DataFrame, shortlist_k: int) -> DataFrame:
    """The ``shortlist_k`` best ``approx_score`` neighbors per query of
    ``scored`` — shortlist_k × n_queries rows, bounded by PARAMETERS,
    not data."""
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_score"),
                                               "neighbor_id")
    return (scored.withColumn("adc_rank", F.row_number().over(w))
            .filter(F.col("adc_rank") <= shortlist_k)
            .select("query_id", "neighbor_id"))


def ann_pq_topk(spark, sf_dir, k: int = 5, n_queries: int = 10,
                m: int = 8, n_cents: int = 16,
                shortlist_k: int = 50) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC):
    each query precomputes a (m × n_cents) lookup table of subvector dot
    products against the codebooks; scoring a database vector is then m
    table lookups + adds over its codes — no float vector is touched at
    scan time. THIS is the 100 TB shape: the scan reads an m-byte code
    column (the 4·dim float column stays on disk), the LUTs broadcast at
    kilobytes, and the exact re-rank runs only on the top candidates
    upstream systems fetch separately.

    The ADC pass produces a ``shortlist_k`` candidate set per query;
    the exact stage (the only one that touches full-precision vectors)
    emits the final top-k — the standard two-stage PQ serving layout.
    Approximate by construction → rows-only driver check;
    tests/test_behavior.py pins recall vs the exact brute force.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    e = ld_vecs_dir(spark, sf_dir)
    books = pq_codebooks(e, m=m, n_cents=n_cents)
    qids, qn = _query_vectors(e, n_queries)
    bc = spark.sparkContext.broadcast(_pq_luts(qn, books))

    @pandas_udf("array<double>")
    def adc_scores(codes: pd.Series) -> pd.Series:
        L = bc.value
        C = np.array(codes.tolist(), dtype=np.int64)      # (rows, m)
        # scores[r, q] = Σ_b L[q, b, C[r, b]]
        scores = L[:, np.arange(C.shape[1])[None, :], C].sum(axis=2)
        return pd.Series(list(scores.T))

    scored = (pq_assign_codes(e, books)
              .select("vec_id", adc_scores("codes").alias("s"))
              .select(F.col("vec_id").alias("neighbor_id"),
                      F.posexplode("s").alias("q_idx", "approx_score")))
    qmap = spark.createDataFrame(
        [(i, int(q)) for i, q in enumerate(qids)], "q_idx int, query_id long")
    shortlist = _adc_shortlist(
        scored.join(F.broadcast(qmap), "q_idx")
        .filter(F.col("neighbor_id") != F.col("query_id")), shortlist_k)
    return _exact_topk(e, k, n_queries, F.broadcast(shortlist))


def pq_encode(spark, sf_dir, m: int = 8, n_cents: int = 16) -> DataFrame:
    """PQ-encode the embedding table into the index-build manifest: each
    vector's ``m`` nearest-centroid codes PACKED base-``n_cents`` into one
    BIGINT (subspace 0 most significant — the compact form a real PQ
    index persists, and a scalar the driver's canonicalizer can hash)
    plus the exact L2 reconstruction error of the quantized unit vector —
    the quality metric a recall-budgeted index build monitors.

    Reuses the EXISTING ``pq_codebooks`` (the same codebooks
    ``ann_pq_topk`` searches with, L2-normalized convention), so the
    manifest describes the real index, not a parallel one.

    Scale shape: codebooks are KB-sized and ship in the UDF closure;
    encoding is ONE Arrow-batched scan — per batch, ``m`` small
    (batch × n_cents) distance computations and an argmin — no shuffle
    anywhere; the output orderBy is presentation-only. Codes are
    data-dependent on float k-means → rows-only driver check; pytest
    pins packed codes and errors against a brute-force numpy encode.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    e = ld_vecs_dir(spark, sf_dir)
    B = pq_codebooks(e, m=m, n_cents=n_cents)
    sub = B.shape[2]

    @pandas_udf("struct<packed_code: long, recon_err: double>")
    def encode(vecs: pd.Series) -> pd.DataFrame:
        M = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M /= np.where(norms > 0, norms, 1.0)
        n = len(M)
        packed = np.zeros(n, dtype=np.int64)
        err = np.zeros(n)
        for s in range(m):
            Xs = M[:, s * sub:(s + 1) * sub]
            d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes = d2.argmin(axis=1)
            packed = packed * n_cents + codes
            err += d2[np.arange(n), codes]
        return pd.DataFrame({"packed_code": packed,
                             "recon_err": np.sqrt(err)})

    return (e.select("vec_id", encode(F.col("embedding")).alias("pq"))
            .select("vec_id", F.col("pq.packed_code").alias("packed_code"),
                    F.col("pq.recon_err").alias("recon_err"))
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# PCA projection — the dimensionality-reduction stage before ANN indexing
# ---------------------------------------------------------------------------

def pca_components(e: DataFrame, vec_col: str = "embedding", k: int = 4):
    """Top-k principal components of an embedding column, computed the way
    a 100 TB table forces: ONE Arrow pass emits per-partition sufficient
    statistics (n, Σx, XᵀX — each partition one row holding a d and d²
    vector, BLAS-accumulated), the driver combines the ≤ num_partitions
    partials and eigendecomposes the d×d covariance (d=64 here; driver
    work is O(d²·partitions + d³), corpus-size-independent — the same
    bounded-collect contract as ``ivf_centroids``/``pq_codebooks``).

    Sign convention: each component's largest-|loading| coordinate is
    made positive, so the basis is deterministic across runs (eigh sign
    is otherwise arbitrary). Returns (components (k,d) row-major,
    explained variance ratios (k,), mean (d,)).
    """
    import numpy as np

    def partials(batches):
        n, s, xtx = 0, None, None
        for pdf in batches:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if m.size:
                n += m.shape[0]
                s = m.sum(0) if s is None else s + m.sum(0)
                xtx = m.T @ m if xtx is None else xtx + m.T @ m
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "xtx": [xtx.ravel().tolist()]})

    rows = (e.filter(F.col(vec_col).isNotNull())     # degenerate contract
            .select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, xtx array<double>")
            .collect())               # bounded: ≤ one row per partition
    n = sum(r.n for r in rows)
    if n == 0:
        raise ValueError(
            "pca_components: empty embedding table — principal components "
            "cannot be fit on zero vectors (empty-input contract: fitters "
            "raise loudly; fix the upstream feed)")
    s = np.sum([np.array(r.s) for r in rows], axis=0)
    d = s.shape[0]
    xtx = np.sum([np.array(r.xtx).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    idx = np.argsort(evals)[::-1][:k]
    comps = evecs[:, idx].T.copy()
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    explained = evals[idx] / np.trace(cov)
    return comps, explained, mean


def embedding_pca_project(spark, sf_dir, k: int = 4) -> DataFrame:
    """Per-vector projection onto the corpus's top-k principal components
    — the whitening/reduction step an embedding pipeline runs before IVF
    or PQ indexing (most of this fixture's variance concentrates in a few
    directions, so 4 PCs carry the ANN-relevant geometry at 1/16 the
    width). Two passes total: the sufficient-statistics pass in
    ``pca_components`` and one broadcast-matmul Arrow pass for the
    projections; nothing corpus-sized ever reaches the driver.

    Iterative eigendecomposition + BLAS float math → rows-only driver
    check; the pytest pins projections, orthonormality, and explained
    ratios against a full-batch numpy PCA.
    """
    import numpy as np

    e = ld_vecs(spark, sf_dir)
    comps, _, mean = pca_components(e, k=k)
    bc = spark.sparkContext.broadcast((comps, mean))

    def project(batches):
        comp, mu = bc.value
        for pdf in batches:
            m = np.array(pdf["embedding"].tolist(),
                         dtype=np.float64) - mu
            proj = m @ comp.T
            out = {"vec_id": pdf["vec_id"].values}
            for i in range(comp.shape[0]):
                out[f"pc{i + 1}"] = proj[:, i]
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(
        f"pc{i + 1} double" for i in range(k))
    return (e.select("vec_id", "embedding")
            .mapInPandas(project, schema=schema)
            .orderBy("vec_id"))


def embedding_kmeans_clusters_checked(spark, sf_dir, k: int = 8,
                                      n_iters: int = 5) -> DataFrame:
    """Partial-oracle form of :func:`embedding_kmeans_clusters`
    (round 9): the corpus vector count rides the DuckDB hash gate via
    the census row, and the float Lloyd fit collapses to its structural
    invariants as oracle-asserted booleans — cluster sizes sum to n
    (no vector lost or double-assigned by the Arrow pass), at most k
    clusters, non-negative inertia, and the mean_d2 ≡ inertia/size
    emission identity (bitwise — same doubles). The exact
    centroids/assignments stay pinned by the numpy Lloyd-replay pytest
    on the raw core."""
    base = embedding_kmeans_clusters(spark, sf_dir, k=k, n_iters=n_iters)
    stats = base.agg(
        F.sum("size").alias("size_sum"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.min("inertia").alias("min_inertia"),
        F.max((F.col("mean_d2") != F.col("inertia") / F.col("size"))
              .cast("int")).alias("any_bad_ratio"))
    n = ld_vecs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_vectors"))
    return (n.crossJoin(F.broadcast(stats))
            .select("n_vectors",
                    (F.col("size_sum") == F.col("n_vectors"))
                    .alias("sizes_sum_to_n"),
                    (F.col("n_clusters") <= k).alias("k_bound"),
                    (F.col("min_inertia") >= 0).alias("inertia_nonneg"),
                    (F.col("any_bad_ratio") == 0).alias("ratio_identity")))


ORACLE_KMEANS_CHECKED = """
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0) AS n_vectors,
       TRUE AS sizes_sum_to_n, TRUE AS k_bound,
       TRUE AS inertia_nonneg, TRUE AS ratio_identity
"""


def ann_pq_encode_checked(spark, sf_dir, m: int = 8,
                          n_cents: int = 16) -> DataFrame:
    """Partial-oracle form of the PQ index manifest (round 9): the
    encoded vec_id set rides the DuckDB hash gate (one row per corpus
    vector — a dropped Arrow batch turns the row red), and the
    float-dependent code/error collapse to range invariants:
    packed_code ∈ [0, n_cents^m) and recon_err ∈ [0, 2 + ε] (unit
    vectors vs mean-of-unit-vector centroids: ‖x − c‖ ≤ ‖x‖ + ‖c‖ ≤ 2).
    Exact codes/errors stay pinned by the numpy brute-force encode
    pytest on the raw core."""
    base = pq_encode(spark, sf_dir, m=m, n_cents=n_cents)
    code_cap = float(n_cents) ** m
    return base.select(
        "vec_id",
        ((F.col("packed_code") >= 0)
         & (F.col("packed_code").cast("double") < code_cap))
        .alias("code_in_range"),
        ((F.col("recon_err") >= 0)
         & (F.col("recon_err") <= 2.0 + 1e-9)).alias("err_in_range")) \
        .orderBy("vec_id")


ORACLE_PQ_ENCODE_CHECKED = """
SELECT vec_id, TRUE AS code_in_range, TRUE AS err_in_range
FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0 ORDER BY vec_id
"""


def dedup_embedding_blocked_checked(spark, sf_dir,
                                    threshold: float = 0.4) -> DataFrame:
    """Partial-oracle form of the blocked all-pairs cosine dedup
    (round 9, the dedup_simhash_checked pattern over VECTORS): vectors
    with byte-identical embeddings have cosine exactly 1 ≥ threshold,
    so every identical-embedding pair (of non-zero vectors) MUST appear
    in the blocked pair set — the exact identical-pair count rides the
    DuckDB hash gate (lists are groupable keys in both engines), plus
    ``all_exact_pairs_found``, ``found_ge_exact`` and
    ``scores_in_range`` (threshold ≤ cosine ≤ 1 + ε) booleans. The
    pair-set ≡ two-phase-exact-path equality stays pinned by its
    pytest."""
    from .dedup import exact_anchor_census
    from .scale import pin

    e = ld_vecs(spark, sf_dir)
    pairs = pin(all_pairs_cosine_blocked(
        e, threshold=threshold))          # read twice by the census
    nz = e.filter(dot_expr("embedding", "embedding") > 0) \
          .select("vec_id", "embedding")
    oob = (F.col("cosine") < threshold) | (F.col("cosine") > 1.0 + 1e-9)
    return exact_anchor_census(
        nz, "embedding", pairs, id_col="vec_id",
        names=("n_exact_vec_pairs", "found_ge_exact"),
        extra_aggs=((F.coalesce(F.max(oob.cast("int")), F.lit(0)) == 0)
                    .alias("scores_in_range"),))


ORACLE_EMBEDDING_BLOCKED_CHECKED = """
WITH nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
SELECT CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT)
         AS n_exact_vec_pairs,
       TRUE AS all_exact_pairs_found,
       TRUE AS found_ge_exact,
       TRUE AS scores_in_range
FROM (SELECT COUNT(*) AS c FROM nz GROUP BY embedding)
"""


def _ann_recall_gate(ann_df: DataFrame, brute_df: DataFrame,
                     min_recall: float) -> DataFrame:
    """Shared partial-oracle gate for the ANN family (round 9): the exact
    top-k pair count rides the DuckDB hash gate (DuckDB recomputes the
    brute-force top-k with list_cosine_similarity), and the approximate
    index collapses to two oracle-asserted booleans — ``recall_in_band``
    (hits / true pairs ≥ the same floor the recall pytest pins) and
    ``shared_scores_exact`` (every pair the index shares with the exact
    baseline carries a bitwise-identical cosine: both sides score
    through ``_exact_topk`` on full-precision vectors). The
    brute-force side runs IN-PLAN — one broadcast-queries scan, the
    ann_brute_force_topk shape — so the gate needs no stored baseline."""
    b = brute_df.select("query_id", "neighbor_id",
                        F.col("cosine").alias("bcos"))
    n_true = b.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    shared = (ann_df.select("query_id", "neighbor_id", "cosine")
              .join(b, ["query_id", "neighbor_id"]))
    stats = shared.agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max((F.col("cosine") != F.col("bcos")).cast("int"))
        .alias("any_mismatch"))
    return (n_true.crossJoin(F.broadcast(stats))
            .select("n_true_pairs",
                    (F.col("n_hits").cast("double")
                     >= F.lit(min_recall)
                     * F.col("n_true_pairs").cast("double"))
                    .alias("recall_in_band"),
                    (F.coalesce("any_mismatch", F.lit(0)) == 0)
                    .alias("shared_scores_exact")))


def ann_lsh_topk_checked(spark, sf_dir, k: int = 5,
                         n_queries: int = 10) -> DataFrame:
    """:func:`_ann_recall_gate` over sign-LSH. Floor 0.25: banded
    sign-LSH is the weakest family member on near-uniform synthetic
    vectors (measured 0.42/0.32/0.50 at sf0.001/0.01/0.1 — the pytest's
    0.4 pin is sf0.001-specific; the driver gate must hold at every
    fixture scale, and 0.25 still sits far above the random-shortlist
    baseline). Raw pair list stays as :func:`ann_lsh_topk`."""
    return _ann_recall_gate(ann_lsh_topk(spark, sf_dir, k=k,
                                         n_queries=n_queries),
                            ann_brute_force_topk(spark, sf_dir, k=k,
                                                 n_queries=n_queries),
                            min_recall=0.25)


def ann_ivf_topk_checked(spark, sf_dir, k: int = 5,
                         n_queries: int = 10) -> DataFrame:
    """:func:`_ann_recall_gate` over IVF probe-and-rerank (floor 0.7;
    measured 0.86/0.90/0.90 at sf0.001/0.01/0.1)."""
    return _ann_recall_gate(ann_ivf_topk(spark, sf_dir, k=k,
                                         n_queries=n_queries),
                            ann_brute_force_topk(spark, sf_dir, k=k,
                                                 n_queries=n_queries),
                            min_recall=0.7)


def ann_pq_topk_checked(spark, sf_dir, k: int = 5,
                        n_queries: int = 10) -> DataFrame:
    """:func:`_ann_recall_gate` over full-scan PQ/ADC (floor 0.45;
    measured 0.84/0.78/0.54 at sf0.001/0.01/0.1)."""
    return _ann_recall_gate(ann_pq_topk(spark, sf_dir, k=k,
                                        n_queries=n_queries),
                            ann_brute_force_topk(spark, sf_dir, k=k,
                                                 n_queries=n_queries),
                            min_recall=0.45)


def ann_ivf_pq_topk_checked(spark, sf_dir, k: int = 5,
                            n_queries: int = 10) -> DataFrame:
    """:func:`_ann_recall_gate` over IVFPQ (floor 0.5 — prunes AND
    quantizes; measured 0.84/0.88/0.62 at sf0.001/0.01/0.1)."""
    return _ann_recall_gate(ann_ivf_pq_topk(spark, sf_dir, k=k,
                                            n_queries=n_queries),
                            ann_brute_force_topk(spark, sf_dir, k=k,
                                                 n_queries=n_queries),
                            min_recall=0.5)


ORACLE_ANN_RECALL_GATE = """
WITH brute AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY list_cosine_similarity(
                                         a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) DESC,
                                     b.vec_id) AS nn_rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
    AND a.embedding IS NOT NULL AND len(list_filter(a.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
    AND list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
    AND b.embedding IS NOT NULL AND len(list_filter(b.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS recall_in_band,
       TRUE AS shared_scores_exact
FROM brute WHERE nn_rank <= 5
"""


def embedding_pca_project_checked(spark, sf_dir, k: int = 4) -> DataFrame:
    """Partial-oracle form of :func:`embedding_pca_project` (round 9):
    the projected vec_id set rides the DuckDB hash gate (exact — one row
    per corpus vector, so a dropped Arrow batch turns the driver row
    red), and the BLAS float projections collapse to the Bessel
    invariant as an oracle-asserted boolean: for orthonormal components,
    Σᵢ pcᵢ² ≤ ‖x − μ‖² (projection onto a subspace never exceeds the
    centered norm). The centered norm is recomputed IN-PLAN from a
    literal μ array (zip_with/aggregate — independent of the numpy
    path), with 1e−6·(1+‖x−μ‖²) float slack. Exact projections,
    orthonormality and explained ratios stay pinned by the numpy PCA
    pytest on the raw core."""
    e = ld_vecs(spark, sf_dir)
    comps, _, mean = pca_components(e, k=k)
    proj = embedding_pca_project(spark, sf_dir, k=k)
    mu = F.array(*[F.lit(float(v)) for v in mean])
    centered_sq = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), mu,
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v)
    norms = e.select("vec_id", centered_sq.alias("c2"))
    proj_sq = sum(F.col(f"pc{i + 1}") * F.col(f"pc{i + 1}")
                  for i in range(k))
    return (proj.join(norms, "vec_id")
            .select("vec_id",
                    (proj_sq <= F.col("c2")
                     + F.lit(1e-6) * (F.lit(1.0) + F.col("c2")))
                    .alias("bessel_ok"))
            .orderBy("vec_id"))


ORACLE_PCA_PROJECT_CHECKED = """
SELECT vec_id, TRUE AS bessel_ok FROM embeddings
WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0 ORDER BY vec_id
"""


def embedding_triplet_margin_checked(spark, sf_dir,
                                     n_anchors: int = 50) -> DataFrame:
    """Partial-oracle form of :func:`embedding_triplet_margin` (round 9):
    the per-label anchor census is exact (DuckDB: count of vec_id <
    n_anchors per label — a dropped anchor turns the row red), and the
    float cosine aggregates collapse to range invariants the oracle
    asserts: share_positive ∈ [0,1], both mean cosines ∈ [−1−ε, 1+ε],
    and |mean_margin| ≤ 2 + ε. The exact margins stay pinned by the
    numpy anchors×corpus replay pytest on the raw core."""
    base = embedding_triplet_margin(spark, sf_dir, n_anchors=n_anchors)
    eps = F.lit(1e-9)
    in_unit = ((F.col("share_positive") >= 0)
               & (F.col("share_positive") <= 1))
    cos_ok = ((F.abs("mean_best_same") <= 1 + eps)
              & (F.abs("mean_best_other") <= 1 + eps))
    return (base.select(
        "label", "n_anchors",
        in_unit.alias("share_in_unit"),
        cos_ok.alias("cosines_in_range"),
        (F.abs("mean_margin") <= 2 + eps).alias("margin_in_range"))
        .orderBy("label"))


ORACLE_TRIPLET_MARGIN_CHECKED = """
SELECT label, COUNT(*) AS n_anchors,
       TRUE AS share_in_unit,
       TRUE AS cosines_in_range,
       TRUE AS margin_in_range
FROM embeddings WHERE vec_id < 50
  AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0 AND label IS NOT NULL
GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# IVF + PQ combined search — the full production ANN serving shape (round 6)
# ---------------------------------------------------------------------------

def ann_ivf_pq_topk(spark, sf_dir, k: int = 5, n_queries: int = 10,
                    n_cells: int = 16, nprobe: int = 4,
                    m: int = 8, n_cents: int = 16,
                    shortlist_k: int = 50) -> DataFrame:
    """IVFPQ (the FAISS-style production layout): IVF coarse quantizer
    picks ``nprobe`` cells per query, PQ asymmetric-distance tables score
    ONLY the vectors in the probed cells, and an exact-cosine re-rank of
    the per-query shortlist emits the final top-k.

    Why this composition is THE 100 TB shape: IVF bounds the candidate
    set to ~``nprobe/n_cells`` of the corpus (the scan is partition-
    prunable when the code table is written partitioned by cell), and PQ
    bounds the bytes touched per candidate to ``m`` code bytes + a
    KB-sized broadcast LUT — the full-precision float column streams
    only for the ``shortlist_k × n_queries`` re-rank rows. Against the
    same corpus, ``ann_pq_topk`` ADC-scans every vector and
    ``ann_ivf_topk`` fetches full floats for every probed vector; IVFPQ
    does neither. Codes quantize the L2-normalized vectors directly
    (not IVF residuals — documented simplification; the residual
    variant changes codebook training, not the plan shape).

    Deterministic sampling/init throughout (ordered driver samples,
    first-k init, fixed iterations) but float k-means is iterative math
    → rows-only driver check; pytest pins recall@k vs exact brute force.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    e = ld_vecs_dir(spark, sf_dir)
    C = ivf_centroids(e, n_cells=n_cells)
    books = pq_codebooks(e, m=m, n_cents=n_cents)
    # cell + codes in ONE ArrowEvalPython pass over ONE scan (r12
    # optimization round, guide §2.4): both are per-vector pandas UDFs
    # of the same embedding column, so the planner batches them into a
    # single Python node — the old shape computed them as two separate
    # corpus scans re-attached by a corpus-wide vec_id shuffle join
    coded = pq_assign_codes(ivf_assign(e, C), books, keep=("cell",))

    qids, qn = _query_vectors(e, n_queries)
    probes = _ivf_probes(spark, qids, qn, C, nprobe)
    qidx = {int(q): i for i, q in enumerate(qids)}
    bc = spark.sparkContext.broadcast((qidx, _pq_luts(qn, books)))

    @pandas_udf("double")
    def adc(codes: pd.Series, query: pd.Series) -> pd.Series:
        qmap, L = bc.value
        Cm = np.array(codes.tolist(), dtype=np.int64)        # (rows, m)
        qi = query.map(qmap).to_numpy(dtype=np.int64)
        lut = L[qi]                                          # (rows, m, J)
        return pd.Series(
            lut[np.arange(len(Cm))[:, None],
                np.arange(Cm.shape[1])[None, :], Cm].sum(axis=1))

    scored = (coded.join(F.broadcast(probes), "cell")
              .filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      adc("codes", "query_id").alias("approx_score")))
    shortlist = _adc_shortlist(scored, shortlist_k)
    return _exact_topk(e, k, n_queries, F.broadcast(shortlist))


def kmeans_fit_distributed(df: DataFrame, k: int = 8, n_iters: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"):
    """Distributed Lloyd's k-means over the FULL table — the exact
    counterpart of ``ivf_centroids``' bounded-sample trainer, and the
    shape a 100 TB fit must take (Spark MLlib's KMeans runs the same
    loop): per iteration ONE Arrow-batched assignment scan (centroids
    ship in the task closure, KB-sized) and ONE (cluster, dim)-keyed
    aggregation whose result is k·d rows — the only thing the driver
    ever holds. No corpus-sized collect anywhere.

    Plain L2 k-means on raw vectors (IVF's trainer is spherical/cosine —
    different geometry, deliberately not shared). Deterministic init:
    the k lowest-id vectors. Empty clusters keep their centroid.
    Returns the (k × dim) numpy centroid array.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    df = df.filter(F.col(vec_col).isNotNull())       # degenerate contract
    dim = embedding_dim(df, vec_col)
    init = (df.select(id_col, vec_col).orderBy(id_col).limit(k).collect())
    if len(init) < k:
        raise ValueError(
            f"kmeans_fit_distributed: {len(init)} vector(s) < k={k} "
            "clusters — k-means cannot seed more centroids than vectors "
            "(empty-input contract: fitters raise loudly; fix the "
            "upstream feed or lower k)")
    C = np.array([r[1] for r in init], dtype=np.float64)
    for _ in range(n_iters):
        Cb = C  # rebind for closure capture of this iteration's centroids

        @pandas_udf("int")
        def nearest(vecs: pd.Series) -> pd.Series:
            M = np.array(vecs.tolist(), dtype=np.float64)
            d2 = ((M[:, None, :] - Cb[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        assigned = df.select(nearest(F.col(vec_col)).alias("cluster"),
                             vec_col)
        sums = (assigned.select(
            "cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect())
        C = C.copy()
        acc = np.zeros((k, dim)), np.zeros((k, dim))
        for r in sums:
            acc[0][r.cluster, r.pos] += r.s
            acc[1][r.cluster, r.pos] += r.n
        mask = acc[1][:, 0] > 0
        C[mask] = acc[0][mask] / acc[1][mask]
    return C


def embedding_kmeans_clusters(spark, sf_dir, k: int = 8,
                              n_iters: int = 5) -> DataFrame:
    """Cluster profile of a distributed k-means fit over the embedding
    table: per cluster its size, inertia (sum of squared distances to
    the centroid), and mean distance — the clustering diagnostic every
    embedding-space curation pass (SemDeDup cells, IVF list balance,
    topic discovery) starts from.

    Non-SQL-expressible (iterative float fit) → rows-only driver check;
    pytest pins the fit against an identically-initialized numpy Lloyd
    and the partition/inertia invariants. Scale shape: see
    ``kmeans_fit_distributed``; the final profile is one more assignment
    scan + an O(k) aggregation.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    e = ld_vecs(spark, sf_dir)
    C = kmeans_fit_distributed(e, k=k, n_iters=n_iters)

    @pandas_udf("struct<cluster: int, d2: double>")
    def assign_d2(vecs: pd.Series) -> pd.DataFrame:
        M = np.array(vecs.tolist(), dtype=np.float64)
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        best = d2.argmin(axis=1)
        return pd.DataFrame({
            "cluster": best.astype("int32"),
            "d2": d2[np.arange(len(best)), best]})

    return (e.select(assign_d2("embedding").alias("a"))
            .select("a.cluster", "a.d2")
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("size"),
                 F.sum("d2").alias("inertia"))
            .select("cluster", "size", "inertia",
                    (F.col("inertia") / F.col("size")).alias("mean_d2"))
            .orderBy("cluster"))


def embedding_source_drift(spark, sf_dir, dims: int = 64) -> DataFrame:
    """Embedding drift between corpus sources: pairwise cosine and L2
    distance between per-source CENTROIDS — the representation-space
    drift monitor (did the crawler's new slice move in embedding space?)
    complementing the token-level chi²/KS drift entries, and the
    between-class separation audit for the label/source mixture.

    One aggregation pass computes every source's 64 per-dimension means
    as exact decimal sums over per-row doubles (the
    embedding_covariance portability contract: each element cast to
    DECIMAL(28,6) rounds identically in both engines, the sums are
    exact, means are single divides) — map-side partials over LONG
    (source, dim) keys, reassembled into one idx-ordered mean array per
    source. The pairwise stage is a self-join of the ~|sources|
    centroid frame (bounded by the source catalog, never the corpus);
    dot/norm/L2 are LEFT-FOLDED HOF aggregates of IEEE multiply-adds in
    the identical association order in both engines (idx ascending), so
    every intermediate double matches bitwise; cosine is one divide of
    a product of two exactly-rounded sqrts. Scale: corpus touched once;
    everything after is catalog-sized.
    """
    e = ld_vecs(spark, sf_dir)
    d = ld(spark, sf_dir, "documents").select("doc_id", "source")
    j = e.join(d, e["vec_id"] == d["doc_id"])

    # Long-format sufficient statistics (r12 optimization round): ONE
    # (source, dim) decimal-sum aggregation over the posexploded vectors
    # replaces the old 64-wide per-dim aggregate list, and the pairwise
    # dot/norm/L2 run as zip_with + aggregate left-folds over the
    # reassembled (idx-ascending) mean array instead of 256-term column
    # chains. The per-dim mean is the SAME exact decimal sum and single
    # divide, and a HOF aggregate fold accumulates left-to-right in
    # idx order — the identical IEEE op order as the old m1..m64 chain,
    # so output is BITWISE unchanged (measured: 190/190 pair rows
    # byte-equal at sf0.1). The win is plan size: the 64-agg + 256-term
    # trees cost ~4 s of driver-side analysis/codegen PER INVOCATION at
    # any data scale (measured 5.7 s → 1.8 s end-to-end locally), and at
    # 100 TB the long shuffle keys (source × dims) also spread the
    # reduce work |dims|× wider than per-source wide rows.
    per_dim = (j.select("source", F.posexplode("embedding").alias("idx", "v"))
               .filter(F.col("idx") < dims)
               .groupBy("source", "idx")
               .agg((F.sum(F.col("v").cast("double").cast("decimal(28,6)"))
                     .cast("double") / F.count(F.lit(1))).alias("m")))
    n_src = j.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # |sources| rows; pinned — the self-join's two sides would each
    # replay the corpus aggregation otherwise
    cent = (per_dim.groupBy("source")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "m"))),
                lambda s: s["m"]).alias("mv"))
            .join(n_src, "source")
            .localCheckpoint())

    a, b = cent.alias("a"), cent.alias("b")
    pair = a.join(b, F.col("a.source") < F.col("b.source"))

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    dot = fold(F.zip_with(F.col("a.mv"), F.col("b.mv"),
                          lambda x, y: x * y))
    qa = fold(F.transform(F.col("a.mv"), lambda x: x * x))
    qb = fold(F.transform(F.col("b.mv"), lambda x: x * x))
    l2sq = fold(F.zip_with(F.col("a.mv"), F.col("b.mv"),
                           lambda x, y: (x - y) * (x - y)))
    return (pair.select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"),
        # zero centroid (a source whose surviving vectors are all zero —
        # poisoned contract): cosine undefined -> NULL, not an ANSI 0/0
        F.when((qa > 0) & (qb > 0), dot / (F.sqrt(qa) * F.sqrt(qb)))
        .alias("centroid_cosine"),
        F.sqrt(l2sq).alias("centroid_l2"))
        .orderBy("source_a", "source_b"))


def _oracle_embedding_source_drift(dims: int = 64) -> str:
    means = ", ".join(
        f"CAST(SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(28,6)))"
        f" AS DOUBLE) / COUNT(*) AS m{i}" for i in range(1, dims + 1))
    dot = " + ".join(f"a.m{i} * b.m{i}" for i in range(1, dims + 1))
    qa = " + ".join(f"a.m{i} * a.m{i}" for i in range(1, dims + 1))
    qb = " + ".join(f"b.m{i} * b.m{i}" for i in range(1, dims + 1))
    l2 = " + ".join(f"(a.m{i} - b.m{i}) * (a.m{i} - b.m{i})"
                    for i in range(1, dims + 1))
    return f"""
WITH cent AS (
  SELECT d.source, COUNT(*) AS n, {means}
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
  GROUP BY d.source)
SELECT a.source AS source_a, b.source AS source_b,
       a.n AS n_a, b.n AS n_b,
       ({dot}) / (SQRT({qa}) * SQRT({qb})) AS centroid_cosine,
       SQRT({l2}) AS centroid_l2
FROM cent a JOIN cent b ON a.source < b.source
ORDER BY source_a, source_b
"""


ORACLE_EMBEDDING_SOURCE_DRIFT = _oracle_embedding_source_drift()


def embedding_triplet_margin(spark, sf_dir, n_anchors: int = 50
                             ) -> DataFrame:
    """Embedding-quality audit against the label column: for each
    anchor vector, the nearest SAME-label cosine minus the nearest
    OTHER-label cosine — the triplet margin that tells you whether the
    representation actually separates the classes (margin > 0: nearest
    friend beats nearest impostor; share_positive is the k=1 leave-one-
    out classifier accuracy). Reported per label: mean margin, share of
    anchors with positive margin, and the mean nearest-friend /
    nearest-impostor cosines.

    Shape: the anchor side (first ``n_anchors`` vec_ids) broadcasts;
    candidates stream through ONE scan (the ann_brute contract); the
    per-anchor max-cosine split by same/other label is one conditional
    aggregation — no window at all. Float cosine chains → rows-only;
    the pytest replays anchors × corpus in numpy exactly.

    NULL-label rows (corrupted shard, r11 nulldoc gate) have no class
    and participate NEITHER as anchors nor as candidates — the
    same/other split is undefined for them (as an anchor the NULL ==
    comparison silently produced an all-NULL census row; as a candidate
    it fell in neither bucket, asymmetrically). Mirrored in the oracle.
    """
    e = ld_vecs_dir(spark, sf_dir).filter(F.col("label").isNotNull())
    # norms hoisted to per-row columns (r12 optimization round, guide
    # §1.2 step 2 / the dedup_embedding_cosine idiom): the interpreted
    # HOF fold ran 3× per PAIR (dot + both norms); each side's norm is
    # the identical left-fold expression evaluated once per ROW, so the
    # cosine value is bitwise unchanged
    q = e.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qe"),
        norm_expr("embedding").alias("qn"))
    c = e.select(F.col("vec_id").alias("cand_id"),
                 F.col("label").alias("cand_label"),
                 F.col("embedding").alias("ce"),
                 norm_expr("embedding").alias("cn"))
    same = F.col("anchor_label") == F.col("cand_label")
    per_anchor = (F.broadcast(q)
                  .join(c, F.col("anchor_id") != F.col("cand_id"))
                  .select("anchor_id", "anchor_label",
                          same.alias("same"),
                          cosine_expr("qe", "ce", na=F.col("qn"),
                                      nb=F.col("cn")).alias("cos"))
                  .groupBy("anchor_id", "anchor_label")
                  .agg(F.max(F.when(F.col("same"), F.col("cos")))
                       .alias("best_same"),
                       F.max(F.when(~F.col("same"), F.col("cos")))
                       .alias("best_other")))
    margin = F.col("best_same") - F.col("best_other")
    return (per_anchor
            .groupBy(F.col("anchor_label").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_anchors"),
                 (F.sum(margin.cast("decimal(28,6)")).cast("double")
                  / F.count(F.lit(1))).alias("mean_margin"),
                 (F.sum((margin > 0).cast("long")).cast("double")
                  / F.count(F.lit(1))).alias("share_positive"),
                 (F.sum(F.col("best_same").cast("decimal(28,6)"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("mean_best_same"),
                 (F.sum(F.col("best_other").cast("decimal(28,6)"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("mean_best_other"))
            .orderBy("label"))

"""Training-data preparation operators: deterministic dataset splitting,
sequence packing, embedding quantization, and benchmark-contamination
detection — the last-mile passes between a curated corpus
(operators/corpus.py, dedup.py, textstats.py) and a training run.

Every operator here is deterministic by construction (md5-based hashing,
explicit rounding, contiguous-fill packing) so each carries a DuckDB
oracle; none of them touches Python in the row path except where Arrow
vectorization is the measured win elsewhere in the repo.

Determinism protocol: operators/relational.py module docstring. Extra
rules used here:
- dataset splits hash md5 hex (identical across engines; memory rule) and
  convert hex→int via ``instr``-arithmetic, which both engines express
  identically — no engine-specific hash functions;
- quantization rounds with an explicit ``floor(x + 0.5)`` so the
  half-up/half-even difference between engines cannot flip a code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import ld, ld_docs, ld_py


def _hex_bucket(col: F.Column, chars: int = 2) -> F.Column:
    """0..16^chars−1 from the first ``chars`` hex digits of an md5 hex
    string, using only instr arithmetic (portable to DuckDB strpos)."""
    b = F.lit(0)
    for i in range(1, chars + 1):
        digit = F.instr(F.lit("0123456789abcdef"),
                        F.substring(col, i, 1)) - 1
        b = b * 16 + digit
    return b


def data_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5) by content hash —
    stable across runs, machines, and engine versions, which is the
    property a training pipeline needs so re-ingests never migrate a
    document across splits (test-set leakage). Emits the per-(source,
    split) census a data card reports.

    Plan: one scan computing md5 → bucket → split, one small aggregation.
    The hash is on doc CONTENT (not id), so re-keyed copies land in the
    same split.
    """
    d = ld(spark, sf_dir, "documents")
    bucket = _hex_bucket(F.md5(F.col("text")), 2)  # 0..255
    split = (F.when(bucket < 230, "train")
             .when(bucket < 243, "val")
             .otherwise("test"))
    return (d.select("source", split.alias("split"))
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source", "split"))


ORACLE_DATA_SPLIT = """
WITH b AS (
  SELECT source,
         (strpos('0123456789abcdef', md5(text)[1:1]) - 1) * 16
         + (strpos('0123456789abcdef', md5(text)[2:2]) - 1) AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 230 THEN 'train'
            WHEN bucket < 243 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY source, split ORDER BY source, split
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str,
                          budget: int = 512) -> DataFrame:
    """Contiguous-fill sequence packing: documents (per language, in
    doc_id order) are packed into training sequences of at most
    ``budget`` whitespace tokens; a doc longer than the budget gets its
    own bin. This is the deterministic streaming approximation of bin
    packing a data loader actually uses (first-fit on a stream), not the
    NP-hard optimum.

    bin id = floor(exclusive-prefix-sum / budget) puts each doc in the
    bin its fill would start in — contiguous fill, one window pass, no
    driver loop. Emits per-bin fill statistics (the packing-efficiency
    metric a pipeline monitors).

    Plan: one window (lang | doc_id) cumsum + one aggregation. At 100 TB
    the lang partitioning bounds every sort run; for a single giant
    stream, range-repartition by the order key first (scale.global_ranks
    pattern).
    """
    d = ld(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    binned = toks.select(
        "doc_id", "lang", "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok"))
                / F.lit(budget)).cast("int").alias("bin"))
    return (binned.groupBy("lang", "bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("lang", "bin"))


ORACLE_PACK_SEQUENCES = """
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
  FROM documents
), binned AS (
  SELECT doc_id, lang, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / 512) AS INTEGER) AS bin
  FROM toks
)
SELECT lang, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM binned GROUP BY lang, bin ORDER BY lang, bin
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str,
                            n_vecs: int = 20) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the compression step an ANN serving layer applies before indexing.
    code = floor(x · 127 / max|x| + 0.5) ∈ [−127, 127]; the explicit
    +0.5 floor makes rounding identical in both engines (F.round is
    HALF_UP in Spark but banker's in DuckDB — memory protocol).

    Emits (vec_id, dim, code, dequant error) posexploded for the first
    ``n_vecs`` vectors — scalar rows because the driver's canonicalizer
    rejects array outputs. All math is per-element double IEEE with one
    division by a per-vector scalar: bitwise portable.

    Plan: pure Catalyst HOFs (aggregate for max|x|, transform for the
    codes) — scan-speed, no shuffle, no Python.
    """
    e = (ld(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") < n_vecs))
    maxabs = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")
    withs = e.select("vec_id", "embedding", maxabs.alias("s"))
    # an all-zero vector has scale 0 — its codes are exactly 0, and
    # the division must not run (ANSI divide error); all-true branch
    # on any non-degenerate vector
    code = F.when(
        F.col("s") > 0,
        F.floor(F.col("x").cast("double") * 127.0 / F.col("s") + 0.5)
        .cast("int")).otherwise(F.lit(0))
    exploded = (withs.select(
        "vec_id", "s",
        F.posexplode("embedding").alias("dim", "x")))
    dequant = F.col("code").cast("double") * F.col("s") / 127.0
    return (exploded.select("vec_id", "dim", code.alias("code"))
            .join(exploded.select("vec_id", "dim", "s",
                                  F.col("x").cast("double").alias("xd")),
                  ["vec_id", "dim"])
            .select("vec_id", "dim", "code",
                    (dequant - F.col("xd")).alias("err"))
            .orderBy("vec_id", "dim"))


ORACLE_QUANTIZE = """
WITH v AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [ABS(CAST(x AS DOUBLE)) FOR x IN embedding]),
                     (m, x) -> GREATEST(m, x)) AS s
  FROM embeddings WHERE vec_id < 20
), e AS (
  SELECT vec_id, s, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS xd
  FROM v
)
SELECT vec_id, dim,
       CAST(FLOOR(xd * 127.0 / s + 0.5) AS INTEGER) AS code,
       CAST(FLOOR(xd * 127.0 / s + 0.5) AS DOUBLE) * s / 127.0 - xd AS err
FROM e ORDER BY vec_id, dim
"""


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str,
                                n: int = 5) -> DataFrame:
    """Benchmark-contamination AUDIT: which training documents share a
    5-gram with a held-out evaluation set (here: every doc whose content
    hash falls in the ``data_split_assign`` test bucket), at (train doc,
    eval doc) pair granularity — contaminated pairs only. The standard
    pre-training hygiene pass: n-gram collisions between train and eval
    inflate benchmark scores. The per-document keep/drop DECISION form
    of the same scan (every corpus doc, zero-hit docs included) is
    ``corpus.corpus_decontaminate``.

    Plan: eval docs are a small fraction by construction → their exploded
    n-gram set broadcasts; the train side streams through one scan +
    broadcast probe, then one (train, eval) count aggregation. No
    all-pairs join at any scale; skew-safe because the probe key is the
    n-gram itself.

    Loaded via ``ld_py``: the gram transform + distinct + explode is
    heavy JVM row work feeding a broadcast probe (no key exchange to
    parallelize it), so the fan-out is the only source of parallelism —
    measured 2.31 s → 0.96 s at sf0.1.
    """
    d = ld_py(spark, sf_dir, "documents")
    bucket = _hex_bucket(F.md5(F.col("text")), 2)
    tagged = d.select("doc_id", "text",
                      (bucket >= 243).alias("is_eval"))
    # guard like corpus_decontaminate/dedup_substring_spans: below n
    # tokens, sequence(1, size-n+1) would DESCEND (Spark defaults the
    # step to -1 when start > stop) and slice(…, 0, n) is fatal — a
    # sub-n-token doc simply has no n-grams (poisoned-values contract)
    # Tokenize ONCE per row before the gram transform (r12 optimization
    # round, same fix as dedup_substring_spans): HOF lambdas evaluate
    # interpreted with no common-subexpression elimination, so an inline
    # ``split(text, ' ')`` in the lambda body re-splits the document for
    # every gram — O(len²) per doc. Hoisted, span generation is O(len);
    # gram multiset unchanged.
    tagged = tagged.withColumn("w", F.split(F.col("text"), " "))
    grams = F.when(
        F.size("w") >= n,
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> array_join(slice(w, i, {n}), ' '))")
    ).otherwise(F.array().cast("array<string>"))
    ex = tagged.select("doc_id", "is_eval",
                       F.explode(F.array_distinct(grams)).alias("g"))
    ev = (ex.filter(F.col("is_eval"))
          .select(F.col("doc_id").alias("eval_doc"), "g"))
    tr = (ex.filter(~F.col("is_eval"))
          .select(F.col("doc_id").alias("train_doc"), "g"))
    return (tr.join(F.broadcast(ev), "g")
            .groupBy("train_doc", "eval_doc")
            .agg(F.count(F.lit(1)).alias("shared_ngrams"))
            .orderBy("train_doc", "eval_doc"))


ORACLE_CONTAMINATION = """
WITH tagged AS (
  SELECT doc_id, text,
         ((strpos('0123456789abcdef', md5(text)[1:1]) - 1) * 16
          + (strpos('0123456789abcdef', md5(text)[2:2]) - 1)) >= 243
           AS is_eval
  FROM documents
), ex AS (
  SELECT doc_id, is_eval, unnest(list_distinct(
           [array_to_string(wl[i:i+4], ' ')
            FOR i IN range(1, len(wl) - 3)])) AS g
  FROM (SELECT doc_id, is_eval, string_split(text, ' ') AS wl FROM tagged)
)
SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
       COUNT(*) AS shared_ngrams
FROM ex t JOIN ex e ON t.g = e.g
WHERE NOT t.is_eval AND e.is_eval
GROUP BY train_doc, eval_doc
ORDER BY train_doc, eval_doc
"""


def dedup_incremental_exact(spark: SparkSession, sf_dir: str,
                            new_source: str = "src19") -> DataFrame:
    """Incremental ingest dedup: which documents of an arriving batch
    (``source == new_source``) are exact-content duplicates of the
    existing corpus — the steady-state shape of production dedup, where
    the corpus is indexed once and each new batch joins against it
    (never corpus × corpus again).

    Plan: hash both sides (md5 content key), LEFT join batch→corpus
    grouped to the smallest duplicate-of id. The corpus side shuffles by
    hash key once — at 100 TB that side is a pre-bucketed hash index the
    batch probes. Deterministic → oracle-checked.
    """
    d = ld(spark, sf_dir, "documents")
    hashed = d.select("doc_id", "source", F.md5("text").alias("h"))
    batch = (hashed.filter(F.col("source") == new_source)
             .select(F.col("doc_id").alias("new_doc"), "h"))
    corpus = (hashed.filter(F.col("source") != new_source)
              .groupBy("h").agg(F.min("doc_id").alias("duplicate_of")))
    return (batch.join(corpus, "h", "left")
            .select("new_doc", "duplicate_of",
                    F.col("duplicate_of").isNotNull().alias("is_duplicate"))
            .orderBy("new_doc"))


ORACLE_DEDUP_INCREMENTAL = """
WITH hashed AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
), corpus AS (
  SELECT h, MIN(doc_id) AS duplicate_of FROM hashed
  WHERE source <> 'src19' GROUP BY h
)
SELECT b.doc_id AS new_doc, c.duplicate_of,
       c.duplicate_of IS NOT NULL AS is_duplicate
FROM hashed b LEFT JOIN corpus c ON b.h = c.h
WHERE b.source = 'src19'
ORDER BY new_doc
"""


def sample_per_group_topn(spark: SparkSession, sf_dir: str,
                          n: int = 5) -> DataFrame:
    """Deterministic per-language evaluation sample: the ``n`` documents
    per language that sort first by content hash — a uniform-at-random
    but re-run-stable pick (the same property as ``data_split_assign``,
    applied group-wise). One window over (lang | md5, doc_id).
    """
    # NULL text: md5(NULL) is engine-dependent sort fodder — the
    # hash-sample is over real texts only (ld_docs' corrupted-shard
    # contract, r11); NULL-LANG groups stay (both engines keep NULL
    # partitions)
    d = ld_docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= n)
            .orderBy("lang", "rk"))


ORACLE_SAMPLE_TOPN = """
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(text), doc_id) AS rk
  FROM documents WHERE text IS NOT NULL)
WHERE rk <= 5 ORDER BY lang, rk
"""


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing census: per source, its actual token share vs a uniform
    target share, and the repetition factor an epoch sampler would apply
    to hit the target (>1 = upsample, <1 = downsample) — the bookkeeping
    behind every "dataset X is repeated 3.1 epochs" table in a training
    report.

    All shares are single divisions of exact integer token counts
    (portable doubles); the source count rides a broadcast 1-row cross
    join. One keyed agg + one tiny agg — no driver math.
    """
    d = ld(spark, sf_dir, "documents")
    toks = d.select("source",
                    F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    per_src = (toks.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tok").alias("n_tokens")))
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"))
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return (per_src.crossJoin(F.broadcast(totals))
            .select("source", "n_docs", "n_tokens",
                    share.alias("actual_share"),
                    (target / share).alias("repeat_factor"))
            .orderBy("source"))


ORACLE_MIX_WEIGHTS = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       n_tokens::DOUBLE / total_tokens AS actual_share,
       (1.0 / n_sources) / (n_tokens::DOUBLE / total_tokens)
         AS repeat_factor
FROM per_src CROSS JOIN totals
ORDER BY source
"""


def corpus_token_budget_cut(spark: SparkSession, sf_dir: str,
                            budget_frac: float = 0.6) -> DataFrame:
    """Curriculum/budget cut: sources ranked by mean document quality
    (exact-ratio type-token score), kept greedily until the cumulative
    token count crosses ``budget_frac`` of the corpus — how a pipeline
    picks which sources fit a fixed token budget, best-first.

    The ranking key is a portable double (decimal-free integer ratio
    average), ties broken by source name; the cumulative comparison is
    exact-int vs exact-int·frac. One keyed agg + one 20-row window.
    """
    d = ld(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    per_src = (d.select("source", F.size(words).alias("n_tok"),
                        (F.size(F.array_distinct(words)).cast("double")
                         / F.size(words)).alias("ttr"))
               .groupBy("source")
               .agg(F.sum("n_tok").alias("n_tokens"),
                    # decimal protocol: a raw double sum is order-dependent
                    (F.sum(F.col("ttr").cast("decimal(28,6)"))
                     .cast("double") / F.count(F.lit(1))).alias("avg_ttr")))
    w = (Window.orderBy(F.desc("avg_ttr"), "source")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    ranked = (per_src.crossJoin(F.broadcast(total))
              .select("source", "n_tokens", "avg_ttr",
                      F.sum("n_tokens").over(w).alias("cum_tokens"),
                      F.col("total_tokens")))
    return (ranked
            .filter(F.col("cum_tokens").cast("double")
                    <= budget_frac * F.col("total_tokens").cast("double"))
            .select("source", "n_tokens", "avg_ttr", "cum_tokens")
            .orderBy(F.desc("avg_ttr"), "source"))


ORACLE_TOKEN_BUDGET = """
WITH per_src AS (
  SELECT source,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(ttr AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS avg_ttr
  FROM (SELECT source, len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')) AS ttr
        FROM documents)
  GROUP BY source
), ranked AS (
  SELECT source, n_tokens, avg_ttr,
         CAST(SUM(n_tokens) OVER (ORDER BY avg_ttr DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tokens,
         (SELECT SUM(n_tokens) FROM per_src) AS total_tokens
  FROM per_src
)
SELECT source, n_tokens, avg_ttr, cum_tokens
FROM ranked
WHERE cum_tokens::DOUBLE <= 0.6 * total_tokens::DOUBLE
ORDER BY avg_ttr DESC, source
"""


def export_training_shards(spark: SparkSession, sf_dir: str,
                           n_shards: int = 8) -> DataFrame:
    """Deterministic corpus shuffle + shard manifest — the export step
    before training: every document gets a content-hash shard (stable
    across runs/engines/re-ingests, like ``data_split_assign``) and a
    portable within-shard shuffle ORDER (the md5 hex string itself —
    lexicographic order is engine-independent, unlike any float-based
    rand). Emits the per-shard manifest a dataloader consumes: document
    and token volume plus the first/last order keys, so shard boundaries
    are auditable without re-reading the data.

    The actual file export is ``docs.repartition(n_shards, "shard")
    .sortWithinPartitions("shuffle_key").write.partitionBy("shard")`` —
    one hash-uniform shuffle by construction (md5 buckets are uniform,
    no hot shard). This registry entry emits the manifest the write
    would produce.

    Oracle coupling: the default ``n_shards=8`` is baked into the oracle
    as a constant (same trap as scale_zorder_zvalues).
    """
    d = ld(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("shard:"), F.col("text")))
    per_doc = d.select(
        "doc_id",
        F.pmod(_hex_bucket(h, 4), F.lit(n_shards)).alias("shard"),
        h.alias("shuffle_key"),
        F.size(F.split("text", " ")).alias("n_tok"))
    return (per_doc.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.min("shuffle_key").alias("first_key"),
                 F.max("shuffle_key").alias("last_key"))
            .orderBy("shard"))


ORACLE_EXPORT_SHARDS = """
WITH per_doc AS (
  SELECT doc_id, md5('shard:' || text) AS h,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), bucketed AS (
  SELECT doc_id, h, n_tok,
         ((strpos('0123456789abcdef', h[1:1]) - 1) * 4096
          + (strpos('0123456789abcdef', h[2:2]) - 1) * 256
          + (strpos('0123456789abcdef', h[3:3]) - 1) * 16
          + (strpos('0123456789abcdef', h[4:4]) - 1)) % 8 AS shard
  FROM per_doc
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(h) AS first_key, MAX(h) AS last_key
FROM bucketed GROUP BY shard ORDER BY shard
"""


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture downsampling: each source is thinned to a
    TARGET keep-fraction by content hash — keep a document iff its
    16-bit md5 bucket falls under ``weight · 65536``. Re-ingests keep
    exactly the same documents (no RNG state), and the achieved fraction
    converges to the target by hash uniformity — this is how a 100 TB
    curation run hits a prescribed source mixture without a shuffle:
    the decision is a scan-level predicate on each row.

    Fixture weights: even-numbered sources keep ~100%, others ~25% —
    constants baked into the oracle (scale_zorder_zvalues trap; callers
    wanting other mixtures go through this function's code path with
    their own CASE, losing only the parity claim).

    Emits the per-source census: kept count, total count, achieved
    fraction (one exact integer division).
    """
    d = ld(spark, sf_dir, "documents")
    # try_cast: a source with no trailing number yields '' here, and an
    # ANSI cast would abort the whole job (r9 dupflood sweep); NULL
    # falls through pmod/when to the 0.25 branch deterministically
    src_num = F.expr(
        "try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS int)")
    weight_hi = F.when(F.pmod(src_num, F.lit(2)) == 0, F.lit(65536)) \
        .otherwise(F.lit(16384))                       # 1.0 vs 0.25
    bucket = _hex_bucket(F.md5(F.concat(F.lit("mix:"), F.col("text"))), 4)
    per_doc = d.select("source",
                       (bucket < weight_hi).cast("int").alias("kept"))
    return (per_doc.groupBy("source")
            .agg(F.sum("kept").alias("n_kept"),
                 F.count(F.lit(1)).alias("n_total"))
            .withColumn("achieved_fraction",
                        F.col("n_kept").cast("double") / F.col("n_total"))
            .orderBy("source"))


ORACLE_MIXTURE_SAMPLE = """
WITH per_doc AS (
  SELECT source,
         CASE WHEN (
           (strpos('0123456789abcdef', md5('mix:' || text)[1:1]) - 1) * 4096
           + (strpos('0123456789abcdef', md5('mix:' || text)[2:2]) - 1) * 256
           + (strpos('0123456789abcdef', md5('mix:' || text)[3:3]) - 1) * 16
           + (strpos('0123456789abcdef', md5('mix:' || text)[4:4]) - 1))
           < (CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER)
                        % 2 = 0
                   THEN 65536 ELSE 16384 END)
           THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS achieved_fraction
FROM per_doc GROUP BY source ORDER BY source
"""


def embedding_standardize(spark: SparkSession, sf_dir: str,
                          n_dims: int = 8, n_vecs: int = 40) -> DataFrame:
    """Per-dimension z-score standardization of the embedding table —
    the feature-scaling pass that precedes distance-based training
    (k-means, contrastive batches): every dimension is centered on its
    corpus mean and divided by its population std.

    Scale shape: ONE aggregation computes all per-dim sufficient
    statistics (n, Σx, Σx²) — exploding (dim, x) pairs and hash-
    aggregating by dim keeps the shuffle O(dims) via partial aggs — and
    the O(dims) stats table broadcasts back onto the scan, so the
    normalize pass is map-only. Emitted long-form for the first
    ``n_vecs`` vectors × ``n_dims`` dims (the full-width rewrite is the
    same plan with an array rebuild).

    Float parity: sums ride the decimal protocol; mean/var/std/scale are
    computed with the identical IEEE op order in the oracle (sqrt is
    correctly rounded, so it preserves bitwise equality); a zero-std
    dimension yields NULL on BOTH engines via the explicit guard (Spark
    and DuckDB disagree on float x/0 — NULL vs inf — so the guard is
    load-bearing, same class as the MAD=0 fix).
    """
    from .relational import DEC, ld_vecs

    # ld_vecs: a NaN/huge component would abort the exact decimal sums
    # (poisoned-values contract); no-op on real fixtures
    e = ld_vecs(spark, sf_dir)
    pairs = e.select(
        "vec_id",
        F.explode(F.arrays_zip(
            F.expr(f"sequence(1, {n_dims})"),
            F.slice("embedding", 1, n_dims))).alias("p")) \
        .select("vec_id", F.col("p.0").alias("dim"),
                F.col("p.1").cast("double").alias("x"))
    stats = (pairs.groupBy("dim")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("x").cast(DEC)).cast("double").alias("s1"),
                  F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double")
                  .alias("s2")))
    mean = F.col("s1") / F.col("n")
    # greatest(var, 0): on a near-constant dimension the decimal-rounded
    # sums can make s2/n - mean² a tiny NEGATIVE, and sqrt(negative) is
    # NaN — which Spark's `NaN > 0.0` treats as TRUE (NaN sorts greatest)
    # while DuckDB errors/NULLs, so without the clamp the guard leaks NaN
    # scaled values on one engine only (r4 advice). Clamped identically
    # in the oracle.
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    scaled = F.when(std > 0.0, (F.col("x") - mean) / std)
    return (pairs.filter(F.col("vec_id") < n_vecs)
            .join(F.broadcast(stats), "dim")
            .select("vec_id", "dim", "x", scaled.alias("scaled"))
            .orderBy("vec_id", "dim"))


ORACLE_EMBEDDING_STANDARDIZE = """
WITH pairs AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS dim,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
), bounded AS (
  SELECT vec_id, dim, x FROM pairs WHERE dim <= 8
), stats AS (
  SELECT dim, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS s2
  FROM bounded GROUP BY dim
)
SELECT b.vec_id, b.dim, b.x,
       CASE WHEN sqrt(greatest(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n),
                               0.0)) > 0
            THEN (b.x - s.s1 / s.n)
                 / sqrt(greatest(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n),
                                 0.0))
       END AS scaled
FROM bounded b JOIN stats s USING (dim)
WHERE b.vec_id < 40
ORDER BY b.vec_id, b.dim
"""


def corpus_pack_global_stream(spark: SparkSession, sf_dir: str,
                              seq_len: int = 512) -> DataFrame:
    """Concat-and-chunk sequence packing over ONE GLOBAL stream — the
    single-giant-stream extension ``corpus_pack_sequences``'s docstring
    promises (that entry partitions by lang; this one has no partition
    key at all, the case where a plain window would collapse to a single
    partition): documents are concatenated in a deterministic global
    order (doc_id) and the token stream is cut into fixed ``seq_len``
    training sequences — the GPT-style packing every LLM pretraining run
    executes after tokenization. Emits the
    per-sequence manifest a dataloader audits: how many documents START
    in each sequence, their id range and token mass, and how many of
    them CROSS the right boundary (the truncation/attention-mask cases).

    Scale shape: the only global state is the running token offset, and
    it rides ``scale.global_prefix_window`` — a range shuffle + per-
    partition window + O(#partitions) driver-side carry — NOT a single-
    partition window (the r3-verdict lesson ABC/Pareto already ride).
    Everything after the prefix is narrow integer arithmetic and one
    O(sequences) hash aggregation.

    All outputs are exact integers; the oracle mirrors the prefix with a
    plain SUM OVER (ORDER BY doc_id) — the single-node formulation of
    the same scan.

    Oracle coupling: ``seq_len=512`` is baked into the oracle as a
    constant — non-default values are ad-hoc only.
    """
    from .scale import global_prefix_window

    # NULL text: no tokens to pack — ld_docs' corrupted-shard
    # contract (r11 nulldoc gate); a NULL n_tok row would silently
    # shift every later sequence boundary; mirrored in the oracle
    d = ld_docs(spark, sf_dir)
    per_doc = d.select("doc_id",
                       F.size(F.split("text", " ")).alias("n_tok"))
    with_cum = global_prefix_window(
        per_doc, order_exprs=[F.col("doc_id")], value_col="n_tok",
        how="sum", inclusive=True, out_col="cum")
    start_off = (F.col("cum") - F.col("n_tok")).alias("start_off")
    seq_id = F.floor((F.col("cum") - F.col("n_tok")) / seq_len) \
        .cast("long").alias("seq_id")
    crosses = (((F.col("cum") - F.lit(1)) / seq_len).cast("long")
               > F.floor((F.col("cum") - F.col("n_tok")) / seq_len)
               .cast("long"))
    return (with_cum.select("doc_id", "n_tok", start_off, seq_id,
                            crosses.alias("crosses_boundary"))
            .groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs_starting"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"),
                 F.sum("n_tok").cast("long").alias("tokens_starting"),
                 F.sum(F.col("crosses_boundary").cast("int")).cast("long")
                 .alias("n_boundary_docs"))
            .orderBy("seq_id"))


ORACLE_PACK_GLOBAL_STREAM = """
WITH per_doc AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
  WHERE text IS NOT NULL
), cum AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM per_doc
), tagged AS (
  SELECT doc_id, n_tok,
         CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS seq_id,
         ((cum - 1) // 512) > ((cum - n_tok) // 512) AS crosses_boundary
  FROM cum
)
SELECT seq_id,
       COUNT(*) AS n_docs_starting,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_starting,
       CAST(SUM(CASE WHEN crosses_boundary THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs
FROM tagged
GROUP BY seq_id
ORDER BY seq_id
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (near-dup-cluster-aware assignment)
# ---------------------------------------------------------------------------

def _leakage_safe_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document frame behind ``split_leakage_safe``: doc_id,
    cluster_id, the naive content-hash split the doc would get on its own,
    and the cluster split it actually gets (the split of its cluster
    REPRESENTATIVE's content — min-doc_id member, same md5→bucket rule as
    ``data_split_assign``)."""
    from .dedup import dedup_clusters

    d = ld(spark, sf_dir, "documents")
    labels = dedup_clusters(spark, sf_dir)

    def _split(bucket: F.Column) -> F.Column:
        return (F.when(bucket < 230, "train")
                .when(bucket < 243, "val")
                .otherwise("test"))

    docs = (d.select("doc_id",
                     _split(_hex_bucket(F.md5("text"), 2))
                     .alias("naive_split"))
            .join(labels, "doc_id"))
    reps = d.select(F.col("doc_id").alias("cluster_id"),
                    _split(_hex_bucket(F.md5("text"), 2)).alias("split"))
    return docs.join(reps, "cluster_id")


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: every document inherits the split of its near-dup cluster
    representative (connected components over the exact 3-gram-Jaccard
    ≥ 0.5 graph, ``dedup_clusters``), so a test document can never have a
    paraphrase in train — the contamination channel a naive per-doc
    content-hash split (``data_split_assign``) leaves open. Reports, per
    split: docs, distinct clusters, and how many docs the cluster rule
    MOVED relative to the naive rule (the leakage prevented).

    Scale shape: the cluster pass is the existing pruned inverted-index +
    pointer-doubling components stack (never all-pairs); the rest is two
    hash joins keyed on doc_id/cluster_id (AQE-sized) and one grouped
    aggregate with an exact distinct — no windows, no driver state. All
    outputs are exact integers.
    """
    j = _leakage_safe_assignments(spark, sf_dir)
    return (j.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("cluster_id").alias("n_clusters"),
                 F.sum((F.col("naive_split") != F.col("split"))
                       .cast("long")).alias("n_docs_moved"))
            .orderBy("split"))


ORACLE_SPLIT_LEAKAGE_SAFE = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS wl FROM documents)
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
), prs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
  HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
), edges AS (
  SELECT id1 AS a, id2 AS b FROM prs
  UNION ALL SELECT id2, id1 FROM prs
), reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
), labels AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
), buck AS (
  SELECT doc_id,
         CASE WHEN (strpos('0123456789abcdef', md5(text)[1:1]) - 1) * 16
                   + (strpos('0123456789abcdef', md5(text)[2:2]) - 1) < 230
              THEN 'train'
              WHEN (strpos('0123456789abcdef', md5(text)[1:1]) - 1) * 16
                   + (strpos('0123456789abcdef', md5(text)[2:2]) - 1) < 243
              THEN 'val' ELSE 'test' END AS split
  FROM documents
), j AS (
  SELECT l.cluster_id, nb.split AS naive_split, rb.split AS split
  FROM labels l
  JOIN buck nb ON nb.doc_id = l.doc_id
  JOIN buck rb ON rb.doc_id = l.cluster_id
)
SELECT split, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_moved
FROM j GROUP BY split ORDER BY split
"""


def corpus_curriculum_phases(spark: SparkSession, sf_dir: str,
                             n_phases: int = 4) -> DataFrame:
    """Curriculum ordering for training: documents ranked easy→hard by
    the shared composite quality score (high quality first — the clean,
    well-formed text a curriculum schedule feeds early) and cut into
    ``n_phases`` contiguous phases with an explicit within-phase
    position, so a data loader can stream phase 1 → N without any
    further sort. The standard curriculum-learning data prep
    (Bengio et al. 2009) expressed as one engine query.

    Scale shape: the global order comes from ``scale.global_ranks``
    (range shuffle + prefix-sum offsets) — NO un-partitioned window, the
    plan-test-banned shape a naive ``ntile() over (order by ...)`` would
    emit. Phase and within-phase position are then pure integer
    arithmetic on the gap-free rank (``ntile_expr`` semantics), not a
    second window: a per-phase window would partition the corpus into
    only ``n_phases`` tasks — itself a skew cliff at 100 TB. Ties are
    broken by doc_id, so the order is total and the DuckDB oracle
    hash-matches exactly.
    """
    from .scale import _idiv, global_ranks, ntile_expr
    from .textstats import quality_score_expr

    d = ld(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        quality_score_expr().cast("double").alias("quality_score"))
    ranked, n = global_ranks(
        scored, [F.desc("quality_score"), F.asc("doc_id")],
        num_partitions=8)
    rn = F.col("global_rn")
    base, rem = divmod(n, n_phases)
    cut = rem * (base + 1)
    # position inside the tile, from the same integer arithmetic that
    # defines the tile boundaries — no per-phase window needed
    if base == 0:
        pos = F.pmod(rn - 1, F.lit(base + 1)) + 1
    else:
        pos = (F.when(rn <= cut, F.pmod(rn - 1, F.lit(base + 1)))
               .otherwise(F.pmod(rn - 1 - cut, F.lit(base))) + 1)
    return (ranked.select(
        "doc_id",
        ntile_expr(rn, n, n_phases).alias("phase"),
        pos.cast("long").alias("phase_pos"),
        "quality_score", "n_tokens")
        .orderBy("phase", "phase_pos"))


ORACLE_CURRICULUM_PHASES = """
WITH t AS (
  SELECT doc_id, text, n_chars, string_split(text, ' ') AS w FROM documents
), scored AS (
  SELECT doc_id, len(w) AS n_tokens,
         CAST((CASE WHEN n_chars >= 100 AND n_chars <= 5000
                    THEN 40 ELSE 10 END)
         + (len(list_distinct(w))::DOUBLE / len(w)) * 30
         + (CASE WHEN len(list_intersect(list_distinct(w),
                    ['the','a','of','and','is'])) > 0 THEN 20 ELSE 0 END)
         + (CASE WHEN (LENGTH(text) - LENGTH(replace(replace(replace(
             replace(replace(replace(text,
             '.', ''), ',', ''), ';', ''), ':', ''), '!', ''), '?', '')))
             ::DOUBLE / LENGTH(text) <= 0.1 THEN 10 ELSE 0 END) AS DOUBLE)
           AS quality_score
  FROM t
), ranked AS (
  SELECT doc_id, n_tokens, quality_score,
         CAST(NTILE(4) OVER (ORDER BY quality_score DESC, doc_id) AS INT)
           AS phase
  FROM scored
)
SELECT doc_id, phase,
       ROW_NUMBER() OVER (PARTITION BY phase
                          ORDER BY quality_score DESC, doc_id) AS phase_pos,
       quality_score, CAST(n_tokens AS BIGINT) AS n_tokens
FROM ranked ORDER BY phase, phase_pos
"""


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (the multilingual-corpus
    standard from mBERT/mT5: sample source i with probability
    p_i^(1/T) / Σ p_j^(1/T), T>1 flattening the head so low-resource
    sources are not drowned) at T=2 — the companion of
    ``corpus_mix_weights``' uniform-target census for the case where the
    target is a REBALANCED version of the natural distribution rather
    than uniform.

    Portability: T=2 is chosen because p^(1/2) is ``sqrt`` — the ONE
    power IEEE 754 requires exactly rounded (general ``pow`` differs by
    ulps across libms and would break the oracle hash). The normalizer
    Σ sqrt(n_j) is a float sum whose ORDER is pinned on both engines:
    fold over the SORTED array of per-source values (Spark
    ``aggregate(array_sort(collect_list(...)))`` / DuckDB ``list_reduce
    (list_sort(...))`` — the text_fingerprint idiom), and the 0.0 init
    is exact (x + 0.0 never rounds), so both engines add the same
    doubles in the same sequence. Normalizing by Σ sqrt(n_j) instead of
    Σ sqrt(p_j) is the same distribution: the sqrt(total) factor
    cancels.

    Scale: per-source token counts are one map-side-partial agg; the
    sort/fold runs over an O(sources) array on one row — never data-
    sized. Output is O(sources).
    """
    d = ld(spark, sf_dir, "documents")
    per_src = (d.select(
        "source", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").alias("n_tokens")))
    norm = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(
                F.sqrt(F.col("n_tokens").cast("double")))),
            F.lit(0.0), lambda acc, v: acc + v).alias("sqrt_norm"))
    raw = F.col("n_tokens").cast("double") / F.col("total_tokens")
    temp = F.sqrt(F.col("n_tokens").cast("double")) / F.col("sqrt_norm")
    return (per_src.crossJoin(F.broadcast(norm))
            .select("source", "n_docs", "n_tokens",
                    raw.alias("raw_share"),
                    temp.alias("temp_share"),
                    (temp / raw).alias("boost"))
            .orderBy("source"))


ORACLE_TEMPERATURE_MIXTURE = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), norm AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         list_reduce(
           list_prepend(0.0, list_sort(list(sqrt(n_tokens::DOUBLE)))),
           (acc, v) -> acc + v) AS sqrt_norm
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       n_tokens::DOUBLE / total_tokens AS raw_share,
       sqrt(n_tokens::DOUBLE) / sqrt_norm AS temp_share,
       (sqrt(n_tokens::DOUBLE) / sqrt_norm)
         / (n_tokens::DOUBLE / total_tokens) AS boost
FROM per_src CROSS JOIN norm
ORDER BY source
"""


def quality_quantile_calibrate(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Cross-source quantile normalization of the shared composite
    quality score: each document's score is replaced by the GLOBAL
    score at its within-source quantile — the calibration a mixture
    policy needs before thresholding heterogeneous sources against one
    bar (a web crawl's "good" and a curated corpus's "good" sit at
    different raw scores; after mapping, the p-th percentile of every
    source lands on the same value, so a single cutoff keeps the same
    fraction of each source).

    Mapping is the rank rule (no interpolation — bitwise-portable order
    statistics, same rationale as agg_percentiles/events_mad_outliers):
    within-source rank r of n_s rows maps to the global order statistic
    at ordinal ceil(r·N/n_s), computed as exact integer
    ``(r·N + n_s − 1) div n_s``. The per-source rank rides
    ``scale.grouped_ranks`` (rewritten round 7 — a source-keyed window
    over ~8 fixed sources would sort an eighth of the corpus per task
    at any scale; the ordinal join key scales out where the source key
    cannot); the global order comes from ``scale.global_ranks`` — range
    shuffle + prefix offsets, never a single-partition window; the
    lookup is one equi-join on the ordinal. The normalized value is a
    score DuckDB computed through the identical expression, so the hash
    comparison is exact.
    """
    from .scale import global_ranks, grouped_ranks
    from .textstats import quality_score_expr

    # NULL text: no quality score to calibrate — ld_docs'
    # corrupted-shard contract (r11 nulldoc gate); a NULL raw_score
    # would poison both rank ladders; mirrored in the oracle
    d = ld_docs(spark, sf_dir)
    scored = d.select("doc_id", "source",
                      quality_score_expr().cast("double").alias("raw_score"))
    ranked, n = global_ranks(
        scored, [F.asc("raw_score"), F.asc("doc_id")], num_partitions=8)
    src = grouped_ranks(ranked, ["source"],
                        [F.asc("raw_score"), F.asc("doc_id")],
                        rank_col="r", num_partitions=8)
    ns = src.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # struct-packed join key: a plain "source" equi-join silently drops
    # the NULL-source group the window oracle keeps as its own
    # partition (r11 nulldoc gate) — struct equality compares NULL
    # fields as equal, same rationale as grouped_ranks' offset join
    src = (src.withColumn("__k", F.struct("source"))
           .join(F.broadcast(ns.withColumn("__k", F.struct("source"))
                             .drop("source")), "__k")
           .select("doc_id", "source", "raw_score", "r", "n_s"))
    lookup = ranked.select(F.col("global_rn").alias("g"),
                           F.col("raw_score").alias("norm_score"))
    return (src.withColumn(
        "g", F.expr(f"(r * {n}L + n_s - 1) div n_s"))
        .join(lookup, "g")
        .select("doc_id", "source", "raw_score", "norm_score")
        .orderBy("doc_id"))


ORACLE_QUANTILE_CALIBRATE = """
WITH t AS (
  SELECT doc_id, source, text, n_chars, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT doc_id, source,
         CAST((CASE WHEN n_chars >= 100 AND n_chars <= 5000
                    THEN 40 ELSE 10 END)
         + (len(list_distinct(w))::DOUBLE / len(w)) * 30
         + (CASE WHEN len(list_intersect(list_distinct(w),
                    ['the','a','of','and','is'])) > 0 THEN 20 ELSE 0 END)
         + (CASE WHEN (LENGTH(text) - LENGTH(replace(replace(replace(
             replace(replace(replace(text,
             '.', ''), ',', ''), ';', ''), ':', ''), '!', ''), '?', '')))
             ::DOUBLE / LENGTH(text) <= 0.1 THEN 10 ELSE 0 END) AS DOUBLE)
           AS raw_score
  FROM t
), ranked AS (
  SELECT doc_id, source, raw_score,
         ROW_NUMBER() OVER (ORDER BY raw_score, doc_id) AS g
  FROM scored
), src AS (
  SELECT doc_id, source, raw_score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY raw_score, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_s,
         (SELECT COUNT(*) FROM scored) AS n
  FROM scored)
SELECT s.doc_id, s.source, s.raw_score, l.raw_score AS norm_score
FROM src s JOIN ranked l ON l.g = (s.r * s.n + s.n_s - 1) // s.n_s
ORDER BY s.doc_id
"""

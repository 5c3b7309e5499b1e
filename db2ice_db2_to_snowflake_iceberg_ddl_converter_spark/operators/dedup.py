"""Deduplication operators over the ``documents`` table: exact, n-gram
Jaccard, containment, MinHash+LSH, SimHash, and embedding-cosine near-dup.

These are the training-data-pipeline operators (task north star; the
reference has no row plane). Exact dedup is one hash-groupBy on a
normalized key — Spark's partial aggregation emits one row per distinct
key per executor before the shuffle. Every near-dup member is one
skeleton, shingle → candidates → one exact verify → census or
components:

- **shingle**: ``doc_shingles`` — distinct word 3-grams per document, one
  Arrow-batched pass (NULL text has no shingles and drops out).
- **candidates**: either the inverted index (``_shingle_index``) self-
  joined on the shingle — NOT an O(n²) cross join, only pairs sharing a
  shingle meet — or LSH banding (``minhash_band_rows``: k=64 JVM-side
  xxhash64 min-aggregations, b=16 × r=4 bands, an equi-join on
  (band_idx, band_hash)). SimHash bands 64-bit fingerprints the same
  way (pigeonhole: hamming ≤ 3 ⇒ some 16-bit band equal).
- **verify**: the inverted-index members share ONE overlap-count stage,
  ``_overlap_counts`` → ``(id1, id2, n1, n2, n_common)``; each supplies
  only its pair predicate (with the size bound its score cut implies)
  and its score — Jaccard (``_jaccard_pairs``, also over the stop-
  shingle-pruned index) or containment. The banded members share ONE
  exact Jaccard verify, ``_verify_jaccard`` (``array_intersect`` on
  both joined-back shingle sets). SimHash verifies by exact hamming.
- **census or components**: each ``*_checked`` gate reads the exact-
  anchor census ``exact_anchor_census`` (Σ c·(c−1)/2 byte-identical
  pairs, how many of them were found, total found — also used by the
  pHash and embedding gates); the cluster entries run
  ``connected_components`` over the exact-collapsed pair graph.

Hot shingles skew the inverted-index join — at scale, drop top-frequency
shingles (``dedup_ngram_jaccard_pruned``); AQE skew-join splits the rest.
Embedding cosine: see operators/similarity.py for the ANN path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.types import ArrayType, StringType

from .relational import ld, ld_docs, ld_py
from .scale import pin, pin_lazy

NUM_MINHASHES = 64
LSH_BANDS = 16
ROWS_PER_BAND = NUM_MINHASHES // LSH_BANDS


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest id per exact key; generic single-shuffle dedup."""
    return (df.groupBy(*key_cols)
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("group_size")))


def dedup_exact_docs(spark, sf_dir):
    """Exact dedup of documents on normalized text (lower + trim)."""
    d = ld(spark, sf_dir, "documents")
    return (d.select(F.trim(F.lower("text")).alias("norm_text"), "doc_id")
            .groupBy("norm_text")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("group_size"))
            .select("keep_id", "group_size"))


ORACLE_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size
FROM documents GROUP BY TRIM(LOWER(text))
"""


# ---------------------------------------------------------------------------
# the skeleton's shared stages
# ---------------------------------------------------------------------------

def _shingle_udf(n: int):
    """Arrow-batched shingler: distinct word n-grams, first-occurrence order
    (whitespace semantics match DuckDB's ``string_split(text, ' ')`` —
    literal single-space split)."""

    @F.pandas_udf(ArrayType(StringType()))
    def shingle(text: pd.Series) -> pd.Series:
        def sh(t: str) -> list[str]:
            w = t.split(" ")
            return list(dict.fromkeys(
                " ".join(w[i:i + n]) for i in range(len(w) - n + 1)))
        return text.map(sh)

    return shingle


def doc_shingles(spark, sf_dir, n: int = 3) -> DataFrame:
    """doc_id → distinct word n-grams. Arrow/pandas path: shingling is a
    per-row string op — embarrassingly parallel, no shuffle — and the
    vectorized UDF keeps it off the interpreted HOF evaluator."""
    d = ld_docs(spark, sf_dir, py=True)   # NULL text: no shingles — drop
    return d.select("doc_id", _shingle_udf(n)("text").alias("shingles"))


def _shingle_index(sh: DataFrame) -> DataFrame:
    """Inverted index ``(doc_id, n_shingles, shingle)`` of a
    ``(doc_id, shingles)`` frame; ``n_shingles`` is the full set size."""
    return (sh.withColumn("n_shingles", F.size("shingles"))
            .select("doc_id", "n_shingles",
                    F.explode("shingles").alias("shingle")))


def _overlap_counts(inv: DataFrame, pair_pred: Column) -> DataFrame:
    """The overlap-count stage: ``(id1, id2, n1, n2, n_common)`` for every
    pair of index rows that shares a shingle and passes ``pair_pred``
    (over ``id1, id2, n1, n2``). The predicate carries the caller's size
    bound; evaluated at the join probe it prunes hopeless pairs before
    the aggregation, so the stage stays exact whenever the bound is
    implied by the caller's score cut. Integer counts keep every score
    division bitwise-exact, so the DuckDB oracles hash-match."""
    a = inv.select(F.col("doc_id").alias("id1"),
                   F.col("n_shingles").alias("n1"), "shingle")
    b = inv.select(F.col("doc_id").alias("id2"),
                   F.col("n_shingles").alias("n2"), "shingle")
    # an inner join: the optimizer moves pair_pred into the join condition
    return (a.join(b, "shingle").filter(pair_pred)
            .groupBy("id1", "id2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("n_common")))


def _jaccard_pairs(inv: DataFrame, threshold: float,
                   score: str = "jaccard") -> DataFrame:
    """``(id1 < id2, score)`` pairs of the index ``inv`` with
    |∩| / (n1 + n2 − |∩|) ≥ ``threshold``."""
    t = F.lit(threshold)
    # Size bound: J ≥ t, |∩| ≤ min(n1, n2) and |∩| ≥ t·union ⇒
    # t·max(n1, n2) ≤ min(n1, n2).
    counts = _overlap_counts(inv, (F.col("id1") < F.col("id2"))
                             & (t * F.col("n1") <= F.col("n2"))
                             & (t * F.col("n2") <= F.col("n1")))
    jaccard = (F.col("n_common").cast("double")
               / (F.col("n1") + F.col("n2") - F.col("n_common")))
    return (counts.select("id1", "id2", jaccard.alias(score))
            .filter(F.col(score) >= threshold))


def _jaccard_pair_graph(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard ≥ ``threshold`` pairs ``(id1, id2, jaccard)`` over a
    pinned ``(doc_id, shingles)`` frame. Shared by
    :func:`dedup_ngram_jaccard` (all docs) and the exact-collapsed
    cluster entries (distinct shingle sets only)."""
    return _jaccard_pairs(_shingle_index(sh), threshold)


def _verify_jaccard(cands: DataFrame, sh: DataFrame, threshold: float,
                    ids: tuple = ("id1", "id2")) -> DataFrame:
    """The exact Jaccard verify of banded candidates: ``(*ids, jaccard)``
    for the candidate pairs whose shingle sets (joined back from ``sh``
    on both sides) have exact Jaccard ≥ ``threshold``."""
    sized = sh.select("doc_id", "shingles", F.size("shingles").alias("ns"))
    j = cands
    for side, i in enumerate(ids, start=1):
        j = j.join(sized.select(F.col("doc_id").alias(i),
                                F.col("shingles").alias(f"sh{side}"),
                                F.col("ns").alias(f"n{side}")), i)
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = inter.cast("double") / (F.col("n1") + F.col("n2") - inter)
    return (j.select(*ids, jaccard.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def exact_anchor_census(universe: DataFrame, key: str, pairs: DataFrame,
                        names: tuple = ("n_exact_text_pairs",
                                        "near_ge_exact"),
                        ids: tuple = ("id1", "id2"),
                        id_col: str = "doc_id",
                        anchor: Column | None = None,
                        extra_aggs: tuple = ()) -> DataFrame:
    """The exact-anchor census of the near-dup ``*_checked`` gates: rows
    of ``universe`` with a byte-identical ``key`` are exact duplicates
    that every correct near-dup method must pair, so a gate reduces its
    hash-derived pair list to one oracle-checkable row:

    - ``names[0]``: Σ c·(c−1)/2 over the key groups (the exact pairs,
      group-wise — no all-pairs);
    - ``all_exact_pairs_found``: every exact pair appears in ``pairs``
      (restricted to ``anchor`` when given, e.g. hamming 0);
    - ``names[1]``: found pairs ≥ exact pairs in count;
    - one column per ``extra_aggs`` aggregate over ``pairs``.

    ``pairs`` is read twice (pin it)."""
    n_exact = (universe.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
               .agg(F.coalesce(F.sum(F.expr("c * (c - 1) / 2")
                                     .cast("long")),
                               F.lit(0)).alias("n_exact")))
    keyed = [universe.select(F.col(id_col).alias(i),
                             F.col(key).alias(f"k{s}"))
             for s, i in enumerate(ids)]
    found = pairs if anchor is None else pairs.filter(anchor)
    found_exact = (found.join(keyed[0], ids[0]).join(keyed[1], ids[1])
                   .filter(F.col("k0") == F.col("k1"))
                   .agg(F.count(F.lit(1)).alias("n_found_exact")))
    n_found = pairs.agg(F.count(F.lit(1)).alias("n_found_total"),
                        *extra_aggs)
    return (n_exact.crossJoin(F.broadcast(found_exact))
            .crossJoin(F.broadcast(n_found))
            .select(F.col("n_exact").alias(names[0]),
                    (F.col("n_found_exact") == F.col("n_exact"))
                    .alias("all_exact_pairs_found"),
                    (F.col("n_found_total") >= F.col("n_exact"))
                    .alias(names[1]),
                    *n_found.columns[1:]))


# ---------------------------------------------------------------------------
# inverted-index members: exact n-gram Jaccard and containment
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via an
    inverted-index join (see :func:`_jaccard_pair_graph`)."""
    # The shingle frame feeds both join sides — without a pin the
    # shingling UDF executes twice. persist(DISK_ONLY), not
    # localCheckpoint: shingling is a pure per-row function of the
    # parquet scan, so a lost partition RECOMPUTES identically from
    # lineage (cluster-fault-safe), whereas a checkpoint pins blocks to
    # executor storage that executor loss cannot rebuild.
    sh = doc_shingles(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    return _jaccard_pair_graph(sh, threshold=0.5)


ORACLE_DEDUP_NGRAM = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM w
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) AS jaccard
FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
"""


def dedup_containment(spark, sf_dir, threshold: float = 0.8):
    """Directional containment near-dup pairs: C(A→B) = |A∩B| / |A| over
    distinct word 3-grams, pairs with C ≥ 0.8. The asymmetric twin of
    ``dedup_ngram_jaccard``: a short document quoted inside a much longer
    one has high containment but low Jaccard (the union is dominated by
    the long doc), so Jaccard-only dedup misses exactly the
    quote-expansion / boilerplate-wrapping duplicates that training-data
    curation most wants caught (reference query surface: app.py's
    dedup-adjacent assessment paths size tables, not content — the data
    plane generalizes them).

    Shape: the shared overlap-count stage (:func:`_overlap_counts`) with
    the containment pair rule — id1 ≠ id2, and the size bound C ≥ t and
    |∩| ≤ n2 ⇒ n2 ≥ t·n1, pruned AT THE JOIN PROBE before aggregation.

    Emits the directional pair (id1 contained-in id2, id1 ≠ id2, both
    directions possible) — downstream the containment graph feeds the
    same connected-components representative pick as the other families.
    """
    # one shingling pass feeds both join sides (see dedup_ngram_jaccard)
    sh = doc_shingles(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    counts = _overlap_counts(
        _shingle_index(sh),
        (F.col("id1") != F.col("id2"))
        & (F.col("n2").cast("double") >= F.lit(threshold) * F.col("n1")))
    cont = F.col("n_common").cast("double") / F.col("n1").cast("double")
    return (counts.select("id1", "id2", cont.alias("containment"))
            .filter(F.col("containment") >= threshold)
            .orderBy("id1", "id2"))


ORACLE_DEDUP_CONTAINMENT = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM w
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       COUNT(*)::DOUBLE / a.ns::DOUBLE AS containment
FROM inv a JOIN inv b
  ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  AND b.ns::DOUBLE >= 0.8 * a.ns
GROUP BY a.doc_id, b.doc_id, a.ns
HAVING COUNT(*)::DOUBLE / a.ns::DOUBLE >= 0.8
ORDER BY id1, id2
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB path)
# ---------------------------------------------------------------------------

def minhash_signatures(shingled: DataFrame,
                       num_hashes: int = NUM_MINHASHES,
                       carry: tuple = ()) -> DataFrame:
    """k min-aggregations over each shingle set: one base xxhash64 per
    shingle string, then k derived hashes ``xxhash64(h, i)`` — the string
    is hashed once and the k family members are integer-only re-mixes
    (overflow-free under ANSI mode, unlike an affine a·h+b family).

    Shape: one ``explode`` → one base hash per row → ``groupBy(doc_id)
    .agg(k × min)``. Everything is codegen'd integer arithmetic and the k
    mins are map-side partial aggregations, so each executor emits one
    signature row per doc before the (tiny) shuffle. Docs with an empty
    shingle set (< n words) drop out here; they can never reach a
    Jaccard ≥ threshold pair anyway (0/0 → null).

    ``carry``: doc-level columns (functionally dependent on doc_id, e.g.
    ``source``) to ride through the aggregation as extra group keys —
    grouping is unchanged because each doc has exactly one value, and the
    caller skips a whole doc-keyed join to re-attach them (r12
    optimization round, guide §2.4).
    """
    ex = (shingled.select("doc_id", *carry,
                          F.explode("shingles").alias("s"))
          .select("doc_id", *carry, F.xxhash64("s").alias("h")))
    sig_aggs = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("doc_id", *carry).agg(*sig_aggs)


def minhash_band_rows(signatures: DataFrame,
                      bands: int = LSH_BANDS,
                      rows_per_band: int = ROWS_PER_BAND,
                      carry: tuple = ()) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows — each band hash covers
    ``rows_per_band`` minhashes. Shared by the corpus self-join
    (``minhash_lsh_candidates``) and the incremental batch-vs-corpus
    probe (``dedup_incremental_minhash``). ``carry`` columns (see
    ``minhash_signatures``) ride through the explode unchanged."""
    return signatures.select(
        "doc_id", *carry,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}")
                                  for r in range(rows_per_band)])
                     .alias("band_hash"))
            for b in range(bands)
        ])).alias("band")
    ).select("doc_id", *carry, "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(signatures: DataFrame,
                           bands: int = LSH_BANDS,
                           rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """Band the signature, equi-join on (band_idx, band_hash).

    Docs agreeing on any band become candidates. The join key is
    (band_idx, band_hash) so bucket sizes stay tiny on a DISTINCT corpus
    and the shuffle is uniform — this is what makes near-dup search
    linear-ish at 100 TB instead of quadratic. Caveat: the pair OUTPUT
    is Θ(m²) under an m-clone duplicate flood (identical texts share
    every band, and every clone pair is a true near-dup pair, so any
    correct pair-emitting operator pays it). The flood-linear production
    path is the cluster form — ``dedup_clusters`` /
    ``dedup_keep_representatives`` exact-collapse identical shingle sets
    to one representative BEFORE any pair join.
    """
    band_rows = minhash_band_rows(signatures, bands, rows_per_band)
    a = band_rows.select(F.col("doc_id").alias("id1"), "band_idx", "band_hash")
    b = band_rows.select(F.col("doc_id").alias("id2"), "band_idx", "band_hash")
    return (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2").distinct())


def dedup_minhash_lsh(spark, sf_dir, threshold: float = 0.5):
    """LSH candidates verified with exact Jaccard ≥ threshold
    (:func:`_verify_jaccard`).

    Non-SQL-expressible op (checked rows-only by the driver; pytest verifies
    it recovers exactly the brute-force pair set on the fixture data).
    """
    # one shingling pass total: signatures + both verify sides reuse it
    # (three separate lineage executions otherwise). persist(DISK_ONLY),
    # not localCheckpoint: the frame is corpus-sized and per-row
    # deterministic, so lineage recompute on executor loss is exact —
    # see dedup_ngram_jaccard. The signatures are NOT pinned: the band
    # self-join's two sides share one shuffle via ReusedExchange, so the
    # 64-min agg already runs once — a pin there only adds
    # materialization cost (measured +0.5 s at sf0.1).
    sh = doc_shingles(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    cands = minhash_lsh_candidates(minhash_signatures(sh))
    return _verify_jaccard(cands, sh, threshold).orderBy("id1", "id2")


def dedup_minhash_lsh_checked(spark, sf_dir,
                              threshold: float = 0.5) -> DataFrame:
    """Partial-oracle form of :func:`dedup_minhash_lsh` (round 9 — the
    last of the near-dup family to leave rows-only; same pattern as
    :func:`dedup_simhash_checked`): the banded candidate set is
    xxhash64-derived, but byte-identical texts with a NON-EMPTY shingle
    set (≥ 3 space-split words) have identical signatures, every band
    colliding, and exact Jaccard 1 ≥ threshold — so each such
    identical-text pair MUST be in the verified pair set. The census row
    (:func:`exact_anchor_census`) carries ``n_exact_text_pairs`` (DuckDB:
    Σ c·(c−1)/2 over text groups) on the hash gate plus the two
    structural booleans the oracle asserts TRUE. The pair-list core
    stays as :func:`dedup_minhash_lsh` for the brute-force pair-set
    pytest (which pins full recall on fixtures — stronger than this
    gate, but not portable to the driver's hash compare)."""
    # pin: the census reads the pair list twice (the multi-consumer rule)
    pairs = pin(dedup_minhash_lsh(spark, sf_dir, threshold=threshold))
    # census over the SAME universe the core shingles: NULL-text rows are
    # dropped on both sides (degenerate-input contract), else a corrupted
    # shard's NULL group would mint exact pairs no shingle path can find.
    # Likewise docs with < 3 space-split words (r9 dupflood sweep): their
    # shingle set is EMPTY, so byte-identical pairs among them are
    # invisible to ANY shingle-based method by construction — their dedup
    # path is dedup_exact, not LSH — and counting them would fail the
    # gate on a corpus flooded with identical short docs.
    d = (ld_docs(spark, sf_dir).select("doc_id", "text")
         .filter(F.size(F.split("text", " ")) >= 3))
    return exact_anchor_census(d, "text", pairs)


ORACLE_MINHASH_LSH_CHECKED = """
SELECT CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT)
         AS n_exact_text_pairs,
       TRUE AS all_exact_pairs_found,
       TRUE AS near_ge_exact
FROM (SELECT COUNT(*) AS c FROM documents
      WHERE len(string_split(text, ' ')) >= 3 GROUP BY text)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(spark, sf_dir) -> DataFrame:
    """64-bit SimHash per document as 4×16-bit bands.

    Per word: xxhash64 → 64 bit-votes (+1/−1); per document: vote sums per
    bit; fingerprint bit b = (vote_b > 0). Assembled as four 16-bit integer
    bands so LSH banding and hamming math stay in plain integer columns.
    One explode + one groupBy — the 64 per-bit sums are map-side partial aggs.
    """
    d = ld_docs(spark, sf_dir)            # NULL text: no votes — drop
    # hash each word ONCE in the projection — embedding xxhash64(w) inside
    # all 64 aggregate expressions would re-hash the string 64× per row
    words = (d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
             .select("doc_id", F.xxhash64("w").alias("h")))
    vote_aggs = [
        F.sum(F.when(F.shiftright("h", bit).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"v{bit}")
        for bit in range(64)
    ]
    votes = words.groupBy("doc_id").agg(*vote_aggs)
    band_cols = []
    for band in range(4):
        expr = F.lit(0)
        for off in range(16):
            bit = band * 16 + off
            expr = expr + F.when(F.col(f"v{bit}") > 0,
                                 F.lit(1 << off)).otherwise(0)
        band_cols.append(expr.alias(f"band{band}"))
    return votes.select("doc_id", *band_cols)


def dedup_simhash(spark, sf_dir, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band equi-join (pigeonhole over 4 bands ⇒
    any pair with hamming ≤ 3 shares a band) + exact hamming filter.
    Non-SQL-expressible op (rows-only driver check; pytest asserts the
    pigeonhole recall property on fixtures)."""
    # both sides of the band self-join derive from the fingerprints —
    # pin so the 64-agg vote pass runs once, not once per side.
    # persist(DISK_ONLY): per-row deterministic hash votes, lineage
    # recompute on executor loss is exact (see dedup_ngram_jaccard).
    fp = simhash_fingerprints(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    bands = fp.select(
        "doc_id", "band0", "band1", "band2", "band3",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_idx"),
                     F.col(f"band{i}").alias("band_val"))
            for i in range(4)
        ])).alias("b")
    ).select("doc_id", "band0", "band1", "band2", "band3",
             "b.band_idx", "b.band_val")
    a = bands.select(*[F.col(c).alias(f"{c}_1") for c in
                       ("doc_id", "band0", "band1", "band2", "band3")],
                     "band_idx", "band_val")
    b = bands.select(*[F.col(c).alias(f"{c}_2") for c in
                       ("doc_id", "band0", "band1", "band2", "band3")],
                     "band_idx", "band_val")
    hamming = sum(
        F.bit_count(F.col(f"band{i}_1").bitwiseXOR(F.col(f"band{i}_2")))
        for i in range(4))
    return (a.join(b, ["band_idx", "band_val"])
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .select(F.col("doc_id_1").alias("id1"),
                    F.col("doc_id_2").alias("id2"),
                    hamming.alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
            .orderBy("id1", "id2"))


def dedup_simhash_checked(spark, sf_dir, max_hamming: int = 3) -> DataFrame:
    """Partial-oracle form of :func:`dedup_simhash` (round 9, the
    :func:`multimodal.multimodal_phash_neardup_checked` pattern): the pair
    list itself is xxhash64-derived (no DuckDB twin), but its exact anchor
    IS recomputable — byte-identical texts produce identical 256-bit
    fingerprints, hence hamming 0, hence every band collides — so each
    identical-text pair MUST appear in the found set at hamming 0. The
    census row carries ``n_exact_text_pairs`` (DuckDB: Σ c·(c−1)/2 over
    text groups) on the hash gate plus two structural booleans asserted
    TRUE by the oracle: ``all_exact_pairs_found`` and ``near_ge_exact``.
    The pair-list core stays as :func:`dedup_simhash` for the pigeonhole
    recall pytest."""
    # pin: the pair list (the expensive band join + verify) feeds TWO
    # consumers in the census — without the pin each would replay the
    # whole pipeline (the multi-consumer rule)
    pairs = pin(dedup_simhash(spark, sf_dir, max_hamming=max_hamming))
    # same-universe census as the fingerprint path: NULL text drops
    d = ld_docs(spark, sf_dir).select("doc_id", "text")
    return exact_anchor_census(d, "text", pairs,
                               anchor=F.col("hamming") == 0)


ORACLE_SIMHASH_CHECKED = """
SELECT CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT)
         AS n_exact_text_pairs,
       TRUE AS all_exact_pairs_found,
       TRUE AS near_ge_exact
FROM (SELECT COUNT(*) AS c FROM documents
      WHERE text IS NOT NULL GROUP BY text)
"""


# ---------------------------------------------------------------------------
# dedup clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(nodes: DataFrame, edges: DataFrame,
                         node_col: str = "id", src: str = "id1",
                         dst: str = "id2",
                         max_iter: int | None = 1000) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends with the
    smallest node id reachable from it (its cluster id).

    Iterations are whole DataFrame jobs — label(v) ← min(label(v),
    min label over neighbors) — so one iteration is one shuffle regardless
    of graph size; the loop runs O(component diameter) times, and near-dup
    graphs have tiny diameters (dup clusters are near-cliques). Each round
    is ``localCheckpoint``-ed: persisting alone keeps the data but lets the
    logical plan grow exponentially across iterations (analysis time blows
    up after ~10 rounds); checkpointing truncates lineage. The truncation
    routes through the reliable-pin seam (``scale.pin``, r9): with a
    session checkpoint dir configured the per-round state survives
    executor loss; without one it is a localCheckpoint (fail-stop, the
    documented local-mode tradeoff).

    The loop runs to FIXPOINT (labels only decrease and are bounded
    below, so the decreasing label-sum witness guarantees termination
    in ≤ diameter rounds) — the same contract as ``graph.graph_kcore``
    after its r7 fix: a silent round cap would return labels that are
    not yet components on a deeper-than-expected graph. ``max_iter`` is
    a guardrail that RAISES instead of returning a wrong answer; the
    default (1000, r7 ADVICE) is generous — far above any near-dup
    cluster diameter — so a pathological chain-shaped graph fails loudly
    in bounded time instead of spinning one shuffle per diameter hop;
    ``max_iter=None`` removes the rail entirely. If a corpus ever shows
    chain-shaped dup clusters (diameter ~ corpus size), the O(log n)
    pointer-doubling formulation (``graph.transitive_roots``) is the
    route, not a bigger cap.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))))
    # edges re-enter the plan every iteration — persist once so the (often
    # expensive) pair-generation lineage never re-executes
    sym = sym.persist()
    labels = nodes.select(F.col(node_col).alias("node"),
                          F.col(node_col).alias("label")).persist()
    # labels only ever decrease, so the integer label-sum is a strictly
    # decreasing fixpoint witness: one cheap agg per round, no extra join
    prev_sum = labels.agg(F.sum("label")).first()[0]
    rounds = 0
    while True:
        neighbor_min = (sym.join(labels, sym.b == labels.node)
                        .groupBy(F.col("a").alias("node"))
                        .agg(F.min("label").alias("nbr_label")))
        # LAZY reliable-pin seam (r9 contract, r13 pin_lazy): identical
        # lineage truncation, but the round's blocks materialize with
        # the label-sum witness job right below — one blocking job per
        # round instead of pin + agg (measured 1.14x on the collapse
        # rail's CC with identical labels; with a checkpoint dir the
        # eager reliable pin is unchanged)
        new_labels = pin_lazy(labels.join(neighbor_min, "node", "left")
                              .select("node",
                                      F.least("label",
                                              F.coalesce("nbr_label",
                                                         "label"))
                                      .alias("label")))
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
        rounds += 1
        if max_iter is not None and rounds >= max_iter:
            sym.unpersist()
            raise RuntimeError(
                f"label propagation not at fixpoint after {max_iter} "
                "rounds — deep-diameter graph; use pointer doubling "
                "(graph.transitive_roots) instead of raising the cap")
    sym.unpersist()
    return labels


def exact_collapse_shingles(sh: DataFrame) -> tuple:
    """Quotient the corpus by identical shingle SETS before any pair
    join. Returns ``(member, reps)``:

    - ``member``: ``(doc_id, rep_id)`` for every doc with a NON-empty
      shingle set — ``rep_id`` is the min doc_id among docs sharing the
      same sorted shingle set. Docs with an empty or NULL set are
      ABSENT (they never enter the pair graph; callers' final
      full-corpus left-join coalesces them to their own id, exactly the
      singleton semantics the old in-frame form gave them).
    - ``reps``: ``(doc_id, shingles)`` — one row per distinct non-empty
      shingle set, carrying the set ONCE for the pair graph.

    This is the duplicate-flood rail: a boilerplate page copied m times
    puts m rows in every posting list it touches, so the inverted-index
    self-join (and LSH band buckets alike) emits Θ(m²) candidate rows.
    Collapsing first makes the flood cost ONE representative in the pair
    graph plus an O(m) membership expansion at the end. Output-exact for
    any Jaccard threshold ≤ 1.0: identical shingle sets have Jaccard
    exactly 1.0 (always an edge), and for members a∈G₁, b∈G₂,
    J(a,b) = J(rep₁, rep₂), so components are the quotient-graph
    components and the min-label of a component equals the min over its
    reps (each rep is its group's min doc_id).

    Shuffle-payload discipline (r10, the r9 verdict's watch item): the
    old form windowed over the full sorted array, shipping EVERY row's
    shingle set through the exchange with no map-side combine — a long-
    document flood paid m full-array rows. Now the arrays cross a
    shuffle exactly once, map-side combined (the ``groupBy(h, sset)``
    min-agg collapses each mapper's clones before the wire), and the
    per-doc rep attachment ships 16-byte ``(doc_id, h)`` rows: the
    bucket census proves which 64-bit buckets hold exactly one distinct
    set (in practice all of them), those take the hash-key equi-join,
    and the (astronomically rare, but handled EXACTLY) multi-set
    buckets fall back to the full array-equality join — so a genuine
    xxhash64 collision degrades performance on those rows only, never
    correctness. The quotient frame is eagerly pinned (GC-scoped
    blocks): it feeds the census and both join paths plus the rep
    extraction, and pinning keeps the one array-shuffle single-pass.
    """
    sized = (sh.select("doc_id", F.array_sort("shingles").alias("sset"))
             .filter(F.col("sset").isNotNull() & (F.size("sset") > 0))
             .withColumn("h", F.xxhash64("sset")))
    # One shingle-UDF pass feeds BOTH eager pins (quotient + 16-byte
    # probe), then releases — without the transient persist the probe
    # pin would re-run the UDF and re-ship every document text through
    # the loader's round-robin exchange (measured: the second 44.5 MB
    # stage on the 2000-clone flood).
    sized = sized.persist(StorageLevel.DISK_ONLY)
    # The persist stays live through the collision DECISION (r11,
    # ADVICE): the rare branch below reads sized, and unpersisting in a
    # finally before the branch meant a genuine 64-bit collision would
    # re-execute the entire shingle-UDF lineage — correct (the lineage
    # is deterministic) but an unbounded perf cliff on exactly the
    # flood rail this function exists to protect. Both branches now
    # release the blocks themselves: immediately in the collision-free
    # branch, after the rare frame is pinned (materialized from the
    # still-hot blocks) in the collision branch.
    try:
        grouped = pin(sized.groupBy("h", "sset")
                      .agg(F.min("doc_id").alias("rep_id")))
        # The probe pin is UNCONDITIONAL — a size gate was proposed
        # (r10 verdict task 4, hypothesis: fixed pin cost dominates at
        # small scale) and REFUTED by measurement (r11, BASELINE.md):
        # warm alternating runs put pin FASTER at sf0.1 too (5.7 s vs
        # 6.5 s end-to-end split_leakage_safe — skipping the pin makes
        # every member consumer replay the probe lineage after the
        # finally-unpersist, which costs more than the 16-byte
        # checkpoint at every measured size).
        probe = pin(sized.select("doc_id", "h"))
        collide = (grouped.groupBy("h")
                   .agg(F.count(F.lit(1)).alias("n_sets"))
                   .filter(F.col("n_sets") >= 2)
                   .select("h"))
        # One bounded scalar job over the PINNED quotient decides
        # whether a 64-bit collision exists at all. In the
        # (overwhelmingly normal) collision-free case, member is just
        # the hash-key probe join — the rare branch is never even
        # planned (r10 review find: the previous always-unioned form
        # relied on AQE empty-relation propagation to skip the scan;
        # with AQE off it re-ran the whole shingle UDF for an empty
        # join on every call).
        if collide.limit(1).count() == 0:
            member = probe.join(grouped.select("h", "rep_id"), "h") \
                          .select("doc_id", "rep_id")
        else:
            safe = (probe.join(F.broadcast(collide), "h", "left_anti")
                    .join(grouped.join(F.broadcast(collide), "h",
                                       "left_anti")
                          .select("h", "rep_id"), "h")
                    .select("doc_id", "rep_id"))
            # pin → eager: the full-array fallback join reads sized's
            # persisted blocks NOW, so releasing them in the finally
            # cannot trigger a lineage replay later.
            rare = pin(sized.join(F.broadcast(collide), "h", "left_semi")
                       .join(grouped.select("h", "sset", "rep_id"),
                             ["h", "sset"])
                       .select("doc_id", "rep_id"))
            member = safe.unionByName(rare)
    finally:
        sized.unpersist()
    reps = grouped.select(F.col("rep_id").alias("doc_id"),
                          F.col("sset").alias("shingles"))
    return member, reps


def _collapsed_component_labels(spark, sf_dir,
                                threshold: float = 0.5) -> DataFrame:
    """(doc_id, rep_id, label) for every document: exact-collapse by
    shingle set, run the Jaccard pair graph + connected components over
    representatives only, then expand labels back over the membership.
    See :func:`exact_collapse_shingles` for the output-exactness
    argument (requires threshold ≤ 1.0, asserted)."""
    if threshold > 1.0:
        raise ValueError(
            f"exact-collapse requires threshold <= 1.0 (got {threshold}): "
            "identical shingle sets must always form an edge")
    # member (doc_id, rep_id) has ONE consumer (the label expansion) and
    # reps rides the collapse's pinned quotient frame — the r9 member/reps
    # DISK_ONLY persists are gone with the r10 hash-probe collapse
    # (shingle arrays cross one map-side-combined shuffle inside it).
    member, reps = exact_collapse_shingles(doc_shingles(spark, sf_dir))
    # reps feeds the pair graph AND the CC node list: persist, then
    # release as soon as the EAGER connected_components returns (r10,
    # ADVICE — persist without unpersist leaks for the session).
    reps_p = reps.persist(StorageLevel.DISK_ONLY)
    pairs = _jaccard_pair_graph(reps_p, threshold).select("id1", "id2")
    labels = connected_components(reps_p.select("doc_id"), pairs,
                                  node_col="doc_id")
    reps_p.unpersist()
    expanded = (member.join(
        labels.select(F.col("node").alias("rep_id"), "label"), "rep_id"))
    # The node universe is EVERY document, not just the shingled ones:
    # doc_shingles drops NULL-text rows (degenerate-input contract), but
    # the cluster entries have always emitted those docs as singletons
    # (own doc_id as label) and the naive oracles seed reach from the
    # full documents table — left-join them back (r9 self-review find).
    full = ld(spark, sf_dir, "documents").select("doc_id")
    # Docs absent from member (empty/NULL shingle sets — the collapse
    # never sees them) coalesce to their own id here, exactly the
    # singleton semantics the pre-r10 in-frame form gave them.
    return (full.join(expanded, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("rep_id", F.col("doc_id")).alias("rep_id"),
                    F.coalesce("label", F.col("doc_id")).alias("label")))


def dedup_clusters(spark, sf_dir, threshold: float = 0.5):
    """Near-dup cluster assignment: connected components over the exact
    3-gram-Jaccard ≥ 0.5 pair graph; every document gets the min doc_id of
    its component as ``cluster_id`` (singletons keep their own id). This is
    the step that turns pairwise dedup into "keep one per cluster" at
    pipeline scale.

    Runs exact-collapse-first (:func:`_collapsed_component_labels`): the
    pair join and label propagation see one row per distinct shingle set,
    so a duplicate flood costs O(m), not Θ(m²) candidate rows. Output is
    provably identical to pairing over the raw corpus."""
    return (_collapsed_component_labels(spark, sf_dir, threshold)
            .select("doc_id", F.col("label").alias("cluster_id"))
            .orderBy("doc_id"))


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS wl FROM documents)
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
  HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
), edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs
), reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def dedup_embedding_cosine(spark, sf_dir, threshold: float = 0.4):
    """Embedding near-dup pairs with cosine ≥ threshold (0.4 sits in
    the top tail of the fixture embedding distribution).

    Two-phase exact search (the shape that survives scale-up):

    1. **Blocked candidate scan** — ``all_pairs_cosine_blocked``
       (similarity.py): cogrouped block nested-loop, one BLAS matmul per
       block pair, NO driver-side collect or whole-table broadcast — the
       corpus never has to fit on one machine. The threshold is relaxed by
       1e-9 so BLAS float reassociation can never drop a qualifying pair;
       it still prunes ~99.95% of the n² pairs.
    2. **Exact verify** — the surviving pairs get the sequential-left-fold
       cosine (bitwise-identical to DuckDB's ``list_cosine_similarity``)
       and the exact ≥ threshold cut, so emitted values and the boundary
       decision are oracle-exact.

    All-pairs is quadratic by definition — this operator is the exact
    baseline; the sub-quadratic scale path is sign-LSH in
    operators/similarity.py. (Round-1 verdict: the previous phase 1
    collect()ed the table to the driver — the one scale-killer; the
    blocked scan is now the default.)
    """
    from .relational import ld_vecs_dir
    from .similarity import all_pairs_cosine_blocked, cosine_expr, norm_expr

    e = ld_vecs_dir(spark, sf_dir)
    # emit_scores=False: only the pair ids are consumed here (the exact
    # verify recomputes cosine), and dropping an output column downstream
    # trips a Catalyst input-pruning hazard on the cogroup — see
    # all_pairs_cosine_blocked's docstring.
    cands = all_pairs_cosine_blocked(e, threshold=threshold - 1e-9,
                                     emit_scores=False)
    sized = e.select("vec_id", "embedding",
                     norm_expr("embedding").alias("nrm"))
    j = (cands
         .join(sized.select(F.col("vec_id").alias("id1"),
                            F.col("embedding").alias("ea"),
                            F.col("nrm").alias("na")), "id1")
         .join(sized.select(F.col("vec_id").alias("id2"),
                            F.col("embedding").alias("eb"),
                            F.col("nrm").alias("nb")), "id2"))
    cos = cosine_expr("ea", "eb", na=F.col("na"), nb=F.col("nb"))
    return (j.select("id1", "id2", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .orderBy("id1", "id2"))


def dedup_ngram_jaccard_pruned(spark, sf_dir, threshold: float = 0.5,
                               max_df: float = 0.05):
    """The stop-shingle variant of :func:`dedup_ngram_jaccard` — the skew
    mitigation the module header prescribes for 100 TB, implemented.

    A shingle appearing in more than ``max_df`` of all documents joins
    |hot|·avg_df² candidate pairs on its own (boilerplate headers, license
    blocks); dropping those shingles BEFORE the inverted-index join bounds
    every bucket at max_df·n and removes the quadratic hot-key blowup.
    Denominators keep the FULL set sizes, so the emitted score is a lower
    bound of true Jaccard: pruning trades bounded recall (pairs whose
    overlap hides in boilerplate) for join uniformity — never precision.
    Deterministic, so the DuckDB oracle replicates the pruning exactly.
    The pruned index takes the same Jaccard stage as the full one
    (:func:`_jaccard_pairs`), so its size bound follows ``threshold``.

    AT-SCALE POLICY (the r6 verdict's ask, decided round 7): this exact
    inverted-index path is the ≤~1 SF *auditing* tool; **MinHash+LSH
    (:func:`dedup_minhash_lsh`) is the designated ≥10× production
    route**. The cost here is intrinsic pair-OUTPUT, not plan shape: the
    r6 10× smoke (BASELINE.md) measured 22.3 s for this entry against
    6.8 s for LSH *emitting the same 250,600 pairs* — exact pairwise
    verification pays once per real pair, and a duplicate-heavy corpus
    makes the pair set itself explode (~100× at 10×). Capping per-gram
    posting lists cannot change that (the df-prune above already removes
    the hot grams; the remaining cost is the true-positive pairs), so
    the policy is route selection, not a deeper cap: audits and
    threshold calibration run this entry on a sample; corpus-scale
    dedup runs LSH banding and (optionally) exact-verifies only the
    banded candidates.
    """
    # persist(DISK_ONLY), same contract as dedup_ngram_jaccard: corpus-
    # sized but one deterministic hop from the scan -> recoverable.
    sh = doc_shingles(spark, sf_dir).persist(StorageLevel.DISK_ONLY)
    n_docs = sh.count()
    inv = _shingle_index(sh)
    hot = (inv.groupBy("shingle")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > max_df * n_docs)
           .select("shingle"))
    # broadcast anti-join: the hot list is tiny by construction
    pruned = inv.join(F.broadcast(hot), "shingle", "left_anti")
    return _jaccard_pairs(pruned, threshold, score="jaccard_lb")


ORACLE_DEDUP_NGRAM_PRUNED = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM w
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
), hot AS (
  SELECT shingle FROM inv GROUP BY shingle
  HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM sh)
), pruned AS (
  SELECT * FROM inv WHERE shingle NOT IN (SELECT shingle FROM hot)
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) AS jaccard_lb
FROM pruned a JOIN pruned b
  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
 AND a.ns <= 2 * b.ns AND b.ns <= 2 * a.ns
GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
"""


def dedup_keep_representatives(spark, sf_dir, threshold: float = 0.5):
    """The end of the near-dup pipeline: one surviving document per
    cluster (the min doc_id — same keep rule as ``dedup_exact``) with its
    cluster size. pairs → connected components → group-per-label is the
    full "dedupe the corpus" shape a 100 TB curation run executes; the
    output is the keep-list a downstream filter joins against (semi-join,
    no shuffle of the big side's payload columns).

    Exact-collapse-first like :func:`dedup_clusters` — the flood-linear
    form of the same pipeline; cluster sizes count members, not reps.
    """
    return (_collapsed_component_labels(spark, sf_dir, threshold)
            .groupBy(F.col("label").alias("keep_id"))
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .orderBy("keep_id"))


ORACLE_DEDUP_KEEP_REPRESENTATIVES = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS wl FROM documents)
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
  HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
), edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs
), reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
), clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT cluster_id AS keep_id, COUNT(*) AS cluster_size
FROM clusters GROUP BY cluster_id ORDER BY keep_id
"""


ORACLE_DEDUP_EMBEDDING = """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.embedding IS NOT NULL AND len(list_filter(a.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
  AND list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
  AND b.embedding IS NOT NULL AND len(list_filter(b.embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0
  AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
ORDER BY id1, id2
"""


def dedup_substring_spans(spark: SparkSession, sf_dir: str,
                          n: int = 8) -> DataFrame:
    """Exact substring-span duplication (the suffix-array-style dedup of
    Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better", token-n-gram formulation): for every document, how many of
    its length-``n`` token spans also occur verbatim in at least one
    OTHER document. Emits per-doc span totals and the duplicated
    fraction; downstream curation drops or trims high-fraction docs.

    Plan shape (the sharded pipeline the paper's suffix array replaces):
    span generation is a per-row Catalyst ``transform`` over the token
    array (no Python), consumed by ONE linear pipeline — (doc, gram)
    occurrence counts, then cross-doc frequency as a COUNT over the
    gram-partitioned window (each (doc, gram) row is already distinct,
    so the window count IS the distinct-doc count), then the per-doc
    roll-up. No self-join against the exploded table, so the heavy
    scan+explode runs exactly once with no checkpoint (a join-back
    formulation must either re-derive it — +40% at sf0.1 — or pin the
    suite's largest intermediate in executor storage — 4x at sf0.01;
    both measured). No all-pairs comparison anywhere; every stage is
    key-partitioned, so the pipeline shards over grams at 100 TB exactly
    like the contamination scan (`traindata.py`).

    The ``sequence(1, ...)`` span-start generator is guarded (Spark
    emits DESCENDING sequences when start > stop, so size < n must short-
    circuit to an empty array rather than produce [1, 0]).
    """
    from pyspark.sql import Window

    d = ld(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    # Tokenize ONCE per row into a column before the span transform
    # (r12 optimization round): higher-order functions evaluate their
    # lambda body interpreted, with no common-subexpression elimination,
    # so the old inline ``split(text, ' ')`` inside the lambda re-split
    # the whole document for EVERY span — O(len²) per doc. Hoisting the
    # split into a projection makes span generation O(len) again:
    # measured 2.00 s → 0.55 s for the span stage at sf0.1, byte-
    # identical gram multiset (235 704 spans, equal hash).
    dw = d.withColumn("w", toks)
    grams_expr = F.when(
        F.size("w") >= n,
        F.expr(f"transform(sequence(1, size(w) - {n - 1}), "
               f"          i -> concat_ws(' ', slice(w, i, {n})))"
               )).otherwise(F.array().cast("array<string>"))
    spans = dw.select("doc_id", F.explode(grams_expr).alias("gram"))
    per_doc_gram = (spans.groupBy("doc_id", "gram")
                    .agg(F.count(F.lit(1)).alias("occ")))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup_counts = (per_doc_gram.withColumn("nd", nd)
                  .filter(F.col("nd") >= 2)
                  .groupBy("doc_id")
                  .agg(F.sum("occ").alias("n_dup_spans")))
    totals = (d.select("doc_id",
                       F.greatest(F.size(toks) - (n - 1), F.lit(0))
                       .alias("n_spans")))
    return (totals.join(dup_counts, "doc_id")
            .select("doc_id", "n_spans", "n_dup_spans",
                    (F.col("n_dup_spans").cast("double")
                     / F.col("n_spans").cast("double")).alias("dup_fraction"))
            .orderBy("doc_id"))


ORACLE_DEDUP_SUBSTRING = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), spans AS (
  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
  FROM toks, UNNEST(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
), cross_doc AS (
  SELECT gram FROM spans GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), dup_counts AS (
  SELECT s.doc_id, COUNT(*) AS n_dup_spans
  FROM spans s JOIN cross_doc c ON s.gram = c.gram
  GROUP BY s.doc_id
), totals AS (
  SELECT doc_id, GREATEST(len(w) - 7, 0) AS n_spans FROM toks
)
SELECT t.doc_id, CAST(t.n_spans AS INT) AS n_spans,
       d.n_dup_spans,
       CAST(d.n_dup_spans AS DOUBLE) / CAST(t.n_spans AS DOUBLE)
         AS dup_fraction
FROM totals t JOIN dup_counts d ON t.doc_id = d.doc_id
ORDER BY t.doc_id
"""


def corpus_neardup_report(spark, sf_dir) -> "DataFrame":
    """Near-duplicate curation rollup — the companion to
    ``corpus.corpus_curation_report`` (which covers exact dups): per
    source, how many documents sit in at least one ≥0.5 3-gram-Jaccard
    near-dup pair, the near-dup rate, and the within- vs cross-source
    pair split (cross-source near-dups are the ones that silently leak
    eval data between corpus slices, so curation reviews read that
    column first; a cross pair counts toward BOTH its sources).

    Flood-linear formulation (round 9): the outputs are pair COUNTS, not
    pairs, so the Θ(m²) pair materialization under an m-clone duplicate
    flood is avoidable — exact-collapse identical shingle sets
    (:func:`exact_collapse_shingles`), run the Jaccard pair graph over
    representatives only, and recover every count by group-size
    arithmetic over per-(group, source) member counts c[g,s]:

    - within-group (J = 1.0 by construction): within-source pairs
      Σ_g C(c[g,s], 2); cross-source contribution to s
      Σ_g c[g,s]·(sz_g − c[g,s])  — shingle-less docs are singleton
      groups (sz = 1), so both terms vanish for them, matching the old
      path where they never entered the inverted index;
    - cross-group, for each rep pair (g1, g2) with J ≥ 0.5:
      within-source c1[s]·c2[s]; cross-source contribution to s
      c1[s]·(sz2 − c2[s]) + c2[s]·(sz1 − c1[s])  — a cross pair counts
      toward BOTH its sources, matching the old explode;
    - a doc is a near-dup member iff its group has sz ≥ 2 or any rep
      edge, so n_neardup_docs[s] = Σ_{paired g} c[g,s].

    All counts stay exact integers (C(c,2) = c·(c−1)/2 is exact — the
    product is even); the one rate division runs on exact operands. The
    oracle recomputes the pair set with the NAIVE quadratic formulation,
    so the driver check proves the collapse arithmetic AND the index
    rewrite at once.
    """
    from .relational import ld

    docs = ld(spark, sf_dir, "documents").select("doc_id", "source")
    # member (doc_id, rep_id) has ONE consumer (the c[g, s] hub) and
    # reps rides the collapse's pinned quotient frame — the r9 member
    # DISK_ONLY persist is gone with the r10 hash-probe collapse.
    # Shingle-less docs are absent from member now; they were singleton
    # sz=1 groups before, contributing zero to every within/cross term
    # and never passing the paired filter — output-identical.
    member, reps = exact_collapse_shingles(doc_shingles(spark, sf_dir))
    # c[g, s]: per-(group, source) member counts — at most corpus-sized,
    # in practice |distinct texts| × |sources|; the hub every term reads.
    c = (member.join(docs, "doc_id")
         .groupBy("rep_id", "source")
         .agg(F.count(F.lit(1)).alias("c"))
         .persist(StorageLevel.DISK_ONLY))
    # ONE group-size aggregation carries both the full size and the
    # non-NULL-source size (r12 optimization round, guide §2.4 — the
    # old separate sz/szn aggregations shuffled the hub twice): szn is
    # NULL for an all-NULL-source group, which downstream handles
    # exactly as the old missing-row form did (inner joins on cn rows
    # never see those groups; t's left joins fillna(0) either way).
    g = c.groupBy("rep_id").agg(
        F.sum("c").alias("sz"),
        F.sum(F.when(F.col("source").isNotNull(), F.col("c")))
        .alias("szn"))
    cs = c.join(g.select("rep_id", "sz"), "rep_id")
    # Pair terms run on the NON-NULL-source counts only: in the pairwise
    # formulation (and the oracle) src1 = src2 / src1 <> src2 are NULL —
    # hence dropped — whenever either side's source is NULL, so a
    # NULL-source member contributes to NO within/cross count (it still
    # counts as a near-dup MEMBER below, exactly like the old explode
    # path). szn is the per-group non-NULL member count the cross terms
    # must use as "the other side" (r9 self-review find).
    cn = c.filter(F.col("source").isNotNull())
    szn = g.select("rep_id", "szn")
    csn = cn.join(szn, "rep_id")
    # rep-level pair graph: pair-sized over DISTINCT texts; two consumers
    # (term expansion + paired-degree), deterministic from the scan.
    p = (_jaccard_pair_graph(reps, 0.5).select("id1", "id2")
         .persist(StorageLevel.DISK_ONLY))
    # per-(pair, source) counts for both sides, zero-filled via union-sum
    u = (p.join(csn.select(F.col("rep_id").alias("id1"), "source",
                           F.col("c").alias("c1")), "id1")
         .select("id1", "id2", "source", "c1", F.lit(0).alias("c2"))
         .unionByName(
             p.join(csn.select(F.col("rep_id").alias("id2"), "source",
                               F.col("c").alias("c2")), "id2")
             .select("id1", "id2", "source", F.lit(0).alias("c1"), "c2")))
    t = (u.groupBy("id1", "id2", "source")
         .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
         .join(szn.select(F.col("rep_id").alias("id1"),
                          F.col("szn").alias("sz1")), "id1", "left")
         .join(szn.select(F.col("rep_id").alias("id2"),
                          F.col("szn").alias("sz2")), "id2", "left")
         .fillna(0, subset=["sz1", "sz2"]))
    cross_group = (t.groupBy("source").agg(
        F.sum(F.col("c1") * F.col("c2")).alias("w"),
        F.sum(F.col("c1") * (F.col("sz2") - F.col("c2"))
              + F.col("c2") * (F.col("sz1") - F.col("c1"))).alias("x")))
    in_group = (csn.groupBy("source").agg(
        # integer DIV: c·(c−1) is even, so this is exact at ANY count —
        # a double division would lose exactness past 2^53
        F.sum(F.expr("c * (c - 1) DIV 2")).alias("w"),
        F.sum(F.col("c") * (F.col("szn") - F.col("c"))).alias("x")))
    # in-group and cross-group terms combine per source with ONE
    # full-outer join (r12 optimization round): the old two
    # union+re-aggregate chains re-shuffled the sources-sized frames
    # four times to compute two sums of at-most-two terms each.
    pair_tot = (in_group.select("source", F.col("w").alias("w_in"),
                                F.col("x").alias("x_in"))
                .join(cross_group.select("source",
                                         F.col("w").alias("w_cr"),
                                         F.col("x").alias("x_cr")),
                      "source", "full")
                .select("source",
                        (F.coalesce("w_in", F.lit(0))
                         + F.coalesce("w_cr", F.lit(0)))
                        .alias("n_pairs_within"),
                        (F.coalesce("x_in", F.lit(0))
                         + F.coalesce("x_cr", F.lit(0)))
                        .alias("n_pairs_cross")))
    # groups with any rep edge; sz >= 2 groups are paired by J = 1.0
    edged = (p.select(F.col("id1").alias("rep_id"))
             .union(p.select(F.col("id2").alias("rep_id"))).distinct())
    paired = (cs.join(edged.withColumn("e", F.lit(True)), "rep_id", "left")
              .filter((F.col("sz") >= 2) | F.col("e").isNotNull()))
    members = (paired.groupBy("source")
               .agg(F.sum("c").alias("n_neardup_docs")))
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    out = (base
           .join(members, "source", "left")
           .join(pair_tot, "source", "left")
           .select("source", "n_docs",
                   F.coalesce("n_neardup_docs", F.lit(0))
                   .alias("n_neardup_docs"),
                   (F.coalesce("n_neardup_docs", F.lit(0)).cast("double")
                    / F.col("n_docs")).alias("neardup_rate"),
                   F.coalesce("n_pairs_within", F.lit(0))
                   .alias("n_pairs_within"),
                   F.coalesce("n_pairs_cross", F.lit(0))
                   .alias("n_pairs_cross"))
           .orderBy("source"))
    # Eager pin of the sources-sized report, then release the DISK_ONLY
    # intermediates: persist without unpersist leaks disk blocks for the
    # session lifetime (CacheManager holds the plan until unpersist),
    # while the pin's blocks are GC-scoped to the returned frame (r10,
    # ADVICE item closed).
    out = pin(out)
    c.unpersist()
    p.unpersist()
    return out


ORACLE_NEARDUP_REPORT = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        FOR i IN range(1, len(wl) - 1)]) AS s
  FROM w
), inv AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
  HAVING COUNT(*)::DOUBLE / (a.ns + b.ns - COUNT(*)) >= 0.5
), tagged AS (
  SELECT p.id1, p.id2, d1.source AS src1, d2.source AS src2
  FROM pairs p
  JOIN documents d1 ON p.id1 = d1.doc_id
  JOIN documents d2 ON p.id2 = d2.doc_id
), members AS (
  SELECT source, COUNT(*) AS n_neardup_docs FROM (
    SELECT DISTINCT doc_id, source FROM (
      SELECT id1 AS doc_id, src1 AS source FROM tagged
      UNION ALL SELECT id2, src2 FROM tagged))
  GROUP BY source
), within AS (
  SELECT src1 AS source, COUNT(*) AS n_pairs_within
  FROM tagged WHERE src1 = src2 GROUP BY src1
), crossed AS (
  SELECT source, COUNT(*) AS n_pairs_cross FROM (
    SELECT UNNEST([src1, src2]) AS source
    FROM tagged WHERE src1 <> src2)
  GROUP BY source
), base AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(m.n_neardup_docs, 0) AS BIGINT) AS n_neardup_docs,
       CAST(COALESCE(m.n_neardup_docs, 0) AS DOUBLE) / b.n_docs
         AS neardup_rate,
       CAST(COALESCE(w2.n_pairs_within, 0) AS BIGINT) AS n_pairs_within,
       CAST(COALESCE(c.n_pairs_cross, 0) AS BIGINT) AS n_pairs_cross
FROM base b
LEFT JOIN members m ON b.source = m.source
LEFT JOIN within w2 ON b.source = w2.source
LEFT JOIN crossed c ON b.source = c.source
ORDER BY b.source
"""


def _semdedup_sweep_for_tests(pdf: "pd.DataFrame", threshold: float,
                              max_cell_rows: int) -> "pd.DataFrame":
    """One cell's greedy sweep (the ``applyInPandas`` body of
    ``dedup_semdedup``, module-level so the pytest can force both paths
    on a hand-built cell). Rows ≤ ``max_cell_rows`` take the dense
    matmul; larger cells take the blocked fallback — same keep-set, peak
    memory O(block × kept) instead of O(cell²)."""
    import numpy as np

    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    cell = pdf["cell"].to_numpy()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    M /= np.where(norms > 0, norms, 1.0)   # zero vectors stay zero
    n = len(ids)
    keep = np.zeros(n, dtype=bool)
    if n <= max_cell_rows:
        sims = M @ M.T
        kept: list[int] = []
        for i in range(n):
            if not kept or sims[i, kept].max() < threshold:
                keep[i] = True
                kept.append(i)
    else:
        # Blocked fallback: never builds the n×n matrix. Each block of
        # rows is compared against the kept-set matrix only, then swept
        # sequentially within the block.
        kept_rows: list = []
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            B = M[lo:hi]
            if kept_rows:
                K = np.vstack(kept_rows)
                prior = (B @ K.T).max(axis=1)
            else:
                prior = np.full(hi - lo, -1.0)
            new_idx: list[int] = []
            for j in range(hi - lo):
                s = prior[j]
                if new_idx:
                    s = max(s, float((B[j] @ B[new_idx].T).max()))
                if s < threshold:
                    keep[lo + j] = True
                    new_idx.append(j)
            if new_idx:
                kept_rows.append(B[new_idx])
    return pd.DataFrame({"vec_id": ids, "cell": cell, "keep": keep})


def dedup_semdedup(spark: SparkSession, sf_dir: str,
                   n_cells: int = 16, threshold: float = 0.4,
                   max_cell_rows: int = 4096) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with a k-means codebook, then look for
    near-duplicates ONLY within each cluster — the scale path that turns
    O(n²) all-pairs cosine into O(Σ cell²) ≈ O(n²/k) with data-adaptive
    cells. Inside a cell the keep/drop decision is the deterministic
    greedy sweep in id order: a vector is DROPPED iff some already-KEPT
    lower-id vector in its cell has cosine ≥ threshold — so the kept set
    is exactly the greedy maximal independent set and any two kept
    vectors in one cell are strictly below the threshold.

    Scale shape: the codebook is the bounded driver-side k-means sample
    (``similarity.ivf_centroids`` — KB-sized, broadcast); cell assignment
    is one Arrow-batched matmul scan (``ivf_assign``, no shuffle); the
    per-cell sweep is ONE ``applyInPandas`` over the cell grouping — the
    only shuffle in the plan, keyed by the k-means cell, which balances
    under skew precisely because the codebook follows the data.

    Giant-cell guard (r4 advice): a cell larger than ``max_cell_rows``
    does NOT materialize its O(cell²) cosine matrix — the sweep switches
    to a blocked pass (row-blocks of ≤1024 against the grown kept-set
    only, O(block × kept) peak memory instead of O(cell²)), preserving
    the identical greedy keep-set. Zero-norm embeddings are kept as-is
    and excluded from similarity (a zero vector has no cosine; dividing
    by its norm would NaN-poison the whole cell's matrix).

    Cluster-scoped by construction (cross-cell near-dups are missed —
    the documented SemDeDup recall trade) → rows-only driver check; the
    pytest pins both greedy invariants against a brute-force numpy sweep.
    The default threshold matches ``dedup_embedding_cosine``'s 0.4 — the
    fixture embeddings are near-orthogonal (max off-diagonal cosine
    ≈ 0.5), so the paper's 0.9x regime would never fire here.
    """
    from .relational import ld_vecs
    from .similarity import ivf_assign, ivf_centroids

    e = ld_vecs(spark, sf_dir)
    C = ivf_centroids(e, n_cells=n_cells)
    tagged = ivf_assign(e.select("vec_id", "embedding"), C)

    def greedy_sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        return _semdedup_sweep_for_tests(pdf, threshold, max_cell_rows)

    return (tagged.groupBy("cell")
            .applyInPandas(greedy_sweep,
                           schema="vec_id long, cell int, keep boolean")
            .orderBy("vec_id"))


def dedup_semdedup_checked(spark: SparkSession, sf_dir: str,
                           n_cells: int = 16, threshold: float = 0.4,
                           max_cell_rows: int = 4096) -> DataFrame:
    """Partial-oracle form of :func:`dedup_semdedup` (round 9): the
    decision-pass cardinality is exact — one row per corpus vector — so
    ``n_vectors`` rides the DuckDB hash gate, and the float-dependent
    keep-set collapses to the greedy sweep's structural invariants as
    oracle-asserted booleans: every non-empty cell keeps at least one
    vector (the greedy sweep always keeps its first row), cells lie in
    [0, n_cells), and kept ≤ total. Both greedy invariants vs the
    brute-force numpy sweep stay pinned by the pytest on the raw
    core."""
    base = dedup_semdedup(spark, sf_dir, n_cells=n_cells,
                          threshold=threshold,
                          max_cell_rows=max_cell_rows)
    per_cell = base.groupBy("cell").agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep"))
    cell_stats = per_cell.agg(
        F.min("n_keep").alias("min_keep"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"))
    totals = base.agg(F.count(F.lit(1)).alias("n_vectors"),
                      F.sum(F.col("keep").cast("long")).alias("n_kept"))
    return (totals.crossJoin(F.broadcast(cell_stats))
            .select("n_vectors",
                    (F.col("min_keep") >= 1).alias("every_cell_keeps_one"),
                    ((F.col("min_cell") >= 0)
                     & (F.col("max_cell") < n_cells))
                    .alias("cells_in_range"),
                    (F.col("n_kept") <= F.col("n_vectors"))
                    .alias("kept_le_total")))


ORACLE_SEMDEDUP_CHECKED = """
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > 1e6)) = 0) AS n_vectors,
       TRUE AS every_cell_keeps_one,
       TRUE AS cells_in_range,
       TRUE AS kept_le_total
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str,
                              new_source: str = "src19",
                              threshold: float = 0.5) -> DataFrame:
    """Incremental NEAR-dup ingest — the MinHash-LSH companion to
    ``traindata.dedup_incremental_exact``: which documents of an
    arriving batch (``source == new_source``) are ≥``threshold``-Jaccard
    near-duplicates of the EXISTING corpus. This is the steady-state
    shape of production near-dedup: the corpus's band index is built
    once (at 100 TB it is a persisted, bucketed table) and each new
    batch probes it — batch × corpus through tiny LSH buckets, never
    corpus × corpus again.

    Plan: one shingling pass over the whole table (checkpointed — the
    signature build and both verify sides reuse it), one signature
    aggregation, band rows via the shared ``minhash_band_rows``, then an
    ASYMMETRIC band join (batch side × corpus side — no self-join, no
    id1<id2 dance), exact-Jaccard verification on the candidates only,
    and a deterministic best-match pick (highest Jaccard, ties to the
    lowest corpus doc_id). Batch docs with no near-dup survive via the
    final LEFT join with is_neardup = false — decision-pass contract,
    like corpus_decontaminate.

    xxhash64 signatures have no DuckDB twin → rows-only driver check;
    the pytest pins the flagged set against brute-force exact Jaccard
    between batch and corpus on the fixture.
    """
    from pyspark.sql import Window

    d = ld_py(spark, sf_dir, "documents")
    # persist(DISK_ONLY): corpus-sized, one deterministic hop from the
    # scan -> executor loss recomputes exactly (see dedup_ngram_jaccard)
    # NULL-text rows never reach the shingler (the ld_docs corrupted-
    # shard contract — a NULL text has no shingles and crashed the
    # pandas UDF on the r11 nulldoc gate); they stay in the batch-doc
    # universe below and emit is_neardup = false like any other
    # match-less doc.
    sh = (d.filter(F.col("text").isNotNull())
          .select("doc_id", "source",
                  _shingle_udf(3)("text").alias("shingles"))
          .persist(StorageLevel.DISK_ONLY))
    # source rides the signature groupBy as a carry key (doc-functional,
    # so grouping is unchanged) instead of a doc-keyed re-attach join;
    # the band table is persisted because BOTH probe sides below consume
    # it — without the persist the whole signature aggregation (explode +
    # 64 hash mins over every shingle) executed once per side (two full
    # subtrees in the r12 baseline plan, no exchange reuse across the
    # differing source filters). DISK_ONLY like sh: pure deterministic
    # lineage from the scan, so executor loss recomputes exactly. No
    # eager materialization needed — concurrent consumers coordinate
    # through BlockManager's per-block compute locks, and the
    # aggregation's shuffle files are computed once and reused (r12
    # optimization round, guide §2.4).
    br = minhash_band_rows(minhash_signatures(sh, carry=("source",)),
                           carry=("source",)) \
        .persist(StorageLevel.DISK_ONLY)
    bband = (br.filter(F.col("source") == new_source)
             .select(F.col("doc_id").alias("new_doc"),
                     "band_idx", "band_hash"))
    cband = (br.filter(F.col("source") != new_source)
             .select(F.col("doc_id").alias("cand"),
                     "band_idx", "band_hash"))
    cands = (bband.join(cband, ["band_idx", "band_hash"])
             .select("new_doc", "cand").distinct())

    scored = _verify_jaccard(cands, sh, threshold, ids=("new_doc", "cand"))
    w = Window.partitionBy("new_doc").orderBy(F.desc("jaccard"), "cand")
    best = (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("new_doc", F.col("cand").alias("neardup_of"),
                    "jaccard"))

    batch_docs = (d.filter(F.col("source") == new_source)
                  .select(F.col("doc_id").alias("new_doc")))
    return (batch_docs.join(best, "new_doc", "left")
            .select("new_doc", "neardup_of",
                    F.round("jaccard", 9).alias("jaccard"),
                    F.col("neardup_of").isNotNull().alias("is_neardup"))
            .orderBy("new_doc"))


def dedup_incremental_minhash_checked(spark: SparkSession, sf_dir: str,
                                      new_source: str = "src19",
                                      threshold: float = 0.5) -> DataFrame:
    """Partial-oracle form of :func:`dedup_incremental_minhash` (round 9):
    the flagged set is xxhash64-derived, but its exact anchor is
    recomputable — a batch doc whose SHINGLE-ABLE text (non-NULL, ≥ 3
    space-split words — a shorter text has no 3-grams, so MinHash
    structurally cannot see it; the r11 nulldoc gate's empty-string
    twins made that precondition explicit) appears VERBATIM in the
    existing corpus has an identical shingle set, hence identical
    signature and bands, hence a surviving candidate with exact
    Jaccard 1 ≥ threshold, hence MUST be flagged. The census row carries
    ``n_batch`` and ``n_exact_text_dups`` (DuckDB: batch docs with a
    corpus text twin) on the hash gate, plus two structural booleans the
    oracle asserts TRUE: ``all_exact_dups_flagged`` (each verbatim-dup
    batch doc came back ``is_neardup``) and ``flagged_ge_exact``. The
    decision-pass core stays for the brute-force Jaccard pytest."""
    # pin: the decision pass feeds two consumers below (the
    # multi-consumer rule)
    decisions = pin(dedup_incremental_minhash(
        spark, sf_dir, new_source=new_source, threshold=threshold))
    d = ld_py(spark, sf_dir, "documents")
    batch = d.filter(F.col("source") == new_source) \
             .select(F.col("doc_id").alias("new_doc"), "text")
    corpus_texts = (d.filter(F.col("source") != new_source)
                    .select("text").distinct())
    # shingle-able texts only (see docstring): an exact twin of a
    # shingle-able text is itself shingle-able, so filtering the batch
    # side alone is exact
    shingleable = (F.col("text").isNotNull()
                   & (F.size(F.split(F.col("text"), " ")) >= 3))
    exact_dups = (batch.filter(shingleable)
                  .join(corpus_texts, "text", "left_semi")
                  .select("new_doc"))
    n_stats = (batch.agg(F.count(F.lit(1)).alias("n_batch"))
               .crossJoin(F.broadcast(
                   exact_dups.agg(F.count(F.lit(1))
                                  .alias("n_exact_text_dups")))))
    flagged = decisions.filter(F.col("is_neardup"))
    missed = (exact_dups.join(flagged.select("new_doc"),
                              "new_doc", "left_anti")
              .agg(F.count(F.lit(1)).alias("n_missed")))
    n_flagged = flagged.agg(F.count(F.lit(1)).alias("n_flagged"))
    return (n_stats.crossJoin(F.broadcast(missed))
            .crossJoin(F.broadcast(n_flagged))
            .select("n_batch", "n_exact_text_dups",
                    (F.col("n_missed") == 0).alias("all_exact_dups_flagged"),
                    (F.col("n_flagged") >= F.col("n_exact_text_dups"))
                    .alias("flagged_ge_exact")))


ORACLE_INCREMENTAL_MINHASH_CHECKED = """
SELECT (SELECT COUNT(*) FROM documents WHERE source = 'src19') AS n_batch,
       (SELECT COUNT(*) FROM documents b
        WHERE b.source = 'src19' AND b.text IS NOT NULL
          AND len(string_split(b.text, ' ')) >= 3
          AND EXISTS (SELECT 1 FROM documents c
                      WHERE c.source <> 'src19' AND c.text = b.text))
         AS n_exact_text_dups,
       TRUE AS all_exact_dups_flagged,
       TRUE AS flagged_ge_exact
"""


def dedup_bloom_prefilter(spark, sf_dir, m_bits: int = 65536,
                          k_hashes: int = 5) -> DataFrame:
    """Ingest-time exact-dup PREFILTER: a Bloom filter over the corpus's
    document hashes built RELATIONALLY — k seeded xxhash64 probes per
    doc, the filter is the distinct (bit-position) table (≤ m rows, a
    sketch-sized hash-agg with map-side partials; mergeable across any
    partitioning for free, exactly like a bit-array union) — probed by
    an incoming batch beside the exact anti-join ground truth. This is
    the pattern that lets a 100 TB ingest skip the full dedup join for
    the rows that are provably new: a missed probe is a GUARANTEE of
    novelty (no false negatives, structurally); only bloom hits (true
    dups + ~fpp false positives) proceed to the exact verify join.

    Emits the confusion census: batch size, bloom hits, true dups,
    false positives, false negatives (must be 0), measured fpp. The
    batch is the deterministic doc_id % 5 == 0 slice, each doc emitted
    twice — verbatim (a true dup) and salted (provably new) — so both
    sides are exercised. xxhash64 has no DuckDB twin → rows-only; the
    pytest pins the zero-false-negative guarantee and the
    (1−e^{−kn/m})^k fpp bound.
    """
    # NULL text: not a document content to dedup — xxhash64(NULL) is
    # the seed constant, which silently made every NULL-text pair a
    # "duplicate" on the r11 nulldoc gate (ld_docs' corrupted-shard
    # contract; mirrored in the oracle, where NULL never equi-matches
    # anyway)
    d = ld_docs(spark, sf_dir)
    corpus_hash = d.select(F.xxhash64("text").alias("h")) \
        .localCheckpoint()          # two consumers: bits + exact join
    probes = F.array(*[
        F.pmod(F.xxhash64("h", F.lit(i)), F.lit(m_bits)).cast("int")
        for i in range(k_hashes)])
    bits = (corpus_hash.select(F.explode(probes).alias("pos"))
            .distinct())
    batch = (d.filter(F.col("doc_id") % 5 == 0)
             .select("doc_id", "text")
             .withColumn("variant", F.explode(F.array(
                 F.lit("dup"), F.lit("new"))))
             .select("doc_id", "variant",
                     F.when(F.col("variant") == "dup", F.col("text"))
                     .otherwise(F.concat(F.col("text"),
                                         F.lit(" <salt> "),
                                         F.col("doc_id").cast("string")))
                     .alias("text"))
             .withColumn("h", F.xxhash64("text")))
    probe_rows = (batch.select("doc_id", "variant", "h",
                               F.explode(probes).alias("pos")))
    hits = (probe_rows.join(bits, "pos", "left_semi")
            .groupBy("doc_id", "variant", "h")
            .agg(F.count(F.lit(1)).alias("n_present")))
    scored = (batch.join(hits, ["doc_id", "variant", "h"], "left")
              .withColumn("hit",
                          F.coalesce("n_present", F.lit(0))
                          == k_hashes))
    exact = (scored.join(
        corpus_hash.withColumnRenamed("h", "ch").distinct(),
        scored["h"] == F.col("ch"), "left")
        .withColumn("is_dup", F.col("ch").isNotNull()))
    return exact.agg(
        F.count(F.lit(1)).alias("batch_size"),
        F.sum(F.col("hit").cast("long")).alias("bloom_hits"),
        F.sum(F.col("is_dup").cast("long")).alias("true_dups"),
        F.sum((F.col("hit") & ~F.col("is_dup")).cast("long"))
        .alias("false_positives"),
        F.sum((~F.col("hit") & F.col("is_dup")).cast("long"))
        .alias("false_negatives"),
        (F.sum((F.col("hit") & ~F.col("is_dup")).cast("long"))
         .cast("double")
         / F.greatest(F.sum((~F.col("is_dup")).cast("long")),
                      F.lit(1))).alias("measured_fpp"))


def dedup_bloom_prefilter_checked(spark, sf_dir, m_bits: int = 65536,
                                  k_hashes: int = 5) -> DataFrame:
    """Partial-oracle form of :func:`dedup_bloom_prefilter` (round 8):
    the confusion census's EXACT columns ride the DuckDB hash gate —
    batch size and true-dup count are recomputable by string membership
    (``text IN corpus``), and ``false_negatives`` is structurally 0 (a
    corpus member sets all of its own bits), so the oracle asserts the
    literal 0 — a red row here means the zero-FN guarantee broke.
    ``fpp_in_bound`` collapses the bloom-specific columns to the pytest's
    band: measured fpp ≤ max(5 × (1−e^{−kn/m})^k, 0.02) with n = corpus
    distinct hashes. The full-census core stays for the pytests.

    The bound is computed IN-PLAN (n via a 1-row broadcast agg, the
    exp/pow folded into the boolean's expression) so construction stays
    lazy — the old form ran an eager corpus-wide ``.count()`` at build
    time, a full documents scan before the entry's own job (r8 ADVICE).
    exp/pow are fine here: they feed only the in-band boolean, never a
    hash-compared value column.

    ``n_corpus`` rides :func:`ld_docs` (r11 ADVICE): the bloom itself is
    built over the NULL-text-filtered corpus, so the bound's n must count
    the same rows — the unfiltered ``ld`` counted xxhash64's NULL→seed
    constant as one extra distinct hash on corrupted shards, loosening
    the bound's n inconsistently with the census corpus."""
    from .relational import ld_docs

    census = dedup_bloom_prefilter(spark, sf_dir, m_bits=m_bits,
                                   k_hashes=k_hashes)
    n_corpus = (ld_docs(spark, sf_dir)
                .select(F.xxhash64("text").alias("h")).distinct()
                .agg(F.count(F.lit(1)).alias("n_corpus")))
    fpp_theory = F.pow(
        F.lit(1.0) - F.exp(F.lit(-float(k_hashes))
                           * F.col("n_corpus").cast("double")
                           / F.lit(float(m_bits))),
        F.lit(float(k_hashes)))
    bound = F.greatest(F.lit(5.0) * fpp_theory, F.lit(0.02))
    return (census.crossJoin(F.broadcast(n_corpus))
            .select("batch_size", "true_dups", "false_negatives",
                    (F.col("measured_fpp") <= bound)
                    .alias("fpp_in_bound")))


ORACLE_BLOOM_PREFILTER_CHECKED = """
WITH batch AS (
  SELECT d.doc_id,
         CASE WHEN v.variant = 'dup' THEN d.text
              ELSE d.text || ' <salt> ' || CAST(d.doc_id AS VARCHAR)
         END AS btext
  FROM documents d
  CROSS JOIN (SELECT 'dup' AS variant UNION ALL SELECT 'new') v
  WHERE d.doc_id % 5 = 0 AND d.text IS NOT NULL
)
SELECT COUNT(*) AS batch_size,
       CAST(SUM(CASE WHEN btext IN (SELECT text FROM documents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS true_dups,
       CAST(0 AS BIGINT) AS false_negatives,
       TRUE AS fpp_in_bound
FROM batch
"""

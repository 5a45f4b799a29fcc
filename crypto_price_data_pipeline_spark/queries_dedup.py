"""Near-duplicate detection and corpus curation: exact dedup,
MinHash-LSH, SimHash (xxhash64 and md5), n-gram Jaccard/overlap,
winnowing, embedding and semantic dedup, cluster provenance, the
dup-heavy hardening corpora, benchmark-contamination scans,
boilerplate removal and the composed curation pipelines.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.portable import _DIM, _MIX, _MIX_VALUES_SQL, _VECS_CTE
from .io.sources import load_table
from .operators.text import feature_hash_embed, tokenize
from .queries_ext34 import _SUB_NIBBLES
from .session import materialize
from .streaming.partial_store import run_partial_stream


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keep-min-id per (lang, source) group — deterministic
    row-preserving dedup via ranking window."""
    from .operators.dedup import exact_dedup

    docs = load_table(spark, sf, "documents")
    return exact_dedup(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


Q_DEDUP_EXACT_SQL = """
SELECT doc_id, lang, source, n_chars
FROM (SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
"""


# xxhash64-fingerprint values are Spark-only, but the doc-partition
# they induce is checkable: the oracle derives the same group
# representatives from the portable md5-chain fingerprint.
Q_FINGERPRINTS_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend('fp0', list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')),
           (acc, x) -> md5(acc || x)
         ) AS fp
  FROM documents
)
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS group_rep
FROM fp ORDER BY doc_id
"""


# ------------------------------------------------ near-duplicate pairs


def q_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs w/ exact-Jaccard verify.

    Oracle note: the banding stage is probabilistic (xxhash64, not in
    DuckDB), but the final output is {pairs with exact Jaccard >= 0.5
    that banding surfaced} — and the testdata's near-dups sit at ~0.95
    similarity where 64-hash/16-band recall is 1 (verified exhaustively
    against the full exact pair set at sf0.001 and sf0.01: identical).
    The oracle is therefore the exact-Jaccard pair set — it checks
    end-to-end near-dup semantics INCLUDING recall, which a rows-only
    check would not.

    Signatures come from the corpus artifact store (artifacts.py): the
    shingle base and the minima are per-corpus stored tables shared
    with q_minhash_exact — built once, read as parquet scans (bench
    times the cold build separately as artifact_minhash_*_build)."""
    from .artifacts import minhash_base, minhash_mins
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf, "documents")
    return minhash_lsh_pairs(
        docs,
        threshold=0.5,
        base=minhash_base(spark, sf),
        mins=minhash_mins(spark, sf),
    )


Q_MINHASH_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
"""


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """xxhash64-SimHash near-dup machinery, verified through its
    INDUCED STRUCTURE (the q_fingerprints trick, r6 VERDICT #2): the
    raw xxhash64 fingerprints — and even their Hamming-≤3 pair set —
    are engine-specific (empirically 17 xx pairs vs 725 md5-twin pairs
    at sf0.01: the 32-bit md5 twin is far noisier, so pair-set
    equivalence against it does NOT hold), but two structural
    properties are deterministic and portable:

    1. ``xx_hamming``: docs with IDENTICAL token multisets MUST get
       identical 64-bit simhashes (simhash is order-invariant by
       construction) — emitted per-pair from the real xxhash64
       fingerprints, oracled as literal 0. The corpus carries no
       exact duplicates at any sf (checked), so the ground pairs are
       CONSTRUCTED portably: every 16th doc gets a twin whose text is
       its token sequence reversed (same multiset, different order,
       different string) — both engines build the same augmented
       corpus and the same multiset-equality pair set, Spark alone
       evaluates the xxhash64 hamming. A bit-assembly, tokenization,
       or order-sensitivity bug flips the 0.
    2. ``banding_exact``: the 4×16 and 6×10 bandings each carry the
       pigeonhole exact-recall guarantee at Hamming ≤3, so both must
       produce THE SAME pair set (= the exhaustive one) — asserted
       in-plan over the actual xx pair sets, oracled as literal TRUE.
       A banding/bucketing bug (wrong shift, mask, dedup) breaks the
       agreement.

    Together the last rows-only registry row becomes hash-green
    without pretending DuckDB can evaluate xxhash64. Why the loose
    radius stays at 3: a Hamming-8 budget would force ≥9 bands of ≤7
    bits whose 128-value buckets blow up candidate pairs quadratically
    (measured 13s vs 1s at sf0.1) — at loose radii use combination
    blocking instead (operators/dedup.py docstrings)."""
    from .operators.dedup import simhash, simhash_pairs, tokens_col

    OFFSET = 1 << 40  # clears any real doc_id at any sf
    docs = load_table(spark, sf, "documents")
    twins = docs.where(F.col("doc_id") % 16 == 0).select(
        (F.col("doc_id") + F.lit(OFFSET)).alias("doc_id"),
        F.array_join(F.reverse(tokens_col("text")), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(twins)
    # staging (NOTES Catalyst traps): keyed feeds both ground-join
    # sides; the simhash fingerprints feed the two hamming lookups AND
    # both bandings (via sig=). Unstaged, the plan scanned documents
    # 16× — one fingerprint pass and one tokenize pass now serve all
    # consumers; eager-materialize + release keeps timing honest.
    keyed = (
        corpus.select("doc_id", F.sort_array(tokens_col("text")).alias("_k"))
        .where(F.size("_k") > 0)
        .persist()
    )
    ground = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a._k") == F.col("b._k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    sh = simhash(corpus).persist()
    out = (
        ground.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            .cast("int")
            .alias("xx_hamming"),
        )
    )
    # both bandings reuse the one persisted fingerprint pass (twins
    # filtered back out — fingerprints are per-row, so sh restricted
    # to real ids IS simhash(docs))
    sig_docs = sh.where(F.col("doc_id") < OFFSET)
    p416 = simhash_pairs(docs, max_hamming=3, sig=sig_docs).select("id_a", "id_b")
    p610 = simhash_pairs(
        docs, max_hamming=3, bands=6, bits=10, sig=sig_docs
    ).select("id_a", "id_b")
    sym_diff = p416.exceptAll(p610).unionAll(p610.exceptAll(p416))
    flag = sym_diff.agg((F.count(F.lit(1)) == 0).alias("banding_exact"))
    result = out.crossJoin(F.broadcast(flag)).orderBy("id_a", "id_b")
    try:
        return result.transform(materialize)
    finally:
        sh.unpersist()
        keyed.unpersist()


Q_SIMHASH_XX_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1099511627776,
         array_to_string(
           list_reverse(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')), ' ')
  FROM documents WHERE doc_id % 16 = 0
),
toks AS (
  SELECT doc_id,
         list_sort(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '')) AS k
  FROM aug
),
ne AS (SELECT * FROM toks WHERE len(k) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(0 AS INT) AS xx_hamming,
       TRUE AS banding_exact
FROM ne a JOIN ne b ON a.k = b.k AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprints. The xxhash64 VALUES are
    engine-specific, but the fingerprint's semantic content — the
    partition it induces on the corpus (which docs share a
    fingerprint) — is not: the row reports each doc's fingerprint-group
    representative (min doc_id sharing its fingerprint), which the
    oracle reproduces from the md5-chain twin. A bit-exact match proves
    both fingerprints induce the SAME duplicate-grouping (true absent
    64-bit collisions), turning the last hash-value-only check into a
    verified one. Raw values (when needed for joins) come from
    ``text.fingerprint`` directly."""
    from pyspark.sql.window import Window

    from .operators.text import fingerprint

    docs = load_table(spark, sf, "documents")
    rep = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    return (
        docs.select("doc_id", fingerprint("text").alias("fingerprint"))
        .select("doc_id", rep.alias("group_rep"))
        .orderBy("doc_id")
    )


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (≥ 0.35 — calibrated to the synthetic corpus so the check is non-vacuous), blocked on the
    label column so the pair space is |label-group|², not n² — the
    blocking pattern that keeps this tractable at scale (swap label
    for an LSH bucket on unlabeled corpora).

    Plan shape (same lesson as ngram_jaccard_pairs): id-only pairs in
    the low-cardinality block join, repartition to full parallelism,
    THEN join the vectors in by id — and each vector's norm is
    precomputed once per vector, not re-derived per pair (turns 3 dot
    products per pair into 1)."""
    return embedding_neardup_pairs(spark, sf, threshold=0.35)


def embedding_neardup_pairs(
    spark: SparkSession, sf: str, threshold: float, max_vectors: int | None = 1_000_000
) -> DataFrame:
    """Blocked cosine pairs (id_a, id_b, cosine_sim_r9 ≥ threshold) —
    shared by the near-dup query and the clustering query. See
    q_embedding_neardup for the plan-shape rationale.

    GATED like ngram_jaccard_pairs: quadratic within a label block, so
    it refuses corpora above ``max_vectors`` — bucket by an LSH key
    (operators.similarity.hyperplane_lsh_buckets) and pair within
    buckets instead at that scale, or pass ``max_vectors=None``."""
    from .operators.dedup import _gate_corpus_size
    from .operators.similarity import _dot

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("_e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("_norm"),
    )
    _gate_corpus_size(
        emb, max_vectors, "embedding_neardup_pairs", "LSH-bucketed pairing"
    )
    ids = emb.select(F.col("vec_id").alias("_id"), "label")
    pairs = (
        ids.select(F.col("_id").alias("id_a"), "label")
        .join(ids.select(F.col("_id").alias("id_b"), "label"), "label")
        .where(F.col("id_a") < F.col("id_b"))
        .repartition(spark.sparkContext.defaultParallelism, "id_a")
        .select("id_a", "id_b")
    )
    sim = _dot(F.col("_e_a"), F.col("_e_b")) / (F.col("_n_a") * F.col("_n_b"))
    return (
        pairs.join(
            emb.select(F.col("vec_id").alias("id_a"), F.col("_e").alias("_e_a"), F.col("_norm").alias("_n_a")),
            "id_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("id_b"), F.col("_e").alias("_e_b"), F.col("_norm").alias("_n_b")),
            "id_b",
        )
        .select("id_a", "id_b", F.round(sim, 9).alias("cosine_sim_r9"))
        .where(F.col("cosine_sim_r9") >= threshold)
    )


Q_EMBEDDING_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9)
         AS cosine_sim_r9
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9) >= 0.35
"""


def q_embedding_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup clustering: connected components over the embedding
    near-dup pair graph (iterative hash-min label propagation). The
    oracle recomputes the transitive closure with a recursive CTE —
    an exact check of an iterative distributed algorithm."""
    from .operators.components import connected_components

    emb = load_table(spark, sf, "embeddings")
    pairs = embedding_neardup_pairs(spark, sf, threshold=0.3).select("id_a", "id_b")
    nodes = emb.select(F.col("vec_id"))
    # partitions sized to the (small) embedding graph — see the
    # operator docstring for the rounds × partitions fixed-cost math
    return connected_components(nodes, pairs, id_col="vec_id", num_partitions=4).withColumnRenamed(
        "component", "cluster_id"
    )


Q_EMBEDDING_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9) >= 0.3
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
)
SELECT n AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY n
"""


# ---------------------------------------------------- portable fingerprint


def q_fingerprint_md5(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-engine-verifiable document fingerprints: chained md5 fold
    over the token stream (the portable twin of the xxhash64 rolling
    fingerprint, which is Spark-only and hence rows-only checked).
    Order-sensitive: token permutations change the fingerprint."""
    from .operators.text import fingerprint_md5

    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp")).orderBy("doc_id")


Q_FINGERPRINT_MD5_SQL = r"""
SELECT doc_id,
       list_reduce(
         list_prepend('fp0', list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')),
         (acc, x) -> md5(acc || x)
       ) AS fp
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------- n-gram Jaccard dedup


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, language-blocked — the
    non-probabilistic baseline the MinHash path approximates, and the
    one dedup family that IS SQL-expressible: the Spark side shingles
    through xxhash64 (long arithmetic, no string allocation) while the
    oracle uses the string shingles themselves — Jaccard is invariant
    to any injective shingle encoding, so the values match bit-exactly
    (int/int division both sides; collisions would need ~2^32 shingles)."""
    from .artifacts import minhash_base
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf, "documents")
    return ngram_jaccard_pairs(
        docs, block_cols=["lang"], k=3, threshold=0.4,
        base=minhash_base(spark, sf),
    ).orderBy("id_a", "id_b")


def q_minhash_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path for exact n-gram Jaccard dedup: MinHash-LSH
    candidate generation → exact Jaccard verify, language-blocked. Same
    semantics (and same oracle) as ``q_ngram_jaccard``, but pair work
    is proportional to the LSH candidate set instead of the full
    within-block O(n²) — this is the form to run block-wide exact
    dedup at 100 TB. The oracle equality itself demonstrates banding
    recall: every pair the exhaustive block scan finds at Jaccard ≥0.4
    survives the r=2×b=32 banding on this corpus (measured at sf0.01:
    33,487 within-lang pairs → 62 LSH candidates, 540×, same 6-pair
    result). Signatures come from the per-corpus artifact store
    (artifacts.py), shared with q_minhash_pairs — the banding/threshold
    parameters differ per query, the signature tables don't."""
    from .artifacts import minhash_base, minhash_mins
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    return minhash_then_exact(
        docs,
        k=3,
        threshold=0.4,
        num_hashes=64,
        bands=32,
        block_cols=["lang"],
        base=minhash_base(spark, sf),
        mins=minhash_mins(spark, sf),
    ).orderBy("id_a", "id_b")


Q_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
ORDER BY id_a, id_b
"""


# ------------------------------------------------- chunk-level dedup


def q_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-granularity dedup statistics: every doc splits into
    fixed 32-token chunks (the unit LLM pipelines dedup at when
    whole-doc dedup is too coarse), chunks hash portably (md5 over the
    joined tokens), and per-language stats report how much of the
    corpus is chunk-duplicated. One explode + two hash aggregates."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    k = 32
    # drop zero-token docs BEFORE chunk indexing: Spark's sequence(0,-1)
    # yields a DESCENDING [0,-1] rather than an empty array
    toked = docs.select("doc_id", "lang", tokenize("text").alias("_t")).where(
        F.size("_t") > 0
    )
    chunks = toked.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("_t") / k).cast("int") - 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice("_t", i * k + 1, k))),
            )
        ).alias("chunk_hash"),
    )
    per_chunk = chunks.groupBy("lang", "chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    return (
        per_chunk.groupBy("lang")
        .agg(
            F.sum("n_occ").alias("total_chunks"),
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("n_occ") - 1).otherwise(0)).alias(
                "redundant_chunks"
            ),
        )
        .orderBy("lang")
    )


Q_CHUNK_DEDUP_SQL = """
WITH toked AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, lang,
         md5(array_to_string(t[i*32+1 : i*32+32], ' ')) AS chunk_hash
  FROM toked, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
  ) ix
  WHERE len(t) > 0  -- mirrors the Spark side's zero-token guard
),
per_chunk AS (
  SELECT lang, chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY lang, chunk_hash
)
SELECT lang, CAST(SUM(n_occ) AS BIGINT) AS total_chunks,
       COUNT(*) AS distinct_chunks,
       CAST(SUM(CASE WHEN n_occ > 1 THEN n_occ - 1 ELSE 0 END) AS BIGINT) AS redundant_chunks
FROM per_chunk GROUP BY lang ORDER BY lang
"""


# ------------------------------------- cluster representative selection


def q_cluster_representatives(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dup collapse, the full LLM-corpus pattern in one
    query: embedding near-dup pairs → connected components → join the
    documents table → keep ONE representative per cluster (longest
    text, min-id tiebreak). Exercises the iterative component operator,
    a cross-table id join, and deterministic per-group top-1 — oracle
    recomputes everything incl. the transitive closure recursively."""
    from .operators.components import connected_components

    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    pairs = embedding_neardup_pairs(spark, sf, threshold=0.3).select("id_a", "id_b")
    comp = connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id", num_partitions=4
    ).withColumnRenamed("component", "cluster_id")
    joined = comp.join(docs, comp["vec_id"] == docs["doc_id"])
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


Q_CLUSTER_REPRESENTATIVES_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 9) >= 0.3
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY n),
members AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN documents d ON d.doc_id = c.vec_id
)
SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM members WHERE rn = 1 ORDER BY cluster_id
"""


# ------------------------------------------------- md5-bit SimHash


def q_simhash_md5_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs on the 32-bit md5-derived SimHash
    (`operators.dedup.simhash_md5_pairs`). Unlike the xxhash64 twin
    (rows-only checked — xxhash64 has no DuckDB equivalent), every stage
    here is engine-portable: md5 token hashes → bit votes → fingerprint
    → Hamming ≤ 3 pairs. Banding with the pigeonhole guarantee
    (4 bands × 8 bits ≥ Hamming 3 + 1) makes the banded result
    deterministically equal the exhaustive pair set, which the oracle
    computes with a plain self-join — so the green row verifies the
    banding mechanics AND the fingerprint values at once. Fingerprints
    come from the per-corpus artifact store (artifacts.simhash32_table);
    bench times the cold build separately."""
    from .artifacts import simhash32_table
    from .operators.dedup import simhash_md5_pairs

    docs = load_table(spark, sf, "documents")
    return (
        simhash_md5_pairs(docs, max_hamming=3, sig=simhash32_table(spark, sf))
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _simhash_md5_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
fp AS (
  SELECT doc_id, {fp} AS sh FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY id_a, id_b
"""


Q_SIMHASH_MD5_SQL = _simhash_md5_oracle()


# ------------------------------------------- test-set contamination


def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan: for every eval-set document, the
    training document with the highest 5-gram containment
    (|shared eval 5-grams| / |eval 5-grams|) — the pre-training hygiene
    check that catches test data leaked into the corpus.

    The synthetic corpus has no real leakage, so contamination is
    PLANTED deterministically (the q_pii_scrub pattern): docs with
    doc_id % 97 == 0 form the eval set, and each takes the first ~30
    tokens of training doc doc_id+1 — the oracle replants identically,
    so the expected answer is (eval, doc_id+1, containment 1.0) and
    the check is non-vacuous end to end.

    Scale shape: the eval side is the small side by construction —
    its exploded distinct grams broadcast to the training-gram explode
    (shuffle ∝ matching grams only, never the corpus); the final
    argmax is one hash aggregate + per-eval top-1 window. String
    5-grams (not xxhash64) keep it engine-portable."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")

    def grams(tok_col, k=5):
        return F.when(
            F.size(tok_col) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tok_col) - k + 1),
                    lambda i: F.array_join(F.slice(tok_col, i, k), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(tok_col, " ")))

    tokenized = docs.select("doc_id", toks.alias("_t"))
    train = tokenized.where(F.col("doc_id") % 97 != 0)
    # plant: eval text = first 30 tokens of training doc (doc_id + 1)
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )

    e_grams = evals.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(grams(F.col("_t"))).alias("gram"),
        F.size(grams(F.col("_t"))).alias("n_eval_grams"),
    )
    t_grams = train.select(
        F.col("doc_id").alias("train_id"), F.explode(grams(F.col("_t"))).alias("gram")
    )
    shared = (
        t_grams.join(F.broadcast(e_grams), "gram")
        .groupBy("eval_id", "train_id", "n_eval_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("eval_id").orderBy(
        (F.col("n_shared") / F.col("n_eval_grams")).desc(), F.col("train_id").asc()
    )
    return (
        shared.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "eval_id",
            "train_id",
            F.round(F.col("n_shared") / F.col("n_eval_grams"), 6).alias("containment"),
        )
        .orderBy("eval_id")
    )


Q_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, len(t) - 3),
                     i -> array_to_string(t[i:i+4], ' ')))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
),
train AS (SELECT doc_id AS train_id, g FROM grams WHERE doc_id % 97 <> 0),
donor AS (
  SELECT doc_id - 1 AS doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(list_slice(t, 1, 30)) - 3, 1)),
                     i -> array_to_string(list_slice(t, 1, 30)[i:i+4], ' ')))
              ELSE [array_to_string(list_slice(t, 1, 30), ' ')] END AS g
  FROM toks
),
evals AS (
  SELECT d.doc_id AS eval_id, d.g
  FROM donor d JOIN grams orig ON orig.doc_id = d.doc_id
  WHERE d.doc_id % 97 = 0
),
e_expl AS (SELECT eval_id, len(g) AS n_eval_grams, unnest(g) AS gram FROM evals),
t_expl AS (SELECT train_id, unnest(g) AS gram FROM train),
shared AS (
  SELECT eval_id, train_id, n_eval_grams, COUNT(*) AS n_shared
  FROM e_expl JOIN t_expl USING (gram)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT eval_id, train_id,
         ROUND(CAST(n_shared AS DOUBLE) / n_eval_grams, 6) AS containment,
         ROW_NUMBER() OVER (PARTITION BY eval_id
                            ORDER BY CAST(n_shared AS DOUBLE) / n_eval_grams DESC,
                                     train_id ASC) AS rn
  FROM shared
)
SELECT eval_id, train_id, containment FROM ranked WHERE rn = 1 ORDER BY eval_id
"""


# ------------------------------------------- containment near-dup


def q_ngram_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs, language-
    blocked: |A∩B| / min(|A|,|B|) over word-3-gram shingle sets — the
    subsumed-document detector (excerpts, boilerplate-wrapped copies)
    that Jaccard structurally misses. Spark shingles via xxhash64
    longs, the oracle via string shingles; overlap is invariant to any
    injective shingle encoding, and int/int division is bit-exact on
    both engines. Shingle sets come from the per-corpus artifact store
    (shared with the MinHash family — same k=3 sets)."""
    from .artifacts import minhash_base
    from .operators.dedup import ngram_overlap_pairs

    docs = load_table(spark, sf, "documents")
    return ngram_overlap_pairs(
        docs, block_cols=["lang"], k=3, threshold=0.6,
        base=minhash_base(spark, sf), strategy="auto",
    ).orderBy("id_a", "id_b")


Q_NGRAM_OVERLAP_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / least(len(a.sh), len(b.sh)) AS overlap
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / least(len(a.sh), len(b.sh)) >= 0.6
ORDER BY id_a, id_b
"""


# ------------------------------------------- streaming incremental dedup


def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup dedup through REAL streaming machinery:
    the corpus replays as 4 micro-batches (file source, id order), each
    batch MinHash-signs itself, LSH-probes the persistent postings
    store built by earlier batches, verifies candidates with exact
    shingle Jaccard, and appends survivors — see
    streaming/dedup_stream.py. Because every seen doc's signature is
    stored (dropped ones included), the final survivor set equals the
    batch anti-join rule ("dup of any smaller-id doc at J ≥ 0.4"),
    which the exhaustive DuckDB oracle computes corpus-wide. Recall
    pinning (cf. q_minhash_exact): every dropped pair on this corpus
    sits at J ≥ 0.9, where r=2×b=32 banding miss probability is
    ~1e-23 — a changed corpus/seed could in principle surface a
    near-threshold pair the banding misses; diagnose a future mismatch
    as LSH recall, not an operator bug. Output aggregates per lang
    (count + id/char checksums) to pin membership compactly."""
    from .streaming.dedup_stream import stream_minhash_dedup

    docs = load_table(spark, sf, "documents")
    surv = stream_minhash_dedup(
        spark, docs, keep_cols=["lang", "n_chars"], threshold=0.4, n_chunks=4
    )
    return (
        surv.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("lang")
    )


Q_STREAM_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
)
SELECT lang, COUNT(*) AS n_survivors,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM sh
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------ winnowing fingerprint near-dups


def q_winnowing_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level near-dup pairs via shared winnowing fingerprints
    (MOSS sketch, k=8 chars, window w=8): any shared substring of
    length ≥ 15 chars guarantees a shared fingerprint, so pair counts
    measure contiguous overlap — the signal ExactSubstr-style dedup
    keys on, complementary to MinHash's bag-of-shingles view.
    Fingerprints in > 50 docs are dropped as boilerplate before the
    posting self-join (candidate-proportional, never all-pairs);
    min_shared=10 (sketch is ~half as dense at w=8) sits above the
    corpus's template overlap, isolating the planted near-dup pairs.
    The sketch postings come from the per-corpus artifact store
    (artifacts.winnow_postings), shared with q_winnow_dedup."""
    from .artifacts import winnow_postings
    from .operators.text import winnowing_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return winnowing_pairs(
        docs, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50,
        fp=winnow_postings(spark, sf), strategy="auto",
        # The pinned oracle counts stop-fingerprint df over RAW docs, so
        # auto's collapse branch must use the plain-bit-compatible df
        # unit — on a dup ratio >= 1.25 corpus the default
        # "distinct_texts" unit would silently diverge from the oracle.
        collapse_df="raw_docs",
    ).orderBy("id_a", "id_b")


Q_WINNOWING_PAIRS_SQL = """
WITH clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM documents
),
pos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM clean
),
pos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM pos0),
wins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM pos
),
fp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wins WHERE i <= greatest(n_grams - 7, 1)
),
rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 50),
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 10
ORDER BY 1, 2
"""


# ---------------------------------------- end-to-end curation pipeline


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship composition: a complete corpus-curation pass as ONE
    declarative chain — Gopher quality gate (composite score ≥ 0.75) →
    dominant-repetition cut (top-2-gram ≤ 0.18, top-3-gram ≤ 0.16) →
    exact dedup (keep min doc_id per text) → deterministic md5 train/
    val/test split → per-split doc/token/id-checksum accounting. Every
    stage is an already-oracled operator; chaining them stays one
    Catalyst plan (filters fuse into the scan, the dedup window is the
    only wide op before the final 3-row aggregate), which is the point:
    at 100 TB the curation pass is one job, not five materialized
    intermediates. The oracle replays the same five stages as CTEs."""
    from .operators.dedup import exact_dedup
    from .operators.text import quality_scores, top_ngram_fraction

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    scored = quality_scores(docs).where(F.col("quality_score") >= 0.75)
    rep = top_ngram_fraction(scored.select("doc_id", "text"), "text", ns=(2, 3))
    clean = rep.where(
        ~(
            (F.round("top_2gram_frac", 9) > 0.18)
            | (F.round("top_3gram_frac", 9) > 0.16)
        )
    ).select("doc_id", "text")
    deduped = exact_dedup(clean, ["text"], "doc_id")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin("e", "f"), "test")
        .when(nib.isin("c", "d"), "val")
        .otherwise("train")
    )
    return (
        deduped.select(
            split.alias("split"),
            "doc_id",
            F.size(tokenize("text")).alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


Q_CURATION_PIPELINE_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_char
  FROM documents
),
feat AS (
  SELECT doc_id, text,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         (n_char - len(toks) + 1) / GREATEST(len(toks), 1) AS mean_word_len,
         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS BIGINT)
           / GREATEST(n_char, 1) AS punct_ratio,
         1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1) AS repetition_ratio
  FROM base
),
q AS (
  SELECT doc_id, text FROM feat
  WHERE CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
      + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
      + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
      + CASE WHEN repetition_ratio <= 0.9 THEN 0.25 ELSE 0.0 END >= 0.75
),
wtoks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS rn
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        FROM q)
),
seq AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY rn) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS t2
  FROM wtoks
),
bi AS (SELECT doc_id, tok || ' ' || t1 AS g FROM seq WHERE t1 IS NOT NULL),
tri AS (SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS g FROM seq WHERE t2 IS NOT NULL),
bic AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1
),
tric AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2) GROUP BY 1
),
clean AS (
  SELECT q.doc_id, q.text
  FROM q LEFT JOIN bic ON q.doc_id = bic.doc_id
         LEFT JOIN tric ON q.doc_id = tric.doc_id
  WHERE NOT (COALESCE(ROUND(bic.best / bic.total, 9), 0.0) > 0.18
             OR COALESCE(ROUND(tric.best / tric.total, 9), 0.0) > 0.16)
),
ded AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM clean
  ) WHERE rn = 1
),
tagged AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
              ELSE 'train' END AS split
  FROM ded
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM tagged GROUP BY split ORDER BY split
"""


# ----------------------------------------- curation pipeline v2


def q_curation_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The round-7 flagship composition: corpus curation with the new
    operator wave chained onto the v1 stages — Gopher quality gate →
    dominant-repetition cut → WINNOWING SUBSTRING DEDUP (pair signal →
    connected-components closure → component-min survivors) →
    TRAINING-MIX hash sampling → per-language accounting. The dedup
    closure iterates (label propagation), so unlike v1 this is a
    fixed small number of jobs rather than one plan — the point is
    the COMPOSITION: every stage consumes the previous stage's
    DataFrame lazily, nothing is materialized between quality gate and
    the pair explode, and the oracle replays all six stages as one
    recursive-CTE chain."""
    from .operators.components import connected_components
    from .operators.sampling import stratified_sample_hash
    from .operators.text import (
        quality_scores,
        top_ngram_fraction,
        winnowing_pairs,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "lang")
    scored = quality_scores(docs.select("doc_id", "text")).where(
        F.col("quality_score") >= 0.75
    )
    rep = top_ngram_fraction(scored.select("doc_id", "text"), "text", ns=(2, 3))
    clean = rep.where(
        ~(
            (F.round("top_2gram_frac", 9) > 0.18)
            | (F.round("top_3gram_frac", 9) > 0.16)
        )
    ).select("doc_id", "text")
    pairs = winnowing_pairs(
        clean, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50
    )
    comp = connected_components(
        clean.select(F.col("doc_id").alias("id")), pairs, id_col="id",
        num_partitions=8,
    )
    surv = comp.where(F.col("id") == F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    mixed = stratified_sample_hash(
        surv.join(docs.select("doc_id", "lang"), "doc_id"),
        "lang",
        _MIX,
        "doc_id",
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def _curation_v2_oracle() -> str:

    # reuse v1's quality + repetition CTE chain verbatim up to `clean`
    prefix = Q_CURATION_PIPELINE_SQL.split("ded AS")[0].rstrip().rstrip(",")
    prefix = prefix.replace("WITH base AS", "WITH RECURSIVE base AS", 1)
    return f"""{prefix},
wclean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM clean
),
wpos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM wclean
),
wpos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM wpos0),
wwins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM wpos
),
wfp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wwins WHERE i <= greatest(n_grams - 7, 1)
),
wrare AS (SELECT fingerprint FROM wfp GROUP BY 1 HAVING COUNT(*) <= 50),
wp AS (SELECT f.doc_id, f.fingerprint FROM wfp f JOIN wrare USING (fingerprint)),
wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM wp a JOIN wp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
),
wedges AS (
  SELECT id_a AS s, id_b AS d FROM wpairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM wpairs
),
wreach AS (
  SELECT doc_id AS n, doc_id AS m FROM clean
  UNION
  SELECT r.n, e.d FROM wreach r JOIN wedges e ON r.m = e.s
),
surv AS (SELECT n AS doc_id FROM wreach GROUP BY n HAVING n = MIN(m)),
hashed AS (
  SELECT s.doc_id, d.lang,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(s.doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS bucket
  FROM surv s JOIN documents d USING (doc_id)
),
mixed AS (
  SELECT h.doc_id, h.lang
  FROM hashed h JOIN (VALUES {_MIX_VALUES_SQL}) AS f(lang, frac) ON h.lang = f.lang
  WHERE h.bucket < f.frac * 4294967296
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM mixed GROUP BY lang ORDER BY lang
"""


# ----------------------------------------- winnowing dedup cut


def q_winnow_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr-style dedup DECISION from the winnowing pair signal
    (closing the loop r6's VERDICT noted open: winnowing_pairs emits
    pairs but no cut): verified substring-overlap pairs →
    connected-components transitive closure (hash-min label
    propagation, operators/components.py) → keep each component's min
    doc_id. Emits every doc's (component, survivor) so the oracle
    checks the full induced clustering, not just the survivor list —
    the DuckDB twin recomputes the pair rule with the same CTE as
    q_winnowing_pairs and closes it with a recursive reachability CTE.
    Greedy keep-min-id would under-merge chains (A~B, B~C with A~C
    untested); the closure is the correct cut. The sketch postings come
    from the per-corpus artifact store (shared with q_winnowing_pairs)."""
    from .artifacts import winnow_postings
    from .operators.components import connected_components
    from .operators.text import winnowing_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    pairs = winnowing_pairs(
        docs, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50,
        fp=winnow_postings(spark, sf),
    )
    comp = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs, id_col="id",
        num_partitions=8,
    )
    return (
        comp.select(
            F.col("id").alias("doc_id"),
            "component",
            (F.col("id") == F.col("component")).alias("survivor"),
        )
        .orderBy("doc_id")
    )


_WINNOW_PAIR_CTES = """
clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM documents
),
pos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM clean
),
pos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM pos0),
wins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM pos
),
fp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wins WHERE i <= greatest(n_grams - 7, 1)
),
rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 50),
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
)
"""


Q_WINNOW_DEDUP_SQL = f"""
WITH RECURSIVE {_WINNOW_PAIR_CTES.strip().rstrip()},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach AS (
  SELECT doc_id AS n, doc_id AS m FROM documents
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
)
SELECT n AS doc_id, MIN(m) AS component, n = MIN(m) AS survivor
FROM reach GROUP BY n
ORDER BY doc_id
"""


# ----------------------------------------- bloom contamination prefilter


def q_bloom_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom pre-filter in front of the contamination scan
    (operators/bloom.py): the benchmark side (planted exactly like
    q_contamination: docs with doc_id % 97 == 0 carry the first 30
    tokens of doc doc_id+1) builds an 8 KiB bitmap over its 5-grams;
    every training doc then probes its own gram array IN-ROW against
    the broadcast bitmap — zero shuffle, zero explode on the corpus
    side. The oracle pins the Bloom no-false-negative guarantee: every
    planted donor doc MUST be flagged (literal TRUE; the row vanishes
    on a false negative and the hash fails). False-positive survivors
    are engine-specific by design and flow to the exact check, so they
    are not part of the verified output."""
    from .operators.bloom import bloom_build, bloom_hit

    docs = load_table(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )

    def grams(tok_col, k=5):
        return F.when(
            F.size(tok_col) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tok_col) - k + 1),
                    lambda i: F.array_join(F.slice(tok_col, i, k), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(tok_col, " ")))

    tokenized = docs.select("doc_id", toks.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )
    bench_grams = evals.select(F.explode(grams(F.col("_t"))).alias("gram"))
    bloom = bloom_build(bench_grams, m_bits=1 << 16, k=3)
    train = tokenized.where(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_id"), grams(F.col("_t")).alias("_g")
    )
    flagged = train.crossJoin(F.broadcast(bloom)).select(
        "train_id",
        bloom_hit(F.col("_g"), F.col("words"), 1 << 16, 3).alias("bloom_caught"),
    )
    donors = evals.select(
        F.col("doc_id").alias("eval_id"), (F.col("doc_id") + 1).alias("train_id")
    )
    return (
        donors.join(flagged, "train_id")
        .select("eval_id", "train_id", "bloom_caught")
        .orderBy("eval_id")
    )


Q_BLOOM_CONTAMINATION_SQL = """
SELECT d.doc_id AS eval_id, d.doc_id + 1 AS train_id, TRUE AS bloom_caught
FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
WHERE d.doc_id % 97 = 0
ORDER BY eval_id
"""


def q_contamination_prefiltered(spark: SparkSession, sf: str) -> DataFrame:
    """The composed two-stage contamination pipeline: Bloom pre-filter
    (stage 1, in-row bitmap probe) feeding the exact 5-gram containment
    argmax (stage 2) — oracled against the SAME SQL as the unfiltered
    q_contamination. That equality is a theorem the query verifies
    end-to-end: any train doc with n_shared ≥ 1 shares a benchmark
    gram, which is in the bitmap by construction, so the pre-filter can
    drop only zero-overlap docs (which the exact inner join ignores
    anyway) and false positives wash out in the exact stage. At 100 TB
    stage 2's explode+join runs on the Bloom survivors instead of the
    corpus."""
    from .operators.bloom import bloom_build, bloom_hit

    docs = load_table(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
    )

    def grams(tok_col, k=5):
        return F.when(
            F.size(tok_col) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tok_col) - k + 1),
                    lambda i: F.array_join(F.slice(tok_col, i, k), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(tok_col, " ")))

    tokenized = docs.select("doc_id", toks.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    evals = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
    )
    bloom = bloom_build(
        evals.select(F.explode(grams(F.col("_t"))).alias("gram")),
        m_bits=1 << 16,
        k=3,
    )
    survivors = (
        tokenized.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", grams(F.col("_t")).alias("_g"))
        .crossJoin(F.broadcast(bloom))
        .where(bloom_hit(F.col("_g"), F.col("words"), 1 << 16, 3))
        .select("doc_id", "_g")
    )
    e_grams = evals.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(grams(F.col("_t"))).alias("gram"),
        F.size(grams(F.col("_t"))).alias("n_eval_grams"),
    )
    t_grams = survivors.select(
        F.col("doc_id").alias("train_id"), F.explode("_g").alias("gram")
    )
    shared = (
        t_grams.join(F.broadcast(e_grams), "gram")
        .groupBy("eval_id", "train_id", "n_eval_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("eval_id").orderBy(
        (F.col("n_shared") / F.col("n_eval_grams")).desc(), F.col("train_id").asc()
    )
    return (
        shared.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "eval_id",
            "train_id",
            F.round(F.col("n_shared") / F.col("n_eval_grams"), 6).alias(
                "containment"
            ),
        )
        .orderBy("eval_id")
    )


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-shaped curation stage on DERIVED embeddings: hash-embed
    the corpus, pair docs whose cosine (rounded to 9) ≥ 0.995 —
    near-identical bag-of-words, the planted text near-dups sit ≥ .997
    while the word-soup background tops out ~.95 — close the pairs into
    components, keep the min doc_id per cluster. Emits the multi-member
    clusters only: (doc_id, cluster_id, kept).

    Scale: the pair step here is the GATED broadcast-NL exact baseline
    (same contract as embedding_neardup_pairs — refuses > max_docs); at
    corpus scale generate candidates with minhash_lsh_pairs on the text
    or lsh_topk_batch on the vectors and verify survivors with this
    exact cosine rule. Components is hash-min label propagation
    (operators.components), 2-3 rounds on near-clique dedup graphs."""
    from .operators.components import connected_components
    from .operators.dedup import _gate_corpus_size
    from .operators.similarity import cosine_pairs, norm_vectors

    docs = load_table(spark, sf, "documents")
    _gate_corpus_size(docs, 100_000, "q_semantic_dedup", "minhash_lsh_pairs candidates")
    # norm_vectors materializes the derived vectors BEFORE pairing (the
    # embed fold must not collapse into the pair join) and breaks the
    # single-file scan into a parallel NLJ stream side; cosine_pairs is
    # the shared exact rule the streaming processor and its tests use.
    e = norm_vectors(feature_hash_embed(docs, dim=_DIM), "doc_id")
    pairs = cosine_pairs(e, e, 0.995, "doc_id")
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, pairs, "id", num_partitions=8)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_sz"))
    return (
        comp.join(sizes.where(F.col("_sz") > 1), "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("id") == F.col("component")).alias("kept"),
        )
        .orderBy("cluster_id", "doc_id")
    )


Q_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {_VECS_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.995
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY n),
sized AS (
  SELECT doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS sz
  FROM clusters
)
SELECT doc_id, cluster_id, doc_id = cluster_id AS kept
FROM sized WHERE sz > 1
ORDER BY cluster_id, doc_id
"""


def q_stream_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time semantic dedup through real streaming machinery: the
    corpus replays as 4 micro-batches; each batch feature-hash embeds
    itself, scores against the persistent vector store (every seen
    doc's vector, dropped included), and drops docs with any smaller-id
    partner at round(cosine, 9) ≥ 0.995 — the batch anti-join rule,
    which the exhaustive DuckDB oracle computes corpus-wide (NOT the
    component-min rule of q_semantic_dedup; see
    streaming/semantic_stream.py for the difference). Output aggregates
    survivors per lang (count + id/char checksums) to pin membership."""
    from .streaming.semantic_stream import stream_semantic_dedup

    docs = load_table(spark, sf, "documents")
    surv = stream_semantic_dedup(
        spark, docs, keep_cols=["lang", "n_chars"], threshold=0.995, n_chunks=4
    )
    return (
        surv.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("lang")
    )


Q_STREAM_SEMANTIC_DEDUP_SQL = f"""
WITH {_VECS_CTE},
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.995
)
SELECT lang, COUNT(*) AS n_survivors,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY lang
ORDER BY lang
"""


def q_cross_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus decontamination by near-dup: split the corpus into a
    "reference" (even doc_id) and a "new crawl" (odd doc_id) and report
    every new doc that near-duplicates a reference doc (exact shingle
    Jaccard ≥ 0.8 on MinHash-LSH candidates) — the crawl-vs-corpus /
    eval-vs-train shape, bipartite rather than a self-join
    (operators.dedup.minhash_cross_pairs). The oracle computes the
    exhaustive cross pair set. Recall pinning: the threshold matches
    the family default 0.8, where 16-band/4-row banding misses a pair
    with probability (1-J⁴)¹⁶ ≤ 3e-3, and the measured cross pairs all
    sit at J ≥ 0.889 (miss ≤ 1.5e-7; verified exhaustively at
    sf0.001/0.01/0.1 with NO background pair anywhere in [0.35, 0.88),
    so a future testdata regeneration cannot silently land in the
    recall-fragile band without the oracle catching it)."""
    from .operators.dedup import minhash_cross_pairs

    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    return minhash_cross_pairs(new, ref, threshold=0.8)


Q_CROSS_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
"""


# ------------------------------------------ curation funnel report


def q_curation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-gate audit report in ONE corpus pass: every doc's
    stage flags are conditional expressions in a single projection, the
    funnel is four partial sums in one 1-row aggregate, and the
    per-stage rows are exploded from that row — a 100-TB audit costs
    one scan, not one scan per stage. Gates: length 100-500 chars →
    lang allowlist → repetition_ratio ≤ 0.64 (the q_quality_scores
    definition, so the signal is shared with the scoring query)."""
    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1))
    f1 = F.col("n_chars").between(100, 500)
    f2 = f1 & F.col("lang").isin("en", "es", "de", "fr")
    f3 = f2 & (F.round(rep, 9) <= 0.64)
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(f1, one).otherwise(zero)).alias("n1"),
        F.sum(F.when(f2, one).otherwise(zero)).alias("n2"),
        F.sum(F.when(f3, one).otherwise(zero)).alias("n3"),
    )
    n, n1, n2, n3 = F.col("n"), F.col("n1"), F.col("n2"), F.col("n3")

    def stage(name: str, n_in, n_out):
        return F.struct(
            F.lit(name).alias("stage"),
            n_in.cast("bigint").alias("n_in"),
            (n_in - n_out).cast("bigint").alias("n_dropped"),
            n_out.cast("bigint").alias("n_out"),
        )

    return (
        agg.select(
            F.explode(
                F.array(
                    stage("1_length", n, n1),
                    stage("2_lang", n1, n2),
                    stage("3_repetition", n2, n3),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("stage")
    )


Q_CURATION_REPORT_SQL = r"""
WITH q AS (
  SELECT n_chars, lang,
         1.0 - CAST(len(list_distinct(toks)) AS BIGINT) / GREATEST(CAST(len(toks) AS BIGINT), 1) AS rep
  FROM (SELECT n_chars, lang,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents)
),
f AS (
  SELECT CAST(n_chars BETWEEN 100 AND 500 AS INT) AS f1,
         CAST(n_chars BETWEEN 100 AND 500 AND lang IN ('en','es','de','fr') AS INT) AS f2,
         CAST(n_chars BETWEEN 100 AND 500 AND lang IN ('en','es','de','fr')
              AND ROUND(rep, 9) <= 0.64 AS INT) AS f3
  FROM q
),
a AS (SELECT COUNT(*) AS n, SUM(f1) AS n1, SUM(f2) AS n2, SUM(f3) AS n3 FROM f)
SELECT '1_length' AS stage, CAST(n AS BIGINT) AS n_in,
       CAST(n - n1 AS BIGINT) AS n_dropped, CAST(n1 AS BIGINT) AS n_out FROM a
UNION ALL SELECT '2_lang', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT) FROM a
UNION ALL SELECT '3_repetition', CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT), CAST(n3 AS BIGINT) FROM a
ORDER BY stage
"""


# --------------------------------- ingest-time decontamination


def _grams5(tok_col):
    """Distinct 5-grams of a token array (q_contamination's rule,
    including the <5-token whole-doc fallback)."""
    return F.when(
        F.size(tok_col) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tok_col) - 4),
                lambda i: F.array_join(F.slice(tok_col, i, 5), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(tok_col, " ")))


def q_stream_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time benchmark decontamination: the corpus replays as a
    3-chunk stream; each micro-batch explodes its docs' distinct
    5-grams, broadcast-joins the (static, planted exactly like
    q_contamination) benchmark gram set, and lands the batch's DROP
    decisions in a per-batch_id overwrite store — replay-idempotent
    like every store here. Because "shares ≥1 benchmark gram" is a pure
    per-doc predicate given the broadcast benchmark side, the union of
    per-batch drops must equal the batch rule EXACTLY regardless of
    chunking — which is what the oracle checks. This is how eval-set
    hygiene is enforced while the corpus streams in, instead of a
    full re-scan after landing."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    alnum = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    tokenized = docs.select("doc_id", alnum.alias("_t"))
    donor = tokenized.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.slice("_t", 1, 30).alias("_t")
    )
    bench = (
        tokenized.where(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .join(donor, "doc_id")
        .select(F.explode(_grams5(F.col("_t"))).alias("gram"))
        .distinct()
    )
    bench.persist().count()  # settle the benchmark side once, pre-stream

    work = tempfile.mkdtemp(prefix="stream_decon_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    store = f"{work}/dropped"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )

    def sink(batch, batch_id):
        b = batch.select(
            "doc_id",
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
            ).alias("_t"),
        ).where(F.col("doc_id") % 97 != 0)
        dropped = (
            b.select("doc_id", F.explode(_grams5(F.col("_t"))).alias("gram"))
            .join(F.broadcast(bench), "gram")
            .select("doc_id")
            .distinct()
        )
        dropped.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )
    bench.unpersist()
    return (
        spark.read.schema("doc_id long")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .orderBy("doc_id")
    )


Q_STREAM_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, len(t) - 3),
                     i -> array_to_string(t[i:i+4], ' ')))
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
),
donor AS (
  SELECT doc_id - 1 AS doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(list_slice(t, 1, 30)) - 3, 1)),
                     i -> array_to_string(list_slice(t, 1, 30)[i:i+4], ' ')))
              ELSE [array_to_string(list_slice(t, 1, 30), ' ')] END AS g
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(d.g) AS gram
  FROM donor d JOIN grams orig ON orig.doc_id = d.doc_id
  WHERE d.doc_id % 97 = 0
),
t_expl AS (SELECT doc_id AS train_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0)
SELECT DISTINCT train_id AS doc_id
FROM t_expl JOIN bench USING (gram)
ORDER BY doc_id
"""


# ---------------------------------------------- dedup provenance


def q_dedup_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters with full provenance: exact-verified MinHash
    pairs (Jaccard ≥ 0.5) → connected components → one row per
    multi-member cluster: survivor (min id), member count, sorted
    absorbed ids, id checksum."""
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    comp = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("doc_id") != F.col("component"), F.col("doc_id"))
                    )
                ).cast("array<string>"),
                ",",
            ).alias("absorbed_ids"),
            F.sum("doc_id").alias("member_checksum"),
        )
        .where(F.col("n_members") >= 2)
        .select(
            F.col("component").alias("survivor"),
            "n_members",
            "absorbed_ids",
            "member_checksum",
        )
        .orderBy("survivor")
    )


Q_DEDUP_PROVENANCE_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS component FROM reach GROUP BY n)
SELECT component AS survivor,
       COUNT(*) AS n_members,
       array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE doc_id <> component),
                       ',') AS absorbed_ids,
       CAST(SUM(doc_id) AS BIGINT) AS member_checksum
FROM clusters
GROUP BY component HAVING COUNT(*) >= 2
ORDER BY survivor
"""


# ------------------------------------------------ BFS hop distance


def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, survivor, dist) for every doc in a non-singleton
    near-dup cluster: dist = fewest pair-graph hops to the cluster's
    min-id survivor.

    The pair graph is the exact-verified MinHash rule (Jaccard ≥ 0.5
    on word trigrams — q_dedup_provenance's graph); components label
    each node with its min-id, then multi-source BFS from all
    survivors at once (within a component only its own survivor is
    reachable, so the nearest-source distance IS the to-survivor
    distance). Iteration count = cluster diameter — tiny for dedup
    graphs regardless of corpus size.
    """
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact
    from .operators.graph import bfs_hops

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    pairs = pairs.transform(materialize)
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(nodes, pairs, id_col="doc_id")
    survivors = comp.select(F.col("component").alias("doc_id")).distinct()
    dist = bfs_hops(pairs, survivors, id_col="doc_id")
    return (
        comp.join(dist, "doc_id")
        .select("doc_id", F.col("component").alias("survivor"), "dist")
        .orderBy("doc_id")
    )


Q_BFS_HOPS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS survivor FROM reach GROUP BY n),
walk(n, dd) AS (
  SELECT DISTINCT survivor, 0 FROM clusters
  UNION
  SELECT e.d, w.dd + 1 FROM walk w JOIN edges e ON e.s = w.n WHERE w.dd < 20
),
dists AS (SELECT n AS doc_id, CAST(MIN(dd) AS BIGINT) AS dist FROM walk GROUP BY n)
SELECT c.doc_id, c.survivor, d.dist
FROM clusters c JOIN dists d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
"""


# ------------------------------------------ per-source dedup rate


def q_dedup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per source: docs, absorbed near-dups (non-survivor members of
    exact-verified MinHash clusters), and the absorbed rate. The
    Spark side reuses the banded pipeline + components; the oracle
    replays the exact pair rule's recursive closure."""
    from .operators.components import connected_components
    from .operators.dedup import minhash_then_exact

    docs = load_table(spark, sf, "documents")
    pairs = minhash_then_exact(docs, threshold=0.5).select("id_a", "id_b")
    pairs = pairs.transform(materialize)
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(nodes, pairs, id_col="doc_id")
    absorbed = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    flagged = docs.select("doc_id", "source").join(
        absorbed.withColumn("is_absorbed", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_absorbed", F.lit(0))).cast("long").alias(
                "n_absorbed"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_absorbed",
            F.round(
                F.col("n_absorbed").cast("double") / F.col("n_docs").cast("double"),
                9,
            ).alias("absorbed_rate_r9"),
        )
        .orderBy("source")
    )


Q_DEDUP_RATE_BY_SOURCE_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(n, l) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n
),
clusters AS (SELECT n AS doc_id, MIN(l) AS component FROM reach GROUP BY n),
absorbed AS (SELECT doc_id FROM clusters WHERE doc_id <> component)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_absorbed,
       ROUND(CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS absorbed_rate_r9
FROM documents d LEFT JOIN absorbed a ON a.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""


# ----------------------------------- streamed artifact maintenance


def q_stream_artifact_index(spark: SparkSession, sf: str) -> DataFrame:
    """Serve a per-doc verification row from the INCREMENTALLY
    maintained artifact stores (4-micro-batch replay): lang,
    distinct-shingle count (MinHash base), md5-SimHash fingerprint,
    the read-time-derived TF-IDF posting count + DECIMAL(38,6)
    weight checksum (df ≤ 50 cap, w = tf·N/df — the artifacts.py
    contract), and the winnow sketch size (r12 — the fourth
    maintained family). Document frequency and weights are NOT
    stored — they are corpus-global and change with every append, so
    the store keeps doc-local partials and this reader derives
    (df, w) with one aggregation over the merged postings."""
    from .streaming.artifact_stream import stream_artifact_index

    docs = load_table(spark, sf, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=4)
    # N = corpus size, from the store itself (base_n has one row per
    # doc — with_shingles keeps even empty/short docs)
    n_docs = stores["base_n"].count()
    df_w = Window.partitionBy("term")
    w = (
        stores["tf"]
        .withColumn("df", F.count(F.lit(1)).over(df_w))
        .where(F.col("df") <= 50)
        .select(
            "doc_id",
            (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("w"),
        )
    )
    per_doc = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("w").cast("decimal(38,6)")).cast("double").alias("w_sum"),
    )
    # winnow sketch size per doc (postings are per-doc distinct fps;
    # the count is invariant under the packed-long recode, so DuckDB
    # reproduces it from the string grams)
    n_win = stores["winnow"].groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_winnow")
    )
    return (
        stores["base_n"]
        .join(stores["simhash"], "doc_id")
        .join(per_doc, "doc_id", "left")
        .join(n_win, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.col("_n").cast("int").alias("n_shingles"),
            "simhash32",
            F.coalesce("n_terms", F.lit(0)).cast("long").alias("n_terms"),
            F.coalesce("w_sum", F.lit(0.0)).alias("w_sum"),
            F.coalesce("n_winnow", F.lit(0)).cast("long").alias("n_winnow"),
        )
        .orderBy("doc_id")
    )


def _stream_artifact_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return rf"""
WITH shtoks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS INTEGER)
              ELSE 1 END AS n_shingles
  FROM shtoks),
simtok AS (
  SELECT doc_id, unnest(t) AS t FROM shtoks),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM simtok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fpt AS (SELECT doc_id, {fp} AS simhash32 FROM votes),
wtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
terms AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS term
  FROM wtoks WHERE len(t) >= 3),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 50),
wt AS (
  SELECT doc_id,
         tf * CAST((SELECT n_docs FROM n) AS DOUBLE) / df AS w
  FROM tf JOIN df ON tf.term = df.term),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS w_sum
  FROM wt GROUP BY 1),
wclean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents),
wpos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM wclean),
wpos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM wpos0),
wwins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM wpos),
wfp AS (
  SELECT doc_id, CAST(COUNT(DISTINCT fpv) AS BIGINT) AS n_winnow
  FROM wwins WHERE i <= greatest(n_grams - 7, 1)
  GROUP BY 1)
SELECT s.doc_id, s.lang, s.n_shingles, f.simhash32,
       COALESCE(p.n_terms, 0) AS n_terms,
       COALESCE(p.w_sum, 0.0) AS w_sum,
       COALESCE(wf.n_winnow, 0) AS n_winnow
FROM sh s
JOIN fpt f ON f.doc_id = s.doc_id
LEFT JOIN per_doc p ON p.doc_id = s.doc_id
LEFT JOIN wfp wf ON wf.doc_id = s.doc_id
ORDER BY s.doc_id
"""


Q_STREAM_ARTIFACT_INDEX_SQL = _stream_artifact_oracle()


# ------------------------------------------- dup-heavy pair hardening


def q_simhash_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash pair extraction on a DUP-HEAVY corpus (r11 verdict item
    5): every document deterministically replicated 20× (new id =
    doc_id·20 + rep), so identical-fingerprint groups have ≥20 members
    and the within-group C(m,2)·C(blocks,d) stream — untested at the
    94%-distinct base corpus — dominates. ``strategy="auto"`` must
    measure the group stats and pick the distinct-fingerprint banding
    path (pinned by tests/test_wave34.py); the oracle reproduces the
    full pair mass arithmetically from the per-original fingerprints
    (replica expansion is pure algebra), pinning per-hamming pair
    counts AND id-sum checksums — content, not counts."""
    from .operators.dedup import simhash_md5_pairs

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    # in-row replication (explode of a 20-element sequence): no join,
    # no cartesian — the replicated corpus is one projection
    dup = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("_r"),
        "doc_id",
        "text",
    ).select((F.col("doc_id") * 20 + F.col("_r")).alias("doc_id"), "text")
    pairs = simhash_md5_pairs(dup, strategy="auto")
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("hamming")
    )


def _dupheavy_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return rf"""
WITH shtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents),
simtok AS (SELECT doc_id, unnest(t) AS t FROM shtoks),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS h
  FROM simtok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fpt AS (SELECT doc_id, {fp} AS simhash32 FROM votes),
-- replica algebra: original o expands to ids 20o..20o+19, so a group
-- of k originals has m = 20k members with id sum 400*Σo + 190k
grp AS (
  SELECT simhash32 AS f, 20 * COUNT(*) AS m,
         400 * SUM(doc_id) + 190 * COUNT(*) AS s
  FROM fpt GROUP BY 1),
within AS (
  SELECT 0 AS hamming, (m * (m - 1)) // 2 AS n, (m - 1) * s AS ids
  FROM grp WHERE m >= 2),
cross_g AS (
  SELECT bit_count(xor(a.f, b.f)) AS hamming,
         a.m * b.m AS n, b.m * a.s + a.m * b.s AS ids
  FROM grp a JOIN grp b ON a.f < b.f
  WHERE bit_count(xor(a.f, b.f)) <= 3),
allp AS (SELECT * FROM within UNION ALL SELECT * FROM cross_g)
SELECT CAST(hamming AS INTEGER) AS hamming,
       CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(ids) AS BIGINT) AS id_sum
FROM allp GROUP BY 1 ORDER BY 1
"""


Q_SIMHASH_DUPHEAVY_SQL = _dupheavy_oracle()


_MH_R = 12  # replica multiplicity of the minhash dup-heavy corpus


def q_minhash_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH pair extraction on a NEAR-dup-heavy corpus (r13,
    the minhash complement of q_simhash_dupheavy): each md5-quarter
    document replicated 12× with a doc-specific and a replica-specific
    marker token appended, so every replica is globally-unique text
    (exact_dedup, the exact-replica contract's stage, collapses
    nothing) yet clusters sit at Jaccard c/(c+2) ≈ 0.82-0.98 — the
    regime where the band self-join re-emits each cluster pair once
    per agreeing band. The signature tables are materialized and
    passed in (the warehouse shape), so ``strategy="auto"`` measures
    the band-bucket group stats and must pick the firstband path
    (pinned by tests/test_wave35.py).

    Oracle: appending tokens factors each replica's shingle set as
    C_d ∪ {B_dr} with C_d replica-independent and B_dr globally
    unique, so within-cluster Jaccard is c_d/(c_d+2) and a cross pair
    (d1,d2) has one Jaccard shared by all 12² replica pairs — DuckDB
    reproduces the full pair mass from a quadratic over ORIGINALS
    only (the replica expansion is pure algebra), pinning per-Jaccard
    pair counts and id-sum checksums. Banding is 64 hashes × 32 bands
    (rows_per_band=2): the lowest Jaccard the threshold admits (0.7)
    misses a band with p=1-0.7², all 32 with 4e-10 — recall is exact
    at every tested scale."""
    from .operators.dedup import (
        minhash_lsh_pairs,
        minhash_min_cols,
        with_shingles,
    )

    R = _MH_R
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sub = docs.where(nib.isin(*_SUB_NIBBLES))
    dup = sub.selectExpr(
        f"explode(sequence(0, {R - 1})) as _r", "doc_id", "text"
    ).selectExpr(
        f"doc_id * {R} + _r as doc_id",
        "concat(text, ' x', cast(doc_id as string), 'y z',"
        " cast(_r as string), 'w') as text",
    )
    base = with_shingles(dup, "doc_id", "text", 3).persist()
    mins = minhash_min_cols(base, "doc_id", 64, 42).persist()
    try:
        pairs = minhash_lsh_pairs(
            dup,
            threshold=0.7,
            num_hashes=64,
            bands=32,
            base=base,
            mins=mins,
            strategy="auto",
        )
    finally:
        # pairs is eagerly materialized by the operator (base/mins
        # are caller-owned), so the signature caches release here
        mins.unpersist()
        base.unpersist()
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, "jaccard")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "jaccard")
    )


def _mh_dupheavy_oracle(r: int = _MH_R) -> str:
    # Σ_{i<j<R}(i+j) and the per-pair id algebra (id = doc_id·R + rep)
    c2 = r * (r - 1) // 2
    within_ids = f"{c2 * 2 * r} * doc_id + {(r - 1) * c2}"
    cross_ids = f"{r * r * r} * (a.doc_id + b.doc_id) + {r * r * (r - 1)}"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
),
aug AS (
  SELECT doc_id, list_append(t, 'x' || CAST(doc_id AS VARCHAR) || 'y') AS t1
  FROM toks
),
cset AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t1) - 1),
             i -> t1[i] || ' ' || t1[i+1] || ' ' || t1[i+2])) AS c
  FROM aug
),
within AS (
  SELECT TRUE AS within,
         CAST(len(c) AS DOUBLE) / (len(c) + 2) AS jaccard,
         CAST({c2} AS BIGINT) AS n,
         CAST({within_ids} AS BIGINT) AS ids
  FROM cset
  WHERE CAST(len(c) AS DOUBLE) / (len(c) + 2) >= 0.7
),
cross_p AS (
  SELECT FALSE AS within,
         CAST(len(list_intersect(a.c, b.c)) AS DOUBLE)
           / (len(a.c) + len(b.c) - len(list_intersect(a.c, b.c)) + 2) AS jaccard,
         CAST({r * r} AS BIGINT) AS n,
         CAST({cross_ids} AS BIGINT) AS ids
  FROM cset a JOIN cset b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.c, b.c)) AS DOUBLE)
          / (len(a.c) + len(b.c) - len(list_intersect(a.c, b.c)) + 2) >= 0.7
),
allp AS (SELECT * FROM within UNION ALL SELECT * FROM cross_p)
SELECT within, jaccard,
       CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(ids) AS BIGINT) AS id_sum
FROM allp GROUP BY 1, 2 ORDER BY 1, 2
"""


Q_MINHASH_DUPHEAVY_SQL = _mh_dupheavy_oracle()


# ------------------- dup-heavy strategies: winnowing / ngram-overlap
#
# r13, closing the r12 verdict's #3 item: the two remaining pair
# families meet the exact-replica (re-crawl) regime through the new
# text-identity collapse strategy. Measured motivation (sf0.001
# quarter, exact replicas): winnowing's df cap SILENTLY ZEROES
# clusters past max_doc_freq members (R=60 → 0 pairs where R=48 found
# 116k), and ngram_overlap has no cap at all (R=120 → quadratic
# posting work). Collapse factors both by identical-text groups —
# candidate work O(distinct texts), expansion output-sized — and the
# oracles below reproduce the full pair mass by replica ALGEBRA over
# per-original sketches (the q_minhash_dupheavy contract).

_WD_R = 60  # replica multiplicity — deliberately PAST the df cap


def _exact_replicas(docs: DataFrame, r: int, *keep: str) -> DataFrame:
    """r EXACT copies of every doc (same text, ids doc_id·r + rep) —
    the re-crawl regime, as opposed to queries_ext34's near-dup
    replicas (marker-token-appended, globally-unique text)."""
    return docs.selectExpr(
        f"explode(sequence(0, {r - 1})) as _r", "doc_id", "text", *keep
    ).selectExpr(f"doc_id * {r} + _r as doc_id", "text", *keep)


def q_winnow_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing near-dup pairs on a 60×-exact-replica corpus — PAST
    the stop-fingerprint cliff (every cluster fingerprint's raw df is
    60 > max_doc_freq=50, so strategy="plain" measurably returns ZERO
    pairs). strategy="collapse" groups by text identity first, so the
    df cap counts DISTINCT TEXTS (the boilerplate definition a
    re-crawl corpus wants), candidate work is O(originals), and the
    C(60,2)-per-cluster pair mass comes from output-sized expansion.
    Output is the dup-heavy family's standard algebra-checkable form:
    per (within-cluster?, n_shared) pair counts + id-sum checksums.
    The originals are exact-deduped by text before replication so the
    oracle's group-≡-original algebra holds at any sf."""
    from .operators.dedup import exact_dedup
    from .operators.text import winnowing_pairs

    R = _WD_R
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    orig = exact_dedup(docs.where(nib.isin(*_SUB_NIBBLES)), ["text"], "doc_id")
    dup = _exact_replicas(orig.select("doc_id", "text"), R)
    pairs = winnowing_pairs(dup, strategy="collapse")
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, "n_shared")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "n_shared")
    )


def _winnow_dupheavy_oracle(r: int = _WD_R) -> str:
    # member ids of original o are o·r + 0..r-1; with S(o) = Σ ids =
    # o·r² + r(r-1)/2:  within pairs — each member in (r-1) pairs →
    # id_sum = (r-1)·S(o), n = C(r,2); cross pairs (a,b) — id_sum =
    # r·S(a) + r·S(b) = r³(a+b) + r²(r-1), n = r² (orientation-free:
    # the checksum sums id_a+id_b, invariant under least/greatest)
    c2 = r * (r - 1) // 2
    within_ids = f"{(r - 1) * r * r} * doc_id + {(r - 1) * c2}"
    cross_ids = f"{r**3} * (a.doc_id + b.doc_id) + {r * r * (r - 1)}"
    nibs = ", ".join(f"'{n}'" for n in _SUB_NIBBLES)
    return f"""
WITH quarter AS (
  SELECT doc_id, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({nibs})
),
orig AS (SELECT MIN(doc_id) AS doc_id, text FROM quarter GROUP BY text),
clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM orig
),
pos0 AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 1) AS BIGINT) + 1)) AS i
  FROM clean
),
pos AS (SELECT doc_id, i, substring(s, CAST(i AS INTEGER), 8) AS gram FROM pos0),
wins AS (
  SELECT doc_id, i,
         MIN(gram) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fpv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM pos
),
fp AS (
  SELECT DISTINCT doc_id, fpv AS fingerprint
  FROM wins WHERE i <= greatest(n_grams - 7, 1)
),
rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 50),
p AS (SELECT f.doc_id, f.fingerprint FROM fp f JOIN rare USING (fingerprint)),
nfp AS (SELECT doc_id, COUNT(*) AS nfp FROM p GROUP BY 1),
rp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ns
  FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
),
cross_rows AS (
  SELECT FALSE AS within, ns AS n_shared,
         CAST(COUNT(*) * {r * r} AS BIGINT) AS n_pairs,
         CAST(SUM({r**3} * (a_id + b_id) + {r * r * (r - 1)}) AS BIGINT) AS id_sum
  FROM rp GROUP BY ns
),
within_rows AS (
  SELECT TRUE AS within, nfp AS n_shared,
         CAST(COUNT(*) * {c2} AS BIGINT) AS n_pairs,
         CAST(SUM({within_ids}) AS BIGINT) AS id_sum
  FROM nfp WHERE nfp >= 10 GROUP BY nfp
)
SELECT * FROM cross_rows
UNION ALL SELECT * FROM within_rows
ORDER BY within, n_shared
"""


def q_overlap_dupheavy(spark: SparkSession, sf: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs on the same
    60×-exact-replica corpus, language-blocked. ngram_overlap_pairs
    has NO stop-shingle cap (common shingles ARE the containment
    signal), so strategy="plain" does Σ|shingles|·C(m,2) posting work
    in this regime — measured quadratic. strategy="collapse" is
    bit-identical to plain on EVERY corpus (identical text ⇒ identical
    shingle set; no df semantics involved) with O(distinct texts)
    candidate work. Same algebra-checkable output form as
    q_winnow_dupheavy; within-cluster overlap is exactly 1.0."""
    from .operators.dedup import exact_dedup, ngram_overlap_pairs

    R = _WD_R
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    orig = exact_dedup(
        docs.where(nib.isin(*_SUB_NIBBLES)), ["lang", "text"], "doc_id"
    )
    dup = _exact_replicas(orig.select("doc_id", "text", "lang"), R, "lang")
    pairs = ngram_overlap_pairs(
        dup, block_cols=["lang"], k=3, threshold=0.6, strategy="collapse",
        max_docs=None,
    )
    within = (
        F.floor(F.col("id_a") / R) == F.floor(F.col("id_b") / R)
    ).alias("within")
    return (
        pairs.groupBy(within, F.round("overlap", 9).alias("overlap"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        )
        .orderBy("within", "overlap")
    )


def _overlap_dupheavy_oracle(r: int = _WD_R) -> str:
    c2 = r * (r - 1) // 2
    within_ids = f"{(r - 1) * r * r} * doc_id + {(r - 1) * c2}"
    nibs = ", ".join(f"'{n}'" for n in _SUB_NIBBLES)
    return f"""
WITH quarter AS (
  SELECT doc_id, lang, text FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({nibs})
),
orig AS (
  SELECT MIN(doc_id) AS doc_id, lang, text FROM quarter GROUP BY lang, text
),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM orig
),
sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
rp AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)), 9) AS ov
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / least(len(a.sh), len(b.sh)) >= 0.6
),
cross_rows AS (
  SELECT FALSE AS within, ov AS overlap,
         CAST(COUNT(*) * {r * r} AS BIGINT) AS n_pairs,
         CAST(SUM({r**3} * (a_id + b_id) + {r * r * (r - 1)}) AS BIGINT) AS id_sum
  FROM rp GROUP BY ov
),
within_rows AS (
  SELECT TRUE AS within, 1.0 AS overlap,
         CAST(COUNT(*) * {c2} AS BIGINT) AS n_pairs,
         CAST(SUM({within_ids}) AS BIGINT) AS id_sum
  FROM sh WHERE len(sh) > 0
)
SELECT * FROM cross_rows
UNION ALL SELECT * FROM within_rows WHERE n_pairs > 0
ORDER BY within, overlap
"""


def q_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide boilerplate span removal at k=8 chars, df cap 50:
    every normalized-character position covered by an 8-gram present
    in more than 50 documents is masked; the query emits each doc's
    full rewritten string + masked/total char counts (at sf0.001 this
    strips the shared template phrases — ~13% of normalized chars
    across 454/500 docs — while unique content survives verbatim).
    The oracle rebuilds gram dfs, the covered-position set and the
    surviving string relationally and must match bit-for-bit."""
    from .operators.text import boilerplate_strip
    from .session import scale_out

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return boilerplate_strip(
        scale_out(docs), "doc_id", "text", k=8, max_doc_freq=50
    ).orderBy("doc_id")


Q_BOILERPLATE_STRIP_SQL = r"""
WITH clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
pos AS (
  SELECT doc_id, s,
         unnest(range(1, CAST(greatest(length(s) - 7, 0) AS BIGINT) + 1)) AS i
  FROM clean
),
g AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
             substring(s, CAST(i AS INTEGER), 8) AS g FROM pos),
hot AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM g)
  GROUP BY g HAVING COUNT(*) > 50
),
starts AS (SELECT doc_id, i FROM g JOIN hot USING (g)),
covered AS (
  SELECT DISTINCT doc_id, i + CAST(off AS INTEGER) AS p
  FROM starts, LATERAL (SELECT unnest(range(0, 8)) AS off) t
),
chars AS (
  SELECT c.doc_id, CAST(p.p AS INTEGER) AS p
  FROM clean c,
       LATERAL (SELECT unnest(range(1, CAST(length(c.s) AS BIGINT) + 1)) AS p) p
),
kept AS (
  SELECT ch.doc_id, ch.p
  FROM chars ch ANTI JOIN covered cv USING (doc_id, p)
),
rebuilt AS (
  SELECT c.doc_id,
         coalesce(
           (SELECT string_agg(substring(c.s, k.p, 1), '' ORDER BY k.p)
            FROM kept k WHERE k.doc_id = c.doc_id),
           '') AS kept_text,
         coalesce(
           (SELECT CAST(COUNT(*) AS INTEGER) FROM covered cv
            WHERE cv.doc_id = c.doc_id),
           0) AS n_masked,
         CAST(length(c.s) AS INTEGER) AS n_chars
  FROM clean c
)
SELECT doc_id, kept_text, n_masked, n_chars
FROM rebuilt ORDER BY doc_id
"""


def q_stream_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_boilerplate_strip (same oracle): the gram
    document-frequency state maintained INCREMENTALLY — each
    micro-batch lands its own (gram, df) partial in a per-batch_id
    overwrite store (22nd `run_partial_stream` stream,
    crash/restart-covered by name), correct because batches PARTITION
    the docs, so each doc contributes its distinct grams to exactly
    one partial and per-gram df is a plain additive sum of partials.
    The read side sums the partials, cuts at the cap, and hands the
    hot set to the SAME rebuild (`boilerplate_strip(hot=...)`). This
    is the transform's production shape: a corpus append costs one
    batch df partial; the expensive corpus-wide state never rebuilds
    from scratch, and the rewrite itself stays a single read-time
    pass. Streamed ≡ batch by construction."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .operators.text import boilerplate_strip
    from .session import scale_out
    from .streaming.partial_store import run_partial_stream

    k, cap = 8, 50
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_boiler_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    store = f"{work}/df"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )

    def sink(batch: DataFrame, batch_id: int) -> None:
        # the SAME normalization + posting + df rule as the batch
        # operator — shared helper, so streamed ≡ batch cannot drift
        from .operators.text import gram_doc_freq, gram_postings

        _, posting = gram_postings(batch, "doc_id", "text", k)
        gram_doc_freq(posting, "doc_id").write.mode("overwrite").parquet(
            f"{store}/batch_{batch_id:05d}"
        )

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    hot = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("_g")
        .agg(F.sum("_df").alias("_df"))
        .where(F.col("_df") > cap)
        .select("_g")
    )
    return boilerplate_strip(
        scale_out(docs), "doc_id", "text", k=k, max_doc_freq=cap, hot=hot
    ).orderBy("doc_id")


REGISTRY = {
    "q_dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "q_minhash_pairs": (q_minhash_pairs, Q_MINHASH_PAIRS_SQL),
    # q_simhash_pairs is oracled through induced structure (see its
    # docstring): identical-token-multiset pairs at xx_hamming 0 + the
    # cross-banding equivalence flag. Raw xxhash64 pair VALUES stay
    # engine-specific; the md5 twin q_simhash_md5_pairs carries the
    # bit-exact value-level oracle.
    "q_simhash_pairs": (q_simhash_pairs, Q_SIMHASH_XX_SQL),
    "q_fingerprints": (q_fingerprints, Q_FINGERPRINTS_SQL),
    "q_embedding_neardup": (q_embedding_neardup, Q_EMBEDDING_NEARDUP_SQL),
    "q_embedding_clusters": (q_embedding_clusters, Q_EMBEDDING_CLUSTERS_SQL),
    "q_fingerprint_md5": (q_fingerprint_md5, Q_FINGERPRINT_MD5_SQL),
    "q_ngram_jaccard": (q_ngram_jaccard, Q_NGRAM_JACCARD_SQL),
    # NOTE: exact-equality oracle is data/seed-pinned — LSH banding
    # recall is probabilistic (miss prob (1-s^2)^32 ≈ 0.4% at s=0.4's
    # boundary), and this corpus/seed/banding combination happens to
    # have full recall. If the testdata, seed=42, or r=2/b=32 banding
    # changes and this row starts failing, diagnose as an expected LSH
    # miss (compare against q_ngram_jaccard's pair set) before
    # suspecting the operator.
    "q_minhash_exact": (q_minhash_exact, Q_NGRAM_JACCARD_SQL),
    "q_cluster_representatives": (
        q_cluster_representatives,
        Q_CLUSTER_REPRESENTATIVES_SQL,
    ),
    "q_chunk_dedup": (q_chunk_dedup, Q_CHUNK_DEDUP_SQL),
    "q_simhash_md5_pairs": (q_simhash_md5_pairs, Q_SIMHASH_MD5_SQL),
    "q_contamination": (q_contamination, Q_CONTAMINATION_SQL),
    "q_ngram_overlap": (q_ngram_overlap, Q_NGRAM_OVERLAP_SQL),
    "q_stream_dedup": (q_stream_dedup, Q_STREAM_DEDUP_SQL),
    "q_winnowing_pairs": (q_winnowing_pairs, Q_WINNOWING_PAIRS_SQL),
    "q_curation_pipeline": (q_curation_pipeline, Q_CURATION_PIPELINE_SQL),
    "q_winnow_dedup": (q_winnow_dedup, Q_WINNOW_DEDUP_SQL),
    "q_curation_pipeline_v2": (q_curation_pipeline_v2, _curation_v2_oracle()),
    "q_bloom_contamination": (q_bloom_contamination, Q_BLOOM_CONTAMINATION_SQL),
    # the composed pipeline must equal the unfiltered exact answer
    # (see q_contamination_prefiltered docstring)
    "q_contamination_prefiltered": (q_contamination_prefiltered, Q_CONTAMINATION_SQL),
    "q_semantic_dedup": (q_semantic_dedup, Q_SEMANTIC_DEDUP_SQL),
    "q_stream_semantic_dedup": (q_stream_semantic_dedup, Q_STREAM_SEMANTIC_DEDUP_SQL),
    "q_cross_dedup": (q_cross_dedup, Q_CROSS_DEDUP_SQL),
    "q_curation_report": (q_curation_report, Q_CURATION_REPORT_SQL),
    "q_stream_contamination": (q_stream_contamination, Q_STREAM_CONTAMINATION_SQL),
    "q_dedup_provenance": (q_dedup_provenance, Q_DEDUP_PROVENANCE_SQL),
    "q_bfs_hops": (q_bfs_hops, Q_BFS_HOPS_SQL),
    "q_dedup_rate_by_source": (q_dedup_rate_by_source, Q_DEDUP_RATE_BY_SOURCE_SQL),
    "q_stream_artifact_index": (q_stream_artifact_index, Q_STREAM_ARTIFACT_INDEX_SQL),
    "q_simhash_dupheavy": (q_simhash_dupheavy, Q_SIMHASH_DUPHEAVY_SQL),
    "q_minhash_dupheavy": (q_minhash_dupheavy, Q_MINHASH_DUPHEAVY_SQL),
    "q_winnow_dupheavy": (q_winnow_dupheavy, _winnow_dupheavy_oracle()),
    "q_overlap_dupheavy": (q_overlap_dupheavy, _overlap_dupheavy_oracle()),
    "q_boilerplate_strip": (q_boilerplate_strip, Q_BOILERPLATE_STRIP_SQL),
    # streamed ≡ batch: incremental df state, identical rebuild + oracle
    "q_stream_boilerplate": (q_stream_boilerplate, Q_BOILERPLATE_STRIP_SQL),
}

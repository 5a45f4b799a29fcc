"""Corpus text processing and training-data preparation: token and
language statistics, quality features and language ID, PII scrubbing,
normalization, sampling/mixing/splitting, training order and
sharding, chunking, vocabulary building and the BPE / WordPiece
tokenizer families with sequence packing.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.portable import _dec, _MIX, _MIX_VALUES_SQL
from .io.sources import load_table
from .operators.packing import pack_sequences
from .operators.text import tokenize
from .session import materialize
from .streaming.partial_store import run_partial_stream


# ------------------------------------------------------ text / LLM ops


def q_doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc token counting + length stats (whitespace tokenizer)."""
    from .operators.text import token_count

    docs = load_table(spark, sf, "documents")
    n_tok = token_count("text").cast("bigint")
    n_char = F.length("text").cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_char.alias("n_chars_text"),
        ((n_char - n_tok + 1) / F.greatest(n_tok, F.lit(1))).alias("mean_word_len"),
    )


Q_DOC_TOKEN_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       (CAST(length(text) AS BIGINT) - CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) + 1)
         / GREATEST(CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT), 1) AS mean_word_len
FROM documents
"""


def q_lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus stats per (lang, source): doc counts + char-length profile."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


Q_LANG_STATS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


def q_word_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus term frequency top-20.

    Serving shape (r13): served entirely from the stored
    (w, lang, nib, c, df) counting cube (artifacts.token_lang_counts)
    — a vocabulary-sized scan, partial-aggregated sum over the
    (lang, nib) cells, then TakeOrderedAndProject. The corpus
    tokenize+explode runs once per corpus version at cube build, not
    per query; this plan touches zero document text. Tokenizer is the
    cube's normalized ``tokens_col`` (lower + non-alnum split, r13 —
    previously whitespace split); the oracle pins the same rule. The
    standalone explode form remains available as
    operators.text.word_frequencies for corpora without a cube."""
    from .artifacts import token_lang_counts

    tc = token_lang_counts(spark, sf)
    return (
        tc.groupBy(F.col("w").alias("word"))
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


Q_WORD_FREQ_SQL = r"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
      FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 20
"""


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Doc quality features (repetition ratio + composite score)."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = (F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1))).alias("repetition_ratio")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        rep,
    )


Q_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       1.0 - CAST(len(list_distinct(toks)) AS BIGINT) / GREATEST(CAST(len(toks) AS BIGINT), 1) AS repetition_ratio
FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents)
"""


def q_alnum_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token stats under the alphanumeric (BPE-pre-tokenizer-style)
    splitter: total vs distinct token counts per doc."""
    from .operators.dedup import tokens_col

    docs = load_table(spark, sf, "documents")
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_words"),
    )


Q_ALNUM_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_words
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents)
"""


# ------------------------------------------------- full quality features


def q_quality_full(spark: SparkSession, sf: str) -> DataFrame:
    """The complete Gopher/C4-style quality feature set from the actual
    ``quality_scores`` operator (q_quality_scores re-derives only the
    repetition slice): token counts, mean word length, punctuation
    density, stopword fraction, repetition ratio, and the composite
    0..1 gate score. All ratios are int/int doubles — bit-exact."""
    from .operators.text import quality_scores

    docs = load_table(spark, sf, "documents")
    return quality_scores(docs).select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "punct_ratio",
        "stopword_frac",
        "repetition_ratio",
        "quality_score",
    ).orderBy("doc_id")


Q_QUALITY_FULL_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
         length(text) AS n_char
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         (n_char - len(toks) + 1) / GREATEST(len(toks), 1) AS mean_word_len,
         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS BIGINT)
           / GREATEST(n_char, 1) AS punct_ratio,
         CAST(len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','a','in','is','that','it','for'], x))) AS BIGINT)
           / GREATEST(len(toks), 1) AS stopword_frac,
         1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1) AS repetition_ratio
  FROM base
)
SELECT doc_id, n_tokens,
       round(mean_word_len, 6) AS mean_word_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_frac, 6) AS stopword_frac,
       round(repetition_ratio, 6) AS repetition_ratio,
       CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN repetition_ratio <= 0.9 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality_score
FROM feat
ORDER BY doc_id
"""


# ----------------------------------------------------------- language ID


def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-profile language ID over documents: per-language hit
    rates → argmax (ties resolve en > de > es > fr, no hits → 'und').
    Row-level predictions oracle-checked; the operator shape (N score
    columns → greatest → case) is the scalable part — a real model
    would swap in via pandas UDF."""
    from .operators.text import language_id

    docs = load_table(spark, sf, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_pred").orderBy("doc_id")


_SW = {
    "en": "'the','and','of','to','a','in','is','that','it','for'",
    "de": "'der','die','und','das','ist','nicht','ein','mit','auf','zu'",
    "es": "'el','la','de','que','y','en','un','es','no','por'",
    "fr": "'le','la','de','et','les','des','est','un','une','dans'",
}


Q_LANGUAGE_ID_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> list_contains([{_SW['en']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_en,
         CAST(len(list_filter(t, x -> list_contains([{_SW['de']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_de,
         CAST(len(list_filter(t, x -> list_contains([{_SW['es']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_es,
         CAST(len(list_filter(t, x -> list_contains([{_SW['fr']}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_fr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) > 0 THEN
              CASE WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                   WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                   WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                   ELSE 'fr' END
            ELSE 'und' END AS lang_pred
FROM scored
ORDER BY doc_id
"""


# ----------------------------------------------------------- PII scrub


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy pass for pre-training corpora: plant a deterministic
    email / IPv4 / phone per doc, then scrub with the engine-portable
    regex chain (`operators.text.pii_scrub`). The oracle runs the same
    plant + scrub in DuckDB (RE2) — bit-exact equality proves the
    patterns behave identically across regex engines, which is the
    portability property a multi-engine lakehouse needs."""
    from .operators.text import pii_scrub

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +14155550199 ok"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id", pii_scrub("text").alias("text_clean")
    ).orderBy("doc_id")


Q_PII_SCRUB_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 call +14155550199 ok',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\+\d{7,15}', '<PHONE>', 'g') AS text_clean
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------- stratified hash sampling


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: the same md5-prefix rule
    applied within every language stratum keeps ~25% of each language
    regardless of stratum skew — the reproducible way to carve
    experiment subsets per domain/language at 100 TB (`df.sampleBy`
    uses engine-local RNG and can never be reproduced elsewhere).
    Returns the per-stratum sample sizes plus the sampled doc rows'
    checksum so the oracle pins membership, not just counts."""
    docs = load_table(spark, sf, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sample = docs.where(bucket.isin("0", "1", "2", "3"))
    return (
        sample.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sampled"),
        )
        .orderBy("lang")
    )


Q_STRATIFIED_SAMPLE_SQL = """
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------- length distribution


def q_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus length profile: width-100-char buckets per language —
    the standard pre-filter diagnostic before length cutoffs. Pure
    map-side bucketing + one hash aggregate."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(
            "lang", (F.col("n_chars") / F.lit(100)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "bucket")
    )


Q_LENGTH_HISTOGRAM_SQL = """
SELECT lang, CAST(n_chars // 100 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, n_chars // 100
ORDER BY lang, bucket
"""


# --------------------------------------------------- TF-IDF term ranking


def q_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 characteristic terms per language by a rational TF-IDF
    (tf · n_docs/df — the log-free form keeps the score exact-rational
    so it hash-matches across engines; ln is excluded from oracles by
    the determinism contract). Two hash aggregates + a broadcast-sized
    doc-frequency join + per-lang top-k window."""
    docs = load_table(spark, sf, "documents")
    from .operators.text import tokenize

    words = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("term")
    )
    tf = words.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df_), "term").select(
        "lang",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "term", "tf", "df", "score", "rnk")
        .orderBy("lang", "rnk")
    )


Q_TFIDF_TERMS_SQL = """
WITH words AS (
  SELECT doc_id, lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM words GROUP BY lang, term),
df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT lang, tf.term AS term, tf, df,
         tf * CAST((SELECT n_docs FROM n) AS DOUBLE) / df AS score
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT lang, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT lang, term, tf, df, score, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
"""


# ---------------------------------------------------- fuzzy matching


def q_fuzzy_match(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance entity resolution: match misspelled country names
    against the nation dimension with levenshtein ≤ 2 (classic DP
    metric, identical in both engines). The dirty side is tiny →
    broadcast nested-loop is the right plan; at scale pre-block on
    (first char, length band) to keep candidates linear."""
    nation = load_table(spark, sf, "nation")
    dirty = spark.createDataFrame(
        [("NATION_1",), ("NATON_3",), ("NATION_22X",), ("XATION_7",), ("NOSUCHLAND",)],
        "dirty_name string",
    )
    return (
        dirty.crossJoin(F.broadcast(nation.select("n_nationkey", "n_name")))
        .withColumn("dist", F.levenshtein("dirty_name", "n_name"))
        .where(F.col("dist") <= 2)
        .select("dirty_name", "n_name", "dist")
        .orderBy("dirty_name", "n_name")
    )


Q_FUZZY_MATCH_SQL = """
SELECT dirty_name, n_name, CAST(levenshtein(dirty_name, n_name) AS INTEGER) AS dist
FROM (VALUES ('NATION_1'), ('NATON_3'), ('NATION_22X'), ('XATION_7'), ('NOSUCHLAND')) d(dirty_name)
CROSS JOIN nation
WHERE levenshtein(dirty_name, n_name) <= 2
ORDER BY dirty_name, n_name
"""


# --------------------------------------------- token-budget corpus mix


def q_token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing selection: within each language take the
    longest-first documents until a 5,000-token budget fills — the
    greedy per-domain sampling step of training-corpus construction.
    One window pass: running token total per lang, keep rows whose
    PRIOR total is under budget (so the doc crossing the line is
    included — standard greedy fill)."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    with_tok = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_tokens").over(w)
    return (
        with_tok.withColumn("running_tokens", run.cast("long"))
        .where(F.col("running_tokens") - F.col("n_tokens") < 5000)
        .orderBy("lang", F.col("n_chars").desc(), "doc_id")
        .select("lang", "doc_id", "n_tokens", "running_tokens")
    )


Q_TOKEN_BUDGET_MIX_SQL = """
WITH with_tok AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_tokens
  FROM documents
),
run AS (
  SELECT lang, doc_id, n_chars, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_tokens
  FROM with_tok
)
SELECT lang, doc_id, n_tokens, running_tokens
FROM run WHERE running_tokens - n_tokens < 5000
ORDER BY lang, n_chars DESC, doc_id
"""


# -------------------------------------------------- UDTF (LATERAL)


def q_udtf_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF surface, driver-verified: a LATERAL table function
    chunks each document into 32-token pieces and emits
    (chunk_idx, chunk_tokens, chunk_md5) rows; the oracle rebuilds the
    identical rows with DuckDB list ops. Complements the pure-DataFrame
    chunker (q_chunk_dedup) the way the pandas as-of path complements
    the window one — the UDTF is the escape hatch for genuinely
    imperative per-row expansion, and this row proves that surface
    produces bit-identical results, not just 'some rows'. Python
    row-at-a-time: use the HOF chunker in hot paths."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, chunk_tokens: int, chunk_md5: string")
    class ChunkDoc:
        def eval(self, text):
            import hashlib
            import re

            toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
            for i in range(0, len(toks), 32):
                chunk = toks[i : i + 32]
                yield (
                    i // 32,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_doc", ChunkDoc)
    docs = load_table(spark, sf, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    try:
        return spark.sql(
            """
            SELECT d.doc_id, t.chunk_idx, t.chunk_tokens, t.chunk_md5
            FROM _udtf_docs d, LATERAL chunk_doc(d.text) t
            ORDER BY d.doc_id, t.chunk_idx
            """
        )
    finally:
        spark.catalog.dropTempView("_udtf_docs")


Q_UDTF_CHUNKS_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(len(t[i*32+1 : i*32+32]) AS INT) AS chunk_tokens,
       md5(array_to_string(t[i*32+1 : i*32+32], ' ')) AS chunk_md5
FROM toked, LATERAL (
  SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
) ix
WHERE len(t) > 0
ORDER BY doc_id, chunk_idx
"""


SEQ_LEN = 128


# ----------------------------------------------------- sequence packing


def q_seq_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Pack the documents corpus into 128-token training sequences
    (concat in doc_id order, chunk every 128 tokens) and report, per
    sequence: docs starting in it, their token mass, and how many
    straddle into the next sequence. The offsets come from the
    two-phase distributed prefix sum in operators/packing.py — no
    single-partition window anywhere in the plan (asserted in
    tests/test_packing.py). Oracle recomputes the same layout with a
    plain window cumsum, which DuckDB can do single-node."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokenize("text")).alias("n_tok")
    )
    packed = pack_sequences(docs, "doc_id", "n_tok", SEQ_LEN)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_started"),
            F.sum(
                F.when(F.col("end_seq_id") > F.col("seq_id"), 1).otherwise(0)
            ).alias("n_boundary_crossers"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


Q_SEQ_PACKING_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
off AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks WHERE n_tok > 0
)
SELECT CAST(off // {SEQ_LEN} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_started,
       CAST(SUM(CASE WHEN (off + n_tok - 1) // {SEQ_LEN} > off // {SEQ_LEN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_crossers,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM off
GROUP BY 1
ORDER BY 1
"""


# ------------------------------------------------ deterministic splits


def q_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by md5 of the stable doc id
    (first hex nibble: 12/16 train, 2/16 val, 2/16 test) — the
    reproducible split rule for 100 TB corpora: no RNG, no shuffle of
    the data itself, any engine recomputes identical membership. The
    oracle pins membership via id checksums, not just sizes."""
    docs = load_table(spark, sf, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib.isin("e", "f"), "test")
        .when(nib.isin("c", "d"), "val")
        .otherwise("train")
    )
    return (
        docs.select(
            split.alias("split"),
            "doc_id",
            "n_chars",
            F.size(tokenize("text")).alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


Q_TRAIN_SPLIT_SQL = r"""
WITH tagged AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
              ELSE 'train' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM tagged
GROUP BY split
ORDER BY split
"""


# -------------------------------------- dominant-repetition quality cut


def q_repetition_topgrams(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher's dominant-repetition filter: fraction of word 2-grams /
    3-grams taken by each doc's single most frequent n-gram, plus the
    published cut (top-2-gram > 0.18 OR top-3-gram > 0.16 → reject).
    Catches keyword-stuffing and boilerplate the unigram
    repetition_ratio in q_quality_full can't see. Computed fully
    in-row (sorted-array max-run fold — zero shuffles); the oracle
    recomputes the mode per doc with explode + GROUP BY."""
    from .operators.text import top_ngram_fraction

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    feats = top_ngram_fraction(docs, "text", ns=(2, 3))
    bi = F.round("top_2gram_frac", 9)
    tri = F.round("top_3gram_frac", 9)
    return feats.select(
        "doc_id",
        bi.alias("top_2gram_frac"),
        tri.alias("top_3gram_frac"),
        ((bi > 0.18) | (tri > 0.16)).alias("repetitive"),
    ).orderBy("doc_id")


Q_REPETITION_TOPGRAMS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS rn
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
        FROM documents)
),
seq AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY rn) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS t2
  FROM toks
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
)
SELECT d.doc_id,
       COALESCE(ROUND(bic.best / bic.total, 9), 0.0) AS top_2gram_frac,
       COALESCE(ROUND(tric.best / tric.total, 9), 0.0) AS top_3gram_frac,
       (COALESCE(ROUND(bic.best / bic.total, 9), 0.0) > 0.18
        OR COALESCE(ROUND(tric.best / tric.total, 9), 0.0) > 0.16) AS repetitive
FROM documents d
LEFT JOIN bic ON d.doc_id = bic.doc_id
LEFT JOIN tric ON d.doc_id = tric.doc_id
ORDER BY 1
"""


def q_stream_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time training-mix enforcement: the documents table
    replays as a multi-batch stream and each micro-batch applies the
    zero-shuffle hash-threshold mixture predicate, landing its picks in
    a per-batch_id overwrite store (replay-idempotent, the standard
    pattern here). Because the predicate is a pure per-row function,
    the union of per-batch picks must equal the batch selection
    EXACTLY — same oracle SQL as q_mixture_sample_hash — no matter how
    the corpus was chunked. This is how a mix is enforced while 100 TB
    streams in, instead of re-scanning after landing."""
    from .operators.sampling import stratified_sample_hash

    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    work = tempfile.mkdtemp(prefix="stream_mix_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    store = f"{work}/picked"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )

    def sink(batch, batch_id):
        stratified_sample_hash(batch, "lang", _MIX, "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )
    return (
        spark.read.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


# ----------------------------------------- bigram LM fluency score


def q_lm_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Self-trained bigram LM fluency scores over the documents table
    (the CCNet-style perplexity-filtering signal, in log-free
    arithmetic-mean form for bit-exact cross-engine verification — see
    operators.text.bigram_lm_scores). Top 100 most-fluent docs with
    rounded scores; deterministic doc_id tiebreak."""
    from .artifacts import lm_bigram_probs
    from .operators.text import bigram_lm_scores

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return (
        bigram_lm_scores(docs, probs=lm_bigram_probs(spark, sf))
        .orderBy(F.col("lm_score").desc(), "doc_id")
        .limit(100)
    )


Q_LM_SCORES_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
p0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tt),
pairs AS (
  SELECT doc_id,
         t[CAST(i AS INTEGER)] AS w1,
         t[CAST(i AS INTEGER) + 1] AS w2
  FROM p0
),
uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM tt)
  GROUP BY 1
),
v AS (SELECT COUNT(*) AS vocab FROM uni),
big AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
scored AS (
  SELECT p.doc_id,
         CAST(SUM(CAST(CAST(b.c2 + 1 AS DOUBLE) / CAST(u.c1 + v.vocab AS DOUBLE)
                       AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
  FROM pairs p
  JOIN big b USING (w1, w2)
  JOIN uni u USING (w1)
  CROSS JOIN v
  GROUP BY p.doc_id
)
SELECT doc_id, ROUND(m, 9) AS lm_score
FROM scored
ORDER BY ROUND(m, 9) DESC, doc_id
LIMIT 100
"""


# ----------------------------------------- training-mix sampling


def q_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-mix construction (exact variant): per
    language stratum, keep ceil(fraction·n) docs chosen by md5(doc_id)
    order — en 100%, de/fr 50%, es 25%, zh 10%. Reproducible across
    engines and partitionings, which is what makes a data mix a
    versionable artifact rather than an RNG accident; the oracle
    reproduces the row set exactly."""
    from .operators.sampling import stratified_sample

    docs = load_table(spark, sf, "documents")
    return (
        stratified_sample(docs, "lang", _MIX, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


Q_MIXTURE_SAMPLE_SQL = f"""
WITH f AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(lang, frac)),
r AS (
  SELECT d.doc_id, d.lang, f.frac,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM documents d JOIN f USING (lang)
)
SELECT doc_id, lang FROM r WHERE rn <= CEIL(n * frac)
ORDER BY lang, doc_id
"""


def q_mixture_sample_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """The two-phase bucketed exact mixture sampler
    (operators.sampling.stratified_sample_exact_scalable): identical
    selection to q_mixture_sample — same oracle SQL — but the sort
    shuffle partitions by (stratum, md5-prefix bucket), removing the
    one-partition-per-stratum skew that makes the simple exact variant
    wrong for a handful of huge strata at 100 TB."""
    from .operators.sampling import stratified_sample_exact_scalable

    docs = load_table(spark, sf, "documents")
    return (
        stratified_sample_exact_scalable(docs, "lang", _MIX, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def q_mixture_sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-mix construction (shuffle-free 100-TB
    variant): keep a row iff the first 8 md5(doc_id) hex chars read as
    an int fall under fraction·2³² — a pure per-row predicate, zero
    shuffle, same row SET regardless of partitioning. Counts are
    binomially approximate; the selection rule is exact, which the
    oracle verifies row-for-row."""
    from .operators.sampling import stratified_sample_hash

    docs = load_table(spark, sf, "documents")
    return (
        stratified_sample_hash(docs, "lang", _MIX, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


# hex→int via the base-16 digit fold already proven portable by the
# md5-simhash oracle (no reliance on engine-specific hex casts)
Q_MIXTURE_SAMPLE_HASH_SQL = f"""
WITH f AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(lang, frac)),
h AS (
  SELECT doc_id, lang,
         list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS bucket
  FROM documents
)
SELECT h.doc_id, h.lang
FROM h JOIN f USING (lang)
WHERE h.bucket < f.frac * 4294967296
ORDER BY lang, doc_id
"""


def q_quality_topfrac(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile-threshold curation (dynamic cut, vs the fixed-constant
    gates of the curation pipelines): keep the least-repetitive 75% of
    the corpus, where the threshold is the EXACT 75th percentile of the
    repetition ratio computed from the data itself — the standard
    "keep top X% by signal" pattern when no absolute threshold is
    defensible. Exact sort-based percentile ≡ DuckDB quantile_cont
    bit-for-bit (pinned by q_percentiles), broadcast back as a 1-row
    scalar (free at any scale; the signal itself is a zero-shuffle
    per-row projection). Emits per-lang survivor accounting plus the
    threshold so the cut point itself is oracled."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    rep = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = docs.select("doc_id", "lang", rep.alias("_rep"))
    thr = scored.agg(F.percentile("_rep", 0.75).alias("_thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("_rep") <= F.col("_thr"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
            F.round(F.first("_thr"), 9).alias("rep_threshold_r9"),
        )
        .orderBy("lang")
    )


Q_QUALITY_TOPFRAC_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         round(1.0 - len(list_distinct(toks)) / GREATEST(len(toks), 1), 6) AS rep
  FROM base
),
t AS (SELECT quantile_cont(rep, 0.75) AS thr FROM r)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       round((SELECT thr FROM t), 9) AS rep_threshold_r9
FROM r
WHERE rep <= (SELECT thr FROM t)
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------ deterministic epoch shuffle


def q_training_order(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible global training order (the epoch shuffle): rank
    every doc by ``md5('epoch0:' || doc_id)`` via the bucketed
    two-phase rank — the oracle's single ROW_NUMBER() window proves the
    distributed rank is bit-identical to the global sort it avoids."""
    from .operators.ordering import epoch_shuffle

    docs = load_table(spark, sf, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", seed="epoch0").orderBy("doc_id")


Q_TRAINING_ORDER_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents ORDER BY doc_id
"""


# ------------------------------------------- per-source quota cap


def q_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source absolute quota (keep ≤15 docs per source by
    md5(doc_id) order — the C4/CCNet host-level clip). Two-phase
    skew-safe top-K: phase 1 windows over ``(source, doc_id % 8)`` —
    the salt spreads a hot source over 8 tasks and its per-salt top-15
    provably contains the per-source top-15 (dropping a row ranked >15
    within its own salt can never promote it globally) — phase 2 takes
    the exact per-source top-15 from the ≤ 8·15 survivors. The hot-key
    shuffle is the salted one; the exact window sees bounded input."""
    docs = load_table(spark, sf, "documents").select("source", "doc_id")
    k = 15
    key = F.md5(F.col("doc_id").cast("string"))
    salted = docs.withColumn("_key", key).withColumn(
        "_salt", F.pmod(F.col("doc_id"), F.lit(8))
    )
    w1 = Window.partitionBy("source", "_salt").orderBy("_key", "doc_id")
    pruned = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("source").orderBy("_key", "doc_id")
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


Q_SOURCE_CAP_SQL = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t
WHERE rn <= 15 ORDER BY source, doc_id
"""


# -------------------------------------- chunk re-assembly integrity


def q_chunk_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Chunking losslessness gate: split every doc into the 32-token
    chunks the dedup/RAG queries use (q_chunk_dedup's chunker, with
    chunk text kept), re-assemble in chunk-index order, and count per
    language how many docs rebuild EXACTLY to their original token
    stream. n_roundtrip_ok == n_docs is the invariant a shard step
    must preserve; any drift (lost chunk, misordered index, tokenizer
    mismatch) shows up as a shortfall. One explode + one grouped
    in-row fold (array_sort on (idx, txt) structs → join) — no join
    back to the corpus; lang/original ride the group as constants."""
    k = 32
    docs = load_table(spark, sf, "documents")
    alnum = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    toked = docs.select(
        "doc_id", "lang", alnum.alias("_t")
    ).where(F.size("_t") > 0)
    chunks = toked.select(
        "doc_id",
        "lang",
        F.concat_ws(" ", "_t").alias("orig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("_t") / k).cast("int") - 1),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.concat_ws(" ", F.slice("_t", i * k + 1, k)).alias("txt"),
                ),
            )
        ).alias("c"),
    )
    reasm = chunks.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.first("orig").alias("orig"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("c")), lambda x: x["txt"]
            ),
            " ",
        ).alias("rebuilt"),
    )
    return (
        reasm.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("rebuilt") == F.col("orig"), F.lit(1)).otherwise(0)
            )
            .cast("bigint")
            .alias("n_roundtrip_ok"),
        )
        .orderBy("lang")
    )


Q_CHUNK_ROUNDTRIP_SQL = """
WITH toked AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, lang, array_to_string(t, ' ') AS orig, i AS idx,
         array_to_string(t[i*32+1 : i*32+32], ' ') AS txt
  FROM toked, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS i
  ) ix
  WHERE len(t) > 0
),
re AS (
  SELECT doc_id, any_value(lang) AS lang, any_value(orig) AS orig,
         string_agg(txt, ' ' ORDER BY idx) AS rebuilt
  FROM chunks GROUP BY doc_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rebuilt = orig THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
FROM re GROUP BY lang ORDER BY lang
"""


# -------------------------------------- curriculum training order


def q_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum order: rank docs by (quality bin ASC, md5 shuffle) —
    cleanest bin first, reproducibly shuffled within each bin — using
    the epoch-shuffle's bucketed two-phase rank with a COMPOSITE
    monotone bucket (qbin·256 + md5-hex prefix). Same zero-global-sort
    guarantee; proves global_order_index generalizes to any key whose
    prefix structure yields a monotone coarsening. Quality bins come
    from the q_quality_scores repetition ratio (≤0.55 / ≤0.65 / rest)."""
    from .operators.ordering import global_order_index, hex_prefix_bucket

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    rep = F.round(
        F.lit(1.0) - n_distinct / F.greatest(n_tok, F.lit(1)), 9
    )
    qbin = (
        F.when(rep <= 0.55, 0).when(rep <= 0.65, 1).otherwise(2).cast("int")
    )
    key = F.md5(F.concat(F.lit("cur0:"), F.col("doc_id").cast("string")))
    staged = docs.select(
        "doc_id", qbin.alias("qbin"), key.alias("_key")
    )
    bucket = F.col("qbin").cast("long") * 256 + hex_prefix_bucket("_key")
    out = global_order_index(
        staged, ["qbin", "_key", "doc_id"], bucket, num_buckets=768, pos_col="pos"
    )
    return out.select("doc_id", "qbin", "pos").orderBy("doc_id")


Q_CURRICULUM_ORDER_SQL = r"""
WITH q AS (
  SELECT doc_id,
         CASE WHEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS BIGINT)
                          / GREATEST(CAST(len(toks) AS BIGINT), 1), 9) <= 0.55 THEN 0
              WHEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS BIGINT)
                          / GREATEST(CAST(len(toks) AS BIGINT), 1), 9) <= 0.65 THEN 1
              ELSE 2 END AS qbin
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents)
)
SELECT doc_id, qbin,
       CAST(ROW_NUMBER() OVER (ORDER BY qbin,
                               md5('cur0:' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS BIGINT) AS pos
FROM q ORDER BY doc_id
"""


# ------------------------------------------ vocabulary / OOV coverage


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Build the top-256 doc-frequency vocabulary on the train split
    (q_train_split's md5-nibble rule), then measure held-out OOV per
    language. The rate divides two exact integer sums once — no
    order-dependent double accumulation anywhere.

    Serving shape (r13): BOTH counting passes come from the stored
    (w, lang, nib, c, df) cube (artifacts.token_lang_counts) — train
    document frequency is the sum of per-cell ``df`` over train
    nibbles (cells partition the docs, so summed per-cell distincts
    ARE the split distinct), and held-out token/OOV masses are sums
    of per-cell ``c``. The only documents scan left is the
    tokenize-free held-doc counter (an ``rlike '[a-z0-9]'`` guard
    reproduces "has at least one token" without building the token
    array — a token exists under the ``[^a-z0-9]+`` split iff a
    lowercased alnum char exists). Zero tokenize+explode in this
    plan; the cube builds once per corpus version. Tokenizer is the
    cube's normalized ``tokens_col`` (lower + non-alnum split) —
    changed in r13 from whitespace split so the vocabulary query
    shares the corpus counting cube with the DSIR/NB scorers; the
    oracle pins the same rule."""
    from .artifacts import token_lang_counts

    held_nibs = ("c", "d", "e", "f")
    tc = token_lang_counts(spark, sf)
    vocab = (
        tc.where(~F.col("nib").isin(*held_nibs))
        .groupBy(F.col("w").alias("token"))
        .agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(256)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    held = (
        tc.where(F.col("nib").isin(*held_nibs))
        .groupBy(F.col("w").alias("token"), "lang")
        .agg(F.sum("c").alias("c"))
    )
    tok_stats = (
        held.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
    )
    n_docs = (
        load_table(spark, sf, "documents")
        .where(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(*held_nibs)
            & F.lower("text").rlike("[a-z0-9]")
        )
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    return (
        n_docs.join(tok_stats, "lang")
        .select(
            "lang",
            "n_docs",
            "n_tok",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tok").cast("double")).alias(
                "oov_rate"
            ),
        )
        .orderBy("lang")
    )


Q_VOCAB_COVERAGE_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
  FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT unnest(list_distinct(toks)) AS token
    FROM d WHERE nib NOT IN ('c', 'd', 'e', 'f'))
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 256),
held AS (
  SELECT lang, doc_id, unnest(toks) AS token
  FROM d WHERE nib IN ('c', 'd', 'e', 'f'))
SELECT h.lang,
       COUNT(DISTINCT h.doc_id) AS n_docs,
       COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM held h LEFT JOIN vocab v ON h.token = v.token
GROUP BY h.lang ORDER BY h.lang
"""


# ------------------------------------------- token-budget shard plan


def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Output-shard planning: docs in the seeded epoch-shuffle order
    get exclusive cumulative token offsets (two-phase distributed
    prefix sum — no global sort, no one-partition window), and
    ``shard_id = offset div 2048`` assigns ≈2048-token shards. The
    manifest is what a 100-TB writer fans out over.

    r11: rank and offset come from ONE combined two-phase pass
    (ordering.global_order_offsets_inplan) keyed by the epoch-shuffle
    md5 key's hex-prefix bucket — the former epoch_shuffle →
    with_global_offsets composition re-ran the tokenize upstream three
    extra times (the rank's bucket-count collect, the offset's eager
    min/max/count, and its bucket-totals collect) before the real job
    even started; the combined operator is one lazy plan with zero
    driver round-trips. Bit-identical output (same key order, same
    exclusive sums), ~2.3s → ~0.9s at sf0.1."""
    from .operators.ordering import (
        global_order_offsets_inplan,
        hex_prefix_bucket,
    )

    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokenize("text")).alias("n_tok")
    )
    keyed = docs.withColumn(
        "_shuffle_key",
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
    )
    off = global_order_offsets_inplan(
        keyed,
        ["_shuffle_key", "doc_id"],
        hex_prefix_bucket("_shuffle_key", 2),
        weight_col="n_tok",
    )
    return (
        off.withColumn("shard_id", F.expr("`offset` div 2048"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )


Q_SHARD_MANIFEST_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents),
o AS (
  SELECT doc_id, n_tok,
         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY key, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM t)
SELECT off // 2048 AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(pos) AS first_pos,
       MAX(pos) AS last_pos,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM o GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------- language-ID confusion matrix


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier eval: confusion matrix of the stopword-profile
    language ID against the ground-truth lang column — integer counts
    per (true, predicted) cell, one corpus pass + one count agg."""
    from .operators.text import language_id

    docs = load_table(spark, sf, "documents")
    return (
        language_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _lang_confusion_sql() -> str:

    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> list_contains([{_SW["en"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_en,
         CAST(len(list_filter(t, x -> list_contains([{_SW["de"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_de,
         CAST(len(list_filter(t, x -> list_contains([{_SW["es"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_es,
         CAST(len(list_filter(t, x -> list_contains([{_SW["fr"]}], x))) AS DOUBLE) / GREATEST(len(t), 1) AS s_fr
  FROM toks
),
pred AS (
  SELECT lang,
         CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) > 0 THEN
                CASE WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                     WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                     WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                     ELSE 'fr' END
              ELSE 'und' END AS lang_pred
  FROM scored
)
SELECT lang, lang_pred, COUNT(*) AS n
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


# ------------------------------------------ streamed vocabulary drift


def q_stream_vocab_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time drift monitor: the corpus replays in 3 chunks; each
    micro-batch measures its token count and OOV rate against the
    FROZEN train-split vocabulary (q_vocab_coverage's rule) and lands
    the per-chunk partial in a per-batch_id overwrite store. Additive
    partials re-sum on read, so streamed per-chunk metrics ≡ the batch
    per-chunk rule regardless of batch boundaries.

    r13: the frozen vocabulary is DERIVED FROM the stored counting
    cube (artifacts.token_lang_counts — train df = sum of per-cell
    df over train nibbles), so freezing it costs a vocabulary-sized
    aggregation, not a corpus tokenize; the per-batch tokenize is the
    irreducible ingest-side measurement. Tokenizer follows the cube
    (tokens_col, lower + non-alnum split) so stream and vocabulary
    agree on what a token is — q_vocab_coverage's r13 rule."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tc = token_lang_counts(spark, sf)
    vocab = (
        tc.where(~F.col("nib").isin("c", "d", "e", "f"))
        .groupBy(F.col("w").alias("token"))
        .agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(256)
        .select("token", F.lit(1).alias("_in_vocab"))
        .transform(materialize)
    )
    work = tempfile.mkdtemp(prefix="stream_vocab_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    plain = docs
    for c in range(3):
        plain.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )

    store = f"{work}/metrics"

    def sink(batch: DataFrame, batch_id: int) -> None:
        toks = batch.select(
            (F.col("doc_id") % 3).alias("chunk"),
            "doc_id",
            F.explode(tokens_col("text")).alias("token"),
        )
        partial = (
            toks.join(F.broadcast(vocab), "token", "left")
            .groupBy("chunk")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_tok"),
                F.sum(
                    F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
                ).alias("n_oov"),
            )
        )
        partial.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=plain.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    metrics = spark.read.schema(
        "chunk long, n_docs bigint, n_tok bigint, n_oov bigint"
    ).option("recursiveFileLookup", "true").parquet(store)
    return (
        metrics.groupBy("chunk")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tok").alias("n_tok"),
            F.sum("n_oov").alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.col("n_oov").cast("double") / F.col("n_tok").cast("double")
        )
        .orderBy("chunk")
    )


Q_STREAM_VOCAB_DRIFT_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
  FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT unnest(list_distinct(toks)) AS token
    FROM d WHERE nib NOT IN ('c', 'd', 'e', 'f'))
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 256),
all_tok AS (
  SELECT doc_id % 3 AS chunk, doc_id, unnest(toks) AS token FROM d)
SELECT a.chunk,
       COUNT(DISTINCT a.doc_id) AS n_docs,
       COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM all_tok a LEFT JOIN vocab v ON a.token = v.token
GROUP BY a.chunk ORDER BY a.chunk
"""


# ------------------------------------- length-weighted hash sampling


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample: keep a doc iff
    ``hash64(doc) · 512 < n_tok · 2^32`` (P ≈ n_tok/512, docs ≥512
    tokens always kept) — pure integer comparison, identical membership
    on any engine, no RNG. The importance-sampling rule that selects
    long documents proportionally for a token-budget subset."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tok")
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = docs.where(h * F.lit(512) < F.col("n_tok").cast("long") * F.lit(2**32))
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tok").alias("n_tok_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


Q_WEIGHTED_SAMPLE_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_tok) AS BIGINT) AS n_tok_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM d WHERE h * 512 < n_tok * 4294967296
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------- block-shuffled ordering


def q_block_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-buffer training order: 64-doc blocks permuted by block
    hash, docs permuted within each block — preserves shard I/O
    locality while shuffling, and the two-phase bucketed rank keeps it
    global-sort-free. Per-block manifest proves block contiguity."""
    from .operators.ordering import global_order_index, hex_prefix_bucket

    docs = load_table(spark, sf, "documents").select("doc_id")
    keyed = docs.withColumn("_blk", F.expr("doc_id div 64")).withColumn(
        "_k1", F.md5(F.concat(F.lit("blk7:"), F.col("_blk").cast("string")))
    ).withColumn(
        "_k2", F.md5(F.concat(F.lit("doc7:"), F.col("doc_id").cast("string")))
    )
    ranked = global_order_index(
        keyed,
        ["_k1", "_k2", "doc_id"],
        hex_prefix_bucket("_k1", 2),
        num_buckets=256,
    )
    return (
        ranked.groupBy(F.col("_blk").alias("block"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("block")
    )


Q_BLOCK_SHUFFLE_SQL = """
WITH ranked AS (
  SELECT doc_id, doc_id // 64 AS block,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('blk7:' || CAST(doc_id // 64 AS VARCHAR)),
                    md5('doc7:' || CAST(doc_id AS VARCHAR)),
                    doc_id) AS BIGINT) AS pos
  FROM documents)
SELECT block, COUNT(*) AS n_docs, MIN(pos) AS first_pos, MAX(pos) AS last_pos,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ranked GROUP BY block ORDER BY block
"""


# --------------------------------------------- sliding-window chunks


def q_sliding_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping RAG chunking: 32-token windows at stride 16
    (n_chunks = 1 + ⌊max(n_tok−32, 0)/16⌋), built in-row with
    sequence + slice — zero shuffle until the per-language rollup.
    The ~2× token duplication factor is the price of overlap and is
    visible in n_chunk_tokens vs the corpus token count."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", tokenize("text").alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    chunks = (
        docs.where(F.col("n_tok") > 0)
        .withColumn(
            "n_chunks",
            F.lit(1) + F.expr("greatest(n_tok - 32, 0) div 16").cast("int"),
        )
        .select(
            "doc_id",
            "lang",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("idx"),
        )
        .select(
            "doc_id",
            "lang",
            F.size(F.slice("toks", F.col("idx") * 16 + 1, F.lit(32))).alias("n_ct"),
        )
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_ct").alias("n_chunk_tokens"),
        )
        .orderBy("lang")
    )


Q_SLIDING_CHUNKS_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents),
sized AS (
  SELECT doc_id, lang, toks, len(toks) AS n_tok,
         1 + CAST(GREATEST(len(toks) - 32, 0) // 16 AS INT) AS n_chunks
  FROM d WHERE len(toks) > 0),
chunks AS (
  SELECT doc_id, lang,
         len(list_slice(toks, idx * 16 + 1, idx * 16 + 32)) AS n_ct
  FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS t(idx))
SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
       CAST(SUM(n_ct) AS BIGINT) AS n_chunk_tokens
FROM chunks GROUP BY lang ORDER BY lang
"""


# ------------------------------------------- co-occurrence lift


def q_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    """Association mining over the top-32 vocabulary: pair lift
    n_ab·N / (n_a·n_b) from exact integer document counts (single
    float division at the end). The vocabulary cap bounds the pair
    space to C(32,2) per doc — the standard way co-occurrence stays
    sub-quadratic on a 100-TB corpus."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.array_distinct(tokenize("text")).alias("toks")
    )
    n_docs = docs.count()  # scalar, O(1)
    dt = docs.select("doc_id", F.explode("toks").alias("token"))
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .orderBy(F.col("n_t").desc(), F.col("token"))
        .limit(32)
    )
    dt_top = dt.join(F.broadcast(top), "token")
    a = dt_top.select("doc_id", F.col("token").alias("tok_a"), F.col("n_t").alias("n_a"))
    b = dt_top.select("doc_id", F.col("token").alias("tok_b"), F.col("n_t").alias("n_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 10)
    )
    lift = (F.col("n_ab") * F.lit(n_docs)).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        pairs.select("tok_a", "tok_b", "n_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(20)
    )


Q_COOCCURRENCE_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks
  FROM documents),
dt AS (SELECT doc_id, unnest(toks) AS token FROM d),
top AS (
  SELECT token, COUNT(*) AS n_t FROM dt
  GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 32),
dtt AS (SELECT dt.doc_id, dt.token, top.n_t FROM dt JOIN top ON dt.token = top.token),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, a.n_t AS n_a, b.n_t AS n_b,
         COUNT(*) AS n_ab
  FROM dtt a JOIN dtt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 10)
SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab * (SELECT COUNT(*) FROM d) AS DOUBLE)
       / CAST(n_a * n_b AS DOUBLE) AS lift
FROM pairs
ORDER BY lift DESC, tok_a, tok_b LIMIT 20
"""


# ------------------------------------------------- prefix autocomplete


def q_autocomplete(spark: SparkSession, sf: str) -> DataFrame:
    """Search-box autocomplete table: top-3 completions by corpus
    frequency per first-keystroke prefix (tie → token asc), prefixes
    with ≥2 distinct completions — one token-count agg, one prefix
    window. (Prefix length is a knob; 1 char on this small-vocabulary
    corpus so prefixes actually share completions.)"""
    from pyspark.sql.window import Window

    toks = load_table(spark, sf, "documents").select(
        F.explode(tokenize("text")).alias("token")
    )
    counts = (
        toks.where(F.length("token") >= 2)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("prefix", F.substring("token", 1, 1))
    )
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), F.col("token"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).withColumn(
        "n_completions", F.count(F.lit(1)).over(Window.partitionBy("prefix"))
    )
    return (
        ranked.where((F.col("rank") <= 3) & (F.col("n_completions") >= 2))
        .select("prefix", F.col("rank").cast("int").alias("rank"), "token", "freq")
        .orderBy("prefix", "rank")
    )


Q_AUTOCOMPLETE_SQL = r"""
WITH counts AS (
  SELECT token, COUNT(*) AS freq, substr(token, 1, 1) AS prefix
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
        FROM documents)
  WHERE length(token) >= 2
  GROUP BY token),
ranked AS (
  SELECT prefix, token, freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY prefix ORDER BY freq DESC, token) AS INT) AS rank,
         COUNT(*) OVER (PARTITION BY prefix) AS n_completions
  FROM counts)
SELECT prefix, rank, token, freq
FROM ranked WHERE rank <= 3 AND n_completions >= 2
ORDER BY prefix, rank
"""


# ---------------------------------------------- text normalization


def q_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic normalization pass (lowercase → strip
    non-alphanumerics → collapse runs of spaces → trim) with change
    accounting per language. Patterns restricted to the Java-regex ∩
    RE2 common subset (character classes only — the PII_PATTERNS
    rule), so both engines rewrite identically."""
    docs = load_table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("lang", "text", norm.alias("norm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("norm") != F.col("text"), 1).otherwise(0)).alias(
                "n_changed"
            ),
            F.sum(F.length("text")).alias("chars_before"),
            F.sum(F.length("norm")).alias("chars_after"),
        )
        .orderBy("lang")
    )


Q_TEXT_NORMALIZE_SQL = """
WITH n AS (
  SELECT lang, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(length(text)) AS BIGINT) AS chars_before,
       CAST(SUM(length(norm)) AS BIGINT) AS chars_after
FROM n GROUP BY lang ORDER BY lang
"""


# ------------------------------------------- subsample uncertainty


def q_subsample_ci(spark: SparkSession, sf: str) -> DataFrame:
    """RNG-free uncertainty band for a corpus metric: 16 disjoint md5
    subsamples, mean token count per bucket, spread of bucket means —
    all exact integer sums divided once per bucket. If the spread is
    tight, the metric is stable under resampling; no random state, so
    the band reproduces on any engine."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents").select(
        F.substring(F.md5(F.concat(F.lit("ci:"), F.col("doc_id").cast("string"))), 1, 1)
        .alias("bucket"),
        F.size(tokenize("text")).alias("n_tok"),
    )
    bucket_means = docs.groupBy("bucket").agg(
        (F.sum("n_tok").cast("double") / F.count(F.lit(1)).cast("double")).alias("m"),
        F.sum("n_tok").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return bucket_means.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (F.sum("s").cast("double") / F.sum("c").cast("double")).alias("grand_mean"),
        F.min("m").alias("min_bucket_mean"),
        F.max("m").alias("max_bucket_mean"),
        (F.max("m") - F.min("m")).alias("spread"),
    )


Q_SUBSAMPLE_CI_SQL = r"""
WITH d AS (
  SELECT substr(md5('ci:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents),
b AS (
  SELECT bucket,
         CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(n_tok) AS BIGINT) AS s, COUNT(*) AS c
  FROM d GROUP BY bucket)
SELECT COUNT(*) AS n_buckets,
       CAST(SUM(s) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS grand_mean,
       MIN(m) AS min_bucket_mean,
       MAX(m) AS max_bucket_mean,
       MAX(m) - MIN(m) AS spread
FROM b
"""


# ------------------------------------------------ Zipf diagnostics


def q_zipf_check(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-frequency head with the exact Zipf product r·f(r).

    Zipf's law predicts r·f(r) ≈ const; the integer product and the
    f(1)/f(r) double ratio are engine-exact, unlike the usual log-log
    slope fit (ln is banned from oracles by the determinism
    contract). One hash agg + one ordered window over the aggregated
    (tiny) vocabulary table.
    """
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = freq.withColumn("rank", F.row_number().over(w).cast("long")).withColumn(
        "top_freq", F.max("freq").over(Window.partitionBy())
    )
    return (
        ranked.where(F.col("rank") <= 20)
        .select(
            "rank",
            "term",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rf"),
            F.round(
                F.col("top_freq").cast("double") / F.col("freq").cast("double"),
                9,
            ).alias("ratio_r9"),
        )
        .orderBy("rank")
    )


Q_ZIPF_CHECK_SQL = r"""
WITH freq AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                t -> t <> '')) AS term
  FROM documents),
counted AS (SELECT term, COUNT(*) AS freq FROM freq GROUP BY 1),
ranked AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank,
         MAX(freq) OVER () AS top_freq
  FROM counted)
SELECT CAST(rank AS BIGINT) AS rank, term, freq,
       CAST(rank * freq AS BIGINT) AS rf,
       ROUND(CAST(top_freq AS DOUBLE) / CAST(freq AS DOUBLE), 9) AS ratio_r9
FROM ranked WHERE rank <= 20 ORDER BY rank
"""


# ------------------------------------------------ corpus diversity


def q_diversity_index(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source language diversity: Gini-Simpson 1 − Σp² and the
    effective number of languages 1/Σp² — the rational diversity
    measures (Shannon entropy needs ln, which the determinism
    contract bans from oracled values; ENL plays the same role as
    perplexity). Two nested hash aggregates over (source, lang).
    """
    docs = load_table(spark, sf, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("nl")
    )
    wtot = Window.partitionBy("source")
    probs = counts.select(
        "source",
        "nl",
        (
            F.col("nl").cast("double")
            / F.sum("nl").over(wtot).cast("double")
        ).alias("p"),
    )
    agg = probs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(_dec(F.col("p") * F.col("p"))).cast("double").alias("sum_p2"),
    )
    return agg.select(
        "source",
        "n_langs",
        F.round(F.lit(1.0) - F.col("sum_p2"), 9).alias("gini_simpson_r9"),
        F.round(F.lit(1.0) / F.col("sum_p2"), 9).alias("effective_langs_r9"),
    ).orderBy("source")


Q_DIVERSITY_INDEX_SQL = """
WITH counts AS (
  SELECT source, lang, COUNT(*) AS nl FROM documents GROUP BY 1, 2),
probs AS (
  SELECT source, nl,
         CAST(nl AS DOUBLE)
           / CAST(SUM(nl) OVER (PARTITION BY source) AS DOUBLE) AS p
  FROM counts),
agg AS (
  SELECT source, COUNT(*) AS n_langs,
         CAST(SUM(CAST(p * p AS DECIMAL(38,6))) AS DOUBLE) AS sum_p2
  FROM probs GROUP BY 1)
SELECT source, n_langs,
       ROUND(1.0 - sum_p2, 9) AS gini_simpson_r9,
       ROUND(1.0 / sum_p2, 9) AS effective_langs_r9
FROM agg ORDER BY source
"""


# ------------------------------------------- streamed diversity


def q_stream_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed Gini-Simpson diversity: per-batch (source, lang, n)
    counts are additive semigroup state (per-batch_id overwrite →
    replay-idempotent); the read side merges and computes the same
    index as batch q_diversity_index (same oracle)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "lang")
    work = tempfile.mkdtemp(prefix="stream_div_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    store = f"{work}/partials"

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("nl")
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    counts = (
        spark.read.schema("source string, lang string, nl bigint")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("source", "lang")
        .agg(F.sum("nl").alias("nl"))
    )
    wtot = Window.partitionBy("source")
    probs = counts.select(
        "source",
        (F.col("nl").cast("double") / F.sum("nl").over(wtot).cast("double")).alias(
            "p"
        ),
    )
    agg = probs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(_dec(F.col("p") * F.col("p"))).cast("double").alias("sum_p2"),
    )
    return agg.select(
        "source",
        "n_langs",
        F.round(F.lit(1.0) - F.col("sum_p2"), 9).alias("gini_simpson_r9"),
        F.round(F.lit(1.0) / F.col("sum_p2"), 9).alias("effective_langs_r9"),
    ).orderBy("source")


# ---------------------------------------- quantile normalization


def q_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language percent-rank of document length — the
    cross-source score equalizer (a 90th-percentile doc means the
    same thing in every language after this). Top-3 per language by
    normalized score shown; (n_chars, doc_id) makes the rank total.
    """
    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank_r9"),
    )
    top = ranked.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("pct_rank_r9").desc(), "doc_id"
            )
        ),
    )
    return (
        top.where(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars", "pct_rank_r9")
        .orderBy("lang", F.col("pct_rank_r9").desc(), "doc_id")
    )


Q_QUANTILE_NORMALIZE_SQL = """
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id), 9) AS pct_rank_r9
  FROM documents),
top AS (
  SELECT lang, doc_id, n_chars, pct_rank_r9,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pct_rank_r9 DESC, doc_id) AS rn
  FROM ranked)
SELECT lang, doc_id, n_chars, pct_rank_r9
FROM top WHERE rn <= 3
ORDER BY lang, pct_rank_r9 DESC, doc_id
"""


# ------------------------------------------- k-fold audit


def q_kfold_assign(spark: SparkSession, sf: str) -> DataFrame:
    """5-fold assignment audit: fold = md5 nibble mod 5 (RNG-free,
    engine-portable), per (fold, lang): doc count and token sum. The
    disjoint-and-complete pre-launch check; folds rebalance only if
    the hash or corpus changes."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    return (
        docs.select(
            fold.alias("fold"), "lang", F.size(tokenize("text")).alias("n_tok")
        )
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("fold", "lang")
    )


Q_KFOLD_ASSIGN_SQL = r"""
SELECT ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 5 AS fold,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> ''))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------ yield curve

_YIELD_THRESHOLDS = (0.0, 0.2, 0.4, 0.6, 0.8)


def q_yield_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Docs/tokens surviving each distinct-token-ratio cutoff (keep
    docs whose distinct/total ratio ≥ thr — low ratio = repetitive).
    One scan computes the per-doc signal; the threshold ladder is a
    5-row broadcast cross join, so the sweep costs one corpus pass
    regardless of ladder size."""
    from .operators.text import tokenize

    docs = load_table(spark, sf, "documents")
    toks = tokenize("text")
    n_tok = F.size(toks).cast("bigint")
    ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tok, F.lit(1)
    ).cast("double")
    scored = docs.select(n_tok.alias("n_tok"), ratio.alias("ratio"))
    thr = spark.createDataFrame(
        [(t,) for t in _YIELD_THRESHOLDS], "thr double"
    )
    total = scored.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )
    swept = scored.crossJoin(F.broadcast(thr)).where(F.col("ratio") >= F.col("thr"))
    return (
        swept.groupBy("thr")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "thr",
            "docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept").cast("double")
                / F.col("total_tokens").cast("double"),
                9,
            ).alias("token_yield_r9"),
        )
        .orderBy("thr")
    )


Q_YIELD_CURVE_SQL = r"""
WITH scored AS (
  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                            t -> t <> ''))) AS DOUBLE)
           / GREATEST(CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                           t -> t <> '')) AS BIGINT), 1) AS ratio
  FROM documents),
thr AS (SELECT CAST(unnest([0.0, 0.2, 0.4, 0.6, 0.8]) AS DOUBLE) AS thr),
total AS (SELECT COUNT(*) AS total_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM scored)
SELECT thr,
       COUNT(*) AS docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) / (SELECT CAST(total_tokens AS DOUBLE) FROM total), 9)
         AS token_yield_r9
FROM scored, thr WHERE ratio >= thr
GROUP BY thr ORDER BY thr
"""


def q_dsir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 non-English-labeled documents ranked by unigram DSIR
    importance against the English-labeled target slice: the docs a
    target-distribution resampler would pull into the mixture first.
    Deterministic tie-break on doc_id at the cut.

    Serving shape (r13): the counting side reads the stored
    (token, lang, count) cube (artifacts.token_lang_counts — built
    once per corpus version), so the whole query is vocab-sized
    aggregations over the artifact scan plus ONE corpus
    tokenize-and-score pass; nothing is persisted and the plan stays
    lazy. The target split (en vs rest) is a query-time parameter —
    the cube serves any split. Counts are exact integers, so scores
    are bit-identical to inline counting (the oracle counts inline)."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col
    from .session import scale_out

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    is_tgt = F.col("lang") == "en"
    tc = token_lang_counts(spark, sf)
    totals = tc.agg(
        F.coalesce(F.sum(F.when(is_tgt, F.col("c"))), F.lit(0)).alias("_nt"),
        F.coalesce(F.sum(F.when(~is_tgt, F.col("c"))), F.lit(0)).alias("_nb"),
        F.countDistinct("w").alias("_v"),
    )
    wc = tc.groupBy("w").agg(
        F.coalesce(F.sum(F.when(is_tgt, F.col("c"))), F.lit(0)).alias("_ct"),
        F.coalesce(F.sum(F.when(~is_tgt, F.col("c"))), F.lit(0)).alias("_cb"),
    )
    rt = (
        wc.where(F.col("_cb") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            (
                (
                    (F.col("_ct") + 1).cast("double")
                    * (F.col("_nb") + F.col("_v")).cast("double")
                )
                / (
                    (F.col("_cb") + 1).cast("double")
                    * (F.col("_nt") + F.col("_v")).cast("double")
                )
            )
            .cast("decimal(38,18)")
            .alias("_r"),
        )
    )
    scored = (
        scale_out(docs.where(~is_tgt))
        .select("doc_id", F.explode(tokens_col("text")).alias("w"))
        .join(rt, "w")
        .groupBy("doc_id")
        .agg((F.sum("_r").cast("double") / F.count(F.lit(1))).alias("_m"))
    )
    return (
        scored.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .orderBy(F.desc("_m"), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "source", F.round("_m", 9).alias("dsir_score"))
    )


Q_DSIR_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents
),
tot AS (
  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nb,
         COUNT(DISTINCT w) AS v
  FROM tok
),
ct AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1),
cb AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang <> 'en' GROUP BY 1),
rt AS (
  SELECT cb.w,
         CAST((CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) * CAST(tot.nb + tot.v AS DOUBLE))
              / (CAST(cb.c + 1 AS DOUBLE) * CAST(tot.nt + tot.v AS DOUBLE))
              AS DECIMAL(38,18)) AS r
  FROM cb LEFT JOIN ct USING (w) CROSS JOIN tot
),
scored AS (
  SELECT t.doc_id, CAST(SUM(rt.r) AS DOUBLE) / COUNT(*) AS m
  FROM tok t JOIN rt ON t.w = rt.w
  WHERE t.lang <> 'en'
  GROUP BY 1
)
SELECT s.doc_id, d.lang, d.source, ROUND(s.m, 9) AS dsir_score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.m DESC, s.doc_id
LIMIT 50
"""


_LANGS = ["en", "de", "es", "fr"]


def q_nb_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Naive-Bayes-style language ID: score each doc by
    the MEAN per-token POSTERIOR under each language's corpus-trained
    smoothed unigram model (uniform prior: posterior_L(w) =
    p_L(w) / Σ_L' p_L'(w)), predict the argmax (ties en > de > es >
    fr, token-less docs 'und'). Normalizing per token keeps corpus-
    common tokens from swamping the signal (they contribute ≈1/4 to
    every language) — the raw-probability mean measured 0.30 accuracy
    on the sf0.001 corpus vs 0.45 majority floor; the posterior mean
    separates. The model — per-(token, lang) add-one probabilities —
    is a vocab-sized aggregation over the stored counting cube and
    broadcasts to the scoring join; the single tokenize+explode in
    this plan is the irreducible per-doc scoring pass (one shuffle:
    the per-doc mean). Each posterior is a fixed-order double
    expression over exactly-representable integer factors, so both
    engines compute it bit-identically (the q_dsir_sample contract).
    Self-labeling on the training corpus is the point of the shape,
    not the application: swap the cube for one built on labeled data
    and the query scores any unlabeled corpus unchanged."""
    from .artifacts import token_lang_counts
    from .operators.dedup import tokens_col
    from .session import scale_out

    tc = token_lang_counts(spark, sf)
    totals = tc.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("lang") == L, F.col("c"))), F.lit(0)
            ).alias(f"_n_{L}")
            for L in _LANGS
        ],
        F.countDistinct("w").alias("_v"),
    )
    model = (
        tc.groupBy("w")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("lang") == L, F.col("c"))), F.lit(0)
                ).alias(f"_c_{L}")
                for L in _LANGS
            ]
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            *[
                (
                    (F.col(f"_c_{L}") + 1).cast("double")
                    / (F.col(f"_n_{L}") + F.col("_v")).cast("double")
                ).alias(f"_q_{L}")
                for L in _LANGS
            ],
        )
        # fixed-order sum: en+de+es+fr, identically parenthesized in
        # the oracle SQL, so the double rounding sequence matches
        .withColumn(
            "_qs",
            F.col("_q_en") + F.col("_q_de") + F.col("_q_es") + F.col("_q_fr"),
        )
        .select(
            "w",
            *[
                (F.col(f"_q_{L}") / F.col("_qs"))
                .cast("decimal(38,18)")
                .alias(f"_p_{L}")
                for L in _LANGS
            ],
        )
    )
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    scored = (
        scale_out(docs)
        .select(
            "doc_id", "lang", F.explode_outer(tokens_col("text")).alias("w")
        )
        .join(F.broadcast(model), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("w").alias("_nw"),
            *[F.sum(f"_p_{L}").alias(f"_sp_{L}") for L in _LANGS],
        )
        .select(
            "doc_id",
            "lang",
            "_nw",
            *[
                (F.col(f"_sp_{L}").cast("double") / F.col("_nw")).alias(f"_s_{L}")
                for L in _LANGS
            ],
        )
    )
    g = F.greatest(*[F.col(f"_s_{L}") for L in _LANGS])
    pred = F.when(F.col("_nw") == 0, F.lit("und"))
    for L in _LANGS:
        pred = pred.when(F.col(f"_s_{L}") == g, F.lit(L))
    return (
        scored.select("doc_id", "lang", pred.alias("nb_pred"))
        .orderBy("doc_id")
    )


def _nb_sql() -> str:
    sums = "\n".join(
        f"         SUM(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS n_{L},"
        for L in _LANGS
    )
    wcs = ",\n".join(
        f"         SUM(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS c_{L}"
        for L in _LANGS
    )
    qexprs = ",\n".join(
        f"         CAST(wc.c_{L} + 1 AS DOUBLE) / CAST(tot.n_{L} + tot.v AS DOUBLE) AS q_{L}"
        for L in _LANGS
    )
    probs = ",\n".join(
        f"         CAST(q_{L} / (q_en + q_de + q_es + q_fr)"
        f" AS DECIMAL(38,18)) AS p_{L}"
        for L in _LANGS
    )
    means = ",\n".join(
        f"         CAST(SUM(m.p_{L}) AS DOUBLE) / COUNT(*) AS s_{L}" for L in _LANGS
    )
    glist = ", ".join(f"s.s_{L}" for L in _LANGS)
    cases = "\n".join(
        f"              WHEN s.s_{L} = GREATEST({glist}) THEN '{L}'" for L in _LANGS
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents
),
tot AS (
  SELECT
{sums}
         COUNT(DISTINCT w) AS v
  FROM tok
),
wc AS (
  SELECT w,
{wcs}
  FROM tok GROUP BY 1
),
q AS (
  SELECT wc.w,
{qexprs}
  FROM wc CROSS JOIN tot
),
model AS (
  SELECT w,
{probs}
  FROM q
),
scored AS (
  SELECT t.doc_id,
{means}
  FROM tok t JOIN model m ON t.w = m.w
  GROUP BY 1
)
SELECT d.doc_id, d.lang,
       COALESCE(CASE
{cases}
            END, 'und') AS nb_pred
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


def _bpe_words(spark: SparkSession, sf: str):
    """(word, freq) served from the stored counting cube — delegates
    to artifacts.bpe_word_freq (single definition of the word-supply
    rule, shared with the bpe_merges artifact build)."""
    from .artifacts import bpe_word_freq

    return bpe_word_freq(spark, sf)


def _bpe_merge_pairs(spark: SparkSession, sf: str) -> list[tuple[str, str]]:
    """The learned (left, right) merge list read from the stored
    bpe_merges artifact — a bounded ≤ n_merges-row collect (8 rows):
    segmentation consumers need the merges as expression LITERALS
    (the zero-shuffle chained-replace projection), and the table is
    vocab-bounded by construction. Annotated in the collect budget."""
    from .artifacts import bpe_merge_table

    rows = bpe_merge_table(spark, sf).orderBy("step").collect()
    return [(r["left_sym"], r["right_sym"]) for r in rows]


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer induction: the first 8 BPE merges learned from the
    corpus word-frequency table (operators/bpe.bpe_learn) — (step,
    left_sym, right_sym, merged, pair_count) in learning order. The
    word-frequency table is SERVED from the stored counting cube
    (artifacts.token_lang_counts: sum of per-cell c — zero corpus
    tokenize, the r12 cube-relocation rule); every round after that
    is vocab-sized: a pair-count aggregate over the chained-literal-
    replace segmentation expression plus a single-row argmax (the
    bounded per-iteration driver scalar of the fixed-point family).
    The oracle replays the identical greedy loop as 8 chained SQL
    stages — counts, tie-breaks and the left-to-right non-overlapping
    merge rule are all engine-neutral, so the learned table matches
    bit-for-bit.

    r15: the learned table is now a stored ARTIFACT
    (artifacts.bpe_merge_table — a tokenizer trains once per corpus
    and serves every downstream job); this query reads the store, and
    the oracle's from-scratch replay is exactly the artifact's
    correctness pin."""
    from .artifacts import bpe_merge_table

    return bpe_merge_table(spark, sf).orderBy("step")


def q_bpe_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """The learned tokenizer SERVING: segment every corpus word with
    the 8 learned merges (bpe_segment — merges are literals, so the
    segmentation is a zero-shuffle projection over the vocab table)
    and report the top-50 symbols by corpus frequency (ties broken by
    symbol). Pins that the induced vocabulary actually tokenizes: the
    oracle replays the learning chain and reads the FINAL segmentation
    state (the w8 stage) for the same weighted symbol counts. Word
    frequencies come from the stored counting cube (zero corpus
    tokenize — the q_bpe_merges rule)."""
    from pyspark.sql import functions as F

    from .operators.bpe import bpe_segment

    seg = bpe_segment(_bpe_words(spark, sf), _bpe_merge_pairs(spark, sf))
    return (
        seg.select(F.explode("symbols").alias("symbol"), "freq")
        .groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "symbol")
        .limit(50)
    )


def _bpe_chain_ctes(n_merges: int = 8) -> tuple[list[str], list[str]]:
    """The shared DuckDB replay of the greedy merge-learning loop:
    (ctes, per-step merge-row selects). ``toks`` carries doc_id so
    downstream oracles (q_bpe_chunks) can reuse the tokenize; the
    wf aggregation ignores it."""
    ctes = [
        "toks AS (SELECT doc_id,"
        " unnest(list_filter(string_split_regex(lower(text),"
        " '[^a-z0-9]+'), t -> t <> '')) AS word FROM documents)",
        "wf AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word)",
        "w0 AS (SELECT ' ' || array_to_string(list_transform("
        "range(1, length(word) + 1),"
        " i -> substring(word, CAST(i AS INTEGER), 1)), '  ') || ' ' AS enc,"
        " freq FROM wf)",
    ]
    selects = []
    for k in range(1, n_merges + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"s{k} AS (SELECT string_split(trim(enc), '  ') AS syms, freq"
            f" FROM {prev})"
        )
        ctes.append(
            f"p{k} AS (SELECT syms[CAST(i AS INTEGER)] AS l,"
            f" syms[CAST(i AS INTEGER) + 1] AS r, SUM(freq) AS c"
            f" FROM s{k}, LATERAL (SELECT unnest(range(1, len(syms))) AS i) t"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1)"
        )
        # LEFT JOIN fallback (ADVICE r14): a corpus whose pair supply
        # dries up before n_merges rounds leaves b{k} EMPTY; a plain
        # cross join would then empty every later w-stage while the
        # engine still segments with the shorter merge list. Passing
        # the previous segmentation through unchanged mirrors
        # bpe_learn's early break exactly (b{k} is empty only when NO
        # adjacent pair exists, so no later stage can learn either —
        # the merge-table selects are unaffected).
        ctes.append(
            f"w{k} AS (SELECT CASE WHEN l IS NULL THEN enc ELSE"
            f" replace(enc,"
            f" ' ' || l || '  ' || r || ' ',"
            f" ' ' || l || r || ' ') END AS enc, freq"
            f" FROM {prev} LEFT JOIN b{k} ON TRUE)"
        )
        selects.append(
            f"SELECT CAST({k} AS INTEGER) AS step, l AS left_sym,"
            f" r AS right_sym, l || r AS merged,"
            f" CAST(c AS BIGINT) AS pair_count FROM b{k}"
        )
    return ctes, selects


def _bpe_oracle(n_merges: int = 8) -> str:
    ctes, selects = _bpe_chain_ctes(n_merges)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY step"
    )


def _bpe_vocab_oracle(n_merges: int = 8) -> str:
    """Top-50 weighted symbol counts read from the learning chain's
    FINAL segmentation stage — the serving oracle shares every CTE
    with the merge-table oracle."""
    ctes, _ = _bpe_chain_ctes(n_merges)
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT syms[CAST(i AS INTEGER)] AS symbol,
       CAST(SUM(freq) AS BIGINT) AS n
FROM (SELECT string_split(trim(enc), '  ') AS syms, freq FROM w{n_merges}),
     LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) t
GROUP BY 1 ORDER BY n DESC, symbol LIMIT 50
"""
    )


BPE_SEQ_LEN = 128


BPE_N_MERGES = 8


def q_bpe_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Pack the BPE-tokenized corpus into 128-token training
    sequences: read the learned 8-merge table from the stored
    bpe_merges artifact (trained once per corpus), count each
    document's BPE symbols by segmenting the DISTINCT-WORD table once
    (vocab-sized rewrite; merges are literals) and joining per-word
    symbol counts back to the doc token stream (r16), then
    concat-and-chunk in doc_id order via the distributed prefix sum.
    Per sequence: docs starting in it, their BPE-token mass,
    boundary-straddlers, and the doc-id span. The oracle replays the
    learning chain, segments every vocab word relationally (the
    v-chain), joins the per-word symbol counts back to the doc token
    stream, and recomputes the same cumsum layout — bit-exact at
    every SF."""
    from .operators.bpe import bpe_symbols
    from .operators.dedup import tokens_col
    from .operators.packing import pack_sequences
    from .session import scale_out

    pairs = _bpe_merge_pairs(spark, sf)
    docs = scale_out(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )
    # r16 optimization (the r15 verdict's #4): count BPE symbols per
    # DISTINCT WORD, not per document. The r15 doc-level form ran the
    # 8-replace sentinel rewrite over every document's full text (~24
    # string passes over 3× the corpus bytes); the corpus's distinct-
    # word table (the stored counting cube, artifacts.bpe_word_freq —
    # the exact word supply the merges were learned from, same
    # tokenizer) is far smaller than the token stream, so the rewrite
    # now runs once per VOCAB ROW and per-doc counts come back through
    # an explode + word join + per-doc sum. Bit-identical: every
    # corpus token appears in the cube by construction (same
    # tokens_col over the same documents), so the join is lossless and
    # sum(ns per token) is exactly the doc's symbol count; docs with
    # zero tokens vanish from the aggregate, which pack_sequences'
    # n_tok > 0 filter dropped anyway. Oracle-verified bit-exact at
    # all three SFs (its dcnt CTE is literally this join). The word
    # join is left to the planner: vocab-bounded ⇒ broadcast locally;
    # at a 100-TB vocab the sort-merge fallback is the correct shape.
    wsym = _bpe_words(spark, sf).select(
        "word", F.size(bpe_symbols(F.col("word"), pairs)).alias("_ns")
    )
    sized = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("word"))
        .join(wsym, "word")
        .groupBy("doc_id")
        .agg(F.sum("_ns").cast("long").alias("n_tok"))
    )
    packed = pack_sequences(sized, "doc_id", "n_tok", BPE_SEQ_LEN)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bpe_tokens_started"),
            F.sum(
                F.when(F.col("end_seq_id") > F.col("seq_id"), 1).otherwise(0)
            ).alias("n_boundary_crossers"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def _bpe_vchain_ctes(n_merges: int = BPE_N_MERGES) -> list[str]:
    """The learning-chain CTEs plus a word-carrying segmentation
    chain (v0..v{n}) and the per-word symbol-count table ``wsym`` —
    shared by every oracle that needs the learned segmentation AT THE
    WORD LEVEL (chunks, compression). Each v-stage applies the same
    per-round LEFT-JOIN replace as the w-chain, so a short-merge
    corpus degrades identically to the engine."""
    ctes, _ = _bpe_chain_ctes(n_merges)
    ctes.append(
        "v0 AS (SELECT word, ' ' || array_to_string(list_transform("
        "range(1, length(word) + 1),"
        " i -> substring(word, CAST(i AS INTEGER), 1)), '  ') || ' ' AS enc"
        " FROM wf)"
    )
    for k in range(1, n_merges + 1):
        ctes.append(
            f"v{k} AS (SELECT word, CASE WHEN l IS NULL THEN enc ELSE"
            f" replace(enc,"
            f" ' ' || l || '  ' || r || ' ',"
            f" ' ' || l || r || ' ') END AS enc"
            f" FROM v{k - 1} LEFT JOIN b{k} ON TRUE)"
        )
    ctes.append(
        f"wsym AS (SELECT word, len(string_split(trim(enc), '  ')) AS ns"
        f" FROM v{n_merges})"
    )
    return ctes


def _bpe_chunks_oracle(
    n_merges: int = BPE_N_MERGES, seq_len: int = BPE_SEQ_LEN
) -> str:
    """Replay the merge-learning chain (shared CTEs), then segment the
    VOCAB relationally — a v-chain that carries the word through the
    same per-round LEFT-JOIN replace, so a short-merge corpus
    degrades identically to the engine — and join per-word symbol
    counts to the doc token stream before the packing cumsum."""
    ctes = _bpe_vchain_ctes(n_merges)
    ctes.append(
        "dcnt AS (SELECT doc_id, CAST(SUM(ns) AS BIGINT) AS n_tok"
        " FROM toks JOIN wsym USING (word) GROUP BY doc_id)"
    )
    ctes.append(
        "off AS (SELECT doc_id, n_tok,"
        " COALESCE(SUM(n_tok) OVER (ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off"
        " FROM dcnt WHERE n_tok > 0)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(off // {seq_len} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens_started,
       CAST(SUM(CASE WHEN (off + n_tok - 1) // {seq_len} > off // {seq_len}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_crossers,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM off
GROUP BY 1
ORDER BY 1
"""
    )


def q_pack_slices(spark: SparkSession, sf: str) -> DataFrame:
    """The trainer-facing half of sequence packing: materialize every
    (document, sequence) SLICE — which contiguous token range of each
    doc lands in which 128-token training sequence. q_seq_packing
    reports per-sequence statistics; the dataloader needs the inverse
    map (per doc: the sequences it feeds, the in-doc token offset and
    the slice length). Pure arithmetic on the distributed-prefix-sum
    offsets: a doc at global offset o with n tokens spans sequences
    o//L .. (o+n-1)//L, and its slice in sequence s is
    [max(sL, o), min((s+1)L, o+n)) — so the whole operator is the
    packing cumsum plus a zero-shuffle in-row sequence explode. The
    oracle recomputes the layout with a plain window cumsum and the
    same interval intersection, bit-exact."""
    from .operators.packing import with_global_offsets
    from .operators.text import tokenize
    from .session import scale_out

    docs = scale_out(
        load_table(spark, sf, "documents").select("doc_id", "text")
    ).select("doc_id", F.size(tokenize("text")).alias("n_tok"))
    off = with_global_offsets(
        docs.where(F.col("n_tok") > 0).withColumn(
            "n_tok", F.col("n_tok").cast("long")
        ),
        "doc_id",
        "n_tok",
    )
    L = int(SEQ_LEN)
    sl = off.select(
        "doc_id",
        "n_tok",
        "offset",
        F.explode(
            F.sequence(
                F.expr(f"offset div {L}"),
                F.expr(f"(offset + n_tok - 1) div {L}"),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * L, F.col("offset"))
    hi = F.least((F.col("seq_id") + 1) * L, F.col("offset") + F.col("n_tok"))
    return sl.select(
        "doc_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        (lo - F.col("offset")).cast("long").alias("tok_start"),
        (hi - lo).cast("long").alias("n_tok_in_seq"),
    ).orderBy("doc_id", "seq_id")


Q_PACK_SLICES_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
off AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks WHERE n_tok > 0
),
sl AS (
  SELECT doc_id, n_tok, CAST(off AS BIGINT) AS off,
         unnest(range(CAST(off // 128 AS BIGINT),
                      CAST((off + n_tok - 1) // 128 + 1 AS BIGINT))) AS seq_id
  FROM off
)
SELECT doc_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(seq_id * 128, off) - off AS BIGINT) AS tok_start,
       CAST(least((seq_id + 1) * 128, off + n_tok)
            - greatest(seq_id * 128, off) AS BIGINT) AS n_tok_in_seq
FROM sl
ORDER BY doc_id, seq_id
"""


_BASE_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + list(
    "0123456789"
)


def q_wordpiece_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """The THIRD tokenizer family: WordPiece-style greedy
    longest-match serving (operators/bpe.greedy_segment) over the
    learned inventory — base alphabet plus the stored bpe_merges
    symbols. Reports the corpus-weighted top-50 symbols, the same
    shape as q_bpe_vocab, so the two serving rules' divergence
    (greedy longest-match vs merge-order replay — they differ where a
    long symbol spans a higher-priority merge boundary) is auditable
    side by side. Segmentation is a vocab-sized zero-shuffle
    projection (symbols are literals; the in-row fold carries a
    (pos, parts) cursor over each word). The oracle re-derives the
    inventory from the learning chain and replays greedy
    longest-match with a per-word recursive CTE over a materialized
    longest-match-length table."""
    from .operators.bpe import greedy_segment

    symbols = [l + r for l, r in _bpe_merge_pairs(spark, sf)] + _BASE_ALPHABET
    seg = _bpe_words(spark, sf).select(
        F.explode(greedy_segment(F.col("word"), symbols)).alias("symbol"),
        "freq",
    )
    return (
        seg.groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "symbol")
        .limit(50)
    )


def _wordpiece_oracle(n_merges: int = BPE_N_MERGES) -> str:
    """Replay the merge chain for the inventory, then greedy
    longest-match relationally: a materialized per-(word, position)
    longest-match-length table drives a recursive CTE whose cursor
    jumps by the matched length — the sequential rule a window
    cannot express (each step's position depends on every prior
    match)."""
    ctes, _ = _bpe_chain_ctes(n_merges)
    merged_union = " UNION ALL ".join(
        f"SELECT l || r AS sym FROM b{k}" for k in range(1, n_merges + 1)
    )
    ctes.append(
        f"vocab AS MATERIALIZED ({merged_union}"
        " UNION ALL SELECT chr(CAST(c AS INTEGER)) AS sym"
        " FROM (SELECT unnest(range(97, 123)) AS c)"
        " UNION ALL SELECT CAST(d AS VARCHAR) AS sym"
        " FROM (SELECT unnest(range(0, 10)) AS d))"
    )
    ctes.append(
        "wpos AS MATERIALIZED (SELECT word,"
        " CAST(unnest(range(1, length(word) + 1)) AS INTEGER) AS p FROM wf)"
    )
    ctes.append(
        "cand AS MATERIALIZED ("
        "SELECT wpos.word, wpos.p, MAX(length(v.sym)) AS len"
        " FROM wpos JOIN vocab v"
        " ON substring(wpos.word, wpos.p, length(v.sym)) = v.sym"
        " GROUP BY 1, 2)"
    )
    ctes.append(
        "seg AS ("
        "SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS parts, freq FROM wf"
        " UNION ALL"
        " SELECT s.word, s.pos + c.len,"
        " list_append(s.parts, substring(s.word, s.pos, c.len)), s.freq"
        " FROM seg s JOIN cand c ON c.word = s.word AND c.p = s.pos"
        " WHERE s.pos <= length(s.word))"
    )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + """
SELECT sym AS symbol, CAST(SUM(freq) AS BIGINT) AS n
FROM (SELECT unnest(parts) AS sym, freq FROM seg
      WHERE pos = length(word) + 1)
GROUP BY 1
ORDER BY n DESC, symbol
LIMIT 50
"""
    )


def q_bpe_compression(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility / compression audit per language — the
    numbers a tokenizer team tracks before committing a vocab to a
    100-TB run: chars per BPE token (compression) and BPE tokens per
    word (fertility), weighted by corpus frequency. Served entirely
    from the counting cube + the stored merge table (zero corpus
    scan): per-(word, lang) counts come from cube cells and each
    word's symbol count is the in-row literal rewrite. Ratios are
    int/int doubles rounded to 9 (the cross-engine float contract);
    the oracle replays the chain and recomputes the same weighted
    sums from the raw corpus."""
    from .artifacts import token_lang_counts
    from .operators.bpe import bpe_symbols

    pairs = _bpe_merge_pairs(spark, sf)
    cube = token_lang_counts(spark, sf)
    agg = cube.groupBy("lang").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.length("w")).alias("n_chars"),
        F.sum(
            F.col("c") * F.size(bpe_symbols(F.col("w"), pairs))
        ).alias("n_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 9).alias(
            "chars_per_token"
        ),
        F.round(F.col("n_bpe_tokens") / F.col("n_words"), 9).alias(
            "fertility"
        ),
    ).orderBy("lang")


def _bpe_compression_oracle(n_merges: int = BPE_N_MERGES) -> str:
    ctes = _bpe_vchain_ctes(n_merges)
    ctes.append(
        "tl AS (SELECT lang,"
        " unnest(list_filter(string_split_regex(lower(text),"
        " '[^a-z0-9]+'), t -> t <> '')) AS word FROM documents)"
    )
    ctes.append(
        "lwf AS (SELECT lang, word, COUNT(*) AS c FROM tl GROUP BY 1, 2)"
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(c * ns) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(c * length(word)) AS BIGINT)
             / CAST(SUM(c * ns) AS BIGINT), 9) AS chars_per_token,
       ROUND(CAST(SUM(c * ns) AS BIGINT)
             / CAST(SUM(c) AS BIGINT), 9) AS fertility
FROM lwf JOIN wsym USING (word)
GROUP BY lang
ORDER BY lang
"""
    )


REGISTRY = {
    "q_doc_token_stats": (q_doc_token_stats, Q_DOC_TOKEN_SQL),
    "q_lang_stats": (q_lang_stats, Q_LANG_STATS_SQL),
    "q_word_freq": (q_word_freq, Q_WORD_FREQ_SQL),
    "q_quality_scores": (q_quality_scores, Q_QUALITY_SQL),
    "q_alnum_token_stats": (q_alnum_token_stats, Q_ALNUM_TOKEN_SQL),
    "q_quality_full": (q_quality_full, Q_QUALITY_FULL_SQL),
    "q_language_id": (q_language_id, Q_LANGUAGE_ID_SQL),
    "q_pii_scrub": (q_pii_scrub, Q_PII_SCRUB_SQL),
    "q_stratified_sample": (q_stratified_sample, Q_STRATIFIED_SAMPLE_SQL),
    "q_length_histogram": (q_length_histogram, Q_LENGTH_HISTOGRAM_SQL),
    "q_tfidf_terms": (q_tfidf_terms, Q_TFIDF_TERMS_SQL),
    "q_token_budget_mix": (q_token_budget_mix, Q_TOKEN_BUDGET_MIX_SQL),
    "q_fuzzy_match": (q_fuzzy_match, Q_FUZZY_MATCH_SQL),
    "q_udtf_chunks": (q_udtf_chunks, Q_UDTF_CHUNKS_SQL),
    "q_seq_packing": (q_seq_packing, Q_SEQ_PACKING_SQL),
    "q_train_split": (q_train_split, Q_TRAIN_SPLIT_SQL),
    "q_repetition_topgrams": (q_repetition_topgrams, Q_REPETITION_TOPGRAMS_SQL),
    "q_mixture_sample": (q_mixture_sample, Q_MIXTURE_SAMPLE_SQL),
    # same selection rule, two-phase plan — equality IS the point
    "q_mixture_sample_scalable": (q_mixture_sample_scalable, Q_MIXTURE_SAMPLE_SQL),
    "q_mixture_sample_hash": (q_mixture_sample_hash, Q_MIXTURE_SAMPLE_HASH_SQL),
    # streamed per-batch application of the same pure predicate must
    # equal the batch selection — same oracle
    "q_stream_mixture": (q_stream_mixture, Q_MIXTURE_SAMPLE_HASH_SQL),
    "q_lm_scores": (q_lm_scores, Q_LM_SCORES_SQL),
    "q_quality_topfrac": (q_quality_topfrac, Q_QUALITY_TOPFRAC_SQL),
    "q_training_order": (q_training_order, Q_TRAINING_ORDER_SQL),
    "q_source_cap": (q_source_cap, Q_SOURCE_CAP_SQL),
    "q_chunk_roundtrip": (q_chunk_roundtrip, Q_CHUNK_ROUNDTRIP_SQL),
    "q_curriculum_order": (q_curriculum_order, Q_CURRICULUM_ORDER_SQL),
    "q_vocab_coverage": (q_vocab_coverage, Q_VOCAB_COVERAGE_SQL),
    "q_shard_manifest": (q_shard_manifest, Q_SHARD_MANIFEST_SQL),
    "q_lang_confusion": (q_lang_confusion, _lang_confusion_sql()),
    "q_stream_vocab_drift": (q_stream_vocab_drift, Q_STREAM_VOCAB_DRIFT_SQL),
    "q_weighted_sample": (q_weighted_sample, Q_WEIGHTED_SAMPLE_SQL),
    "q_block_shuffle": (q_block_shuffle, Q_BLOCK_SHUFFLE_SQL),
    "q_sliding_chunks": (q_sliding_chunks, Q_SLIDING_CHUNKS_SQL),
    "q_cooccurrence": (q_cooccurrence, Q_COOCCURRENCE_SQL),
    "q_autocomplete": (q_autocomplete, Q_AUTOCOMPLETE_SQL),
    "q_text_normalize": (q_text_normalize, Q_TEXT_NORMALIZE_SQL),
    "q_subsample_ci": (q_subsample_ci, Q_SUBSAMPLE_CI_SQL),
    "q_zipf_check": (q_zipf_check, Q_ZIPF_CHECK_SQL),
    "q_diversity_index": (q_diversity_index, Q_DIVERSITY_INDEX_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_diversity": (q_stream_diversity, Q_DIVERSITY_INDEX_SQL),
    "q_quantile_normalize": (q_quantile_normalize, Q_QUANTILE_NORMALIZE_SQL),
    "q_kfold_assign": (q_kfold_assign, Q_KFOLD_ASSIGN_SQL),
    "q_yield_curve": (q_yield_curve, Q_YIELD_CURVE_SQL),
    "q_dsir_sample": (q_dsir_sample, Q_DSIR_SQL),
    "q_nb_language_id": (q_nb_language_id, _nb_sql()),
    "q_bpe_merges": (q_bpe_merges, _bpe_oracle(8)),
    "q_bpe_vocab": (q_bpe_vocab, _bpe_vocab_oracle(8)),
    "q_bpe_chunks": (q_bpe_chunks, _bpe_chunks_oracle()),
    "q_pack_slices": (q_pack_slices, Q_PACK_SLICES_SQL),
    "q_wordpiece_vocab": (q_wordpiece_vocab, _wordpiece_oracle()),
    "q_bpe_compression": (q_bpe_compression, _bpe_compression_oracle()),
}

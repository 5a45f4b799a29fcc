"""Constant-memory sketches with exact or estimator-pinned oracles:
HLL/approximate quantiles, Count-Min, Misra-Gries heavy hitters,
K-minimum-values distinct/overlap/contamination sketches and
bottom-k quantile sketches, each with its streamed (incrementally
maintained) twin.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table
from .operators.text import tokenize
from .streaming.partial_store import run_partial_stream


def q_approx_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based aggregates (HLL distinct, approximate quantiles) —
    the constant-memory statistics used at 100 TB where exact
    distinct/median would shuffle the world. Sketch values are
    engine-specific, so the row reports the EXACT statistics (which the
    oracle reproduces bit-for-bit) plus in-plan error-bound assertions
    for each sketch against its exact twin: HLL within 10% relative
    (default rsd 0.05; measured 2.4-2.7% across sf), approx quantiles
    within 1% (measured ≤0.1%). The oracle emits literal TRUE, so a
    sketch drifting past its bound fails the correctness row — the
    q_lsh_topk recall-gating pattern applied to sketches."""
    li = load_table(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey").alias("_hll"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_ap50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.95).alias("_ap95"),
    )
    rel = lambda a, b: F.abs(a - b) / F.abs(b)  # noqa: E731
    return agg.select(
        "l_returnflag",
        "n_parts",
        "p50",
        "p95",
        (rel(F.col("_hll"), F.col("n_parts")) <= 0.10).alias("hll_ok"),
        (rel(F.col("_ap50"), F.col("p50")) <= 0.01).alias("q50_ok"),
        (rel(F.col("_ap95"), F.col("p95")) <= 0.01).alias("q95_ok"),
    ).orderBy("l_returnflag")


Q_APPROX_STATS_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS q95_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------------ count-min sketch


def q_cms_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequency estimates for every event type: build
    the (4 × 1024) sketch over the events stream, then point-query each
    distinct key. The DuckDB oracle rebuilds the identical sketch from
    the same md5-derived hashes — estimates (including any collision
    overcounts) match exactly, which verifies the sketch construction
    itself, not just the happy case."""
    from .operators.sketch import cms_build, cms_estimate

    events = load_table(spark, sf, "events")
    sketch = cms_build(events, "event_type")
    keys = events.select("event_type").distinct()
    return (
        cms_estimate(sketch, keys, "event_type")
        .orderBy("event_type")
    )


Q_CMS_COUNTS_SQL = """
WITH counts AS (
  SELECT CAST(event_type AS VARCHAR) AS v, COUNT(*) AS c FROM events GROUP BY 1
),
fanned AS (
  SELECT v, c, d,
         list_reduce(
           list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
                              substr(md5('s' || CAST(d AS VARCHAR) || v), i, 1)) - 1 AS BIGINT)),
           (acc, dig) -> acc * 16 + dig
         ) % 1024 AS bucket
  FROM counts, (SELECT unnest(range(0, 4)) AS d)
),
sketch AS (
  SELECT d, bucket, CAST(SUM(c) AS BIGINT) AS cnt FROM fanned GROUP BY d, bucket
)
SELECT f.v AS event_type, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS estimate
FROM fanned f LEFT JOIN sketch s ON f.d = s.d AND f.bucket = s.bucket
GROUP BY f.v
ORDER BY event_type
"""


# ------------------------------------------------ exact heavy hitters

_HH_DEN = 50


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus tokens with frequency > n/50, exact counts — via the
    Misra-Gries candidate pass + exact recount (no long-tail shuffle)."""
    from .operators.frequency import heavy_hitters

    toks = load_table(spark, sf, "documents").select(
        F.explode(tokenize("text")).alias("token")
    )
    return heavy_hitters(toks, "token", den=_HH_DEN)


Q_HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
  FROM documents)
SELECT token, COUNT(*) AS freq
FROM toks
GROUP BY token
HAVING COUNT(*) * 50 > (SELECT COUNT(*) FROM toks)
ORDER BY freq DESC, token
"""


def q_stream_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed heavy hitters: docs replay in 3 chunks; each
    micro-batch lands its exact per-token counts (additive partials,
    per-batch_id overwrite); read re-sums and applies the identical
    integer threshold. Streamed ≡ batch whatever the chunking."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_hh_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    store = f"{work}/counts"

    def sink(batch: DataFrame, batch_id: int) -> None:
        partial = (
            batch.select(F.explode(tokenize("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        partial.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    counts = (
        spark.read.schema("token string, freq bigint")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("token")
        .agg(F.sum("freq").alias("freq"))
    )
    n = counts.agg(F.sum("freq")).first()[0] or 0
    return (
        counts.where(F.col("freq") * F.lit(_HH_DEN) > F.lit(n))
        .orderBy(F.col("freq").desc(), F.col("token"))
    )


def q_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise audience-overlap estimates between event types from
    K-minimum-values (bottom-k, theta-family) distinct sketches over
    active user-days (user_id·100 + day-of-month): est_jaccard (the
    KMV coincidence estimator), est_union and est_intersection — the
    set-operation capability the built-in HLL
    (approx_count_distinct) does not have. Sketches are k=256 arrays
    of 60-bit md5 hashes (operators.sketch.kmv_build), so the whole
    estimate chain is a deterministic function of the data that the
    DuckDB oracle reproduces exactly — estimator INCLUDED, not just
    inputs. The 5 per-type sketches pair through a broadcast
    nested-loop join of ≤k-long arrays; at 100 TB the sketches are
    still ≤k longs per group (the point of the sketch)."""
    from .operators.sketch import kmv_build

    ev = load_table(spark, sf, "events")
    sk = kmv_build(
        ev.select("event_type", _kmv_key().alias("_k")),
        F.col("_k"),
        ["event_type"],
    )
    return _kmv_pairs_output(sk)


def _kmv_key():
    """Active user-day key (user_id·100 + day-of-month) — the distinct
    unit both KMV queries sketch."""
    return (F.col("user_id") * 100 + F.dayofmonth("ts")).cast("long")


def _kmv_pairs_output(sk: DataFrame) -> DataFrame:
    """Pairwise overlap estimates from a (event_type, kmv) sketch table
    — shared by the batch query and its streamed twin so both hit the
    identical oracle."""
    from .operators.sketch import kmv_pair_stats

    a = sk.select(F.col("event_type").alias("event_a"), F.col("kmv").alias("_ka"))
    b = sk.select(F.col("event_type").alias("event_b"), F.col("kmv").alias("_kb"))
    stats = kmv_pair_stats(F.col("_ka"), F.col("_kb"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("event_a") < F.col("event_b"))
        .select(
            "event_a",
            "event_b",
            F.round(stats["est_jaccard"], 9).alias("est_jaccard"),
            F.round(stats["est_union"], 6).alias("est_union"),
            F.round(stats["est_intersection"], 6).alias("est_intersection"),
        )
        .orderBy("event_a", "event_b")
    )


def q_stream_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_kmv_overlap (same oracle): the per-type bottom-k
    sketch maintained incrementally — each micro-batch lands its own
    batch-local sketch as a per-batch_id partial (overwrite replay
    contract, streaming/partial_store.py), and the read side re-ranks
    the exploded union of partials. Correct because bottom-k is a
    semilattice: any hash among a group's global k smallest is among
    the k smallest of whichever batch introduced it, so merge ≡ whole
    (unit-pinned bit-equal to the batch sketch). A corpus append costs
    one batch sketch, never a rescan — the same maintenance shape as
    the artifact-index stream."""
    import atexit
    import shutil
    import tempfile

    from .operators.sketch import kmv_build, kmv_explode, kmv_from_hashes
    from .streaming.partial_store import run_partial_stream, write_day_chunks

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id", "event_type")
    work = tempfile.mkdtemp(prefix="stream_kmv_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/kmv"

    def sink(batch: DataFrame, batch_id: int) -> None:
        kmv_build(
            batch.select("event_type", _kmv_key().alias("_k")),
            F.col("_k"),
            ["event_type"],
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    # schema-INFERRED read: the parquet footer restores the sketch's
    # (k, hash_bits) param stamp, so kmv_explode/kmv_from_hashes
    # hard-fail if this merge ever met partials built with another k
    merged = kmv_from_hashes(
        kmv_explode(
            spark.read.option("recursiveFileLookup", "true").parquet(store),
            ["event_type"],
            k=256,
        ),
        ["event_type"],
    )
    return _kmv_pairs_output(merged)


Q_KMV_SQL = r"""
WITH ud AS (
  SELECT DISTINCT event_type, user_id * 100 + day(ts) AS kk FROM events
),
h AS (
  SELECT DISTINCT event_type,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(kk AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ud
),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, list_sort(list(hv)) AS s FROM rk WHERE rn <= 256 GROUP BY 1),
p AS (
  SELECT a.event_type AS event_a, b.event_type AS event_b, a.s AS sa, b.s AS sb
  FROM sk a JOIN sk b ON a.event_type < b.event_type
),
u AS (
  SELECT event_a, event_b, sa, sb,
         list_sort(list_distinct(list_concat(sa, sb)))[1:256] AS su
  FROM p
),
m AS (
  SELECT event_a, event_b,
         CAST(len(list_intersect(su, list_intersect(sa, sb))) AS DOUBLE) / len(su) AS jac,
         CASE WHEN len(su) < 256 THEN CAST(len(su) AS DOUBLE)
              ELSE 255.0 / (CAST(su[256] AS DOUBLE) / 1152921504606846976.0) END AS eu
  FROM u
)
SELECT event_a, event_b, ROUND(jac, 9) AS est_jaccard,
       ROUND(eu, 6) AS est_union, ROUND(jac * eu, 6) AS est_intersection
FROM m ORDER BY 1, 2
"""


def _kmv_rolling_from_events(ev: DataFrame, k: int = 128) -> DataFrame:
    """Core of q_kmv_rolling over an (event_type, day: DATE, user_id)
    frame — factored so units can feed a synthetic multi-month corpus
    (the r13 verdict's aliasing note: daily cells MUST key on a
    calendar date; ``dayofmonth`` keys would alias day 5 of different
    months into one cell)."""
    from .operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_explode,
        kmv_from_hashes,
    )

    daily = kmv_build(ev, F.col("user_id"), ["event_type", "day"], k=k)
    days = ev.select("day").distinct().withColumnRenamed("day", "wday")
    spread = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "kmv",
    ).join(F.broadcast(days), "wday")
    # presalt=False: the merge input is ≤ 7·k rows per (type, window)
    # at ANY corpus size (a fixed window of 7 daily sketches), so the
    # single ranking window is already scale-safe. kmv_explode carries
    # the daily sketches' stamp through, so a k-mismatched merge
    # hard-fails instead of biasing the estimator.
    merged = kmv_from_hashes(
        kmv_explode(spread, ["event_type", "wday"], k=k),
        ["event_type", "wday"],
        k=k,
        presalt=False,
    )
    return merged.select(
        "event_type",
        F.col("wday").alias("day"),
        F.round(kmv_estimate(F.col("kmv"), k), 6).alias("est_uniques_7d"),
    ).orderBy("event_type", "day")


def q_kmv_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day distinct-user estimates per event type from MERGED
    daily KMV sketches — the sketch's flagship warehouse use: exact
    rolling distincts at 100 TB would re-shuffle every (window, user)
    pair per day, whereas daily bottom-k sketches build once (k longs
    per (type, day)) and every window is an array merge + re-rank.
    Each daily sketch fans out to the ≤7 CALENDAR-DATE windows it
    covers (a date-sequence explode of k-long arrays, never the event
    rows — ``to_date`` keys, so a multi-month corpus can never alias
    same day-of-month cells); windows are the days present in the
    data. Fully deterministic — the oracle rebuilds daily sketches,
    the window merge AND the estimator. k=128: small corpora sit in
    the exact regime, sf0.1 in the estimation regime."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    return _kmv_rolling_from_events(ev, k=128)


Q_KMV_ROLLING_SQL = r"""
WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
h AS (
  SELECT DISTINCT event_type, day,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ev
),
rk AS (
  SELECT event_type, day, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn
  FROM h
),
daily AS (SELECT event_type, day, hv FROM rk WHERE rn <= 128),
spread AS (
  SELECT event_type, day + CAST(off AS INTEGER) AS wday, hv
  FROM (SELECT *, unnest(range(0, 7)) AS off FROM daily)
  WHERE day + CAST(off AS INTEGER)
        IN (SELECT DISTINCT CAST(ts AS DATE) FROM events)
),
d2 AS (SELECT DISTINCT event_type, wday, hv FROM spread),
rk2 AS (
  SELECT event_type, wday, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type, wday ORDER BY hv) AS rn
  FROM d2
),
sk AS (
  SELECT event_type, wday, list_sort(list(hv)) AS s
  FROM rk2 WHERE rn <= 128 GROUP BY 1, 2
)
SELECT event_type, wday AS day,
       ROUND(CASE WHEN len(s) < 128 THEN CAST(len(s) AS DOUBLE)
             ELSE 127.0 / (CAST(s[128] AS DOUBLE) / 1152921504606846976.0) END,
             6) AS est_uniques_7d
FROM sk ORDER BY 1, 2
"""


# --------------------------------------- mergeable quantile sketch


def _quantile_sketch_from_events(ev: DataFrame, k: int = 128) -> DataFrame:
    """Core of q_quantile_sketch over an (event_type, day: DATE,
    event_id, value) frame — factored so units can feed a synthetic
    multi-month corpus (the r13 verdict's aliasing note: daily cells
    MUST key on a calendar date, not ``dayofmonth``)."""
    from .operators.sketch import (
        kmv_sample,
        kmv_sample_explode,
        kmv_sample_from_hashes,
        kmv_sample_quantile,
    )

    daily = kmv_sample(
        ev, F.col("event_id"), F.col("value"), ["event_type", "day"], k=k
    )
    days = ev.select("day").distinct().withColumnRenamed("day", "wday")
    spread = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "smp",
    ).join(F.broadcast(days), "wday")
    # presalt=False: bounded merge input (≤ 7·k rows per group at any
    # corpus size), same argument as q_kmv_rolling
    merged = kmv_sample_from_hashes(
        kmv_sample_explode(spread, ["event_type", "wday"], k=k),
        ["event_type", "wday"],
        k=k,
        presalt=False,
    )
    return merged.select(
        "event_type",
        F.col("wday").alias("day"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.5), 9).alias("p50_7d"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.9), 9).alias("p90_7d"),
    ).orderBy("event_type", "day")


def q_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day p50/p90 of event value per event type from MERGED
    daily bottom-k-by-hash samples (operators.sketch.kmv_sample) — the
    quantile complement of q_kmv_rolling: the built-in
    percentile_approx (KLL) cannot merge STORED partials at the SQL
    surface and is not bit-reproducible across engines, while the
    bottom-k sample is a semilattice (daily samples re-rank into any
    window's sample EXACTLY — merge ≡ whole) and membership is a pure
    function of md5, so the DuckDB oracle reproduces sample AND
    quantile bit-for-bit. Daily samples fan out to the ≤7
    CALENDAR-DATE windows they cover (k-long arrays, never event rows
    — the q_kmv_rolling shape; ``to_date`` keys, so a multi-month
    corpus can never alias same day-of-month cells) and the quantile
    is the deterministic lower-nearest-rank value, no interpolation.
    k=128: unit pins <10% median relative error vs the exact rolling
    quantile."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "event_id", "value"
    )
    return _quantile_sketch_from_events(ev, k=128)


Q_QUANTILE_SKETCH_SQL = r"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, event_id, value FROM events
),
h AS (
  SELECT event_type, day, value,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM ev
),
dh AS (SELECT DISTINCT event_type, day, hv, value FROM h),
rk AS (
  SELECT event_type, day, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv, value) AS rn
  FROM dh
),
daily AS (SELECT event_type, day, hv, value FROM rk WHERE rn <= 128),
spread AS (
  SELECT event_type, day + CAST(off AS INTEGER) AS wday, hv, value
  FROM (SELECT *, unnest(range(0, 7)) AS off FROM daily)
  WHERE day + CAST(off AS INTEGER)
        IN (SELECT DISTINCT CAST(ts AS DATE) FROM events)
),
d2 AS (SELECT DISTINCT event_type, wday, hv, value FROM spread),
rk2 AS (
  SELECT event_type, wday, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, wday ORDER BY hv, value) AS rn
  FROM d2
),
sk AS (
  SELECT event_type, wday, list_sort(list(value)) AS vals
  FROM rk2 WHERE rn <= 128 GROUP BY 1, 2
)
SELECT event_type, wday AS day,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.5) AS INTEGER), 1)], 9) AS p50_7d,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.9) AS INTEGER), 1)], 9) AS p90_7d
FROM sk ORDER BY 1, 2
"""


def q_stream_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed per-type value quantiles (p50/p90) from an
    INCREMENTALLY maintained bottom-k value sample — the 20th
    partial-store stream (crash/restart-covered by name). Each
    micro-batch lands its own batch-local sample as a per-batch_id
    partial (overwrite replay contract); the read side re-ranks the
    exploded union — correct because bottom-k sampling is the same
    semilattice as the distinct sketch (any member of the corpus
    sample is a member of the batch sample that introduced it; merge ≡
    whole is unit-pinned bit-exact for kmv_sample). A corpus append
    costs one batch sample, never a rescan. The oracle rebuilds the
    whole-corpus sample and the lower-nearest-rank quantiles exactly —
    streamed ≡ batch by construction."""
    import atexit
    import shutil
    import tempfile

    from .operators.sketch import (
        kmv_sample,
        kmv_sample_explode,
        kmv_sample_from_hashes,
        kmv_sample_quantile,
    )
    from .streaming.partial_store import run_partial_stream, write_day_chunks

    k = 256
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="stream_quantile_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/smp"

    def sink(batch: DataFrame, batch_id: int) -> None:
        kmv_sample(
            batch, F.col("event_id"), F.col("value"), ["event_type"], k=k
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    # schema-INFERRED read: the parquet footer restores the sample's
    # (k, hash_bits) stamp, so a cross-k merge hard-fails here
    merged = kmv_sample_from_hashes(
        kmv_sample_explode(
            spark.read.option("recursiveFileLookup", "true").parquet(store),
            ["event_type"],
            k=k,
        ),
        ["event_type"],
        k=k,
    )
    return merged.select(
        "event_type",
        F.round(kmv_sample_quantile(F.col("smp"), 0.5), 9).alias("p50"),
        F.round(kmv_sample_quantile(F.col("smp"), 0.9), 9).alias("p90"),
    ).orderBy("event_type")


Q_STREAM_QUANTILE_SQL = r"""
WITH h AS (
  SELECT event_type, value,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM events
),
dh AS (SELECT DISTINCT event_type, hv, value FROM h),
rk AS (
  SELECT event_type, hv, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, value) AS rn
  FROM dh
),
sk AS (
  SELECT event_type, list_sort(list(value)) AS vals
  FROM rk WHERE rn <= 256 GROUP BY 1
)
SELECT event_type,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.5) AS INTEGER), 1)], 9) AS p50,
       ROUND(vals[greatest(CAST(ceil(len(vals) * 0.9) AS INTEGER), 1)], 9) AS p90
FROM sk ORDER BY 1
"""


# -------------------------------------------- compressed image codec


def _contamination_keyed(docs: DataFrame) -> DataFrame:
    """(source, _split, _g) shingle rows for the contamination monitor:
    word-8-gram keys (space-joined literal token strings, the
    q_vocab_coverage rule) under the md5-nibble train/held split —
    shared by the batch monitor and its streamed twin."""
    from .operators.dedup import tokens_col

    held = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "c", "d", "e", "f"
    )
    toks = tokens_col("text")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(7), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
    )
    return docs.select(
        "source",
        F.when(held, F.lit("held")).otherwise(F.lit("train")).alias("_split"),
        F.explode(sh).alias("_g"),
    )


def _contamination_output(sk: DataFrame, k: int) -> DataFrame:
    """Per-source train/held estimator rows from the (source, _split)
    sketch table — pure array algebra over the stored cells."""
    from .operators.sketch import kmv_pair_stats

    tr = sk.where(F.col("_split") == "train").select(
        "source", F.col("kmv").alias("_a")
    )
    he = sk.where(F.col("_split") == "held").select(
        "source", F.col("kmv").alias("_b")
    )
    stats = kmv_pair_stats(F.col("_a"), F.col("_b"), k)
    return (
        tr.join(he, "source")
        .select(
            "source",
            F.round(stats["est_jaccard"], 9).alias("est_jaccard"),
            F.round(stats["est_union"], 6).alias("est_union"),
            F.round(stats["est_intersection"], 6).alias("est_intersection"),
        )
        .orderBy("source")
    )


def q_kmv_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/held n-gram contamination MONITOR from KMV sketches: per
    source, the estimated Jaccard / union / intersection of the word-
    8-gram shingle sets of the train split vs the held split (the
    q_vocab_coverage md5-nibble rule). This is the sketch's
    decontamination use: the EXACT check (q_contamination) re-joins
    n-gram postings per audit, while two ≤k-long sketches per
    (source, split) answer "how contaminated is this source's held
    split, roughly, right now" as pure array algebra over stored
    cells — at 100 TB the sketches ride the warehouse and the monitor
    is a broadcast-sized join, no corpus rescan. Shingle keys are the
    literal space-joined token strings, so the DuckDB oracle rebuilds
    sketch AND estimator bit-exactly (the q_kmv_overlap contract);
    k=256 per (source, split)."""
    from .operators.sketch import kmv_build
    from .session import scale_out

    k = 256
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "text")
    keyed = _contamination_keyed(scale_out(docs))
    sk = kmv_build(keyed, F.col("_g"), ["source", "_split"], k=k)
    return _contamination_output(sk, k)


def q_stream_kmv_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_kmv_contamination (same oracle): the per-(source,
    split) shingle sketches maintained INCREMENTALLY — each micro-batch
    lands its own batch-local sketches as a per-batch_id partial
    (overwrite replay contract, streaming/partial_store.py — the 21st
    partial-store stream, crash/restart-covered by name) and the
    monitor reads by re-ranking the exploded union of stored partials.
    Correct because bottom-k is a semilattice (merge ≡ whole, the
    q_stream_kmv argument). This is the monitor's production shape: a
    corpus append costs one batch sketch; the continuous contamination
    readout never rescans the corpus."""
    import atexit
    import shutil
    import tempfile

    from .operators.sketch import kmv_build, kmv_explode, kmv_from_hashes
    from .streaming.partial_store import run_partial_stream

    k = 256
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "text")
    work = tempfile.mkdtemp(prefix="stream_kmv_contam_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    store = f"{work}/sk"
    for c in range(3):
        docs.where(F.col("doc_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )

    def sink(batch: DataFrame, batch_id: int) -> None:
        kmv_build(
            _contamination_keyed(batch), F.col("_g"), ["source", "_split"], k=k
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=docs.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    # schema-INFERRED read: the parquet footer restores the (k,
    # hash_bits) stamp, so a cross-k partial merge hard-fails here
    merged = kmv_from_hashes(
        kmv_explode(
            spark.read.option("recursiveFileLookup", "true").parquet(store),
            ["source", "_split"],
            k=k,
        ),
        ["source", "_split"],
        k=k,
    )
    return _contamination_output(merged, k)


Q_KMV_CONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
              THEN 'held' ELSE 'train' END AS split,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT source, split,
         unnest(list_transform(range(1, CAST(greatest(len(t) - 7, 1) AS BIGINT) + 1),
                i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
h AS (
  SELECT DISTINCT source, split,
         list_reduce(list_transform(range(1, 16),
             i -> CAST(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) AS hv
  FROM grams
),
rk AS (
  SELECT source, split, hv,
         ROW_NUMBER() OVER (PARTITION BY source, split ORDER BY hv) AS rn
  FROM h
),
sk AS (
  SELECT source, split, list_sort(list(hv)) AS s
  FROM rk WHERE rn <= 256 GROUP BY 1, 2
),
m AS (
  SELECT a.source, a.s AS sa, b.s AS sb,
         list_sort(list_distinct(a.s || b.s))[1:256] AS su
  FROM sk a JOIN sk b ON a.source = b.source
  WHERE a.split = 'train' AND b.split = 'held'
),
est AS (
  SELECT source,
         CAST(len(list_intersect(su, list_intersect(sa, sb))) AS DOUBLE) / len(su) AS jac,
         CASE WHEN len(su) < 256 THEN CAST(len(su) AS DOUBLE)
              ELSE 255.0 / (CAST(su[256] AS DOUBLE) / 1152921504606846976.0) END AS eu
  FROM m
)
SELECT source, ROUND(jac, 9) AS est_jaccard,
       ROUND(eu, 6) AS est_union, ROUND(jac * eu, 6) AS est_intersection
FROM est ORDER BY source
"""


REGISTRY = {
    "q_approx_stats": (q_approx_stats, Q_APPROX_STATS_SQL),
    "q_cms_counts": (q_cms_counts, Q_CMS_COUNTS_SQL),
    "q_heavy_hitters": (q_heavy_hitters, Q_HEAVY_HITTERS_SQL),
    "q_stream_heavy_hitters": (q_stream_heavy_hitters, Q_HEAVY_HITTERS_SQL),
    "q_kmv_overlap": (q_kmv_overlap, Q_KMV_SQL),
    # streamed ≡ batch: the twin hits the identical estimator oracle
    "q_stream_kmv": (q_stream_kmv, Q_KMV_SQL),
    "q_kmv_rolling": (q_kmv_rolling, Q_KMV_ROLLING_SQL),
    "q_quantile_sketch": (q_quantile_sketch, Q_QUANTILE_SKETCH_SQL),
    "q_stream_quantile": (q_stream_quantile, Q_STREAM_QUANTILE_SQL),
    "q_kmv_contamination": (q_kmv_contamination, Q_KMV_CONTAMINATION_SQL),
    # streamed ≡ batch: the twin hits the identical estimator oracle
    "q_stream_kmv_contamination": (q_stream_kmv_contamination, Q_KMV_CONTAMINATION_SQL),
}

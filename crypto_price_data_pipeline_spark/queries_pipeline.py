"""The paper's BPI pipeline and the warehouse operations around it:
the flatten → fx-join → validate chain, landing formats and schema
evolution, SCD2 / merge-upsert / table diffs (batch and streamed),
incremental rollups, data-quality gates, and the physical-layout and
planner-statistics audits (bucketing, partition pruning, salting,
Z-order, histograms, join-size estimates).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.portable import dsum, S_DSUM
from .io.sources import load_table
from .streaming.partial_store import run_partial_stream


# ------------------------------------------------- BPI pipeline parity

_BPI_FIXTURE = [
    # (updated, updatedISO, usd_rate, gbp_rate, eur_rate)
    ("Dec 6, 2022 13:31:00 UTC", "2022-12-06T13:31:00+00:00", "17,091.0667", "14,022.2766", "16,105.2663"),
    ("Dec 6, 2022 14:31:00 UTC", "2022-12-06T14:31:00+00:00", "17,105.9083", "14,034.4501", "16,119.2447"),
    ("Dec 7, 2022 09:01:00 UTC", "2022-12-07T09:01:00+00:00", "16,836.7401", "13,813.5022", "15,865.5192"),
]


_BPI_RATES = [("USD", "IDR", "2022-12-06", 15650.25), ("USD", "IDR", "2022-12-07", 15671.5)]


_BPI_NOW = "2022-12-07 10:00:03"


_DISCLAIMER = "This data was produced from the CoinDesk Bitcoin Price Index (USD)."


def q_bpi_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's full flatten→fx-join→validate chain on a golden
    multi-snapshot fixture (reference: bpi_crawler.py:93-125, 62-91,
    127-159). The oracle recomputes every scalar transform in SQL."""
    from .pipeline import run_pipeline

    rows = [
        (
            {"updated": u, "updatedISO": iso},
            _DISCLAIMER,
            "Bitcoin",
            {
                "USD": {"code": "USD", "rate": usd, "description": "United States Dollar"},
                "GBP": {"code": "GBP", "rate": gbp, "description": "British Pound Sterling"},
                "EUR": {"code": "EUR", "rate": eur, "description": "Euro"},
            },
        )
        for (u, iso, usd, gbp, eur) in _BPI_FIXTURE
    ]
    from .pipeline.schema import BPI_PAYLOAD_SCHEMA

    payloads = spark.createDataFrame(rows, BPI_PAYLOAD_SCHEMA)
    rates = spark.createDataFrame(
        _BPI_RATES, "from_ccy string, to_ccy string, rate_date string, rate double"
    ).withColumn("rate_date", F.to_date("rate_date"))
    return run_pipeline(payloads, rates, now=_BPI_NOW)


def _bpi_oracle() -> str:
    rows = []
    rate_by_date = {d: r for (_, _, d, r) in _BPI_RATES}
    for u, iso, usd, gbp, eur in _BPI_FIXTURE:
        date, time = iso[:10], iso[11:19]
        wall = f"{date} {time}"
        rate = rate_by_date[date]
        rows.append(
            "("
            f"md5(concat('{iso}', '|', 'Bitcoin')), "
            f"'{_DISCLAIMER}', 'Bitcoin', "
            f"'USD', CAST('{usd.replace(',', '')}' AS DOUBLE), 'United States Dollar', "
            f"'GBP', CAST('{gbp.replace(',', '')}' AS DOUBLE), 'British Pound Sterling', "
            f"'EUR', CAST('{eur.replace(',', '')}' AS DOUBLE), 'Euro', "
            f"CAST('{usd.replace(',', '')}' AS DOUBLE) * CAST({rate} AS DOUBLE), "
            f"'{wall}', '{wall}', '{_BPI_NOW}'"
            ")"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") t("
        "job_id, disclaimer, chart_name, "
        "bpi_usd_code, bpi_usd_rate_float, bpi_usd_description, "
        "bpi_gdp_code, bpi_gdp_rate_float, bpi_gdp_description, "
        "bpi_eur_code, bpi_eur_rate_float, bpi_eur_description, "
        "bpi_idr_rate_float, time_updated, time_updated_iso, last_updated)"
    )


# ------------------------------------------------- continuous aggregate


def q_continuous_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-rollup (continuous aggregate) end-to-end: maintain an
    hourly rollup of the events stream via checkpointed foreachBatch
    merge, then serve it through the settled-history ∪ fresh-tail
    reader. The oracle is the plain GROUP BY — the pattern's invariant
    is that incremental maintenance + tail union ≡ one-shot
    aggregation."""
    import atexit
    import shutil
    import tempfile

    from .streaming.continuous_agg import read_with_tail, start_continuous_rollup

    events = load_table(spark, sf, "events")
    # the rollup dir must outlive this call (the result is lazy — no
    # driver-side collect); removed at interpreter exit like the other
    # streaming wrapper sinks
    work = tempfile.mkdtemp(prefix="contagg_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    raw_dir = f"{work}/raw"
    events.write.parquet(raw_dir)
    schema = spark.read.parquet(raw_dir).schema
    q = start_continuous_rollup(
        spark, raw_dir, f"{work}/rollup", f"{work}/ckpt", schema
    )
    q.awaitTermination()
    return read_with_tail(spark, f"{work}/rollup", events).select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "sum_value",
        "min_value",
        "max_value",
    )


Q_CONTINUOUS_AGG_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ------------------------------------------------------ salted skew join


def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated fact join: lineitem (skewed side, salted over 8
    deterministic buckets) ⨝ orders (replicated ×8), then priority
    revenue rollup. Salting is semantics-preserving, so the oracle is
    the PLAIN join — equality proves the rewrite changes the physical
    distribution only. This is the portable fallback for hot keys AQE
    can't split (skewed broadcast or aggregation keys)."""
    from .operators.skew import salted_join

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    # join keys differ by name: align first (salted_join needs equal names)
    li2 = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    joined = salted_join(li2, orders, on=["o_orderkey"], how="inner", salt_buckets=8)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(revenue.cast("decimal(38,6)")).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q_SALTED_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------- snapshot diff (CDF)


def q_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed between two synthetic snapshots of orders
    (`operators.scd.table_diff`): the "old" snapshot drops a key range
    (→ inserts) and the "new" one perturbs totals for another range
    (→ updates) and drops a third (→ deletes). One full-outer join,
    presence decided by side markers so NULL attributes can't
    misclassify."""
    from .operators.scd import table_diff

    orders = load_table(spark, sf, "orders")
    old = orders.where(F.col("o_orderkey") % 10 != 0)  # new inserts: %10==0
    new = orders.where(F.col("o_orderkey") % 7 != 0).withColumn(  # deletes: %7==0
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return (
        table_diff(old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
        .orderBy("o_orderkey")
    )


Q_TABLE_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'insert'
            WHEN new.o_orderkey IS NULL THEN 'delete'
            WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
              OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'update'
       END AS change_type
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE CASE WHEN old.o_orderkey IS NULL THEN 'insert'
           WHEN new.o_orderkey IS NULL THEN 'delete'
           WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
             OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'update'
      END IS NOT NULL
ORDER BY o_orderkey
"""


# --------------------------------------------------- column profiling


def q_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Column-profiling pass (null counts + exact distinct cardinality
    per column) — the expectation-gate companion every ingest pipeline
    runs before publishing a table. One aggregate over one scan
    produces every column's stats; the long format comes from a
    zero-shuffle stack on the 1-row result."""
    orders = load_table(spark, sf, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
    agg = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"_d_{c}") for c in cols],
    )
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _d_{c}" for c in cols
    )
    return (
        agg.select(
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
            ),
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("col_name")
    )


Q_PROFILE_STATS_SQL = """
SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_nulls,
       COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority) FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice) FROM orders
ORDER BY col_name
"""


# ------------------------------------------------------- SCD2 history


def q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension history from the event stream: per-user value
    tier, versioned with effective_from/effective_to/is_current and
    consecutive-duplicate suppression — one window shuffle, no
    self-join (`operators.scd.scd2_history`). Snapshots are first
    deduped to one per (user, ts) with MIN(tier) so window order is
    total in both engines."""
    from .operators.scd import scd2_history

    ev = load_table(spark, sf, "events")
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    snaps = (
        ev.select("user_id", "ts", tier.alias("tier"))
        .groupBy("user_id", "ts")
        .agg(F.min("tier").alias("tier"))
    )
    hist = scd2_history(snaps, ["user_id"], "ts", ["tier"])
    return hist.select(
        "user_id",
        F.date_format("effective_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_from"),
        F.date_format("effective_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_to"),
        "tier",
        "is_current",
    ).orderBy("user_id", "effective_from")


Q_SCD2_SQL = """
WITH snaps AS (
  SELECT user_id, ts,
         MIN(CASE WHEN value < 50 THEN 'low'
                  WHEN value < 150 THEN 'mid' ELSE 'high' END) AS tier
  FROM events GROUP BY user_id, ts
),
marked AS (
  SELECT user_id, ts, tier,
         CASE WHEN LAG(tier) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS newv
  FROM snaps
),
vers AS (SELECT user_id, ts, tier FROM marked WHERE newv = 1)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts),
                '%Y-%m-%d %H:%M:%S.%f') AS effective_to,
       tier,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM vers ORDER BY user_id, effective_from
"""


# ------------------------------------- streamed SCD2 maintenance


def q_stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed SCD2: the event feed replays in 3 micro-batch chunks;
    each batch lands its distinct (user, ts, MIN tier) partials in a
    per-batch_id overwrite store (replay-idempotent), and the read
    path re-dedups across batches and runs the one batch window pass
    (streaming/scd_stream.py). MIN is associative, so per-batch MIN +
    cross-batch MIN ≡ the batch q_scd2 dedup exactly — the oracle is
    the batch rule, unchanged."""
    from .streaming.scd_stream import read_scd2, stream_scd2_log

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    work = tempfile.mkdtemp(prefix="stream_scd2_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        ev.where(F.col("event_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    stream_scd2_log(
        spark,
        src,
        ev.schema,
        f"{work}/log",
        f"{work}/ckpt",
        ["user_id"],
        "ts",
        {"tier": tier},
    )
    hist = read_scd2(
        spark,
        f"{work}/log",
        "user_id long, ts timestamp, tier string",
        ["user_id"],
        "ts",
        ["tier"],
    )
    return hist.select(
        "user_id",
        F.date_format("effective_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "effective_from"
        ),
        F.date_format("effective_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "effective_to"
        ),
        "tier",
        "is_current",
    ).orderBy("user_id", "effective_from")


# ------------------------------------- date-partitioned staging table


def partitioned_staging_dir(spark: SparkSession, sf: str) -> str:
    """Write the events table as a dt=yyyy-MM-dd partitioned staging
    directory (io.sinks.overwrite_parquet partition_by path) and return
    the directory — the layout every 100 TB staging table should have
    so date-ranged readers get partition pruning instead of full scans.
    One dir per (process, sf), built on first use, removed at exit."""
    import atexit
    import os
    import shutil
    import tempfile

    key = f"_staging_{sf.replace('/', '_')}"
    cached = _STAGING_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    from .io.sinks import overwrite_parquet

    ev = load_table(spark, sf, "events")
    d = tempfile.mkdtemp(prefix="staging_dt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    overwrite_parquet(
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd")),
        d,
        partition_by=["dt"],
    )
    _STAGING_DIRS[key] = d
    return d


_STAGING_DIRS: dict[str, str] = {}


def read_partitioned_staging(spark: SparkSession, sf: str) -> DataFrame:
    """Read the dt-partitioned staging table back. An EMPTY events
    input writes only _SUCCESS (no dt= directories), and a raw
    spark.read.parquet then dies with UNABLE_TO_INFER_SCHEMA —
    synthesize the staged schema (events columns + DATE dt, the type
    partition inference produces) in that case so downstream rollups
    return empty instead of crashing."""
    import glob as _glob
    import os as _os

    d = partitioned_staging_dir(spark, sf)
    if not _glob.glob(_os.path.join(d, "dt=*")):
        ev = load_table(spark, sf, "events")
        return ev.withColumn(
            "dt", F.date_format("ts", "yyyy-MM-dd").cast("date")
        ).limit(0)
    return spark.read.parquet(d)


def q_partitioned_staging(spark: SparkSession, sf: str) -> DataFrame:
    """Date-ranged rollup over the dt-partitioned staging table. The dt
    predicate is a PARTITION filter — the scan plans only the 3 of 30
    date directories (tests/test_plans.py asserts PartitionFilters and
    an empty data-filter set) — the access pattern that turns a 100 TB
    staging scan into a 10 TB one. The oracle computes the same rollup
    from the raw events table, proving the partitioned round-trip
    loses nothing."""
    staged = read_partitioned_staging(spark, sf)
    # partition-type inference reads the dt dirs back as DATE; cast to
    # string for the cross-engine compare
    return (
        staged.where((F.col("dt") >= "2024-01-10") & (F.col("dt") <= "2024-01-12"))
        .groupBy(F.col("dt").cast("string").alias("dt"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("dt", "event_type")
    )


Q_PARTITIONED_STAGING_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------- CSV round-trip


def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source/sink coverage: events → CSV (header, explicitly
    formatted timestamps — never writer-default tz rendering) → read
    back with a declared schema (schema-on-read, no inference job) →
    hourly rollup. The oracle aggregates the raw events table, so the
    round-trip is proven lossless for string/timestamp/double columns.
    At scale, CSV is an ingest format only — the first job should land
    it as partitioned parquet (q_partitioned_staging's layout)."""
    import atexit
    import shutil
    import tempfile

    d = _CSV_DIRS.get(sf)
    if d is None:
        d = tempfile.mkdtemp(prefix="events_csv_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        ev = load_table(spark, sf, "events")
        (
            ev.select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .option("header", True)
            .csv(d)
        )
        _CSV_DIRS[sf] = d
    back = (
        spark.read.schema("event_id long, ts_s string, event_type string, value double")
        .option("header", True)
        .csv(d)
        .select(
            "event_id",
            F.to_timestamp("ts_s", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
            "value",
        )
    )
    return (
        back.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


_CSV_DIRS: dict[str, str] = {}


Q_CSV_ROUNDTRIP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------- content novelty


def q_novelty_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-dedup accounting: per ingest day, how many events
    arrived, how many distinct content hashes they carried, and how
    many of those hashes were seen for the FIRST time that day. This
    is the dedup-rate dashboard an ongoing crawl maintains — at scale
    it is two hash-keyed shuffles (hash→min-day, day→counts), no
    global state. Content hash is md5 over (event_type, props), both
    non-null varchar, so the hash is engine-portable."""
    ev = load_table(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.md5(F.concat_ws("|", "event_type", "props")).alias("h"),
    )
    firsts = ev.groupBy("h").agg(F.min("d").alias("first_day"))
    daily = ev.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("h").alias("n_distinct"),
    )
    news = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        daily.join(news, "d", "left")
        .select(
            "d",
            "n_events",
            "n_distinct",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .orderBy("d")
    )


Q_NOVELTY_RATE_SQL = """
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d, md5(event_type || '|' || props) AS h
  FROM events
),
firsts AS (SELECT h AS hh, MIN(d) AS first_day FROM h GROUP BY h),
daily AS (
  SELECT d, COUNT(*) AS n_events, COUNT(DISTINCT h) AS n_distinct
  FROM h GROUP BY d
),
news AS (SELECT first_day AS d, COUNT(*) AS n_new FROM firsts GROUP BY first_day)
SELECT daily.d AS d, n_events, n_distinct, COALESCE(n_new, 0) AS n_new
FROM daily LEFT JOIN news ON daily.d = news.d
ORDER BY d
"""


# ------------------------------------------- stream-static enrichment


def q_stream_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static broadcast join through real streaming machinery:
    events replay as a stream, each micro-batch joins the static
    customer dimension map-side (broadcast), and the enriched rows
    land in a parquet sink — full-replay streaming ≡ batch join is the
    correctness invariant the oracle checks."""
    from .streaming.windows import stream_static_enrich

    return stream_static_enrich(spark, sf)


Q_STREAM_ENRICH_SQL = """
SELECT COALESCE(c.c_mktsegment, '') AS c_mktsegment, e.event_type AS event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ----------------------------------------- compacted rollup serving


def q_compacted_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate maintenance WITH compaction, end-to-end:
    the events stream rolls up across multiple micro-batches
    (maxFilesPerTrigger bounds each), then compact_rollup folds the
    per-batch partials into one settled subdir, and the result is
    served from the compacted store. The oracle is the plain GROUP BY —
    the invariant is incremental maintenance + compaction ≡ one-shot
    aggregation (compaction must be a pure re-bucketing, decimal-exact
    sums included). ``compacted`` attests that folding actually
    happened (≥2 subdirs merged), so a silently-no-op compaction fails
    the hash."""
    from .streaming.continuous_agg import (
        compact_rollup,
        read_rollup,
        start_continuous_rollup,
    )

    events = load_table(spark, sf, "events")
    work = tempfile.mkdtemp(prefix="compact_rollup_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    raw = f"{work}/raw"
    events.repartition(4).write.parquet(raw)
    schema = spark.read.parquet(raw).schema
    q = start_continuous_rollup(
        spark, raw, f"{work}/rollup", f"{work}/ckpt", schema,
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    folded = compact_rollup(spark, f"{work}/rollup")
    return read_rollup(spark, f"{work}/rollup").select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
        "sum_value",
        "min_value",
        "max_value",
        F.lit(folded >= 2).alias("compacted"),
    )


Q_COMPACTED_ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       TRUE AS compacted
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ----------------------------- bucketed co-located join (no shuffle)

_BUCKET_DB = "wh_buckets"


_BUCKET_DIRS: dict[str, tuple[str, str]] = {}


def q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located join via BUCKETED tables — the layout lever for the
    repeated 100-TB fact⋈dim join: both sides are written once with
    ``bucketBy(8, custkey).sortBy(custkey)`` into a catalog database
    (tempdir-backed), and the join then plans a SortMergeJoin with NO
    Exchange on either side (tests/test_wave9.py asserts no
    ``Exchange hashpartitioning(custkey)`` and ``SelectedBucketsCount``
    in both scans) — the shuffle is paid once at write time and
    amortized over every subsequent join. The ``merge`` hint pins SMJ
    so the plan proves bucketing rather than riding a broadcast."""
    import re

    key = f"{sf}"
    if key not in _BUCKET_DIRS:
        loc = tempfile.mkdtemp(prefix="bucketed_wh_")
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {_BUCKET_DB} LOCATION '{loc}'")
        suffix = re.sub(r"\W", "_", key).strip("_")
        ob, cb = f"{_BUCKET_DB}.orders_b_{suffix}", f"{_BUCKET_DB}.cust_b_{suffix}"
        load_table(spark, sf, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").format("parquet").saveAsTable(ob)
        load_table(spark, sf, "customer").write.bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).mode("overwrite").format("parquet").saveAsTable(cb)
        _BUCKET_DIRS[key] = (ob, cb)
    ob, cb = _BUCKET_DIRS[key]
    orders, cust = spark.table(ob), spark.table(cb)
    return (
        orders.hint("merge")
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


Q_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ------------------------- dynamic partition pruning (runtime prune)


def q_dpp_join(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the dt-partitioned staging table
    joins a dim whose filter (day-of-month ∈ {10,11,12}) only resolves
    to concrete partitions at RUNTIME — Catalyst broadcasts the dim,
    reuses the broadcast as a dynamicpruning subquery, and the fact
    scan reads 3 of 30 date directories without any static predicate
    (tests/test_wave9.py asserts ``dynamicpruningexpression`` in the
    scan's PartitionFilters). This is the mechanism that saves the
    100-TB scan when the date list comes from a dimension, not a
    literal."""
    staged = read_partitioned_staging(spark, sf)
    ev = load_table(spark, sf, "events")
    # the dim's dt is DATE so the join lands on the RAW partition
    # column — casting the partition side would disable the pruning
    dim = (
        ev.select(F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("ddt"))
        .distinct()
        .where(F.dayofmonth("ddt").isin(10, 11, 12))
    )
    return (
        staged.join(F.broadcast(dim), staged["dt"] == dim["ddt"], "left_semi")
        .groupBy(staged["dt"].cast("string").alias("dt"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("dt", "event_type")
    )


Q_DPP_JOIN_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE EXTRACT(day FROM ts) IN (10, 11, 12)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------- right-to-be-forgotten cascade


def q_forget_users(spark: SparkSession, sf: str) -> DataFrame:
    """Deletion-cascade audit: customers with c_custkey % 53 == 0 are
    the (deterministic, synthetic) forget list; their orders and those
    orders' lineitems cascade. Emits per-table (n_before, n_deleted,
    n_after). customer/orders resolve membership as a pure per-row
    predicate (zero extra joins); lineitem resolves through its
    natural FK join to orders — the one unavoidable join in the chain,
    and a plain equi-join Catalyst shuffles on the key. The report is
    the artifact; the deletes themselves are the matching anti-joins
    written back via io.sinks (idempotent overwrite)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")

    def report(df, flag, name):
        return df.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(flag, one).otherwise(zero)).alias("n_deleted"),
        ).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_deleted",
            (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
        )

    c_row = report(cust, F.col("c_custkey") % 53 == 0, "customer")
    o_row = report(orders, F.col("o_custkey") % 53 == 0, "orders")
    li_flagged = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    l_row = report(li_flagged, F.col("o_custkey") % 53 == 0, "lineitem")
    return c_row.unionByName(o_row).unionByName(l_row).orderBy("table_name")


Q_FORGET_USERS_SQL = """
SELECT 'customer' AS table_name, COUNT(*) AS n_before,
       CAST(SUM(CASE WHEN c_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       COUNT(*) - CAST(SUM(CASE WHEN c_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM customer
UNION ALL
SELECT 'orders', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*) - CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*) - CAST(SUM(CASE WHEN o_custkey % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
ORDER BY table_name
"""


# ------------------------------------------- format federation


_FEDERATION_DIRS: dict[str, str] = {}


def q_multi_format_union(spark: SparkSession, sf: str) -> DataFrame:
    """Source federation / migration check: the purchase slice of
    events lands once as parquet, csv, and json; the query reads all
    three landings with one explicit schema, unions them with a format
    tag, and aggregates per format. The three rows must agree exactly
    — the loss-free round-trip certificate for a mixed landing zone.
    At scale each format scan is its own pushdown-capable source
    subtree under one union (Catalyst plans them independently);
    agreement failures localize to the format that drifted."""
    key = sf
    if key not in _FEDERATION_DIRS:
        d = tempfile.mkdtemp(prefix="federation_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        slice_ = (
            load_table(spark, sf, "events")
            .where(F.col("event_type") == "purchase")
            .select("event_id", "value")
        )
        slice_.write.mode("overwrite").parquet(f"{d}/pq")
        slice_.write.mode("overwrite").option("header", "true").csv(f"{d}/csv")
        slice_.write.mode("overwrite").json(f"{d}/js")
        _FEDERATION_DIRS[key] = d
    d = _FEDERATION_DIRS[key]
    schema = "event_id long, value double"
    parts = [
        spark.read.schema(schema).parquet(f"{d}/pq").withColumn(
            "fmt", F.lit("parquet")
        ),
        spark.read.schema(schema)
        .option("header", "true")
        .csv(f"{d}/csv")
        .withColumn("fmt", F.lit("csv")),
        spark.read.schema(schema).json(f"{d}/js").withColumn("fmt", F.lit("json")),
    ]
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        union.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("fmt")
    )


Q_MULTI_FORMAT_UNION_SQL = """
WITH a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
  FROM events WHERE event_type = 'purchase'
)
SELECT fmt, n, sum_value
FROM a, (VALUES ('csv'), ('json'), ('parquet')) AS f(fmt)
ORDER BY fmt
"""


# ----------------------------------------------- CDC merge (MERGE INTO)


def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the latest-event-per-user CDC batch to the customer
    snapshot: key = user_id + 100 (so the batch spans matched updates,
    matched deletes, AND beyond-the-snapshot inserts), ``error``
    events delete, everything else upserts the account balance.
    Cites reference ``dump_with_postgres.py`` row-maintenance loop —
    re-expressed as one declarative MERGE plan."""
    from .operators.merge import merge_upsert

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    changes = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            (F.col("user_id") + F.lit(100)).alias("c_custkey"),
            F.when(F.col("event_type") == "error", "delete")
            .otherwise("upsert")
            .alias("op"),
            F.col("value").alias("new_bal"),
        )
    )
    base = load_table(spark, sf, "customer")
    merged = merge_upsert(
        base,
        changes,
        "c_custkey",
        update_set={"c_acctbal": "new_bal"},
        insert_values={
            "c_name": F.concat(F.lit("cdc-"), F.col("c_custkey").cast("string")),
            "c_nationkey": (F.col("c_custkey") % 25).cast("int"),
            "c_acctbal": F.col("_chg_new_bal"),
            "c_mktsegment": F.lit("CDC"),
        },
    )
    return merged.orderBy("c_custkey")


Q_MERGE_UPSERT_SQL = """
WITH latest AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
changes AS (
  SELECT user_id + 100 AS key,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value AS new_bal
  FROM latest),
matched AS (
  SELECT c.c_custkey, c.c_name, c.c_nationkey,
         CASE WHEN ch.op = 'upsert' THEN ch.new_bal ELSE c.c_acctbal END AS c_acctbal,
         c.c_mktsegment,
         CASE WHEN ch.op = 'upsert' THEN 'updated' ELSE 'kept' END AS merge_action
  FROM customer c LEFT JOIN changes ch ON c.c_custkey = ch.key
  WHERE ch.op IS NULL OR ch.op <> 'delete'),
ins AS (
  SELECT ch.key AS c_custkey,
         'cdc-' || CAST(ch.key AS VARCHAR) AS c_name,
         CAST(ch.key % 25 AS INT) AS c_nationkey,
         ch.new_bal AS c_acctbal,
         'CDC' AS c_mktsegment,
         'inserted' AS merge_action
  FROM changes ch LEFT JOIN customer c ON c.c_custkey = ch.key
  WHERE ch.op = 'upsert' AND c.c_custkey IS NULL)
SELECT * FROM matched UNION ALL SELECT * FROM ins ORDER BY c_custkey
"""


# ------------------------------------------------ streamed MERGE INTO


def q_stream_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed CDC merge: events replay in 3 chunks; per-batch
    latest-per-user partials land per-batch_id; read path re-reduces
    across batches (associative argmax ⇒ global latest) and applies
    the one batch MERGE. Oracle = the batch q_merge_upsert rule,
    unchanged."""
    from .operators.merge import merge_upsert
    from .streaming.merge_stream import read_cdc_changes, stream_cdc_log

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="stream_merge_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        ev.where(F.col("event_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    stream_cdc_log(
        spark,
        src,
        ev.schema,
        f"{work}/log",
        f"{work}/ckpt",
        "user_id",
        "ts",
        "event_id",
        ["event_type", "value"],
    )
    latest = read_cdc_changes(
        spark,
        f"{work}/log",
        "user_id long, ts timestamp, event_id long, event_type string, value double",
        "user_id",
        "ts",
        "event_id",
    )
    changes = latest.select(
        (F.col("user_id") + F.lit(100)).alias("c_custkey"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
        F.col("value").alias("new_bal"),
    )
    base = load_table(spark, sf, "customer")
    merged = merge_upsert(
        base,
        changes,
        "c_custkey",
        update_set={"c_acctbal": "new_bal"},
        insert_values={
            "c_name": F.concat(F.lit("cdc-"), F.col("c_custkey").cast("string")),
            "c_nationkey": (F.col("c_custkey") % 25).cast("int"),
            "c_acctbal": F.col("_chg_new_bal"),
            "c_mktsegment": F.lit("CDC"),
        },
    )
    return merged.orderBy("c_custkey")


# ---------------------------------------------- join-key skew report


def _skew_row(df: DataFrame, table: str, col: str) -> DataFrame:
    freq = df.groupBy(col).agg(F.count(F.lit(1)).alias("freq"))
    top10 = (
        freq.orderBy(F.col("freq").desc(), F.col(col))
        .limit(10)
        .agg(F.sum("freq").alias("top10"))
    )
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("freq").alias("n_rows"),
        F.max("freq").alias("max_freq"),
        F.expr("percentile(freq, 0.99)").alias("p99_freq"),
    )
    return stats.crossJoin(F.broadcast(top10)).select(
        F.lit(table).alias("table_name"),
        F.lit(col).alias("column_name"),
        "n_keys",
        "n_rows",
        "max_freq",
        "p99_freq",
        (F.col("top10").cast("double") / F.col("n_rows").cast("double")).alias(
            "top10_share"
        ),
    )


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnostic: frequency-distribution stats per key
    column — the measurement that decides whether a join needs
    salting, AQE skew splitting, or nothing. One combinable count agg
    per table; the top-10 share is a 10-row TakeOrdered + sum."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        _skew_row(orders, "orders", "o_custkey")
        .unionByName(_skew_row(li, "lineitem", "l_suppkey"))
        .orderBy("table_name")
    )


Q_SKEW_REPORT_SQL = """
WITH f1 AS (SELECT o_custkey AS k, COUNT(*) AS freq FROM orders GROUP BY 1),
t1 AS (SELECT CAST(SUM(freq) AS BIGINT) AS top10
       FROM (SELECT freq FROM f1 ORDER BY freq DESC, k LIMIT 10)),
s1 AS (SELECT COUNT(*) AS n_keys, CAST(SUM(freq) AS BIGINT) AS n_rows,
              MAX(freq) AS max_freq, quantile_cont(freq, 0.99) AS p99_freq
       FROM f1),
f2 AS (SELECT l_suppkey AS k, COUNT(*) AS freq FROM lineitem GROUP BY 1),
t2 AS (SELECT CAST(SUM(freq) AS BIGINT) AS top10
       FROM (SELECT freq FROM f2 ORDER BY freq DESC, k LIMIT 10)),
s2 AS (SELECT COUNT(*) AS n_keys, CAST(SUM(freq) AS BIGINT) AS n_rows,
              MAX(freq) AS max_freq, quantile_cont(freq, 0.99) AS p99_freq
       FROM f2)
SELECT 'lineitem' AS table_name, 'l_suppkey' AS column_name,
       s2.n_keys, s2.n_rows, s2.max_freq, s2.p99_freq,
       CAST(t2.top10 AS DOUBLE) / CAST(s2.n_rows AS DOUBLE) AS top10_share
FROM s2, t2
UNION ALL
SELECT 'orders', 'o_custkey', s1.n_keys, s1.n_rows, s1.max_freq, s1.p99_freq,
       CAST(t1.top10 AS DOUBLE) / CAST(s1.n_rows AS DOUBLE)
FROM s1, t1
ORDER BY table_name
"""


# ------------------------------------------------ planner statistics


_STATS_COLS = [
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("orders", "o_orderstatus"),
]


def q_table_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-equivalent stats catalog: rows / exact NDV / nulls /
    min / max per column — the numbers a cost-based planner (or this
    repo's broadcast-vs-shuffle decisions) run on. One agg per column;
    at 100 TB the exact NDV swaps for the oracled HLL in
    q_approx_stats — this is the exact-maintenance path."""
    parts = []
    for table, col in _STATS_COLS:
        df = load_table(spark, sf, table)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(col).alias("ndv"),
                F.sum(
                    F.when(F.col(col).isNull(), 1).otherwise(0)
                ).alias("n_null"),
                F.min(col).cast("string").alias("min_val"),
                F.max(col).cast("string").alias("max_val"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(col).alias("column_name"),
                "n_rows",
                "ndv",
                "n_null",
                "min_val",
                "max_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name", "column_name")


Q_TABLE_STATS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, '{c}' AS column_name,
       COUNT(*) AS n_rows, COUNT(DISTINCT {c}) AS ndv,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(MIN({c}) AS VARCHAR) AS min_val, CAST(MAX({c}) AS VARCHAR) AS max_val
FROM {t}"""
    for t, c in _STATS_COLS
) + "\nORDER BY table_name, column_name"


# ------------------------------------------- fact-to-SCD2 as-of join


def q_temporal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Enrich the click stream with each user's tier VALID AT CLICK
    TIME, where tier history is the SCD2 collapse of purchase events
    only. The history is dimension-sized and broadcasts; clicks (the
    fact side) never shuffle — one broadcast range-predicate hash join
    + one agg. Clicks before the user's first purchase get 'none'."""
    from .operators.scd import scd2_history

    ev = load_table(spark, sf, "events")
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    snaps = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", tier.alias("tier"))
        .groupBy("user_id", "ts")
        .agg(F.min("tier").alias("tier"))
    )
    hist = scd2_history(snaps, ["user_id"], "ts", ["tier"]).select(
        F.col("user_id").alias("h_user"),
        "effective_from",
        "effective_to",
        "tier",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = clicks.join(
        F.broadcast(hist),
        (F.col("user_id") == F.col("h_user"))
        & (F.col("ts") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))),
        "left",
    )
    return (
        joined.groupBy(F.coalesce(F.col("tier"), F.lit("none")).alias("tier_asof"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("tier_asof")
    )


Q_TEMPORAL_JOIN_SQL = f"""
WITH snaps AS (
  SELECT user_id, ts,
         MIN(CASE WHEN value < 50 THEN 'low'
                  WHEN value < 150 THEN 'mid' ELSE 'high' END) AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
marked AS (
  SELECT user_id, ts, tier,
         CASE WHEN LAG(tier) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS newv
  FROM snaps),
vers AS (SELECT user_id, ts, tier FROM marked WHERE newv = 1),
hist AS (
  SELECT user_id AS h_user, ts AS effective_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to,
         tier
  FROM vers),
clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT COALESCE(h.tier, 'none') AS tier_asof,
       COUNT(*) AS n_clicks,
       {S_DSUM("c.value")} AS sum_value
FROM clicks c LEFT JOIN hist h
  ON c.user_id = h.h_user
 AND c.ts >= h.effective_from
 AND (h.effective_to IS NULL OR c.ts < h.effective_to)
GROUP BY COALESCE(h.tier, 'none')
ORDER BY tier_asof
"""


# --------------------------------------------- data-quality contract


def q_data_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Six-rule expectations gate over the warehouse tables; one row
    per rule with exact violation counts. FK rules prune the parent
    side to its key column before the anti join (the 100-TB shape);
    everything else is a single conditional aggregate per table."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cust = load_table(spark, sf, "customer")
    ev = load_table(spark, sf, "events")
    docs = load_table(spark, sf, "documents")

    fk_orders = orders.join(
        cust.select("c_custkey"), orders["o_custkey"] == F.col("c_custkey"), "left_anti"
    ).count()
    n_orders = orders.count()
    fk_li = li.join(
        orders.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"), "left_anti"
    ).count()
    n_li = li.count()
    ev_nulls, n_ev = ev.agg(
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)), F.count(F.lit(1))
    ).first()
    price_viol = orders.where(~(F.col("o_totalprice") > 0)).count()
    date_viol = orders.where(
        (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
    ).count()
    n_cust = cust.count()
    uniq_viol = n_cust - cust.select("c_custkey").distinct().count()
    nchars_viol = docs.where(F.col("n_chars") != F.length("text")).count()
    n_docs = docs.count()

    rows = [
        ("customer_key_unique", n_cust, uniq_viol),
        ("docs_nchars_consistent", n_docs, nchars_viol),
        ("events_value_not_null", n_ev, int(ev_nulls or 0)),
        ("lineitem_fk_orders", n_li, fk_li),
        ("orders_date_in_range", n_orders, date_viol),
        ("orders_fk_customer", n_orders, fk_orders),
        ("orders_price_positive", n_orders, price_viol),
    ]
    return spark.createDataFrame(
        [(n, int(c), int(v), v == 0) for n, c, v in rows],
        "rule_name string, n_checked bigint, n_violations bigint, passed boolean",
    ).orderBy("rule_name")


Q_DATA_QUALITY_GATE_SQL = """
SELECT rule_name, n_checked, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'customer_key_unique' AS rule_name,
         (SELECT COUNT(*) FROM customer) AS n_checked,
         (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer) AS n_violations
  UNION ALL
  SELECT 'docs_nchars_consistent',
         (SELECT COUNT(*) FROM documents),
         (SELECT COUNT(*) FROM documents WHERE n_chars <> length(text))
  UNION ALL
  SELECT 'events_value_not_null',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value IS NULL)
  UNION ALL
  SELECT 'lineitem_fk_orders',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'orders_date_in_range',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-01-01'
             OR o_orderdate >= TIMESTAMP '2001-01-01')
  UNION ALL
  SELECT 'orders_fk_customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'orders_price_positive',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)))
ORDER BY rule_name
"""


# ------------------------------------------ streamed quality monitor


def q_stream_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time contract monitoring: the event feed replays in 3
    chunks; each micro-batch lands additive per-rule violation
    partials; read re-sums. Streamed totals ≡ the batch rules on the
    same feed (all three rules are per-row predicates, so partials
    are additive by construction)."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="stream_dq_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        ev.where(F.col("event_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    store = f"{work}/partials"
    known = ["click", "error", "purchase", "signup", "view"]

    def sink(batch: DataFrame, batch_id: int) -> None:
        partial = batch.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "v_null_value"
            ),
            F.sum(F.when(~F.col("event_type").isin(known), 1).otherwise(0)).alias(
                "v_unknown_type"
            ),
            F.sum(F.when(F.col("value") < -1000.0, 1).otherwise(0)).alias(
                "v_value_range"
            ),
        )
        partial.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    totals = (
        spark.read.schema(
            "n_checked bigint, v_null_value bigint, v_unknown_type bigint,"
            " v_value_range bigint"
        )
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .agg(
            F.sum("n_checked").alias("n_checked"),
            F.sum("v_null_value").alias("v_null_value"),
            F.sum("v_unknown_type").alias("v_unknown_type"),
            F.sum("v_value_range").alias("v_value_range"),
        )
    )
    unpivoted = totals.selectExpr(
        "n_checked",
        "stack(3, 'events_value_not_null', v_null_value,"
        " 'events_type_known', v_unknown_type,"
        " 'events_value_range', v_value_range) AS (rule_name, n_violations)",
    )
    return unpivoted.select(
        "rule_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule_name")


Q_STREAM_QUALITY_GATE_SQL = """
SELECT rule_name, n_checked, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'events_type_known' AS rule_name,
         (SELECT COUNT(*) FROM events) AS n_checked,
         (SELECT COUNT(*) FROM events
          WHERE event_type NOT IN ('click','error','purchase','signup','view')) AS n_violations
  UNION ALL
  SELECT 'events_value_not_null',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value IS NULL)
  UNION ALL
  SELECT 'events_value_range',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE value < -1000.0))
ORDER BY rule_name
"""


# ------------------------------------------------ Z-order layout


def _spread16(col: Column) -> Column:
    """Spread a 16-bit int's bits to the even positions of a 32-bit
    value, computed in 64-bit lanes (sy << 1 tops 2^31 — int32 would
    overflow under ANSI; identical BIGINT ops exist in DuckDB)."""
    v = col.cast("long")
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


# the 2-D box predicate both layouts are audited against: the
# [10%, 20%] slice of each scaled key domain
_BOX_LO, _BOX_HI = 6554, 13107


def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """One-row layout audit: buckets/rows a 2-D box predicate scans
    under Z-order vs linear clustering of lineitem (partkey, suppkey).

    Keys scale to [0, 65535] by exact integer arithmetic; Morton
    interleave is 8 shifts + masks per row (all in whole-stage
    codegen); bucket stats are one 64/65-key hash aggregate each.
    A bucket must be scanned iff its [min,max] box intersects the
    predicate box on every dimension — exactly the parquet row-group
    min/max pruning rule this query models. At 100 TB the same plan
    shape audits real file-level stats (bucket id → file id).
    """
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey"),
        F.max("l_partkey"),
        F.min("l_suppkey"),
        F.max("l_suppkey"),
    ).first()
    if bounds[0] is None:
        # empty fact table: nothing to lay out
        return spark.createDataFrame(
            [],
            "layout string, n_buckets bigint, buckets_scanned bigint,"
            " rows_scanned bigint",
        )
    pk_lo, pk_hi, sk_lo, sk_hi = (int(x) for x in bounds)
    pk_span = max(pk_hi - pk_lo, 1)
    sk_span = max(sk_hi - sk_lo, 1)
    ux = ((F.col("l_partkey") - F.lit(pk_lo)) * 65535) / F.lit(pk_span)
    uy = ((F.col("l_suppkey") - F.lit(sk_lo)) * 65535) / F.lit(sk_span)
    scaled = li.select(
        F.floor(ux).cast("long").alias("ux"),
        F.floor(uy).cast("long").alias("uy"),
    )
    morton = _spread16(F.col("ux")).bitwiseOR(
        F.shiftleft(_spread16(F.col("uy")), 1)
    )
    coded = scaled.select(
        "ux",
        "uy",
        F.shiftrightunsigned(morton, 26).cast("long").alias("zbucket"),
        F.shiftrightunsigned(F.col("ux"), 10).cast("long").alias("lbucket"),
    )

    def bucket_stats(df: DataFrame, key: str) -> DataFrame:
        return df.groupBy(key).agg(
            F.min("ux").alias("min_x"),
            F.max("ux").alias("max_x"),
            F.min("uy").alias("min_y"),
            F.max("uy").alias("max_y"),
            F.count(F.lit(1)).alias("n"),
        )

    def audit(stats: DataFrame) -> DataFrame:
        hit = (F.col("max_x") >= _BOX_LO) & (F.col("min_x") <= _BOX_HI) & (
            F.col("max_y") >= _BOX_LO
        ) & (F.col("min_y") <= _BOX_HI)
        return stats.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(hit.cast("long")).alias("buckets_scanned"),
            F.sum(F.when(hit, F.col("n")).otherwise(0)).alias("rows_scanned"),
        )

    z = audit(bucket_stats(coded, "zbucket")).select(
        F.lit("zorder").alias("layout"), "n_buckets", "buckets_scanned", "rows_scanned"
    )
    lin = audit(bucket_stats(coded, "lbucket")).select(
        F.lit("linear").alias("layout"), "n_buckets", "buckets_scanned", "rows_scanned"
    )
    return z.unionByName(lin).orderBy("layout")


Q_ZORDER_LAYOUT_SQL = """
WITH b AS (
  SELECT MIN(l_partkey) AS pk_lo, GREATEST(MAX(l_partkey) - MIN(l_partkey), 1) AS pk_span,
         MIN(l_suppkey) AS sk_lo, GREATEST(MAX(l_suppkey) - MIN(l_suppkey), 1) AS sk_span
  FROM lineitem),
scaled AS (
  SELECT CAST(FLOOR(CAST((l_partkey - pk_lo) * 65535 AS DOUBLE) / pk_span) AS BIGINT) AS ux,
         CAST(FLOOR(CAST((l_suppkey - sk_lo) * 65535 AS DOUBLE) / sk_span) AS BIGINT) AS uy
  FROM lineitem, b),
sp AS (
  SELECT ux, uy,
         ((((ux | (ux << 8)) & 16711935) | (((ux | (ux << 8)) & 16711935) << 4)) & 252645135) AS sx1,
         ((((uy | (uy << 8)) & 16711935) | (((uy | (uy << 8)) & 16711935) << 4)) & 252645135) AS sy1
  FROM scaled),
sp2 AS (
  SELECT ux, uy,
         (((sx1 | (sx1 << 2)) & 858993459) | ((((sx1 | (sx1 << 2)) & 858993459)) << 1)) & 1431655765 AS sx,
         (((sy1 | (sy1 << 2)) & 858993459) | ((((sy1 | (sy1 << 2)) & 858993459)) << 1)) & 1431655765 AS sy
  FROM sp),
coded AS (
  SELECT ux, uy,
         CAST((sx | (sy << 1)) >> 26 AS BIGINT) AS zbucket,
         CAST(ux >> 10 AS BIGINT) AS lbucket
  FROM sp2),
zstats AS (
  SELECT zbucket, MIN(ux) AS min_x, MAX(ux) AS max_x,
         MIN(uy) AS min_y, MAX(uy) AS max_y, COUNT(*) AS n
  FROM coded GROUP BY 1),
lstats AS (
  SELECT lbucket, MIN(ux) AS min_x, MAX(ux) AS max_x,
         MIN(uy) AS min_y, MAX(uy) AS max_y, COUNT(*) AS n
  FROM coded GROUP BY 1),
zaudit AS (
  SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zstats),
laudit AS (
  SELECT 'linear' AS layout, COUNT(*) AS n_buckets,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
         CAST(SUM(CASE WHEN max_x >= 6554 AND min_x <= 13107
                        AND max_y >= 6554 AND min_y <= 13107 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM lstats)
SELECT * FROM zaudit UNION ALL SELECT * FROM laudit ORDER BY layout
"""


# ------------------------------------- equi-depth histogram (CBO)


def q_equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """16-bucket equi-depth histogram of o_totalprice — the planner
    statistic (selectivity estimation) as a query, with NTILE(16)
    semantics but NO global-sort window: the exact global rank of
    (price, orderkey) comes from ``operators.ordering.
    global_order_index`` (value-range pre-bucket → per-bucket local
    row_number → broadcast bucket-prefix offsets — the packing.py
    two-phase prefix-sum shape), and the NTILE bucket is derived from
    the rank with the exact NTILE rule (first ``n mod 16`` tiles get
    ``n div 16 + 1`` rows). Bit-identical to the ntile form the oracle
    runs, parallel across ~256 range buckets instead of one task.
    Heavily skewed value distributions would size the range buckets
    from approx quantiles instead of min/max; uniform-width is right
    for this column and keeps the boundary pass to one min/max agg.
    """
    from .operators.ordering import global_order_index, ntile_from_rank

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    stats = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("o_totalprice").cast("double")).alias("lo"),
        F.max(F.col("o_totalprice").cast("double")).alias("hi"),
    ).first()
    if int(stats["n"]) == 0:
        # empty input: min/max are NULL — short-circuit with the
        # output schema instead of a TypeError on float(None)
        return spark.createDataFrame(
            [], "bucket long, n long, lo double, hi double"
        )
    n, lo, hi = int(stats["n"]), float(stats["lo"]), float(stats["hi"])
    width = (hi - lo) / 256.0 or 1.0
    # monotone coarsening of the price order: floor((p - lo) / width)
    # (decimal→double cast is order-preserving; collisions only merge
    # adjacent buckets, never reorder)
    range_bucket = F.least(
        F.floor((F.col("o_totalprice").cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(255),
    ).cast("long")
    ranked = global_order_index(
        orders, ["o_totalprice", "o_orderkey"], range_bucket, num_buckets=256
    )
    return (
        ranked.withColumn("bucket", ntile_from_rank("pos", n, 16).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


Q_EQUI_DEPTH_HISTOGRAM_SQL = """
WITH t AS (
  SELECT o_totalprice,
         NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders)
SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM t GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------- clustering factor


def q_clustering_factor(spark: SparkSession, sf: str) -> DataFrame:
    """Storage-order monotonicity of lineitem date columns: within
    each order (linenumber = stored sequence), count breaks (a row
    whose date precedes its predecessor's). Per-order windows — no
    global sort, fully parallel at any scale. The re-cluster decision
    metric: a high break fraction on a hot filter column means
    sorting the table on it buys row-group pruning.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_partkey"
    )
    # (l_orderkey, l_linenumber) is NOT unique in this testdata — the
    # extra keys make the scan order total, or the lag (and the break
    # counts) would be engine-ambiguous on ties.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_shipdate"
    )

    def breaks(col: str) -> DataFrame:
        prev = F.lag(col).over(w)
        flagged = li.select(
            F.when(prev.isNotNull() & (F.col(col) < prev), 1)
            .otherwise(0)
            .alias("brk"),
            F.when(F.lag(col).over(w).isNotNull(), 1).otherwise(0).alias("cmp"),
        )
        return flagged.agg(
            F.sum("brk").alias("n_breaks"), F.sum("cmp").alias("n_compared")
        )

    out = []
    for col in ("l_partkey", "l_shipdate"):
        out.append(
            breaks(col).select(
                F.lit(col).alias("column_name"),
                "n_breaks",
                "n_compared",
                F.when(
                    F.col("n_compared") > 0,
                    F.round(
                        F.lit(1.0)
                        - F.col("n_breaks").cast("double")
                        / F.col("n_compared").cast("double"),
                        9,
                    ),
                ).alias("monotone_frac_r9"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("column_name")


Q_CLUSTERING_FACTOR_SQL = """
WITH lagged AS (
  SELECT l_shipdate, l_partkey,
         LAG(l_shipdate) OVER w AS prev_ship,
         LAG(l_partkey) OVER w AS prev_pk
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_shipdate)),
per AS (
  SELECT 'l_partkey' AS column_name,
         CAST(SUM(CASE WHEN prev_pk IS NOT NULL AND l_partkey < prev_pk THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
         CAST(SUM(CASE WHEN prev_pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_compared
  FROM lagged
  UNION ALL
  SELECT 'l_shipdate' AS column_name,
         CAST(SUM(CASE WHEN prev_ship IS NOT NULL AND l_shipdate < prev_ship THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
         CAST(SUM(CASE WHEN prev_ship IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_compared
  FROM lagged)
SELECT column_name, n_breaks, n_compared,
       ROUND(1.0 - CAST(n_breaks AS DOUBLE) / CAST(n_compared AS DOUBLE), 9) AS monotone_frac_r9
FROM per ORDER BY column_name
"""


# ------------------------------------------- CBO cardinality audit


def q_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Textbook join-size estimate vs truth for two equi-joins.

    estimate = |A|·|B| / max(ndv_A(k), ndv_B(k)); actual = COUNT of
    the real join. Each side needs one count + one distinct-count
    (map-side combinable); the actual join is the co-keyed shuffle
    the planner would run anyway. err_ratio > ~2 flags correlation
    or stale stats — the re-ANALYZE trigger, as a query.
    """
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    li = load_table(spark, sf, "lineitem")

    def audit(name, a, b, ka, kb):
        n_a, ndv_a = a.agg(F.count(F.lit(1)), F.countDistinct(ka)).first()
        n_b, ndv_b = b.agg(F.count(F.lit(1)), F.countDistinct(kb)).first()
        actual = a.join(b, F.col(ka) == F.col(kb)).count()
        # an empty side means zero distinct keys: the estimate (and the
        # actual) are exactly 0 — avoid the 0/0
        est = (
            (float(n_a) * float(n_b)) / float(max(ndv_a, ndv_b))
            if max(ndv_a, ndv_b) > 0
            else 0.0
        )
        return (name, n_a, n_b, actual, est)

    rows = [
        audit("lineitem_orders", li, orders, "l_orderkey", "o_orderkey"),
        audit("orders_customer", orders, cust, "o_custkey", "c_custkey"),
    ]
    return (
        spark.createDataFrame(
            rows, "join_name string, n_a long, n_b long, actual long, estimate double"
        )
        .select(
            "join_name",
            "n_a",
            "n_b",
            "actual",
            F.round("estimate", 6).alias("estimate_r6"),
            F.when(
                F.col("actual") > 0,
                F.round(
                    F.col("estimate") / F.col("actual").cast("double"), 9
                ),
            ).alias("err_ratio_r9"),
        )
        .orderBy("join_name")
    )


Q_JOIN_CARDINALITY_SQL = """
WITH lo AS (
  SELECT 'lineitem_orders' AS join_name,
         (SELECT COUNT(*) FROM lineitem) AS n_a,
         (SELECT COUNT(*) FROM orders) AS n_b,
         (SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual,
         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_a,
         (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_b),
oc AS (
  SELECT 'orders_customer' AS join_name,
         (SELECT COUNT(*) FROM orders) AS n_a,
         (SELECT COUNT(*) FROM customer) AS n_b,
         (SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) AS actual,
         (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_a,
         (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_b),
u AS (SELECT * FROM lo UNION ALL SELECT * FROM oc)
SELECT join_name, n_a, n_b, actual,
       ROUND((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE), 6) AS estimate_r6,
       ROUND(((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
              / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE)) / CAST(actual AS DOUBLE), 9) AS err_ratio_r9
FROM u ORDER BY join_name
"""


# ------------------------------------------- watermark lateness


def q_lateness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-orderness audit for watermark sizing: within each user's
    arrival order (event_id — the ingest sequence), lateness = running
    max event time minus this row's event time. One row: late
    fraction and the lateness percentiles you'd set withWatermark to.
    Per-user windows — no global sort at any scale.
    """
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = ev.select(
        (F.greatest(F.max("us").over(w) - F.col("us"), F.lit(0))).alias("late_us")
    ).na.fill({"late_us": 0})
    return lat.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
        F.round(
            F.sum((F.col("late_us") > 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("late_frac_r9"),
        # micros magnitudes reach 1e9 where double ulp ~1e-7: round to
        # 3 places (interpolated halves stay exact, ulp drift dies)
        F.round(F.expr("percentile(late_us, 0.5)"), 3).alias("p50_late_us"),
        F.round(F.expr("percentile(late_us, 0.9)"), 3).alias("p90_late_us"),
        F.max("late_us").alias("max_late_us"),
    )


Q_LATENESS_AUDIT_SQL = """
WITH lat AS (
  SELECT GREATEST(COALESCE(MAX(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), epoch_us(ts))
         - epoch_us(ts), 0) AS late_us
  FROM events)
SELECT COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS late_frac_r9,
       ROUND(quantile_cont(late_us, 0.5), 3) AS p50_late_us,
       ROUND(quantile_cont(late_us, 0.9), 3) AS p90_late_us,
       MAX(late_us) AS max_late_us
FROM lat
"""


# ------------------------------------------ schema evolution on read

_LANDING_DIRS: dict[str, str] = {}


EVOLVED_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderpriority string"
)


def evolved_landing_dir(spark: SparkSession, sf: str) -> str:
    """Build (once per process+sf) a two-generation orders landing:

    - gen1 (the early pipeline): EVEN order keys, 32-bit key columns,
      FLOAT prices, NO o_orderpriority column;
    - gen2 (after the schema grew): ODD keys, 64-bit keys, DOUBLE
      prices, the new o_orderpriority column.

    Returns the landing root. int casts are exact at test scale (keys
    < 2^31); the float cast deliberately LOSES precision — that is
    the widened-type read the query verifies (the oracle reproduces
    the same float rounding with CAST(.. AS REAL))."""
    key = f"_landing_{sf.replace('/', '_')}"
    cached = _LANDING_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    orders = load_table(spark, sf, "orders")
    d = tempfile.mkdtemp(prefix="evolved_landing_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    orders.where(F.expr("o_orderkey % 2 = 0")).selectExpr(
        "CAST(o_orderkey AS INT) AS o_orderkey",
        "CAST(o_custkey AS INT) AS o_custkey",
        "CAST(o_totalprice AS FLOAT) AS o_totalprice",
    ).write.mode("overwrite").parquet(os.path.join(d, "gen1"))
    orders.where(F.expr("o_orderkey % 2 = 1")).selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderpriority",
    ).write.mode("overwrite").parquet(os.path.join(d, "gen2"))
    _LANDING_DIRS[key] = d
    return d


def read_evolved(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-evolution-on-read: scan a multi-generation parquet
    landing through ONE explicit unified schema. Per file, parquet
    upcasts (INT→BIGINT, FLOAT→DOUBLE) and fills columns absent in
    older generations with NULL. Incompatible drift (e.g. a column
    re-typed STRING where the unified schema says numeric) fails the
    scan at action time — pinned by tests/test_wave33.py. At 100 TB
    this is a plain parquet scan: pushdown/pruning behave exactly as
    on a single-generation table."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregate across a two-generation landing read through the
    unified schema: legacy rows (no priority column) fill NULL →
    '0-LEGACY'. The price checksum is SUM(floor(p·100)) in BIGINT —
    float-widened doubles carry long decimal expansions whose
    DECIMAL(38,6) rounding rule differs between engines in the last
    ulp, while floor of the identical IEEE product is exact on both;
    min/max are selections of the widened values themselves, so they
    pin that gen1's float-rounded prices (not re-read originals)
    flowed through the scan."""
    landing = evolved_landing_dir(spark, sf)
    ev = read_evolved(spark, landing, EVOLVED_ORDERS_SCHEMA)
    return (
        ev.groupBy(
            F.coalesce("o_orderpriority", F.lit("0-LEGACY")).alias("priority_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents_floor_sum"
            ),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("priority_class")
    )


Q_SCHEMA_EVOLUTION_SQL = """
WITH unified AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey,
         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
         NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1)
SELECT COALESCE(o_orderpriority, '0-LEGACY') AS priority_class,
       COUNT(*) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_floor_sum,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM unified
GROUP BY 1 ORDER BY 1
"""


REGISTRY = {
    "q_bpi_pipeline": (q_bpi_pipeline, _bpi_oracle()),
    "q_continuous_agg": (q_continuous_agg, Q_CONTINUOUS_AGG_SQL),
    "q_salted_join": (q_salted_join, Q_SALTED_JOIN_SQL),
    "q_scd2": (q_scd2, Q_SCD2_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_scd2": (q_stream_scd2, Q_SCD2_SQL),
    "q_profile_stats": (q_profile_stats, Q_PROFILE_STATS_SQL),
    "q_table_diff": (q_table_diff, Q_TABLE_DIFF_SQL),
    "q_partitioned_staging": (q_partitioned_staging, Q_PARTITIONED_STAGING_SQL),
    "q_csv_roundtrip": (q_csv_roundtrip, Q_CSV_ROUNDTRIP_SQL),
    "q_novelty_rate": (q_novelty_rate, Q_NOVELTY_RATE_SQL),
    "q_stream_enrich": (q_stream_enrich, Q_STREAM_ENRICH_SQL),
    "q_compacted_rollup": (q_compacted_rollup, Q_COMPACTED_ROLLUP_SQL),
    "q_bucketed_join": (q_bucketed_join, Q_BUCKETED_JOIN_SQL),
    "q_dpp_join": (q_dpp_join, Q_DPP_JOIN_SQL),
    "q_forget_users": (q_forget_users, Q_FORGET_USERS_SQL),
    "q_multi_format_union": (q_multi_format_union, Q_MULTI_FORMAT_UNION_SQL),
    "q_merge_upsert": (q_merge_upsert, Q_MERGE_UPSERT_SQL),
    "q_stream_merge": (q_stream_merge, Q_MERGE_UPSERT_SQL),
    "q_skew_report": (q_skew_report, Q_SKEW_REPORT_SQL),
    "q_table_stats": (q_table_stats, Q_TABLE_STATS_SQL),
    "q_temporal_join": (q_temporal_join, Q_TEMPORAL_JOIN_SQL),
    "q_data_quality_gate": (q_data_quality_gate, Q_DATA_QUALITY_GATE_SQL),
    "q_stream_quality_gate": (q_stream_quality_gate, Q_STREAM_QUALITY_GATE_SQL),
    "q_zorder_layout": (q_zorder_layout, Q_ZORDER_LAYOUT_SQL),
    "q_equi_depth_histogram": (q_equi_depth_histogram, Q_EQUI_DEPTH_HISTOGRAM_SQL),
    "q_clustering_factor": (q_clustering_factor, Q_CLUSTERING_FACTOR_SQL),
    "q_join_cardinality": (q_join_cardinality, Q_JOIN_CARDINALITY_SQL),
    "q_lateness_audit": (q_lateness_audit, Q_LATENESS_AUDIT_SQL),
    "q_schema_evolution": (q_schema_evolution, Q_SCHEMA_EVOLUTION_SQL),
}

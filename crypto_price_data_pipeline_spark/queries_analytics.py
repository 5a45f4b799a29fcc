"""Event and order analytics: sessions, funnels, cohorts and
retention, attribution, A/B readouts, business reports (RFM, ABC,
Gini, waterfalls, growth), time-series operators (OHLC, gap-fill,
EMA/MACD, change points, seasonality, forecasting) and exact
statistics (percentiles, moments, KS, robust outliers). Each streamed
twin (``q_stream_*``) sits beside its batch query and registers the
batch oracle verbatim: the streamed answer must equal the batch one.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.portable import _col, _dec, dsum, S_DSUM
from .io.sources import load_table
from .session import materialize
from .streaming.partial_store import (
    day_chunk_expr,
    run_partial_stream,
    write_day_chunks,
)


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap cut via lag + running sum, then
    per-user session/event counts."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(_col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_idx").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


Q_SESSIONIZE_SQL = """
SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800 * 1000000
                OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id ORDER BY user_id
"""


def q_time_bucket_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC rollup per event type (hypertable-style time bucket;
    open/close via rank-1 rows in both engines for determinism)."""
    ev = load_table(spark, sf, "events")
    bucket = F.date_format(F.date_trunc("hour", _col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
        "bucket"
    )
    base = ev.select(bucket, "event_type", "ts", "event_id", "value")
    wa = Window.partitionBy("bucket", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    wd = Window.partitionBy("bucket", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = base.select(
        "bucket",
        "event_type",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("bucket", "event_type")
        .agg(
            F.max(F.when(_col("rn_a") == 1, _col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(_col("rn_d") == 1, _col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            dsum(_col("value")).alias("volume"),
        )
    )


Q_OHLC_SQL = f"""
SELECT bucket, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_trades,
       {S_DSUM('value')} AS volume
FROM (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
GROUP BY bucket, event_type
"""


def q_stream_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming tumbling-window rollup over the events table
    (file source, availableNow; complete-mode memory sink). The final
    state equals the batch hourly agg, which the oracle verifies."""
    from .streaming.windows import tumbling_event_rollup

    return tumbling_event_rollup(spark, sf)


Q_STREAM_OHLC_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n, {S_DSUM('value')} AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ------------------------------------------- time-series subsequence search


_TS_PATTERN = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0]  # a spike


def q_ts_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """UCR-style subsequence similarity search: the 10 length-8 windows
    of the per-type event series whose z-normalized shape is closest to
    a spike pattern. Windows via collect_list rows-frames (one pass, no
    self-join); every float op is an identically-ordered sequential
    fold on both engines, so distances are bit-exact."""
    from .operators.ts_search import subsequence_search

    events = load_table(spark, sf, "events")
    return subsequence_search(events, _TS_PATTERN, k=10)


def _ts_sql() -> str:
    from .operators.ts_search import znorm

    q = znorm(_TS_PATTERN)
    qlist = "[" + ", ".join(repr(v) for v in q) + "]"
    return f"""
WITH win AS (
  SELECT event_id, event_type,
         list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS w
  FROM events
),
fw AS (SELECT * FROM win WHERE len(w) = 8),
m1 AS (
  SELECT event_id, event_type, w,
         list_reduce(list_prepend(0.0, w), (a, x) -> a + x) / 8 AS mu
  FROM fw
),
m2 AS (
  SELECT event_id, event_type, w, mu,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(w, x -> (x - mu) * (x - mu))), (a, x) -> a + x) / 8) AS sd
  FROM m1
),
m3 AS (
  SELECT event_id, event_type,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(range(1, 9),
                  i -> ((w[i] - mu) / sd - ({qlist})[i]) * ((w[i] - mu) / sd - ({qlist})[i]))),
              (a, x) -> a + x)) AS dist
  FROM m2 WHERE sd > 0
)
SELECT event_id, event_type, dist FROM m3 ORDER BY dist, event_id LIMIT 10
"""


def q_stats_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Second-moment statistics (sample variance/stddev, covariance,
    correlation) built from exact decimal sums — the engines' native
    stddev/corr use different streaming algorithms (Welford vs naive)
    whose float results drift, so the moments are assembled from
    Sx/Sy/Sxx/Syy/Sxy with identical double arithmetic on both sides.
    This is also the map-side-combinable form you want at 100 TB (one
    pass, six partial sums per group).

    Variable choice matters for the oracle: quantity (integer-valued)
    and discount (<=2 decimals) square to <=4-decimal values whose
    DECIMAL(38,6) casts are exact and whose sums stay below 2^53/10^6 —
    above that, DuckDB's decimal->double cast double-rounds (int128 ->
    double -> scale) where Spark rounds once, so sums of squared PRICES
    drift a ulp. See NOTES.md determinism contract."""
    li = load_table(spark, sf, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # n==1 (sample variance undefined) and zero-variance groups go
    # NULL instead of raising ANSI DIVIDE_BY_ZERO — the guards are
    # no-ops on any group with >=2 rows and non-constant values
    var_x = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    var_y = F.when(n > 1.0, (syy - sy * sy / n) / (n - F.lit(1.0)))
    cov = F.when(n > 1.0, (sxy - sx * sy / n) / (n - F.lit(1.0)))
    # corr from cov/sd·sd (not the n·Sxy − Sx·Sy form): a*b − c*d invites
    # compiler FMA contraction in native engines → last-ulp drift
    corr = F.when(
        (var_x > 0) & (var_y > 0), cov / (F.sqrt(var_x) * F.sqrt(var_y))
    )
    return agg.select(
        "l_returnflag",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        var_y.alias("var_disc"),
        cov.alias("covar_qty_disc"),
        corr.alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


Q_STATS_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       (sxx - sx * sx / n) / (n - 1.0) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) AS stddev_qty,
       (syy - sy * sy / n) / (n - 1.0) AS var_disc,
       (sxy - sx * sy / n) / (n - 1.0) AS covar_qty_disc,
       ((sxy - sx * sy / n) / (n - 1.0))
         / (sqrt((sxx - sx * sx / n) / (n - 1.0)) * sqrt((syy - sy * sy / n) / (n - 1.0)))
         AS corr_qty_disc
FROM s
ORDER BY l_returnflag
"""


# ------------------------------------------ streamed second moments


def q_stream_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental statistics maintenance: lineitem replays in 3
    chunks; each micro-batch lands its exact DECIMAL(38,6) partial
    sums per return flag (the map-side-combinable subform of
    q_stats_moments — associative, so any chunking re-sums to the
    batch totals bit-exactly); read-side applies the identical final
    double arithmetic. Oracle = Q_STATS_MOMENTS_SQL verbatim."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_discount"
    )
    work = tempfile.mkdtemp(prefix="stream_moments_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        li.where(F.col("l_orderkey") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    store = f"{work}/partials"
    x, y = F.col("l_quantity"), F.col("l_discount")

    def sink(batch: DataFrame, batch_id: int) -> None:
        partial = batch.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(x)).alias("sx"),
            F.sum(_dec(y)).alias("sy"),
            F.sum(_dec(x * x)).alias("sxx"),
            F.sum(_dec(y * y)).alias("syy"),
            F.sum(_dec(x * y)).alias("sxy"),
        )
        partial.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=li.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    totals = (
        spark.read.schema(
            "l_returnflag string, n bigint, sx decimal(38,6), sy decimal(38,6),"
            " sxx decimal(38,6), syy decimal(38,6), sxy decimal(38,6)"
        )
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n").cast("double").alias("n"),
            F.sum("sx").cast("double").alias("sx"),
            F.sum("sy").cast("double").alias("sy"),
            F.sum("sxx").cast("double").alias("sxx"),
            F.sum("syy").cast("double").alias("syy"),
            F.sum("sxy").cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # n==1 / zero-variance groups -> NULL (q_stats_moments' guards,
    # applied identically so streamed == batch on degenerate input)
    var_x = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    var_y = F.when(n > 1.0, (syy - sy * sy / n) / (n - F.lit(1.0)))
    cov = F.when(n > 1.0, (sxy - sx * sy / n) / (n - F.lit(1.0)))
    corr = F.when(
        (var_x > 0) & (var_y > 0), cov / (F.sqrt(var_x) * F.sqrt(var_y))
    )
    return totals.select(
        "l_returnflag",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        var_y.alias("var_disc"),
        cov.alias("covar_qty_disc"),
        corr.alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


# --------------------------------------------- crypto price indicators


def q_crypto_indicators(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA / MACD price indicators — the reference's domain (crypto
    price series) computed with the BOUNDED-memory chunked fold
    (operators.series.emas_by_key_chunked): one sort shuffle numbers
    each key's series, per-(key, chunk) arrays are capped at chunk_size
    rows, and the EMA recurrences compose as affine maps across chunks
    — so a hot key of any length never materializes a full-series row.
    All three alphas (EWMA α=.5, EMA12, EMA26) share the single shuffle;
    MACD = EMA(α=2/13) − EMA(α=2/27) over the per-user event series.

    Numerics: a key whose series fits one chunk (every key at oracle
    scales; chunk_size = 2¹⁶) takes the seeded serial-fold branch, so
    results are BIT-exact vs. the serial left-fold oracle; keys longer
    than chunk_size compose affine summaries and agree to ~1e-12
    relative (fp reassociation — see operators/series.py)."""
    from .operators.series import emas_by_key_chunked

    ev = load_table(spark, sf, "events")
    out = emas_by_key_chunked(
        ev,
        "user_id",
        ["ts", "event_id"],
        "value",
        {"ewma_fast": 0.5, "ema12": 2.0 / 13.0, "ema26": 2.0 / 27.0},
    )
    return out.select(
        "user_id",
        F.col("n_ticks").cast("int").alias("n_ticks"),
        F.round("ewma_fast", 6).alias("ewma_fast"),
        F.round("ema12", 6).alias("ema12"),
        F.round("ema26", 6).alias("ema26"),
        F.round(F.col("ema12") - F.col("ema26"), 6).alias("macd"),
    ).orderBy("user_id")


Q_CRYPTO_INDICATORS_SQL = """
WITH ordered AS (
  SELECT user_id, ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INTEGER) AS n_ticks,
       ROUND(list_reduce(vals, (acc, x) -> x * 0.5 + acc * 0.5), 6) AS ewma_fast,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/13.0) + acc * (1 - 2.0/13.0)), 6) AS ema12,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/27.0) + acc * (1 - 2.0/27.0)), 6) AS ema26,
       ROUND(list_reduce(vals, (acc, x) -> x * (2.0/13.0) + acc * (1 - 2.0/13.0))
             - list_reduce(vals, (acc, x) -> x * (2.0/27.0) + acc * (1 - 2.0/27.0)), 6) AS macd
FROM ordered ORDER BY user_id
"""


def q_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Max drawdown per user: running peak via an expanding window max,
    drawdown = value − peak, aggregate min. One (key, time) sort
    shuffle; subtraction-only arithmetic keeps the oracle bit-exact."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = ev.select(
        "user_id", (F.col("value") - F.max("value").over(w)).alias("drawdown")
    )
    return (
        dd.groupBy("user_id")
        .agg(F.min("drawdown").alias("max_drawdown"))
        .orderBy("user_id")
    )


Q_DRAWDOWN_SQL = """
SELECT user_id, MIN(drawdown) AS max_drawdown
FROM (
  SELECT user_id,
         value - MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drawdown
  FROM events
)
GROUP BY user_id ORDER BY user_id
"""


# -------------------------------------- chained stateful stream funnel


def q_stream_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Chained stateful streaming (stream-stream join → tumbling daily
    agg in one append-mode query). Emitted = windows closed by the
    final watermark (max event ts − 2h) — the oracle applies the same
    closure rule to the batch interval join."""
    from .streaming.windows import stream_funnel_daily

    return stream_funnel_daily(spark, sf)


Q_STREAM_FUNNEL_SQL = """
WITH pairs AS (
  SELECT p.ts AS purchase_ts
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT strftime(date_trunc('day', purchase_ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_pairs
FROM pairs
WHERE date_trunc('day', purchase_ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
GROUP BY date_trunc('day', purchase_ts)
ORDER BY day
"""


# ------------------------------------------------ stream-stream join


def q_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join (purchase ↔ same-user clicks in the
    prior hour) executed through real Structured Streaming machinery
    (watermarked both sides, availableNow replay), rolled up per user.
    Oracle: the equivalent batch interval join — full-replay streaming
    ≡ batch is the correctness invariant."""
    from .streaming.windows import stream_click_attribution

    return stream_click_attribution(spark, sf, gap="1 hour")


Q_STREAM_JOIN_SQL = """
SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_purchases,
       CAST(SUM(CAST(c.value AS DECIMAL(38,6))) AS DOUBLE) AS click_value_sum
FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY p.user_id ORDER BY user_id
"""


# ------------------------------------------------- chunked series fold


def q_ema_chunked(spark: SparkSession, sf: str) -> DataFrame:
    """EMA per user via the bounded-memory chunked fold
    (`operators.series.ema_by_key_chunked`, chunk_size forced below the
    per-user series length so multiple chunks actually compose). The
    oracle folds serially — agreement at 4 decimals verifies the
    affine chunk composition against the serial recurrence (they
    differ only by fp reassociation, ~1e-12 relative; rounding
    tolerance chosen so a boundary flip is ~1e-8 improbable per
    value)."""
    from .operators.series import ema_by_key_chunked

    ev = load_table(spark, sf, "events")
    out = ema_by_key_chunked(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.25, chunk_size=16
    )
    return out.select(
        "user_id",
        F.col("n_ticks").cast("int").alias("n_ticks"),
        F.round("ema", 4).alias("ema_r4"),
    ).orderBy("user_id")


Q_EMA_CHUNKED_SQL = """
WITH ordered AS (
  SELECT user_id, ARRAY_AGG(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INTEGER) AS n_ticks,
       ROUND(list_reduce(vals, (acc, x) -> x * 0.25 + acc * 0.75), 4) AS ema_r4
FROM ordered ORDER BY user_id
"""


# ------------------------------------------------- exact percentiles


def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90 / p99) of the
    extended price per return flag — the `percentile` aggregate (exact,
    sort-based) rather than `percentile_approx`, because the oracle
    needs a deterministic value. Both engines use the same linear
    interpolation (R-7); results compare at 6 decimals. At 100 TB
    prefer approx_percentile (one-pass sketch, no per-group sort
    buffer) wherever a ±ε answer is acceptable."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q_PERCENTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------- time-bucket gapfill


def q_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style ``time_bucket_gapfill`` + LOCF: hourly buckets
    per event type over the full observed range, missing hours
    materialized from a generated grid (sequence + explode against the
    tiny type dim — broadcast, no shuffle) and carried forward with
    ``last(ignorenulls)``. The average rides as decimal-sum ÷ count
    double division (identical operands both engines). Leading gaps
    before a type's first observation stay NULL by LOCF definition."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    bounds = ev.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_v", ignorenulls=True).over(w).alias("value_locf"),
            F.col("n_events").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hour")
    )


Q_GAPFILL_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
),
hourly AS (
  SELECT event_type, h, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM ev GROUP BY 1, 2
),
b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b) g
)
SELECT g.event_type AS event_type,
       strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(hourly.n_events, 0) AS n_events,
       LAST_VALUE(hourly.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       hourly.n_events IS NULL AS is_gap
FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h
ORDER BY 1, 2
"""


def q_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-fill by LINEAR interpolation (the ``interpolate()`` of
    hypertable rollups): observed hourly averages anchor a lerp across
    each gap — prev/next anchors arrive via ignorenulls last/first
    struct windows (value + its epoch-hour travel together, so the
    slope uses the matched anchor row), and the blend factor is
    int/int epoch-hour arithmetic; every engine-side float op is
    +,-,*,/ on identical operands, hence bit-exact. Rows outside a
    type's observed range (no anchor on one side) interpolate to the
    available anchor; both-sides-missing stays NULL."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    grid = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
        )
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    eh = (F.unix_timestamp("h") / 3600).cast("long")
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        eh.alias("_eh"),
        "avg_v",
        F.when(
            F.col("avg_v").isNotNull(),
            F.struct((F.unix_timestamp("h") / 3600).cast("long").alias("eh"), F.col("avg_v").alias("v")),
        ).alias("_obs"),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("_eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("_eh")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev, nxt = (
        F.last("_obs", ignorenulls=True).over(back),
        F.first("_obs", ignorenulls=True).over(fwd),
    )
    lerp = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(prev.isNull(), nxt["v"])
        .when(nxt.isNull(), prev["v"])
        .otherwise(
            prev["v"]
            + (nxt["v"] - prev["v"])
            * ((F.col("_eh") - prev["eh"]) / (nxt["eh"] - prev["eh"]))
        )
    )
    return (
        joined.select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("avg_v").isNull().alias("is_gap"),
            lerp.alias("value_interp"),
        )
        .orderBy("event_type", "hour")
    )


Q_INTERPOLATE_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
),
hourly AS (
  SELECT event_type, h,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM ev GROUP BY 1, 2
),
b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b) g
),
j AS (
  SELECT g.event_type, g.h,
         CAST(epoch(g.h) / 3600 AS BIGINT) AS eh,
         hourly.avg_v,
         CASE WHEN hourly.avg_v IS NOT NULL
              THEN struct_pack(eh := CAST(epoch(g.h) / 3600 AS BIGINT), v := hourly.avg_v)
         END AS obs
  FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h
),
w AS (
  SELECT event_type, h, eh, avg_v,
         LAST_VALUE(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY eh
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         FIRST_VALUE(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY eh
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM j
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       avg_v IS NULL AS is_gap,
       CASE WHEN avg_v IS NOT NULL THEN avg_v
            WHEN prev IS NULL THEN nxt.v
            WHEN nxt IS NULL THEN prev.v
            ELSE prev.v + (nxt.v - prev.v)
                 * (CAST(eh - prev.eh AS DOUBLE) / (nxt.eh - prev.eh))
       END AS value_interp
FROM w
ORDER BY 1, 2
"""


# ------------------------------------------ statistical outlier cut


def q_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5): the anomaly gate
    for metric streams. Mean/stddev are assembled from exact
    DECIMAL(38,6) partial sums per q_stats_moments' subform contract
    (events.value carries ≤6 decimals, so the decimal casts are exact
    and both engines build identical doubles — native stddev_samp
    would drift a ulp between Welford and naive summation). One
    map-side-combinable agg (5 rows) broadcast-joined back: two scans
    of events, no window, no sort."""
    ev = load_table(spark, sf, "events")
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(v).alias("sx"),
        dec(v * v).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    # n==1 / zero-variance groups: z undefined -> NULL (never an
    # outlier); no-op wherever the group has spread
    var = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    z = F.when(var > 0, (v - sx / n) / F.sqrt(var))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.round(F.abs(z), 9) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 9).alias("z_r9"))
        .orderBy("event_id")
    )


Q_ZSCORE_OUTLIERS_SQL = """
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
)
SELECT event_id, event_type, value,
       ROUND((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1.0)), 9) AS z_r9
FROM events JOIN s USING (event_type)
WHERE ROUND(abs((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1.0))), 9) > 2.5
ORDER BY event_id
"""


# --------------------------------------- fixed-point weighted PageRank


def q_graph_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Source-authority ranking over the nation trade graph: edge
    (customer nation → supplier nation) weighted by lineitem count,
    then 5 fixed-point PageRank iterations. The heavy stage is the
    edge aggregation (lineitem⨝orders co-keyed shuffle + broadcast
    dims); each iteration is one broadcast join + map-side-combinable
    sum over the 625-row edge table."""
    from .operators.graph import weighted_pagerank

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = weighted_pagerank(edges, n_iter=5)
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(nation), ranks["node"] == nation["n_nationkey"])
        .select("node", "n_name", "rank_scaled")
        .orderBy("node")
    )


# 5 unrolled integer-exact iterations; DuckDB's SUM(BIGINT) widens to
# HUGEINT, so every aggregate is cast back to BIGINT to match Spark.
_PR_STEP = """
r{i} AS (
  SELECT n.node,
         CAST((15000000000000 // (100 * (SELECT COUNT(*) FROM nodes)))
              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM((p.r * e.w) // o.out_w) AS BIGINT) AS s
    FROM edges e JOIN outw o ON e.src = o.src JOIN r{prev} p ON p.node = e.src
    GROUP BY e.dst) s ON s.node = n.node)
"""


Q_GRAPH_RANK_SQL = (
    """
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
r0 AS (SELECT node,
              CAST(1000000000000 // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS r
       FROM nodes),
"""
    + ",".join(_PR_STEP.format(i=i, prev=i - 1) for i in range(1, 6))
    + """
SELECT r5.node, n.n_name, r5.r AS rank_scaled
FROM r5 JOIN nation n ON n.n_nationkey = r5.node
ORDER BY r5.node
"""
)


# -------------------------------------------- time-weighted average


def q_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted mean of each user's irregular value series:
    Σ value·dt / Σ dt over consecutive-event intervals. Values scale
    to integer micro-units (ROUND(value·1e6) — identical half-away
    rounding on both engines) and every product/sum is exact integer
    arithmetic (DECIMAL(38,0) here, HUGEINT in DuckDB), so the single
    final division is the only float op. Reported at 9 decimals: the
    exact >2^53 integer numerator's cast to double differs in the last
    ulp between the engines (BigDecimal vs HUGEINT conversion), the
    same reason cosine scores ship as _r9. One window pass + one agg."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    val_u = F.round(F.col("value") * F.lit(1000000.0)).cast("long")
    terms = ev.select(
        "user_id",
        dt.alias("dt"),
        val_u.alias("val_u"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dt").alias("span_micros"),
            F.sum(F.col("val_u").cast("decimal(38,0)") * F.col("dt")).alias("_num"),
        )
        .where((F.col("n_events") >= 2) & (F.col("span_micros") > 0))
        .select(
            "user_id",
            "n_events",
            "span_micros",
            F.round(
                (F.col("_num").cast("double") / F.lit(1000000.0))
                / F.col("span_micros").cast("double"),
                9,
            ).alias("twa_value_r9"),
        )
        .orderBy("user_id")
    )


Q_TIME_WEIGHTED_AVG_SQL = """
WITH terms AS (
  SELECT user_id,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         - epoch_us(ts) AS dt,
         CAST(ROUND(value * 1000000.0) AS BIGINT) AS val_u
  FROM events),
agg AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(SUM(dt) AS BIGINT) AS span_micros,
         SUM(CAST(val_u AS HUGEINT) * dt) AS num
  FROM terms GROUP BY user_id)
SELECT user_id, n_events, span_micros,
       ROUND((CAST(num AS DOUBLE) / 1000000.0) / CAST(span_micros AS DOUBLE), 9) AS twa_value_r9
FROM agg WHERE n_events >= 2 AND span_micros > 0
ORDER BY user_id
"""


# ------------------------------------------ robust (median/IQR) scale


def q_robust_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier cut per event type: |value − median| > 1.5·IQR
    — the heavy-tail-safe alternative to z-scores (median and exact
    interpolated quartiles are engine-identical, q_percentiles
    contract). One ordered-stat agg + one broadcast join back."""
    ev = load_table(spark, sf, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("median_val"),
        (
            F.expr("percentile(value, 0.75)") - F.expr("percentile(value, 0.25)")
        ).alias("iqr_val"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n", "median_val", "iqr_val")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("median_val"))
                    > F.lit(1.5) * F.col("iqr_val"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("event_type")
    )


Q_ROBUST_SCALE_SQL = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         quantile_cont(value, 0.5) AS median_val,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr_val
  FROM events GROUP BY event_type)
SELECT e.event_type, s.n, s.median_val, s.iqr_val,
       CAST(SUM(CASE WHEN ABS(e.value - s.median_val) > 1.5 * s.iqr_val
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type, s.n, s.median_val, s.iqr_val
ORDER BY e.event_type
"""


# --------------------------------------- interval-union coverage


def q_interval_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands interval union per user: each event covers
    [ts, ts + value µs-scaled]; overlapping intervals merge into
    islands via a running-max window (one window pass, integer micros
    throughout), reporting total covered time and island count —
    the utilization/coverage primitive for session and uptime math."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    s = F.unix_micros(F.col("ts"))
    dur = F.greatest(F.round(F.col("value") * F.lit(1000000.0)).cast("long"), F.lit(0))
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + dur).alias("e"))
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = marked.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("covered").alias("covered_micros"),
        )
        .orderBy("user_id")
    )


Q_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + GREATEST(CAST(ROUND(value * 1000000.0) AS BIGINT), 0) AS e
  FROM events),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
islands_tagged AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked),
islands AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS covered
  FROM islands_tagged GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands, CAST(SUM(covered) AS BIGINT) AS covered_micros
FROM islands GROUP BY user_id ORDER BY user_id
"""


# ------------------------------------------------- cohort retention


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle: cohort = ISO week of the user's
    first event; each (cohort, offset) cell counts distinct users
    active that many weeks later. Two aggs + one broadcast join —
    integer day arithmetic only (week offsets divide exactly by 7)."""
    ev = load_table(spark, sf, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_ts")
    )
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week_ts")
    ).distinct()
    return (
        weeks.join(F.broadcast(first), "user_id")
        .select(
            F.date_format("cohort_ts", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("week_ts"), F.col("cohort_ts")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


Q_COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_ts
  FROM events GROUP BY user_id),
weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week_ts FROM events)
SELECT strftime(f.cohort_ts, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort_ts, w.week_ts) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM weeks w JOIN first f ON w.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------- streamed retention


def q_stream_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed cohort retention: events replay in 3 chunks; each
    micro-batch lands two mergeable partials — per-user MIN ts (MIN is
    associative) and the batch's distinct (user, week) pairs (distinct
    union re-distincts on read). The read side then runs the batch
    final join, so streamed ≡ batch q_cohort_retention (same oracle),
    whatever the chunking."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    work = tempfile.mkdtemp(prefix="stream_ret_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    for c in range(3):
        ev.where(F.col("event_id") % 3 == c).coalesce(1).write.parquet(
            f"{src}/chunk_{c}"
        )
    store = f"{work}/partials"

    def sink(batch: DataFrame, batch_id: int) -> None:
        firsts = batch.groupBy("user_id").agg(F.min("ts").alias("min_ts"))
        weeks = batch.select(
            "user_id", F.date_trunc("week", "ts").alias("week_ts")
        ).distinct()
        firsts.write.mode("overwrite").parquet(f"{store}/firsts/batch_{batch_id:05d}")
        weeks.write.mode("overwrite").parquet(f"{store}/weeks/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    firsts = (
        spark.read.schema("user_id long, min_ts timestamp")
        .option("recursiveFileLookup", "true")
        .parquet(f"{store}/firsts")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("min_ts")).alias("cohort_ts"))
    )
    weeks = (
        spark.read.schema("user_id long, week_ts timestamp")
        .option("recursiveFileLookup", "true")
        .parquet(f"{store}/weeks")
        .distinct()
    )
    return (
        weeks.join(F.broadcast(firsts), "user_id")
        .select(
            F.date_format("cohort_ts", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("week_ts"), F.col("cohort_ts")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


# --------------------------------------------- A/B assignment readout


def q_ab_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic experiment split (md5 first nibble: 0-7 control,
    8-f treatment) + per-arm conversion metrics in one pass — hash
    assignment reproduces identically on any engine, no stored
    mapping, no RNG."""
    ev = load_table(spark, sf, "events")
    nib = F.substring(F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 1)
    arm = F.when(
        nib.isin("0", "1", "2", "3", "4", "5", "6", "7"), "control"
    ).otherwise("treatment")
    is_p = F.col("event_type") == "purchase"
    return (
        ev.withColumn("arm", arm)
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias("n_purchases"),
            dsum(F.when(is_p, F.col("value")).otherwise(F.lit(0.0))).alias(
                "purchase_value"
            ),
            F.countDistinct(F.when(is_p, F.col("user_id"))).alias("purchasers"),
        )
        .withColumn(
            "conv_rate",
            F.col("purchasers").cast("double") / F.col("n_users").cast("double"),
        )
        .orderBy("arm")
    )


Q_AB_ASSIGN_SQL = """
WITH tagged AS (
  SELECT *,
         CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'control' ELSE 'treatment' END AS arm
  FROM events)
SELECT arm,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                     AS DECIMAL(38,6))) AS DOUBLE) AS purchase_value,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS DOUBLE)
       / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS conv_rate
FROM tagged GROUP BY arm ORDER BY arm
"""


# ------------------------------------------------ OLS trend per group


def q_linear_trend(spark: SparkSession, sf: str) -> DataFrame:
    """OLS slope of value vs time per event type, x in days since the
    global minimum timestamp (centering keeps x² sums far below the
    decimal→double double-rounding bound — the q_stats_moments
    contract). Assembled from exact decimal partial sums with
    identical final double arithmetic on both engines."""
    ev = load_table(spark, sf, "events").select("event_type", "ts", "value")
    t0 = ev.agg(F.min(F.unix_micros("ts"))).first()[0]
    x = (F.unix_micros("ts") - F.lit(t0)).cast("double") / F.lit(86400000000.0)
    y = F.col("value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(_dec(x)).cast("double").alias("sx"),
        F.sum(_dec(y)).cast("double").alias("sy"),
        F.sum(_dec(x * x)).cast("double").alias("sxx"),
        F.sum(_dec(x * y)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    # n==1 / zero-time-spread groups: slope undefined -> NULL; no-op
    # wherever the group spans more than one instant
    var_x = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    cov = F.when(n > 1.0, (sxy - sx * sy / n) / (n - F.lit(1.0)))
    slope = F.when(var_x > 0, cov / var_x)
    intercept = sy / n - slope * (sx / n)
    return agg.select(
        "event_type",
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    ).orderBy("event_type")


Q_LINEAR_TREND_SQL = """
WITH t0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0
                       AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST((CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0)
                       * (CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST((CAST(epoch_us(ts) - t0 AS DOUBLE) / 86400000000.0) * value
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM events, t0 GROUP BY event_type)
SELECT event_type,
       ((sxy - sx * sy / n) / (n - 1.0)) / ((sxx - sx * sx / n) / (n - 1.0)) AS slope_per_day,
       sy / n - (((sxy - sx * sy / n) / (n - 1.0)) / ((sxx - sx * sx / n) / (n - 1.0)))
              * (sx / n) AS intercept
FROM s ORDER BY event_type
"""


# ------------------------------------------- time-decayed popularity


def q_decayed_score(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decayed score per event type: Σ value · 2^(−age_days),
    weight built as 1/(1<<days) — an EXACT power of two, no libm pow,
    so the weighted values are bit-identical before the decimal sum.
    The freshness-weighted popularity every ranking feed uses."""
    ev = load_table(spark, sf, "events").select("event_type", "ts", "value")
    tmax = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    if tmax is None:
        # empty events: no decay anchor
        return spark.createDataFrame(
            [], "event_type string, n bigint, decayed_score double"
        )
    weight = F.lit(1.0) / F.expr(
        f"shiftleft(1L, cast(({tmax}L - unix_micros(ts)) div 86400000000 as int))"
    ).cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value") * weight)).cast("double").alias("decayed_score"),
        )
        .orderBy("event_type")
    )


Q_DECAYED_SCORE_SQL = """
WITH tm AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
w AS (
  SELECT event_type, value,
         1.0 / CAST(1::BIGINT << CAST((tmax - epoch_us(ts)) // 86400000000 AS INT)
                    AS DOUBLE) AS weight
  FROM events, tm)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value * weight AS DECIMAL(38,6))) AS DOUBLE) AS decayed_score
FROM w GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------- hierarchical rollups


def q_rollup_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Minute→hour→day rollup chain with DECIMAL intermediate sums —
    each level re-aggregates the level below (count-sum, decimal-sum,
    min/min, max/max: all associative), so the top level is bit-equal
    to aggregating the raw stream directly; the oracle does exactly
    that. This is the lossless-rollup certificate for a hypertable
    hierarchy where day queries never touch raw data."""
    ev = load_table(spark, sf, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"))).alias("sum_dec"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "min_v",
        "max_v",
    ).orderBy("day")


Q_ROLLUP_HIERARCHY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------- share-of-region report


def q_share_report(spark: SparkSession, sf: str) -> DataFrame:
    """Contribution analysis: nation revenue and its share of the
    region total. Revenue stays DECIMAL through the window sum (exact,
    order-free); the share is two exact casts + one double division.
    The window runs over 25 aggregated dimension rows, not facts."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    w = Window.partitionBy("r_name")
    return (
        per_nation.withColumn("region_dec", F.sum("rev_dec").over(w))
        .select(
            "r_name",
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("rev_dec").cast("double") / F.col("region_dec").cast("double")
            ).alias("region_share"),
        )
        .orderBy("r_name", "n_name")
    )


Q_SHARE_REPORT_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name)
SELECT r_name, n_name,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE)
       / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS region_share
FROM per_nation ORDER BY r_name, n_name
"""


# --------------------------------------------- ABC classification


def q_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto/ABC classes by exact cumulative revenue share: parts
    ordered by (revenue desc, partkey), decimal cumsum, class
    boundaries on the final double share.

    The cumsum covers one row per PART — billions at 100 TB — so the
    naive no-partitionBy window (an Exchange SinglePartition over the
    per-part table) is replaced by the two-phase distributed prefix
    sum, fully IN-PLAN: 256 revenue-range buckets (descending — the
    bucket is a pure function of rev, hence a monotone coarsening of
    the (rev DESC, partkey) order), per-bucket local decimal cumsum
    windows in parallel, and bucket offsets from a decimal cumsum
    window over the ≤256-row per-bucket totals aggregate (the
    bounded-domain single-partition case the plan-hygiene gate
    permits), broadcast back. Decimal addition is associative, so
    local + offset is bit-identical to the global window the oracle
    runs; zero driver round-trips — range stats, bucket offsets, and
    the grand total all ride broadcast 1-row/256-row aggregates in
    one lazy plan."""
    li = load_table(spark, sf, "lineitem")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_dec"))
    stats = per_part.agg(
        F.min(F.col("rev_dec").cast("double")).alias("_lo"),
        F.max(F.col("rev_dec").cast("double")).alias("_hi"),
        F.sum("rev_dec").alias("_tot"),
    )
    w = (F.col("_hi") - F.col("_lo")) / F.lit(256.0)
    width = F.when(w == 0.0, F.lit(1.0)).otherwise(w)
    # bucket 0 = highest revenue; decimal→double is order-preserving,
    # collisions only merge adjacent buckets (exact rev_dec still
    # orders inside each bucket)
    bucketed = per_part.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.least(
            F.floor((F.col("_hi") - F.col("rev_dec").cast("double")) / width),
            F.lit(255),
        ).cast("long"),
    )
    totals = bucketed.groupBy("_bkt").agg(F.sum("rev_dec").alias("_bt"))
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_bkt",
        F.coalesce(
            F.sum("_bt").over(woff), F.lit(0).cast("decimal(38,6)")
        ).alias("_off"),
    )
    wloc = Window.partitionBy("_bkt").orderBy(
        F.col("rev_dec").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    classed = (
        bucketed.withColumn("_loc", F.sum("rev_dec").over(wloc))
        .join(F.broadcast(offs), "_bkt")
        .withColumn(
            "cum_share",
            (F.col("_loc") + F.col("_off")).cast("double")
            / F.col("_tot").cast("double"),
        )
        .withColumn(
            "abc",
            F.when(F.col("cum_share") <= 0.8, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy("abc")
    )


Q_ABC_CLASSIFICATION_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem GROUP BY l_partkey),
classed AS (
  SELECT l_partkey, rev_dec,
         CASE WHEN CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER () AS DOUBLE) <= 0.8 THEN 'A'
              WHEN CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER () AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM per_part)
SELECT abc, COUNT(*) AS n_parts, CAST(SUM(rev_dec) AS DOUBLE) AS revenue
FROM classed GROUP BY abc ORDER BY abc
"""


# ------------------------------------------------- Benford audit

# log10(1 + 1/d) for d = 1..9, precomputed so neither engine calls log
_BENFORD = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def q_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law forensic audit of order totals: observed
    first-digit counts vs the expected distribution (hardcoded log10
    literals), with the per-digit chi-square contribution. The digit
    comes from the integer cents string — integer→string never turns
    scientific, so both engines extract the identical character."""
    orders = load_table(spark, sf, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = orders.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n_obs"))
    n_total = orders.count()
    prob = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(d) for d in _BENFORD]),
            F.array(*[F.lit(p) for p in _BENFORD.values()]),
        ),
        F.col("digit"),
    )
    expected = prob * F.lit(float(n_total))
    return obs.select(
        "digit",
        "n_obs",
        F.round(expected, 9).alias("expected_r9"),
        F.round(
            (F.col("n_obs").cast("double") - expected) ** 2 / expected, 9
        ).alias("chi2_contrib_r9"),
    ).orderBy("digit")


def _benford_sql() -> str:
    cases_p = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD.items()
    )
    return f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders)
SELECT digit, n_obs,
       ROUND((CASE digit {cases_p} END) * n, 9) AS expected_r9,
       ROUND(POWER(CAST(n_obs AS DOUBLE) - (CASE digit {cases_p} END) * n, 2)
             / ((CASE digit {cases_p} END) * n), 9) AS chi2_contrib_r9
FROM obs, tot ORDER BY digit
"""


# ------------------------------------------------- event bigrams


def q_event_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining: the 10 most frequent consecutive event-type
    transitions per user timeline — one lead window + one count agg."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(10)
    )


Q_EVENT_BIGRAMS_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*) AS n
FROM pairs WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n DESC, from_type, to_type
LIMIT 10
"""


# --------------------------------------- order-sensitive streaming


def q_stream_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed event-transition mining — the order-SENSITIVE case:
    pairs spanning batch boundaries are invisible to any per-batch
    count, so each batch lands (a) in-batch pair counts and (b) each
    user's first/last boundary event; the read side stitches
    last(chunk) → first(user's next present chunk). Chunks cut on
    TIME (10-day ranges), so per-user in-batch order is globally
    contiguous — the precondition the stitching relies on. Streamed
    top-10 ≡ batch q_event_bigrams, same oracle."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    work = tempfile.mkdtemp(prefix="stream_bigrams_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/partials"

    def sink(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = (
            batch.select(
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .where(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        bounds = batch.groupBy(
            "user_id", day_chunk_expr().alias("chunk")
        ).agg(
            F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
                "first_type"
            ),
            F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
                "last_type"
            ),
        )
        pairs.write.mode("overwrite").parquet(f"{store}/pairs/batch_{batch_id:05d}")
        bounds.write.mode("overwrite").parquet(f"{store}/bounds/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    in_batch = (
        spark.read.schema("from_type string, to_type string, n bigint")
        .option("recursiveFileLookup", "true")
        .parquet(f"{store}/pairs")
    )
    bounds = (
        spark.read.schema(
            "user_id long, chunk long, first_type string, last_type string"
        )
        .option("recursiveFileLookup", "true")
        .parquet(f"{store}/bounds")
    )
    wseq = Window.partitionBy("user_id").orderBy("chunk")
    stitched = (
        bounds.select(
            "user_id",
            "chunk",
            "last_type",
            F.lead("first_type").over(wseq).alias("next_first"),
        )
        .where(F.col("next_first").isNotNull())
        .groupBy(
            F.col("last_type").alias("from_type"),
            F.col("next_first").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        in_batch.unionByName(stitched)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(10)
    )


# ------------------------------------------------- strict funnel


def q_strict_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-stage funnel: users who signed up, then clicked AFTER
    their first signup, then purchased AFTER that first click.
    Chained min-after-min aggregates; each stage table is user-sized
    and broadcasts into the next filter."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_type")
    s1 = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1, n2, n3 = s1.count(), s2.count(), s3.count()
    return spark.createDataFrame(
        [
            (
                n1,
                n2,
                n3,
                (n2 / n1) if n1 else None,
                (n3 / n2) if n2 else None,
            )
        ],
        "n_signup bigint, n_then_click bigint, n_then_purchase bigint,"
        " rate_click double, rate_purchase double",
    )


Q_STRICT_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
       (SELECT COUNT(*) FROM s2) AS n_then_click,
       (SELECT COUNT(*) FROM s3) AS n_then_purchase,
       CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
       / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) AS rate_click,
       CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
       / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) AS rate_purchase
"""


# ---------------------------------------------- daily value bands


def q_daily_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Daily p10/p50/p90 bands of the event value — the band-chart
    feed; exact interpolated percentiles per day bucket, rounded to
    9 places — the interpolation lo + frac·(hi−lo) differs in the
    last ulp between engines (first observed at sf0.1: 5.06 vs
    5.06…05), and values are O(100) so r9 canonicalizes safely."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.1)"), 9).alias("p10"),
            F.round(F.expr("percentile(value, 0.5)"), 9).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 9).alias("p90"),
        )
        .orderBy("day")
    )


Q_DAILY_BANDS_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.1), 9) AS p10,
       ROUND(quantile_cont(value, 0.5), 9) AS p50,
       ROUND(quantile_cont(value, 0.9), 9) AS p90
FROM events GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------ k-anonymity audit


def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Quasi-identifier groups below the k=4 anonymity floor.

    QI = (nation, market segment, 1000-unit balance band). One hash
    aggregate + a HAVING filter; the exact-decimal band division keeps
    floor() engine-portable. At 100 TB this is one map-side-combined
    shuffle on the QI key — the same shape as any grouped count.
    """
    cust = load_table(spark, sf, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") < 4)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


Q_K_ANONYMITY_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       COUNT(*) AS n
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 4
ORDER BY 1, 2, 3
"""


# ------------------------------------------------ top user journeys


def q_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 user journey prefixes: each user's first 5 events (by
    ts, event_id — a total order) joined into a '>' path, counted
    across users. collect_list + array_sort keeps the path build
    in-row after one partitionBy(user) shuffle; ties broken
    deterministically for both ranking and output order.
    """
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " x -> x.event_type)"
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


Q_TOP_PATHS_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= 5 GROUP BY user_id)
SELECT path, COUNT(*) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path LIMIT 10
"""


# ------------------------------------------ streamed top paths


def q_stream_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_top_paths: per-batch candidate first-5-per-user rows
    are mergeable state — the global first-5 of a union is always a
    subset of the union of per-chunk first-5s (min-k is a semilattice
    merge), so each batch lands ≤5 rows per present user and the read
    side re-ranks the union. Per-batch_id overwrite keeps replays
    idempotent; streamed top-10 ≡ batch q_top_paths, same oracle.
    """
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    work = tempfile.mkdtemp(prefix="stream_paths_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/candidates"

    def sink(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        first5 = batch.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= 5
        )
        first5.select("event_id", "user_id", "ts", "event_type").write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    cand = (
        spark.read.schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .parquet(store)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = cand.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 5
    )
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " x -> x.event_type)"
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


# ------------------------------------------------ association rules


def q_lift_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type association rules over per-user baskets.

    Basket = the distinct event types a user ever fired (≤5 here, and
    bounded by the type vocabulary at any scale, so the per-user pair
    expansion is O(|types|²) per user, not corpus-quadratic). Counts
    aggregate map-side; lift and both confidences are single divisions
    of identical bigints. Pairs below support 2 are cut.
    """
    ev = load_table(spark, sf, "events")
    basket = ev.select("user_id", "event_type").distinct()
    n_users = basket.select("user_id").distinct().count()
    singles = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a = basket.select("user_id", F.col("event_type").alias("type_a"))
    b = basket.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    na = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    nb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 9
            ).alias("conf_a_to_b_r9"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_b").cast("double"), 9
            ).alias("conf_b_to_a_r9"),
            F.round(
                (F.col("n_ab").cast("double") * F.lit(float(n_users)))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("lift_r9"),
        )
        .orderBy("type_a", "type_b")
    )


Q_LIFT_RULES_SQL = """
WITH basket AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM basket),
singles AS (SELECT event_type, COUNT(*) AS n_single FROM basket GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT type_a, type_b, n_ab, na.n_single AS n_a, nb.n_single AS n_b,
       ROUND(CAST(n_ab AS DOUBLE) / CAST(na.n_single AS DOUBLE), 9) AS conf_a_to_b_r9,
       ROUND(CAST(n_ab AS DOUBLE) / CAST(nb.n_single AS DOUBLE), 9) AS conf_b_to_a_r9,
       ROUND((CAST(n_ab AS DOUBLE) * CAST((SELECT n_users FROM n) AS DOUBLE))
             / (CAST(na.n_single AS DOUBLE) * CAST(nb.n_single AS DOUBLE)), 9) AS lift_r9
FROM pairs
JOIN singles na ON na.event_type = type_a
JOIN singles nb ON nb.event_type = type_b
ORDER BY type_a, type_b
"""


# ------------------------------------------------ revenue inequality


def q_gini_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation Gini coefficient of customer lifetime spend.

    Spend = exact decimal Σ o_totalprice (0 for order-less customers —
    a left join, so the inequality measure sees the whole population).
    The rank formula needs one per-nation sort (window row_number over
    (spend, custkey)); Σ i·xᵢ and Σx are decimal-exact, and the final
    G is a single double expression over identical inputs. Nation
    cardinality is fixed (25), so the per-nation windows are balanced.
    """
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).alias("x")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "c_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("x").cast("double").alias("sum_x"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("sum_ix"),
    )
    n = F.col("n_cust").cast("double")
    # zero-total-spend nations (all customers order-less): G is
    # undefined -> NULL; no-op wherever any spend exists
    gini = F.when(
        F.col("sum_x") > 0,
        (F.lit(2.0) * F.col("sum_ix")) / (n * F.col("sum_x"))
        - (n + F.lit(1.0)) / n,
    )
    return (
        agg.select(
            "c_nationkey",
            "n_cust",
            F.round("sum_x", 6).alias("sum_spend_r6"),
            F.round(gini, 9).alias("gini_r9"),
        )
        .orderBy("c_nationkey")
    )


Q_GINI_BY_NATION_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))),
                  CAST(0 AS DECIMAL(38,6))) AS x
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT c_nationkey, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY x, c_custkey) AS BIGINT) AS i
  FROM spend),
agg AS (
  SELECT c_nationkey, COUNT(*) AS n_cust,
         CAST(SUM(x) AS DOUBLE) AS sum_x,
         CAST(SUM(i * x) AS DOUBLE) AS sum_ix
  FROM ranked GROUP BY 1)
SELECT c_nationkey, n_cust,
       ROUND(sum_x, 6) AS sum_spend_r6,
       ROUND((2.0 * sum_ix) / (CAST(n_cust AS DOUBLE) * sum_x)
             - (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE), 9) AS gini_r9
FROM agg ORDER BY c_nationkey
"""


# ------------------------------------------------ change-point scan


def q_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point over the daily event-value series.

    Daily exact-decimal sums/counts → one cumulative window (30-ish
    rows: the day table, not the event table — the expensive part is
    the day rollup, one map-side-combined shuffle) → the two-sample
    statistic |S_t·N − S_N·n_t| per candidate split → argmax with an
    earliest-day tie-break. Means reported for both segments.
    """
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(_dec(F.col("value"))).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("s").over(wcum).alias("st"),
        F.sum("c").over(wcum).alias("nt"),
    )
    tot = daily.agg(
        F.sum("s").alias("s_tot"), F.sum("c").alias("n_tot")
    )
    scored = cum.crossJoin(F.broadcast(tot)).where(
        F.col("nt") < F.col("n_tot")
    )
    # the statistic stays DECIMAL end-to-end: st*N and s_tot*nt reach
    # ~1e11, where double ulp (~3e-5) exceeds the 1e-6 rounding grain —
    # a double product here could flip the last rounded digit between
    # engines. Decimal × bigint is exact in both.
    stat = F.abs(F.col("st") * F.col("n_tot") - F.col("s_tot") * F.col("nt"))
    return (
        scored.select(
            F.col("day").alias("split_day"),
            F.col("nt").alias("n_left"),
            (F.col("n_tot") - F.col("nt")).alias("n_right"),
            F.round(
                F.col("st").cast("double") / F.col("nt").cast("double"), 9
            ).alias("mean_left_r9"),
            F.round(
                (F.col("s_tot") - F.col("st")).cast("double")
                / (F.col("n_tot") - F.col("nt")).cast("double"),
                9,
            ).alias("mean_right_r9"),
            stat.cast("double").alias("stat"),
        )
        .orderBy(F.col("stat").desc(), "split_day")
        .limit(1)
    )


Q_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS s,
         COUNT(*) AS c
  FROM events GROUP BY 1),
cum AS (
  SELECT day,
         SUM(s) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
         SUM(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
  FROM daily),
tot AS (SELECT SUM(s) AS s_tot, SUM(c) AS n_tot FROM daily)
SELECT day AS split_day,
       CAST(nt AS BIGINT) AS n_left,
       CAST(n_tot - nt AS BIGINT) AS n_right,
       ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS mean_left_r9,
       ROUND(CAST(s_tot - st AS DOUBLE) / CAST(n_tot - nt AS DOUBLE), 9) AS mean_right_r9,
       CAST(ABS(st * n_tot - s_tot * nt) AS DOUBLE) AS stat
FROM cum, tot
WHERE nt < n_tot
ORDER BY stat DESC, split_day LIMIT 1
"""


# ------------------------------------------- streamed change-point


def q_stream_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed CUSUM change-point: per-batch (day, Σ value, n)
    decimal partials are additive semigroup state — the read side
    merges by day and runs the identical argmax scan, so streamed ≡
    batch q_changepoint (same oracle). Per-batch_id overwrite keeps
    replays idempotent.
    """
    ev = load_table(spark, sf, "events").select("event_id", "ts", "value")
    work = tempfile.mkdtemp(prefix="stream_cpt_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/partials"

    def sink(batch: DataFrame, batch_id: int) -> None:
        part = batch.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        ).agg(
            F.sum(_dec(F.col("value"))).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        part.write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    daily = (
        spark.read.schema("day string, s decimal(38,6), c bigint")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("day")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("s").over(wcum).alias("st"),
        F.sum("c").over(wcum).alias("nt"),
    )
    tot = daily.agg(F.sum("s").alias("s_tot"), F.sum("c").alias("n_tot"))
    scored = cum.crossJoin(F.broadcast(tot)).where(F.col("nt") < F.col("n_tot"))
    stat = F.abs(F.col("st") * F.col("n_tot") - F.col("s_tot") * F.col("nt"))
    return (
        scored.select(
            F.col("day").alias("split_day"),
            F.col("nt").alias("n_left"),
            (F.col("n_tot") - F.col("nt")).alias("n_right"),
            F.round(
                F.col("st").cast("double") / F.col("nt").cast("double"), 9
            ).alias("mean_left_r9"),
            F.round(
                (F.col("s_tot") - F.col("st")).cast("double")
                / (F.col("n_tot") - F.col("nt")).cast("double"),
                9,
            ).alias("mean_right_r9"),
            stat.cast("double").alias("stat"),
        )
        .orderBy(F.col("stat").desc(), "split_day")
        .limit(1)
    )


# ------------------------------------------------ RFM segmentation


def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segment rollup: quartile scores for recency / frequency /
    monetary per ordering customer, aggregated to segment counts.

    Each quartile score is NTILE(4) over a total order ((metric,
    custkey)), but computed WITHOUT the single-partition window the
    naive spelling plans — and without a single driver round-trip:

    - metric domains (min/max) and the customer count ride ONE 1-row
      aggregate, broadcast-crossJoined back as columns;
    - each metric gets a 256-range monotone pre-bucket (a pure
      function of the metric value, so a monotone coarsening of the
      (metric, custkey) order — any monotone bucketing yields the
      same ranks);
    - ``operators.ordering.global_order_index_inplan`` ranks each
      metric: per-bucket local row_number windows (parallel,
      bucket-keyed shuffles) + bucket offsets from a window over the
      ≤256-row bucket-count aggregate (the bounded-domain
      single-partition case the plan-hygiene gate permits),
      broadcast back;
    - ``ntile_from_rank_cols`` derives the engine-identical NTILE
      bucket from each rank with n as a column.

    per_cust is one row per ordering customer — hundreds of millions
    at 100 TB — so the naive three global-sort exchanges would
    serialize the whole table through one task thrice; this shape
    keeps every customer-scale pass parallel, and the whole query is
    ONE lazy plan (no collects, no persists).

    r11: the three sequential per-metric rank passes are MELTED into
    one — each customer explodes into (metric, value, range-bucket)
    rows and a single grouped two-phase rank (per-(metric,bucket)
    local row_number + a prefix window over the ≤3·256-row bucket
    counts, partitioned by metric — the bounded-domain case the
    hygiene gate permits) ranks all three metrics in ONE bucket-keyed
    shuffle instead of three chained window+broadcast-join stages.
    Scores pivot back with a max-CASE groupBy on the customer. The
    melt triples the ranked row count (3 small fixed-width rows per
    customer) but cuts the stage count ~3× — the measured win was
    2.8s → 1.0s at sf0.1, and at 100 TB three narrow exchanges
    collapse into one. Wide expressions are single SQL strings (the r10
    F.expr rule: py4j Column chains charge driver milliseconds per
    node). Bit-identical to the ntile windows the oracle runs
    (pinned in tests/test_wave19.py). Recency orders
    most-recent-first so 4 = best; datediff negation is an
    order-reversing injection on dates, so (neg_days, custkey) ASC
    == (last_dt DESC, custkey); long/decimal → double casts are
    order-preserving injections at these magnitudes, and the exact
    NTILE arithmetic (integer DIV on the 1-row broadcast count)
    matches ordering.ntile_from_rank_cols.
    """
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("mon"),
        )
        .selectExpr(
            "o_custkey",
            "freq",
            "CAST(-datediff(last_dt, DATE'1992-01-01') AS BIGINT) AS _neg_days",
            "CAST(mon AS DOUBLE) AS _mon_d",
        )
    )
    stats = per_cust.selectExpr(
        "COUNT(1) AS _n",
        "MIN(_neg_days) AS _r_lo", "MAX(_neg_days) AS _r_hi",
        "MIN(freq) AS _f_lo", "MAX(freq) AS _f_hi",
        "MIN(_mon_d) AS _m_lo", "MAX(_mon_d) AS _m_hi",
    )
    withb = per_cust.crossJoin(F.broadcast(stats))

    def bsql(col: str, lo: str, hi: str) -> str:
        # monotone coarsening: uniform-width range buckets over the
        # metric domain (collisions only merge adjacent buckets,
        # never reorder — the per-bucket sort still uses the exact
        # value). Degenerate single-value domain gets width 1.
        return (
            f"CAST(least(floor((CAST({col} AS DOUBLE) - CAST({lo} AS DOUBLE)) / "
            f"(CASE WHEN CAST({hi} AS DOUBLE) = CAST({lo} AS DOUBLE) THEN 1.0D "
            f"ELSE (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) / 256.0D END)), "
            f"255L) AS BIGINT)"
        )

    melt = withb.selectExpr(
        "o_custkey",
        "_n",
        "explode(array("
        f"struct('r' AS _m, CAST(_neg_days AS DOUBLE) AS _v, {bsql('_neg_days', '_r_lo', '_r_hi')} AS _b),"
        f"struct('f' AS _m, CAST(freq AS DOUBLE) AS _v, {bsql('freq', '_f_lo', '_f_hi')} AS _b),"
        f"struct('m' AS _m, _mon_d AS _v, {bsql('_mon_d', '_m_lo', '_m_hi')} AS _b)"
        ")) AS x",
    ).selectExpr("o_custkey", "_n", "x._m AS _m", "x._v AS _v", "x._b AS _b")
    counts = melt.groupBy("_m", "_b").agg(F.count(F.lit(1)).alias("_ord_n"))
    woff = Window.partitionBy("_m").orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "_m", "_b", F.coalesce(F.sum("_ord_n").over(woff), F.lit(0)).alias("_ord_off")
    )
    local = Window.partitionBy("_m", "_b").orderBy("_v", "o_custkey")
    ranked = (
        melt.withColumn("_ord_local", F.row_number().over(local))
        .join(F.broadcast(offs), ["_m", "_b"])
        .selectExpr(
            "o_custkey", "_m", "CAST(_ord_local + _ord_off AS BIGINT) AS pos", "_n"
        )
    )
    # exact NTILE(4) from the global rank (ntile_from_rank_cols's
    # integer-DIV rule, inlined as SQL)
    ntile = (
        "CASE WHEN _n DIV 4 = 0 THEN pos "
        "WHEN pos <= (_n % 4) * (_n DIV 4 + 1) THEN (pos - 1) DIV (_n DIV 4 + 1) + 1 "
        "ELSE (_n % 4) + (pos - 1 - (_n % 4) * (_n DIV 4 + 1)) DIV (_n DIV 4) + 1 END"
    )
    scored = (
        ranked.selectExpr("o_custkey", "_m", f"({ntile}) AS _t")
        .groupBy("o_custkey")
        .agg(
            F.expr("CAST(max(CASE WHEN _m = 'r' THEN 5 - _t END) AS BIGINT)").alias(
                "r_score"
            ),
            F.expr("CAST(max(CASE WHEN _m = 'f' THEN _t END) AS BIGINT)").alias(
                "f_score"
            ),
            F.expr("CAST(max(CASE WHEN _m = 'm' THEN _t END) AS BIGINT)").alias(
                "m_score"
            ),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


Q_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_dt, COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS mon
  FROM orders GROUP BY 1),
scored AS (
  SELECT o_custkey,
         5 - NTILE(4) OVER (ORDER BY last_dt DESC, o_custkey) AS r_score,
         NTILE(4) OVER (ORDER BY freq, o_custkey) AS f_score,
         NTILE(4) OVER (ORDER BY mon, o_custkey) AS m_score
  FROM per_cust)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
FROM scored GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ------------------------------------------ Wilson-bound ranking


def q_wilson_ranking(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 users by the Wilson-score lower bound of click share.

    p̂ = clicks/(clicks+views); the z=1.96 lower bound penalizes small
    samples so thin high-rate users rank below fat moderate ones. One
    conditional-count aggregate per user; the bound is a single IEEE
    expression (÷, ·, one sqrt) over identical integer inputs, written
    with the same tree shape in both engines.
    """
    ev = load_table(spark, sf, "events")
    counts = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    z2 = F.lit(1.96) * F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("clicks").cast("double") / n
    lb = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.lit(1.96)
        * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    return (
        counts.select(
            "user_id",
            "clicks",
            "n",
            F.round(p, 9).alias("p_hat_r9"),
            F.round(lb, 9).alias("wilson_lb_r9"),
        )
        .orderBy(F.col("wilson_lb_r9").desc(), "user_id")
        .limit(10)
    )


Q_WILSON_RANKING_SQL = """
WITH counts AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         COUNT(*) AS n
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1)
SELECT user_id, clicks, n,
       ROUND(CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_hat_r9,
       ROUND(
         (CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
          + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
          - 1.96 * sqrt((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
                         * (1.0 - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
                         + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                        / CAST(n AS DOUBLE)))
         / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 9) AS wilson_lb_r9
FROM counts
ORDER BY wilson_lb_r9 DESC, user_id LIMIT 10
"""


# ---------------------------------------- day-of-week seasonality


def q_dow_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonal profile of daily event value: centered
    7-day moving-average trend (full windows only — edge days with a
    partial window are excluded, the classical convention), residual
    = daily − trend, seasonal = per-ISO-dow mean residual.

    Daily totals are exact decimal sums; the MA is (exact 7-day
    decimal sum)/7.0 in double; residual and its per-dow mean follow
    the DECIMAL(38,6) contract. Everything after the day rollup runs
    on the ~|days| table — window and agg are negligible at any
    corpus scale.
    """
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(_dec(F.col("value"))).alias("s"))
    wma = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        F.col("s").cast("double").alias("total"),
        (F.sum("s").over(wma).cast("double") / F.lit(7.0)).alias("ma"),
        F.count(F.lit(1)).over(wma).alias("wn"),
    ).where(F.col("wn") == 7)
    resid = trended.select(
        "day", (F.col("total") - F.col("ma")).alias("r")
    )
    return (
        resid.groupBy(
            (F.weekday(F.to_date("day")) + F.lit(1)).cast("long").alias("isodow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum(_dec(F.col("r"))).cast("double") / F.count(F.lit(1)), 9
            ).alias("seasonal_r9"),
        )
        .orderBy("isodow")
    )


Q_DOW_SEASONALITY_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS s
  FROM events GROUP BY 1),
trended AS (
  SELECT day, CAST(s AS DOUBLE) AS total,
         CAST(SUM(s) OVER w AS DOUBLE) / 7.0 AS ma,
         COUNT(*) OVER w AS wn
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
resid AS (
  SELECT day, total - ma AS r FROM trended WHERE wn = 7)
SELECT CAST(isodow(CAST(day AS DATE)) AS BIGINT) AS isodow,
       COUNT(*) AS n_days,
       ROUND(CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 9) AS seasonal_r9
FROM resid GROUP BY 1 ORDER BY 1
"""


_WEEK_US = 7 * 86_400_000_000


# ------------------------------------------- windowed funnel


def q_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Deadline funnel: signup → click ≤7d later → purchase ≤7d after
    the click. One pass builds per-user min signup; two conditional
    min-aggregates chain the stages (each a map-side-combinable
    shuffle on user_id, no self-join of the full event log)."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    signup = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("t0")
    )
    click = (
        ev.where(F.col("event_type") == "click")
        .join(signup, "user_id")
        .where((F.col("us") > F.col("t0")) & (F.col("us") <= F.col("t0") + _WEEK_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .where((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + _WEEK_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    n0, n1, n2 = signup.count(), click.count(), purchase.count()
    return spark.createDataFrame(
        [(n0, n1, n2)], "n_signup long, n_click_7d long, n_purchase_7d long"
    ).select(
        "n_signup",
        "n_click_7d",
        "n_purchase_7d",
        F.when(
            F.col("n_signup") > 0,
            F.round(
                F.col("n_click_7d").cast("double")
                / F.col("n_signup").cast("double"),
                9,
            ),
        ).alias("rate_click_r9"),
        F.when(
            F.col("n_click_7d") > 0,
            F.round(
                F.col("n_purchase_7d").cast("double")
                / F.col("n_click_7d").cast("double"),
                9,
            ),
        ).alias("rate_purchase_r9"),
    )


Q_FUNNEL_WINDOWED_SQL = """
WITH signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1),
click AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
  FROM events e JOIN signup s ON s.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > s.t0 AND epoch_us(e.ts) <= s.t0 + 604800000000
  GROUP BY 1),
purchase AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN click c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > c.t1 AND epoch_us(e.ts) <= c.t1 + 604800000000
  GROUP BY 1),
n AS (SELECT (SELECT COUNT(*) FROM signup) AS n0,
             (SELECT COUNT(*) FROM click) AS n1,
             (SELECT COUNT(*) FROM purchase) AS n2)
SELECT n0 AS n_signup, n1 AS n_click_7d, n2 AS n_purchase_7d,
       ROUND(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS rate_click_r9,
       ROUND(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS rate_purchase_r9
FROM n
"""


# ------------------------------------------- peak concurrency


def q_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """One row: peak concurrent intervals, first instant it occurs,
    interval count.

    Sweep-line: boundaries are net-summed PER INSTANT first (hash agg
    — the compression step), then the global running count comes from
    the two-phase distributed prefix sum, fully IN-PLAN: 256
    time-range buckets (monotone in t), per-bucket local cumsum
    windows in parallel, bucket offsets from a window over the
    ≤256-row per-bucket totals aggregate (the bounded-domain
    single-partition case the plan-hygiene gate permits), broadcast
    back. Long addition is associative ⇒ bit-identical to the naive
    global cumsum window, which would funnel every distinct instant
    (≈ rows at warehouse scale) through ONE task. Zero driver
    round-trips — interval count, time-domain stats, and offsets all
    ride broadcast 1-row/256-row aggregates in the same lazy plan.
    Durations are integer micros (value carries ≤6 decimals, so
    value·10⁶ is exact).
    """
    ev = load_table(spark, sf, "events").select(
        F.unix_micros("ts").alias("t0"),
        (F.unix_micros("ts") + (F.col("value") * 1_000_000).cast("long")).alias(
            "t1"
        ),
    )
    n_iv = ev.agg(F.count(F.lit(1)).alias("_n_intervals"))
    bounds = ev.select(F.col("t0").alias("t"), F.lit(1).alias("d")).unionByName(
        ev.select(F.col("t1").alias("t"), F.lit(-1).alias("d"))
    )
    net = bounds.groupBy("t").agg(F.sum("d").alias("nd"))
    stats = net.agg(F.min("t").alias("_lo"), F.max("t").alias("_hi"))
    w = (F.col("_hi") - F.col("_lo")).cast("double") / F.lit(256.0)
    width = F.when(w == 0.0, F.lit(1.0)).otherwise(w)
    bucketed = net.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.least(
            F.floor((F.col("t") - F.col("_lo")).cast("double") / width),
            F.lit(255),
        ).cast("long"),
    )
    totals = bucketed.groupBy("_bkt").agg(F.sum("nd").alias("_bt"))
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_bkt", F.coalesce(F.sum("_bt").over(woff), F.lit(0)).alias("_off")
    )
    wloc = Window.partitionBy("_bkt").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = (
        bucketed.withColumn("_loc", F.sum("nd").over(wloc))
        .join(F.broadcast(offs), "_bkt")
        .select("t", (F.col("_loc") + F.col("_off")).cast("long").alias("cur"))
    )
    peak = swept.orderBy(F.col("cur").desc(), "t").limit(1)
    return peak.crossJoin(F.broadcast(n_iv)).select(
        F.col("cur").alias("peak_concurrency"),
        F.col("t").alias("at_us"),
        F.col("_n_intervals").cast("long").alias("n_intervals"),
    )


Q_PEAK_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT epoch_us(ts) AS t0,
         epoch_us(ts) + CAST(value * 1000000 AS BIGINT) AS t1
  FROM events),
bounds AS (
  SELECT t0 AS t, 1 AS d FROM iv
  UNION ALL
  SELECT t1 AS t, -1 AS d FROM iv),
net AS (SELECT t, CAST(SUM(d) AS BIGINT) AS nd FROM bounds GROUP BY 1),
swept AS (
  SELECT t, CAST(SUM(nd) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
  FROM net)
SELECT cur AS peak_concurrency, t AS at_us,
       (SELECT COUNT(*) FROM iv) AS n_intervals
FROM swept ORDER BY cur DESC, t LIMIT 1
"""


# ------------------------------------------- rolling correlation


def q_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """7-day rolling Pearson r between daily click and purchase value
    totals. Day rollup is the only corpus-scale stage; the rolling
    window rides the ~|days| table. Decimal partial sums keep the
    window aggregates exact; the correlation assembles in the
    FMA-safe subform and degenerate windows are dropped by an
    identical predicate in both engines."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(
            _dec(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0))
        ).alias("x"),
        F.sum(
            _dec(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            )
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("x")).over(w).cast("double").alias("sx"),
        F.sum(F.col("y")).over(w).cast("double").alias("sy"),
        F.sum(_dec(F.col("x") * F.col("x"))).over(w).cast("double").alias("sxx"),
        F.sum(_dec(F.col("y") * F.col("y"))).over(w).cast("double").alias("syy"),
        F.sum(_dec(F.col("x") * F.col("y"))).over(w).cast("double").alias("sxy"),
    ).where(F.col("n") == 7)
    nn = F.col("n").cast("double")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    vy = F.col("syy") - F.col("sy") * F.col("sy") / nn
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nn
    return (
        win.where((vx > 0) & (vy > 0))
        .select(
            "day",
            F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 9).alias("corr_r9"),
        )
        .orderBy("day")
    )


Q_ROLLING_CORR_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS x,
         SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS y
  FROM events GROUP BY 1),
win AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS DOUBLE) AS sx,
         CAST(SUM(y) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT day,
       ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
             / (sqrt(sxx - sx * sx / CAST(n AS DOUBLE))
                * sqrt(syy - sy * sy / CAST(n AS DOUBLE))), 9) AS corr_r9
FROM win
WHERE n = 7
  AND (sxx - sx * sx / CAST(n AS DOUBLE)) > 0
  AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0
ORDER BY day
"""


# ------------------------------------------- weighted median


def q_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation weighted median of customer lifetime spend (weight =
    order count): the first customer, in (spend, custkey) order, whose
    cumulative weight reaches half the nation's total. One per-nation
    ordered window over the already-aggregated customer table."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("x"),
            F.count(F.lit(1)).alias("w"),
        )
    )
    wcum = (
        Window.partitionBy("c_nationkey")
        .orderBy("x", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("c_nationkey")
    ranked = spend.select(
        "c_nationkey",
        "x",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
        F.count(F.lit(1)).over(wtot).alias("n_cust"),
    )
    crossed = ranked.where(F.col("cw") * 2 >= F.col("tw"))
    wfirst = Window.partitionBy("c_nationkey").orderBy("cw", "x")
    return (
        crossed.withColumn("rn", F.row_number().over(wfirst))
        .where(F.col("rn") == 1)
        .select(
            "c_nationkey",
            "n_cust",
            F.col("tw").alias("total_weight"),
            F.col("x").cast("double").alias("weighted_median_spend"),
        )
        .orderBy("c_nationkey")
    )


Q_WEIGHTED_MEDIAN_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_nationkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS x,
         COUNT(*) AS w
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT c_nationkey, x,
         CAST(SUM(w) OVER (PARTITION BY c_nationkey ORDER BY x, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY c_nationkey) AS BIGINT) AS tw,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_cust
  FROM spend),
crossed AS (
  SELECT c_nationkey, x, cw, tw, n_cust,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cw, x) AS rn
  FROM ranked WHERE cw * 2 >= tw)
SELECT c_nationkey, n_cust, tw AS total_weight,
       CAST(x AS DOUBLE) AS weighted_median_spend
FROM crossed WHERE rn = 1 ORDER BY c_nationkey
"""


# ------------------------------------------- A/B readout


def q_ab_readout(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment decision row: per-arm user-conversion (q_ab_assign's
    md5-nibble split), absolute and relative lift, pooled
    two-proportion z. One conditional aggregate; the statistic is a
    single IEEE expression over identical integer inputs."""
    ev = load_table(spark, sf, "events")
    nib = F.substring(
        F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 1
    )
    arm = F.when(
        nib.isin("0", "1", "2", "3", "4", "5", "6", "7"), "control"
    ).otherwise("treatment")
    per_user = (
        ev.withColumn("arm", arm)
        .groupBy("arm", "user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    c_ = arms.where(F.col("arm") == "control").select(
        F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    t_ = arms.where(F.col("arm") == "treatment").select(
        F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    j = c_.crossJoin(t_)
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (p1 - p0) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    # degenerate-arm guards: rel lift is undefined at p0=0 and z at
    # pooled p ∈ {0,1} — NULL in both engines rather than ANSI error
    # here / IEEE inf in the oracle.
    return j.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 9).alias("p_control_r9"),
        F.round(p1, 9).alias("p_treatment_r9"),
        F.round(p1 - p0, 9).alias("abs_lift_r9"),
        F.when(F.col("c0") > 0, F.round((p1 - p0) / p0, 9)).alias("rel_lift_r9"),
        F.when(
            (F.col("c0") + F.col("c1") > 0)
            & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1")),
            F.round(z, 9),
        ).alias("z_r9"),
    )


Q_AB_READOUT_SQL = """
WITH per_user AS (
  SELECT CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 'control'
         ELSE 'treatment' END AS arm,
         user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM per_user GROUP BY 1),
j AS (
  SELECT c0.n AS n0, c0.c AS c0, t1.n AS n1, t1.c AS c1
  FROM (SELECT n, c FROM arms WHERE arm = 'control') c0,
       (SELECT n, c FROM arms WHERE arm = 'treatment') t1)
SELECT n0, c0, n1, c1,
       ROUND(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS p_control_r9,
       ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS p_treatment_r9,
       ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS abs_lift_r9,
       CASE WHEN c0 > 0 THEN
         ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 9) END AS rel_lift_r9,
       CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
         ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 9) END AS z_r9
FROM j
"""


# ------------------------------------------- triangle count


def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Graph motifs on the thresholded nation trade graph: undirected
    edges where the customer-nation ↔ supplier-nation lineitem weight
    reaches its 80th percentile. Triangles via the canonical ordered
    three-way edge join (a<b<c — each triangle counted once); wedges
    from degrees; global clustering = 3T/W. The edge build is the
    corpus-scale stage (the same co-keyed join as q_graph_rank); the
    motif joins run on the ≤|nations|² edge table."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    direct = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("a") < F.col("b"))
    )
    thr = direct.agg(F.expr("percentile(w, 0.8)")).first()[0]
    if thr is None:
        # empty graph: nothing to count
        return spark.createDataFrame(
            [],
            "n_nodes bigint, n_edges bigint, n_triangles bigint,"
            " n_wedges bigint, clustering_r9 double",
        )
    edges = direct.where(F.col("w") >= F.lit(float(thr))).select("a", "b")
    edges = edges.transform(materialize)
    n_edges = edges.count()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_nodes = deg.count()
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long")
    ).first()[0]
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .count()
    )
    cc = (3.0 * tri / wedges) if wedges else 0.0
    return spark.createDataFrame(
        [(n_nodes, n_edges, tri, wedges, round(cc, 9))],
        "n_nodes long, n_edges long, n_triangles long, n_wedges long, clustering_r9 double",
    )


Q_TRIANGLE_COUNT_SQL = """
WITH direct AS MATERIALIZED (
  SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
         GREATEST(c.c_nationkey, s.s_nationkey) AS b,
         COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
  HAVING LEAST(c.c_nationkey, s.s_nationkey) < GREATEST(c.c_nationkey, s.s_nationkey)),
thr AS (SELECT quantile_cont(w, 0.8) AS t FROM direct),
edges AS MATERIALIZED (
  SELECT a, b FROM direct, thr WHERE w >= t),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
  GROUP BY 1),
tri AS (
  SELECT COUNT(*) AS t
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
agg AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM edges) AS n_edges,
         (SELECT t FROM tri) AS n_triangles,
         (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       ROUND(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 9) AS clustering_r9
FROM agg
"""


# ------------------------------------------- rolling z-score


def q_rolling_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal anomaly days: daily per-type value totals vs the
    TRAILING 7 days (excluding today); |z| > 2 reported. Exact
    decimal window sums, FMA-safe variance subform, degenerate
    windows filtered identically."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(_dec(F.col("value"))).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "day",
        F.col("x").cast("double").alias("xd"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("double").alias("s"),
        F.sum(_dec(F.col("x") * F.col("x"))).over(w).cast("double").alias("sxx"),
    ).where(F.col("n") == 7)
    nn = F.col("n").cast("double")
    var = (F.col("sxx") - F.col("s") * F.col("s") / nn) / (nn - F.lit(1.0))
    z = (F.col("xd") - F.col("s") / nn) / F.sqrt(var)
    return (
        win.where(var > 0)
        .select(
            "event_type",
            "day",
            F.round("xd", 6).alias("x_r6"),
            F.round(z, 9).alias("z_r9"),
        )
        .where(F.abs(F.col("z_r9")) > 2.0)
        .orderBy("event_type", "day")
    )


Q_ROLLING_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS x
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, day, CAST(x AS DOUBLE) AS xd,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
scored AS (
  SELECT event_type, day, xd, n, s, sxx,
         (sxx - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var
  FROM win WHERE n = 7)
SELECT event_type, day, ROUND(xd, 6) AS x_r6,
       ROUND((xd - s / CAST(n AS DOUBLE)) / sqrt(var), 9) AS z_r9
FROM scored
WHERE var > 0 AND ABS(ROUND((xd - s / CAST(n AS DOUBLE)) / sqrt(var), 9)) > 2.0
ORDER BY event_type, day
"""


# ------------------------------------------- last-touch attribution


def q_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """One row: purchases attributed to a prior same-user click,
    unattributed purchases, and the attribution-gap stats. The carry
    uses last(ignorenulls) over the per-user (ts, event_id) order —
    one window pass, no event-log self-join."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "last_click_us",
        F.last(
            F.when(F.col("event_type") == "click", F.col("us")), ignorenulls=True
        ).over(w),
    )
    purchases = carried.where(F.col("event_type") == "purchase").select(
        (F.col("us") - F.col("last_click_us")).alias("gap_us")
    )
    return purchases.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("gap_us").isNotNull().cast("long")).alias("n_attributed"),
        F.sum(F.col("gap_us").isNull().cast("long")).alias("n_unattributed"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 3).alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


Q_ATTRIBUTION_SQL = """
WITH carried AS (
  SELECT event_type,
         epoch_us(ts) - LAST_VALUE(CASE WHEN event_type = 'click'
                                        THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gap_us
  FROM events)
SELECT COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN gap_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(SUM(CASE WHEN gap_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unattributed,
       ROUND(quantile_cont(gap_us, 0.5), 3) AS p50_gap_us,
       MAX(gap_us) AS max_gap_us
FROM carried WHERE event_type = 'purchase'
"""


# --------------------------------------- streamed attribution


def q_stream_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_attribution (one summary row, same oracle). State
    per batch: attributed-gap rows + orphan purchases + per-(user,
    chunk) last click — all per-batch_id overwritten (replay-safe).
    The read-side stitch attributes each orphan to the max last-click
    over strictly earlier chunks (time-range chunks make that the
    true global predecessor)."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    work = tempfile.mkdtemp(prefix="stream_attr_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/state"

    def sink(batch: DataFrame, batch_id: int) -> None:
        b = batch.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            day_chunk_expr().alias("chunk"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = b.withColumn(
            "last_click_us",
            F.last(
                F.when(F.col("event_type") == "click", F.col("us")),
                ignorenulls=True,
            ).over(w),
        )
        purchases = carried.where(F.col("event_type") == "purchase")
        purchases.where(F.col("last_click_us").isNotNull()).select(
            (F.col("us") - F.col("last_click_us")).alias("gap_us")
        ).write.mode("overwrite").parquet(f"{store}/gaps/batch_{batch_id:05d}")
        # event_id rides along so two same-instant purchases stay two
        # rows through the read-side groupBy
        purchases.where(F.col("last_click_us").isNull()).select(
            "user_id", "event_id", "chunk", "us"
        ).write.mode("overwrite").parquet(
            f"{store}/orphans/batch_{batch_id:05d}"
        )
        b.where(F.col("event_type") == "click").groupBy(
            "user_id", "chunk"
        ).agg(F.max("us").alias("last_click_us")).write.mode(
            "overwrite"
        ).parquet(f"{store}/clicks/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    opt = {"recursiveFileLookup": "true"}
    gaps = (
        spark.read.schema("gap_us long").options(**opt).parquet(f"{store}/gaps")
    )
    orphans = (
        spark.read.schema("user_id long, event_id long, chunk long, us long")
        .options(**opt)
        .parquet(f"{store}/orphans")
    )
    clicks = (
        spark.read.schema("user_id long, chunk long, last_click_us long")
        .options(**opt)
        .parquet(f"{store}/clicks")
    )
    resolved = (
        orphans.alias("o")
        .join(
            clicks.alias("c"),
            (F.col("o.user_id") == F.col("c.user_id"))
            & (F.col("c.chunk") < F.col("o.chunk")),
            "left",
        )
        .groupBy("o.user_id", "o.event_id", "o.chunk", "o.us")
        .agg(F.max("c.last_click_us").alias("prev_click_us"))
        .select((F.col("o.us") - F.col("prev_click_us")).alias("gap_us"))
    )
    all_gaps = gaps.unionByName(resolved)
    return all_gaps.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("gap_us").isNotNull().cast("long")).alias("n_attributed"),
        F.sum(F.col("gap_us").isNull().cast("long")).alias("n_unattributed"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 3).alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# ------------------------------------------- composed forecast


def q_seasonal_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """7 rows: (future day index 1..7, isodow, forecast_r9) — linear
    trend over the observed daily totals plus the dow seasonal index.

    Trend: exact-decimal OLS on (i − ī) where i is the day index — the
    FMA-safe subform, like q_linear_trend. Seasonal: per-isodow mean
    of (total − trend(i)) residuals. Forecast(i) = trend(i) +
    seasonal(dow(i)). Every stage after the day rollup runs on the
    ~|days| table; all arithmetic is decimal-exact or IEEE-safe on
    identical inputs.
    """
    ev = load_table(spark, sf, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.sum(_dec(F.col("value"))).alias("s"))
        .select(
            "d",
            F.col("s").cast("double").alias("y"),
            F.row_number()
            .over(Window.orderBy("d"))
            .cast("long")
            .alias("i"),
        )
    )
    daily = daily.transform(materialize)
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").cast("double").alias("si"),
        F.sum(_dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(F.col("i") * F.col("i")).cast("double").alias("sii"),
        F.sum(_dec(F.col("i") * F.col("y"))).cast("double").alias("siy"),
        F.max("d").alias("dmax"),
    ).first()
    n = float(mo["n"])
    den = (mo["sii"] - mo["si"] * mo["si"] / n) if n else 0.0
    if den == 0.0:
        # empty or single-day series: no trend to fit
        return spark.createDataFrame(
            [], "h long, isodow long, forecast_r9 double"
        )
    slope = (mo["siy"] - mo["si"] * mo["sy"] / n) / den
    intercept = mo["sy"] / n - slope * (mo["si"] / n)
    trend = F.lit(intercept) + F.lit(slope) * F.col("i").cast("double")
    seasonal = (
        daily.select(
            (F.weekday("d") + F.lit(1)).cast("long").alias("isodow"),
            (F.col("y") - trend).alias("r"),
        )
        .groupBy("isodow")
        .agg(
            (F.sum(_dec(F.col("r"))).cast("double") / F.count(F.lit(1))).alias(
                "sz"
            )
        )
    )
    future = spark.createDataFrame(
        [(k,) for k in range(1, 8)], "k long"
    ).select(
        "k",
        F.date_add(F.lit(mo["dmax"]), F.col("k").cast("int")).alias("fd"),
        (F.lit(int(mo["n"])) + F.col("k")).alias("fi"),
    )
    out = future.select(
        "k",
        (F.weekday("fd") + F.lit(1)).cast("long").alias("isodow"),
        (
            F.lit(intercept) + F.lit(slope) * F.col("fi").cast("double")
        ).alias("tr"),
    ).join(F.broadcast(seasonal), "isodow", "left")
    return out.select(
        F.col("k").alias("h"),
        "isodow",
        F.round(F.col("tr") + F.coalesce(F.col("sz"), F.lit(0.0)), 9).alias(
            "forecast_r9"
        ),
    ).orderBy("h")


Q_SEASONAL_FORECAST_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(38,6))) AS s
  FROM events GROUP BY 1),
idx AS (
  SELECT d, CAST(s AS DOUBLE) AS y,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
  FROM daily),
mo AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(i) AS DOUBLE) AS si,
         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(i * i) AS DOUBLE) AS sii,
         CAST(SUM(CAST(i * y AS DECIMAL(38,6))) AS DOUBLE) AS siy,
         MAX(d) AS dmax
  FROM idx),
fit AS (
  SELECT n, dmax,
         (siy - si * sy / CAST(n AS DOUBLE)) / (sii - si * si / CAST(n AS DOUBLE)) AS slope,
         sy / CAST(n AS DOUBLE)
           - ((siy - si * sy / CAST(n AS DOUBLE)) / (sii - si * si / CAST(n AS DOUBLE)))
             * (si / CAST(n AS DOUBLE)) AS intercept
  FROM mo),
seasonal AS (
  SELECT CAST(isodow(d) AS BIGINT) AS isodow,
         CAST(SUM(CAST(y - (intercept + slope * CAST(i AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(*) AS sz
  FROM idx, fit GROUP BY 1),
future AS (
  SELECT k, dmax + CAST(k AS INT) AS fd, n + k AS fi
  FROM fit, (SELECT unnest(range(1, 8)) AS k))
SELECT CAST(k AS BIGINT) AS h,
       CAST(isodow(fd) AS BIGINT) AS isodow,
       ROUND((SELECT intercept FROM fit)
             + (SELECT slope FROM fit) * CAST(fi AS DOUBLE)
             + COALESCE((SELECT sz FROM seasonal s WHERE s.isodow = CAST(isodow(fd) AS BIGINT)), 0.0), 9)
         AS forecast_r9
FROM future ORDER BY h
"""


# --------------------------------------- 2-pass exact median


def q_exact_median_2pass(spark: SparkSession, sf: str) -> DataFrame:
    """One row: (n, k, exact_median) — the k-th smallest event value
    (lower median), found by range-bucket counting + a single-bucket
    sort. Only the answer is contracted, so the oracle is free to
    brute-force it (ORDER BY … OFFSET); the bucketing is the Spark
    side's scale strategy, not part of the semantics."""
    ev = load_table(spark, sf, "events").select("value")
    lo, hi, n = ev.agg(F.min("value"), F.max("value"), F.count(F.lit(1))).first()
    if int(n) == 0:
        # empty series: no median
        return spark.createDataFrame([], "n long, k long, exact_median double")
    k = (int(n) + 1) // 2
    span = float(hi) - float(lo)
    if span <= 0.0:
        return spark.createDataFrame(
            [(int(n), k, float(lo))], "n long, k long, exact_median double"
        )
    nb = 1024
    bucket = F.least(
        F.lit(nb - 1),
        F.floor((F.col("value") - F.lit(float(lo))) * nb / F.lit(span)).cast(
            "int"
        ),
    )
    counts = {
        r["b"]: r["c"]
        for r in ev.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    acc = 0
    b_star, r_off = nb - 1, k
    for b in range(nb):
        c = counts.get(b, 0)
        if acc + c >= k:
            b_star, r_off = b, k - acc
            break
        acc += c
    wr = Window.orderBy("value")
    med = (
        ev.where(bucket == b_star)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == r_off)
        .first()["value"]
    )
    return spark.createDataFrame(
        [(int(n), k, float(med))], "n long, k long, exact_median double"
    )


Q_EXACT_MEDIAN_2PASS_SQL = """
WITH n AS (SELECT COUNT(*) AS n, (COUNT(*) + 1) // 2 AS k FROM events)
SELECT n.n AS n, CAST(n.k AS BIGINT) AS k,
       (SELECT value FROM events ORDER BY value
        LIMIT 1 OFFSET (SELECT k - 1 FROM n)) AS exact_median
FROM n
"""


# --------------------------------------- KS two-sample statistic


def q_ks_statistic(spark: SparkSession, sf: str) -> DataFrame:
    """One row: (n_click, n_purchase, d_r9, at_value) — the
    two-sample KS distance between the click and purchase value
    distributions, evaluated on pooled distinct values (exact, tie-
    correct). Value-level compression (the groupBy) happens before
    the ordered cumulative window; at warehouse scale that window is
    the two-phase prefix sum (packing.py shape) over the compressed
    value domain."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    counts = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("ca"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("cb"),
    )
    tot = ev.agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("na"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("nb"),
    )
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "value",
        F.sum("ca").over(wcum).alias("cca"),
        F.sum("cb").over(wcum).alias("ccb"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("cca").cast("double") / F.col("na").cast("double")
            - F.col("ccb").cast("double") / F.col("nb").cast("double")
        ).alias("d"),
        "na",
        "nb",
    )
    top = scored.orderBy(F.col("d").desc(), "value").limit(1)
    return top.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_purchase"),
        F.round("d", 9).alias("d_r9"),
        F.round("value", 6).alias("at_value_r6"),
    )


Q_KS_STATISTIC_SQL = """
WITH ev AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('click', 'purchase')),
counts AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM ev GROUP BY 1),
tot AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM ev),
cum AS (
  SELECT value,
         CAST(SUM(ca) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cca,
         CAST(SUM(cb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccb
  FROM counts),
scored AS (
  SELECT value,
         ABS(CAST(cca AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(ccb AS DOUBLE) / CAST(nb AS DOUBLE)) AS d,
         na, nb
  FROM cum, tot)
SELECT na AS n_click, nb AS n_purchase,
       ROUND(d, 9) AS d_r9, ROUND(value, 6) AS at_value_r6
FROM scored ORDER BY d DESC, value LIMIT 1
"""


# ------------------------------------------------ streamed KS


def q_stream_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_ks_statistic (same oracle): per-batch (value, ca,
    cb) counts merge by addition; the final cumulative scan runs on
    the merged value domain."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "event_type", "value")
    work = tempfile.mkdtemp(prefix="stream_ks_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/counts"

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.where(F.col("event_type").isin("click", "purchase")).groupBy(
            "value"
        ).agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("ca"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("cb"),
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    counts = (
        spark.read.schema("value double, ca long, cb long")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("value")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "value",
        F.sum("ca").over(wcum).alias("cca"),
        F.sum("cb").over(wcum).alias("ccb"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("cca").cast("double") / F.col("na").cast("double")
            - F.col("ccb").cast("double") / F.col("nb").cast("double")
        ).alias("d"),
        "na",
        "nb",
    )
    top = scored.orderBy(F.col("d").desc(), "value").limit(1)
    return top.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_purchase"),
        F.round("d", 9).alias("d_r9"),
        F.round("value", 6).alias("at_value_r6"),
    )


# ------------------------------------------- fulfillment SLA


def q_ship_lag_sla(spark: SparkSession, sf: str) -> DataFrame:
    """Per order month: lineitem ship-lag days p50/p90 (r9) and the
    fraction shipped within 30 days. The join is the standard
    co-keyed orderkey shuffle; everything after is a month-keyed
    hash agg."""
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
    )
    return (
        lag.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 9).alias("p50_r9"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 9).alias("p90_r9"),
            F.round(
                F.sum((F.col("lag_days") <= 30).cast("long")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("fill_30d_r9"),
        )
        .orderBy("month")
    )


Q_SHIP_LAG_SLA_SQL = """
WITH lag AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT month, COUNT(*) AS n,
       ROUND(quantile_cont(lag_days, 0.5), 9) AS p50_r9,
       ROUND(quantile_cont(lag_days, 0.9), 9) AS p90_r9,
       ROUND(CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS fill_30d_r9
FROM lag GROUP BY month ORDER BY month
"""


# ------------------------------------------- calendar heatmap


def q_calendar_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """isodow × hour event counts with share-of-total — one hash agg
    over a 168-key space plus a broadcast scalar for the share."""
    ev = load_table(spark, sf, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("long").alias("isodow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "isodow",
            "hour",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"), 9
            ).alias("share_r9"),
        )
        .orderBy("isodow", "hour")
    )


Q_CALENDAR_HEATMAP_SQL = """
WITH cells AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS isodow,
         CAST(hour(ts) AS BIGINT) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
SELECT isodow, hour, n,
       ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share_r9
FROM cells, tot ORDER BY isodow, hour
"""


# ------------------------------------------- audience composition


def q_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: active users, new (first-seen today), returning, and
    the new share. Per-user first-day is one hash agg; the day table
    joins it broadcast-sized."""
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    active = ev.distinct()
    first_day = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    joined = active.join(F.broadcast(first_day), "user_id")
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias(
                "new_users"
            ),
        )
        .select(
            "day",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users")).alias(
                "returning_users"
            ),
            F.round(
                F.col("new_users").cast("double")
                / F.col("active_users").cast("double"),
                9,
            ).alias("new_share_r9"),
        )
        .orderBy("day")
    )


Q_NEW_VS_RETURNING_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events),
first_day AS (
  SELECT user_id, MIN(day) AS first_day FROM active GROUP BY 1),
joined AS (
  SELECT a.day, a.user_id, f.first_day
  FROM active a JOIN first_day f ON f.user_id = a.user_id)
SELECT day,
       COUNT(*) AS active_users,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       COUNT(*) - CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
       ROUND(CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS new_share_r9
FROM joined GROUP BY day ORDER BY day
"""


# ------------------------------------------- repeat purchase cycle


def q_repeat_purchase_cycle(spark: SparkSession, sf: str) -> DataFrame:
    """One row: buyers, repeat buyers, repeat gaps count, and the
    cycle-length percentiles (days, r9 per determinism rule 8 —
    day-scale values). Per-customer lag over (orderdate, orderkey) —
    one partitioned window, no self-join."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    buyers = orders.select("o_custkey").distinct().count()
    g = gaps.where(F.col("gap_days").isNotNull())
    return g.agg(
        F.lit(buyers).cast("long").alias("n_buyers"),
        F.countDistinct("o_custkey").alias("n_repeat_buyers"),
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_days, 0.5)"), 9).alias("p50_cycle_r9"),
        F.round(F.expr("percentile(gap_days, 0.9)"), 9).alias("p90_cycle_r9"),
    )


Q_REPEAT_PURCHASE_CYCLE_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders),
g AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_buyers,
       COUNT(DISTINCT o_custkey) AS n_repeat_buyers,
       COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_days, 0.5), 9) AS p50_cycle_r9,
       ROUND(quantile_cont(gap_days, 0.9), 9) AS p90_cycle_r9
FROM g
"""


# ------------------------------------------------ MoM growth


def q_mom_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month revenue growth: exact decimal monthly revenue,
    one ordered lag over the ~|months| table, ratio guarded on a
    positive prior month identically in both engines."""
    orders = load_table(spark, sf, "orders").select("o_orderdate", "o_totalprice")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
    w = Window.orderBy("month")
    out = monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        F.lag(F.col("rev").cast("double")).over(w).alias("prev"),
    )
    return out.select(
        "month",
        F.round("revenue", 6).alias("revenue_r6"),
        F.when(
            F.col("prev") > 0,
            F.round(
                (F.col("revenue") - F.col("prev")) / F.col("prev"), 9
            ),
        ).alias("mom_growth_r9"),
    ).orderBy("month")


Q_MOM_GROWTH_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders GROUP BY 1),
lagged AS (
  SELECT month, CAST(rev AS DOUBLE) AS revenue,
         LAG(CAST(rev AS DOUBLE)) OVER (ORDER BY month) AS prev
  FROM monthly)
SELECT month,
       ROUND(revenue, 6) AS revenue_r6,
       CASE WHEN prev > 0
            THEN ROUND((revenue - prev) / prev, 9) END AS mom_growth_r9
FROM lagged ORDER BY month
"""


# ------------------------------------------- DAU/MAU stickiness


def q_dau_mau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: DAU, trailing-30-day MAU, stickiness = DAU/MAU. The
    MAU side is a bounded interval join (|days| × active pairs within
    a 30-day band) + distinct count — exact rolling distinct; at
    100 TB swap the state for mergeable HLL sketches per day."""
    ev = load_table(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    )
    active = ev.distinct()
    days = active.select("d").distinct()
    dau = active.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    pairs = days.alias("g").join(
        active.alias("a"),
        (F.col("a.d") <= F.col("g.d"))
        & (F.col("a.d") >= F.date_sub(F.col("g.d"), 29)),
    )
    mau = pairs.groupBy(F.col("g.d").alias("d")).agg(
        F.countDistinct("a.user_id").alias("mau")
    )
    return (
        dau.join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"), 9
            ).alias("stickiness_r9"),
        )
        .orderBy("day")
    )


Q_DAU_MAU_STICKINESS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events),
days AS (SELECT DISTINCT d FROM active),
dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1),
mau AS (
  SELECT g.d, COUNT(DISTINCT a.user_id) AS mau
  FROM days g JOIN active a
    ON a.d <= g.d AND a.d >= g.d - INTERVAL 29 DAY
  GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau AS dau, mau.mau AS mau,
       ROUND(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 9) AS stickiness_r9
FROM dau JOIN mau ON mau.d = dau.d
ORDER BY day
"""


# ------------------------------------------------ fairness audit


def q_fairness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Per customer segment: order participation rate (customers with
    ≥1 order / customers), ratio to the overall rate, and the
    min/max disparity ratio replicated on every row (the 80%-rule
    scalar). Two hash aggregates + broadcast scalars."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf, "orders").select("o_custkey").distinct()
    flagged = cust.join(
        orders.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "has_order", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).select("c_mktsegment", F.coalesce("has_order", F.lit(0)).alias("has_order"))
    seg = flagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("has_order").cast("long").alias("n_with_orders"),
    )
    seg = seg.withColumn(
        "rate",
        F.col("n_with_orders").cast("double") / F.col("n_customers").cast("double"),
    )
    overall = flagged.agg(
        (F.sum("has_order").cast("double") / F.count(F.lit(1))).alias("orate")
    )
    bounds = seg.agg(
        F.min("rate").alias("min_rate"), F.max("rate").alias("max_rate")
    )
    return (
        seg.crossJoin(F.broadcast(overall))
        .crossJoin(F.broadcast(bounds))
        .select(
            "c_mktsegment",
            "n_customers",
            "n_with_orders",
            F.round("rate", 9).alias("rate_r9"),
            # zero-order populations: the ratios are undefined -> NULL
            # (no-op whenever anyone anywhere has an order)
            F.when(
                F.col("orate") > 0, F.round(F.col("rate") / F.col("orate"), 9)
            ).alias("vs_overall_r9"),
            F.when(
                F.col("max_rate") > 0,
                F.round(F.col("min_rate") / F.col("max_rate"), 9),
            ).alias("disparate_impact_r9"),
        )
        .orderBy("c_mktsegment")
    )


Q_FAIRNESS_AUDIT_SQL = """
WITH flagged AS (
  SELECT c.c_mktsegment,
         CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              THEN 1 ELSE 0 END AS has_order
  FROM customer c),
seg AS (
  SELECT c_mktsegment, COUNT(*) AS n_customers,
         CAST(SUM(has_order) AS BIGINT) AS n_with_orders,
         CAST(SUM(has_order) AS DOUBLE) / COUNT(*) AS rate
  FROM flagged GROUP BY 1),
overall AS (
  SELECT CAST(SUM(has_order) AS DOUBLE) / COUNT(*) AS orate FROM flagged),
bounds AS (SELECT MIN(rate) AS min_rate, MAX(rate) AS max_rate FROM seg)
SELECT c_mktsegment, n_customers, n_with_orders,
       ROUND(rate, 9) AS rate_r9,
       ROUND(rate / (SELECT orate FROM overall), 9) AS vs_overall_r9,
       ROUND((SELECT min_rate FROM bounds) / (SELECT max_rate FROM bounds), 9)
         AS disparate_impact_r9
FROM seg ORDER BY c_mktsegment
"""


# --------------------------------------- percentile contribution


def q_percentile_contribution(spark: SparkSession, sf: str) -> DataFrame:
    """One row: p90 order-value threshold, the order count above it,
    and the revenue share those tail orders carry — the percentile-
    anchored concentration statistic. Exact interpolated percentile
    (rounded per rule 8) broadcast back as a scalar predicate."""
    orders = load_table(spark, sf, "orders").select("o_totalprice")
    thr = orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 9).alias("p90")
    )
    joined = orders.crossJoin(F.broadcast(thr))
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.first("p90").alias("p90_threshold_r9"),
        F.sum((F.col("o_totalprice") >= F.col("p90")).cast("long")).alias(
            "n_tail_orders"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("o_totalprice") >= F.col("p90"), F.col("o_totalprice")
                )
                .otherwise(F.lit(0))
                .cast("decimal(38,6)")
            ).cast("double")
            / F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"),
            9,
        ).alias("tail_revenue_share_r9"),
    )


Q_PERCENTILE_CONTRIBUTION_SQL = """
WITH thr AS (
  SELECT ROUND(quantile_cont(o_totalprice, 0.9), 9) AS p90 FROM orders)
SELECT COUNT(*) AS n_orders,
       (SELECT p90 FROM thr) AS p90_threshold_r9,
       CAST(SUM(CASE WHEN o_totalprice >= (SELECT p90 FROM thr) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_orders,
       ROUND(CAST(SUM(CAST(CASE WHEN o_totalprice >= (SELECT p90 FROM thr)
                                THEN o_totalprice ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 9)
         AS tail_revenue_share_r9
FROM orders
"""


# ---------------------------------------------- cumulative reach


def q_cumulative_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Per day: new users and the cumulative unique-user count —
    first-seen days aggregate once, then one ordered cumsum over the
    ~|days| table."""
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(wcum).alias("cumulative_users"),
    ).orderBy("day")


Q_CUMULATIVE_REACH_SQL = """
WITH first_day AS (
  SELECT user_id, MIN(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
  FROM events GROUP BY 1),
per_day AS (SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day ORDER BY day
"""


# ---------------------------------------------- streamed reach


def q_stream_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_cumulative_reach (same oracle): per-batch per-user
    MIN day partials are semilattice state; the read-side merge takes
    the global min per user, then the identical day rollup."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    work = tempfile.mkdtemp(prefix="stream_reach_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/first_seen"

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.groupBy("user_id").agg(
            F.min(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
            ).alias("day")
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    first_day = (
        spark.read.schema("user_id long, day string")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("user_id")
        .agg(F.min("day").alias("day"))
    )
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(wcum).alias("cumulative_users"),
    ).orderBy("day")


# ---------------------------------------------- top movers


def q_top_movers(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 (month, segment) revenue moves by absolute MoM delta:
    month×segment decimal rollup (needs the customer dim broadcast),
    per-segment lag, rank by |Δ| with (month, segment) tiebreaks."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "c_mktsegment",
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("month")
    lagged = monthly.select(
        "month",
        "c_mktsegment",
        F.col("rev").cast("double").alias("revenue"),
        F.lag(F.col("rev").cast("double")).over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    return (
        lagged.select(
            "month",
            "c_mktsegment",
            F.round("revenue", 6).alias("revenue_r6"),
            F.round(F.col("revenue") - F.col("prev"), 6).alias("delta_r6"),
        )
        .orderBy(F.abs(F.col("delta_r6")).desc(), "month", "c_mktsegment")
        .limit(10)
    )


Q_TOP_MOVERS_SQL = """
WITH monthly AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month, c.c_mktsegment,
         SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2),
lagged AS (
  SELECT month, c_mktsegment,
         CAST(rev AS DOUBLE) AS revenue,
         LAG(CAST(rev AS DOUBLE)) OVER (PARTITION BY c_mktsegment ORDER BY month) AS prev
  FROM monthly)
SELECT month, c_mktsegment,
       ROUND(revenue, 6) AS revenue_r6,
       ROUND(revenue - prev, 6) AS delta_r6
FROM lagged WHERE prev IS NOT NULL
ORDER BY ABS(ROUND(revenue - prev, 6)) DESC, month, c_mktsegment
LIMIT 10
"""


# ---------------------------------------------- cross-sell matrix


def q_cross_sell_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Brand pairs co-purchased in the same order: support, both
    confidences, lift — the retail cross-sell feed. Distinct (order,
    brand) BEFORE pairing bounds the expansion at C(|brands|, 2) per
    order; the pair join is per-order, never corpus-quadratic."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = basket.select("l_orderkey").distinct().count()
    singles = basket.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_single"))
    a = basket.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = basket.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    na = singles.select(
        F.col("p_brand").alias("brand_a"), F.col("n_single").alias("n_a")
    )
    nb = singles.select(
        F.col("p_brand").alias("brand_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab").cast("double") * F.lit(float(n_orders)))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("lift_r9"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


Q_CROSS_SELL_MATRIX_SQL = """
WITH basket AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
singles AS (SELECT p_brand, COUNT(*) AS n_single FROM basket GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT brand_a, brand_b, n_ab, na.n_single AS n_a, nb.n_single AS n_b,
       ROUND((CAST(n_ab AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE))
             / (CAST(na.n_single AS DOUBLE) * CAST(nb.n_single AS DOUBLE)), 9) AS lift_r9
FROM pairs
JOIN singles na ON na.p_brand = brand_a
JOIN singles nb ON nb.p_brand = brand_b
ORDER BY n_ab DESC, brand_a, brand_b
LIMIT 20
"""


# ---------------------------------------------- survival curve


def q_survival_curve(spark: SparkSession, sf: str) -> DataFrame:
    """30 rows: (k, n_surviving, survival_r9) — users whose span
    reaches k days. Span histogram (hash agg over users) × a 30-row
    broadcast ladder; no per-user expansion."""
    ev = load_table(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    )
    spans = ev.groupBy("user_id").agg(
        F.datediff(F.max("d"), F.min("d")).alias("span")
    )
    # histogram FIRST: the ladder joins against ≤|distinct spans| rows
    # (≤ the calendar window in days), never the per-user table — the
    # curve's cost is |users|-independent past the one user hash agg.
    hist = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_span"))
    n_users = spans.count()
    ks = spark.createDataFrame([(k,) for k in range(30)], "k long")
    return (
        hist.join(F.broadcast(ks), F.col("span") >= F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_span").alias("n_surviving"))
        .select(
            "k",
            "n_surviving",
            F.round(
                F.col("n_surviving").cast("double") / F.lit(float(n_users)), 9
            ).alias("survival_r9"),
        )
        .orderBy("k")
    )


Q_SURVIVAL_CURVE_SQL = """
WITH spans AS (
  SELECT user_id,
         date_diff('day', MIN(CAST(date_trunc('day', ts) AS DATE)),
                          MAX(CAST(date_trunc('day', ts) AS DATE))) AS span
  FROM events GROUP BY 1),
n AS (SELECT COUNT(*) AS n_users FROM spans),
ks AS (SELECT CAST(unnest(range(0, 30)) AS BIGINT) AS k)
SELECT k, COUNT(*) AS n_surviving,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST((SELECT n_users FROM n) AS DOUBLE), 9) AS survival_r9
FROM ks JOIN spans ON spans.span >= ks.k
GROUP BY k ORDER BY k
"""


# ------------------------------------------ streamed survival


def q_stream_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed q_survival_curve (same oracle): per-batch per-user
    (min day, max day) partials are a semilattice merge; the read
    side folds them to global spans and runs the identical ladder."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    work = tempfile.mkdtemp(prefix="stream_surv_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = f"{work}/src"
    write_day_chunks(ev, src)
    store = f"{work}/spans"

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.groupBy("user_id").agg(
            F.min(F.date_trunc("day", "ts").cast("date")).alias("dmin"),
            F.max(F.date_trunc("day", "ts").cast("date")).alias("dmax"),
        ).write.mode("overwrite").parquet(f"{store}/batch_{batch_id:05d}")

    run_partial_stream(
        spark, src=src, schema=ev.schema, sink=sink, ckpt=f"{work}/ckpt"
    )

    spans = (
        spark.read.schema("user_id long, dmin date, dmax date")
        .option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("dmax"), F.min("dmin")).alias("span")
        )
    )
    n_users = spans.count()
    ks = spark.createDataFrame([(k,) for k in range(30)], "k long")
    return (
        ks.crossJoin(spans)
        .where(F.col("span") >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_surviving"))
        .select(
            "k",
            "n_surviving",
            F.round(
                F.col("n_surviving").cast("double") / F.lit(float(n_users)), 9
            ).alias("survival_r9"),
        )
        .orderBy("k")
    )


# ---------------------------------------------- cohort LTV triangle


def q_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """(cohort_month, age_months, n_customers, cum_revenue_r6): the
    LTV triangle. Cohort = first order month per customer (one hash
    agg, broadcast back); age = month difference; cumulative revenue
    is an ordered window over the cohort×age rollup (≤ months²
    rows)."""
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    month = F.date_format("o_orderdate", "yyyy-MM")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("cm")
    )
    cohort_sizes = first.groupBy(
        F.date_format("cm", "yyyy-MM").alias("cohort_month")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    joined = orders.join(F.broadcast(first), "o_custkey").select(
        F.date_format("cm", "yyyy-MM").alias("cohort_month"),
        (
            F.months_between(
                F.date_trunc("month", "o_orderdate").cast("date"), F.col("cm")
            )
        )
        .cast("long")
        .alias("age_months"),
        F.col("o_totalprice").cast("decimal(38,6)").alias("rev"),
    )
    cell = joined.groupBy("cohort_month", "age_months").agg(
        F.sum("rev").alias("rev")
    )
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.select(
            "cohort_month",
            "age_months",
            F.round(F.sum("rev").over(wcum).cast("double"), 6).alias(
                "cum_revenue_r6"
            ),
        )
        .join(F.broadcast(cohort_sizes), "cohort_month")
        .select("cohort_month", "age_months", "n_customers", "cum_revenue_r6")
        .orderBy("cohort_month", "age_months")
    )


Q_COHORT_LTV_SQL = """
WITH first AS (
  SELECT o_custkey, MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cm
  FROM orders GROUP BY 1),
sizes AS (
  SELECT strftime(cm, '%Y-%m') AS cohort_month, COUNT(*) AS n_customers
  FROM first GROUP BY 1),
joined AS (
  SELECT strftime(f.cm, '%Y-%m') AS cohort_month,
         CAST(date_diff('month', f.cm,
              CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS BIGINT) AS age_months,
         CAST(o.o_totalprice AS DECIMAL(38,6)) AS rev
  FROM orders o JOIN first f ON f.o_custkey = o.o_custkey),
cell AS (
  SELECT cohort_month, age_months, SUM(rev) AS rev
  FROM joined GROUP BY 1, 2),
cum AS (
  SELECT cohort_month, age_months,
         ROUND(CAST(SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
           AS cum_revenue_r6
  FROM cell)
SELECT c.cohort_month, c.age_months, s.n_customers, c.cum_revenue_r6
FROM cum c JOIN sizes s ON s.cohort_month = c.cohort_month
ORDER BY c.cohort_month, c.age_months
"""


# ---------------------------------------------- GMV waterfall


def q_gmv_waterfall(spark: SparkSession, sf: str) -> DataFrame:
    """One row: gross → discount → net → tax → billed, all exact
    decimal sums, plus the discount and tax rates as r9 ratios."""
    li = load_table(spark, sf, "lineitem").select(
        "l_extendedprice", "l_discount", "l_tax"
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    gross = F.sum(dec(F.col("l_extendedprice")))
    disc = F.sum(dec(F.col("l_extendedprice") * F.col("l_discount")))
    net = F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    tax = F.sum(
        dec(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax"))
    )
    agg = li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        gross.cast("double").alias("gross"),
        disc.cast("double").alias("discount_amt"),
        net.cast("double").alias("net"),
        tax.cast("double").alias("tax_amt"),
    )
    return agg.select(
        "n_lines",
        F.round("gross", 6).alias("gross_r6"),
        F.round("discount_amt", 6).alias("discount_r6"),
        F.round("net", 6).alias("net_r6"),
        F.round("tax_amt", 6).alias("tax_r6"),
        F.round(F.col("net") + F.col("tax_amt"), 6).alias("billed_r6"),
        F.round(F.col("discount_amt") / F.col("gross"), 9).alias(
            "discount_rate_r9"
        ),
        F.round(F.col("tax_amt") / F.col("net"), 9).alias("tax_rate_r9"),
    )


Q_GMV_WATERFALL_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS gross,
         CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS discount_amt,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS net,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * l_tax AS DECIMAL(38,6))) AS DOUBLE) AS tax_amt
  FROM lineitem)
SELECT n_lines,
       ROUND(gross, 6) AS gross_r6,
       ROUND(discount_amt, 6) AS discount_r6,
       ROUND(net, 6) AS net_r6,
       ROUND(tax_amt, 6) AS tax_r6,
       ROUND(net + tax_amt, 6) AS billed_r6,
       ROUND(discount_amt / gross, 9) AS discount_rate_r9,
       ROUND(tax_amt / net, 9) AS tax_rate_r9
FROM agg
"""


REGISTRY = {
    "q_sessionize": (q_sessionize, Q_SESSIONIZE_SQL),
    "q_time_bucket_ohlc": (q_time_bucket_ohlc, Q_OHLC_SQL),
    "q_stream_ohlc": (q_stream_ohlc, Q_STREAM_OHLC_SQL),
    "q_ts_similarity": (q_ts_similarity, _ts_sql()),
    "q_stats_moments": (q_stats_moments, Q_STATS_MOMENTS_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_moments": (q_stream_moments, Q_STATS_MOMENTS_SQL),
    "q_stream_join": (q_stream_join, Q_STREAM_JOIN_SQL),
    "q_stream_funnel": (q_stream_funnel, Q_STREAM_FUNNEL_SQL),
    "q_crypto_indicators": (q_crypto_indicators, Q_CRYPTO_INDICATORS_SQL),
    "q_drawdown": (q_drawdown, Q_DRAWDOWN_SQL),
    "q_ema_chunked": (q_ema_chunked, Q_EMA_CHUNKED_SQL),
    "q_percentiles": (q_percentiles, Q_PERCENTILES_SQL),
    "q_gapfill": (q_gapfill, Q_GAPFILL_SQL),
    "q_interpolate": (q_interpolate, Q_INTERPOLATE_SQL),
    "q_zscore_outliers": (q_zscore_outliers, Q_ZSCORE_OUTLIERS_SQL),
    "q_graph_rank": (q_graph_rank, Q_GRAPH_RANK_SQL),
    "q_time_weighted_avg": (q_time_weighted_avg, Q_TIME_WEIGHTED_AVG_SQL),
    "q_robust_scale": (q_robust_scale, Q_ROBUST_SCALE_SQL),
    "q_interval_coverage": (q_interval_coverage, Q_INTERVAL_COVERAGE_SQL),
    "q_cohort_retention": (q_cohort_retention, Q_COHORT_RETENTION_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_retention": (q_stream_retention, Q_COHORT_RETENTION_SQL),
    "q_ab_assign": (q_ab_assign, Q_AB_ASSIGN_SQL),
    "q_linear_trend": (q_linear_trend, Q_LINEAR_TREND_SQL),
    "q_decayed_score": (q_decayed_score, Q_DECAYED_SCORE_SQL),
    "q_rollup_hierarchy": (q_rollup_hierarchy, Q_ROLLUP_HIERARCHY_SQL),
    "q_share_report": (q_share_report, Q_SHARE_REPORT_SQL),
    "q_abc_classification": (q_abc_classification, Q_ABC_CLASSIFICATION_SQL),
    "q_benford_audit": (q_benford_audit, _benford_sql()),
    "q_event_bigrams": (q_event_bigrams, Q_EVENT_BIGRAMS_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_bigrams": (q_stream_bigrams, Q_EVENT_BIGRAMS_SQL),
    "q_strict_funnel": (q_strict_funnel, Q_STRICT_FUNNEL_SQL),
    "q_daily_bands": (q_daily_bands, Q_DAILY_BANDS_SQL),
    "q_k_anonymity": (q_k_anonymity, Q_K_ANONYMITY_SQL),
    "q_top_paths": (q_top_paths, Q_TOP_PATHS_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_paths": (q_stream_paths, Q_TOP_PATHS_SQL),
    "q_lift_rules": (q_lift_rules, Q_LIFT_RULES_SQL),
    "q_gini_by_nation": (q_gini_by_nation, Q_GINI_BY_NATION_SQL),
    "q_changepoint": (q_changepoint, Q_CHANGEPOINT_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_changepoint": (q_stream_changepoint, Q_CHANGEPOINT_SQL),
    "q_rfm_segments": (q_rfm_segments, Q_RFM_SEGMENTS_SQL),
    "q_wilson_ranking": (q_wilson_ranking, Q_WILSON_RANKING_SQL),
    "q_dow_seasonality": (q_dow_seasonality, Q_DOW_SEASONALITY_SQL),
    "q_funnel_windowed": (q_funnel_windowed, Q_FUNNEL_WINDOWED_SQL),
    "q_peak_concurrency": (q_peak_concurrency, Q_PEAK_CONCURRENCY_SQL),
    "q_rolling_corr": (q_rolling_corr, Q_ROLLING_CORR_SQL),
    "q_weighted_median": (q_weighted_median, Q_WEIGHTED_MEDIAN_SQL),
    "q_ab_readout": (q_ab_readout, Q_AB_READOUT_SQL),
    "q_triangle_count": (q_triangle_count, Q_TRIANGLE_COUNT_SQL),
    "q_rolling_zscore": (q_rolling_zscore, Q_ROLLING_ZSCORE_SQL),
    "q_attribution": (q_attribution, Q_ATTRIBUTION_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_attribution": (q_stream_attribution, Q_ATTRIBUTION_SQL),
    "q_seasonal_forecast": (q_seasonal_forecast, Q_SEASONAL_FORECAST_SQL),
    "q_exact_median_2pass": (q_exact_median_2pass, Q_EXACT_MEDIAN_2PASS_SQL),
    "q_ks_statistic": (q_ks_statistic, Q_KS_STATISTIC_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_ks": (q_stream_ks, Q_KS_STATISTIC_SQL),
    "q_ship_lag_sla": (q_ship_lag_sla, Q_SHIP_LAG_SLA_SQL),
    "q_calendar_heatmap": (q_calendar_heatmap, Q_CALENDAR_HEATMAP_SQL),
    "q_new_vs_returning": (q_new_vs_returning, Q_NEW_VS_RETURNING_SQL),
    "q_repeat_purchase_cycle": (q_repeat_purchase_cycle, Q_REPEAT_PURCHASE_CYCLE_SQL),
    "q_mom_growth": (q_mom_growth, Q_MOM_GROWTH_SQL),
    "q_dau_mau_stickiness": (q_dau_mau_stickiness, Q_DAU_MAU_STICKINESS_SQL),
    "q_fairness_audit": (q_fairness_audit, Q_FAIRNESS_AUDIT_SQL),
    "q_percentile_contribution": (
        q_percentile_contribution,
        Q_PERCENTILE_CONTRIBUTION_SQL,
    ),
    "q_cumulative_reach": (q_cumulative_reach, Q_CUMULATIVE_REACH_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_reach": (q_stream_reach, Q_CUMULATIVE_REACH_SQL),
    "q_top_movers": (q_top_movers, Q_TOP_MOVERS_SQL),
    "q_cross_sell_matrix": (q_cross_sell_matrix, Q_CROSS_SELL_MATRIX_SQL),
    "q_survival_curve": (q_survival_curve, Q_SURVIVAL_CURVE_SQL),
    # streamed ≡ batch: the batch oracle verbatim
    "q_stream_survival": (q_stream_survival, Q_SURVIVAL_CURVE_SQL),
    "q_cohort_ltv": (q_cohort_ltv, Q_COHORT_LTV_SQL),
    "q_gmv_waterfall": (q_gmv_waterfall, Q_GMV_WATERFALL_SQL),
}

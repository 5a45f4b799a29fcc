"""Deterministic stratified sampling for training-mix construction
([EXT], SURVEY.md §2.11): "30% of web, 100% of books, 5% of code" is
the first operation of every pretraining-data run. Both variants are
fully deterministic and engine-portable (md5-keyed, no RNG state), so
a mix is reproducible across engines, runs, and repartitionings — and
a SQL oracle can verify row-for-row.

Extends the uniform md5-prefix cut of queries_text.q_stratified_sample
(one global rate, summary output) to per-stratum TARGET WEIGHTS — the
actual mixture contract — with row-level outputs.

Both variants are NESTED across fractions (unit-tested): raising a
stratum's weight only adds rows — the hash threshold is monotone and
the exact variant takes a longer prefix of the same md5 order — so a
mix can grow from 10% to 30% without resampling what's already
processed.

Two designs with different scale shapes:

- ``stratified_sample`` — EXACT per-stratum counts
  (ceil(fraction·n)): md5-ordered row_number per stratum. Needs one
  hash shuffle partitioned by the strata column; with FEW LARGE strata
  (the training-mix norm: a handful of sources over 100 TB) that
  shuffle is maximally skewed — every "web" row lands on one
  partition's sort. Use it when strata are many/small (per-domain,
  per-shard) or exactness is contractual.

- ``stratified_sample_hash`` — the 100-TB path: keep a row iff the
  first 8 hex chars of md5(id) read as an int fall under
  fraction·2³². A pure per-row predicate — ZERO shuffle, embarrassingly
  parallel, same rows selected no matter how the data is partitioned —
  at the cost of binomially-approximate stratum counts
  (±~sqrt(n·f(1-f)), i.e. ±0.05% at n=10⁹). Selection is still exact
  and portable: an oracle reproduces the row SET bit-for-bit even
  though the count is only approximately fraction·n.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _frac_col(strata_col: str, fractions: dict[str, float]) -> Column:
    pairs = [
        x for k, v in fractions.items() for x in (F.lit(k), F.lit(float(v)))
    ]
    return F.element_at(F.create_map(*pairs), F.col(strata_col))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
) -> DataFrame:
    """Exact-count mixture: ceil(fraction·n) rows per stratum, chosen
    by md5(id) order (tiebreak id). Strata absent from ``fractions``
    are dropped — a mix is an explicit contract, silently keeping
    unlisted sources would corrupt it."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    cw = Window.partitionBy(strata_col)
    return (
        df.withColumn("_frac", _frac_col(strata_col, fractions))
        .where(F.col("_frac").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_take", F.ceil(F.count(F.lit(1)).over(cw) * F.col("_frac"))
        )
        .where(F.col("_rn") <= F.col("_take"))
        .drop("_frac", "_rn", "_take")
    )


def stratified_sample_exact_scalable(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    prefix_chars: int = 2,
) -> DataFrame:
    """EXACT counts without the per-stratum global sort: the scale
    fix for ``stratified_sample``'s one-partition-per-stratum skew
    (a handful of huge strata is the training-mix norm).

    Same selection as ``stratified_sample`` — provably: rows order by
    (md5(id), id), and bucketing on the md5's first ``prefix_chars``
    hex chars is a PREFIX of that order, so global rank = (rows in
    earlier buckets) + (rank within the bucket). Two-phase, the
    packing prefix-sum shape: (1) count rows per (stratum, bucket) —
    one hash agg into |strata|·16^prefix_chars rows; window over that
    tiny table yields each bucket's exclusive offset and the stratum
    total n (hence take = ceil(frac·n)); (2) broadcast the offsets
    back and keep rows whose offset + row_number over (stratum,
    bucket) ≤ take. The sort shuffle now partitions by (stratum,
    bucket) — 16^prefix_chars× more parallelism; raise prefix_chars
    until the largest stratum/bucket fits an executor."""
    w_cum = Window.partitionBy(strata_col).orderBy("_bkt")
    w_all = Window.partitionBy(strata_col)
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, prefix_chars)
    counts = (
        df.withColumn("_frac", _frac_col(strata_col, fractions))
        .where(F.col("_frac").isNotNull())
        .groupBy(strata_col, bucket.alias("_bkt"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            strata_col,
            "_bkt",
            (F.sum("_n").over(w_cum) - F.col("_n")).alias("_off"),
            F.sum("_n").over(w_all).alias("_tot"),
        )
    )
    w_local = Window.partitionBy(strata_col, "_bkt").orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("_frac", _frac_col(strata_col, fractions))
        .where(F.col("_frac").isNotNull())
        .withColumn("_bkt", bucket)
        .join(F.broadcast(counts), [strata_col, "_bkt"])
        .withColumn("_rn", F.row_number().over(w_local))
        .where(
            F.col("_off") + F.col("_rn")
            <= F.ceil(F.col("_tot") * F.col("_frac"))
        )
        .drop("_frac", "_bkt", "_off", "_tot", "_rn")
    )


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
) -> DataFrame:
    """Shuffle-free mixture: keep a row iff
    int(md5(id)[:8], 16) < fraction·2³². Approximate counts, exact and
    portable row selection (see module docstring)."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    frac = _frac_col(strata_col, fractions)
    return (
        df.withColumn("_frac", frac)
        .where(F.col("_frac").isNotNull())
        .where(bucket < (F.col("_frac") * F.lit(float(1 << 32))))
        .drop("_frac")
    )

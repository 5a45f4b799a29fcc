"""Bounded-memory per-key series folds (scale hardening for the
indicator queries).

The bit-exact EMA/MACD query (queries_analytics.q_crypto_indicators)
collects each key's FULL ordered series into one array and left-folds
it with an `aggregate` HOF — deterministic and oracle-matching, but a
single hot key with an unbounded series materializes the whole array
in one executor row. Contract for that path: series length per key
must fit one task's memory (~10⁷ points of (ts, id, double) ≈ 300 MB —
enforce upstream or use this module).

``ema_by_key_chunked`` is the unbounded-key variant. The EMA recurrence
acc' = x·α + acc·(1−α) applied over a chunk is an AFFINE map
f(acc) = acc·d + c with d = (1−α)^len and c = the chunk folded from 0.
Affine maps compose associatively, so:

  1. number rows per key (one sort shuffle — the same shuffle the
     exact path pays),
  2. bound each collected array by ``chunk_size`` rows
     (groupBy (key, chunk)),
  3. fold the ≤ n/chunk_size chunk summaries per key in chunk order.

Every array is bounded: chunk_size values in step 2, n/chunk_size
summary structs in step 3 — a 10⁹-point key at chunk_size 2¹⁶ holds
512 KB in step 2 and ~15k summaries in step 3. All JVM higher-order
functions; no Python, no full-series row anywhere.

Numerics: composition reassociates floating-point ops, so results can
differ from the single-fold path in the last ulps (relative ~1e-12
observed) — use the exact path when bit-reproducibility against a
serial oracle is required and the series bound is enforceable;
document the tolerance otherwise.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ema_fold(vals: Column, alpha: float) -> Column:
    """Bit-exact serial EMA left-fold over an array column: NULL init,
    first element seeds the accumulator (pandas ewm adjust=False
    semantics)."""
    return F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(
            x * F.lit(alpha) + acc * F.lit(1.0 - alpha)
        ),
    )


def emas_by_key_chunked(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alphas: dict[str, float],
    chunk_size: int = 1 << 16,
) -> DataFrame:
    """Several EMAs per key (``{out_col: alpha}``) over arbitrarily long
    series, ONE sort shuffle total: the (key, chunk) collect and the
    per-key summary fold are shared, and each alpha adds only three
    HOF expressions per chunk row (see module docstring for the affine
    decomposition). Per-task memory is bounded by ``chunk_size`` at any
    series length. When a key's whole series fits a single chunk the
    composed fold degenerates to the seeded serial fold, so the result
    is BIT-exact vs. a serial oracle; multi-chunk composition agrees to
    ~1e-12 relative (fp reassociation). Returns
    (key, n_ticks, *alphas.keys()).

    ``order_cols`` must uniquely identify a row within each key: the
    fold order comes from ``row_number`` over them, so ties would make
    both the row numbering and the EMA fold order nondeterministic
    across runs. (All in-repo callers order by (ts, event_id) with
    event_id a unique key.)

    Alpha names become output columns and internal struct-field names,
    so they must be plain identifiers and must not collide with the
    key/count columns — validated here to fail fast instead of
    producing shadowed columns or confusing analysis errors.
    """
    for name in alphas:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"emas_by_key_chunked: alpha name {name!r} is not a valid "
                "column identifier"
            )
        if name in (key_col, "n_ticks"):
            raise ValueError(
                f"emas_by_key_chunked: alpha name {name!r} collides with "
                f"the {'key' if name == key_col else 'count'} output column"
            )
    rn = F.row_number().over(
        Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    )
    chunked = df.select(
        key_col, F.col(value_col).cast("double").alias("_v"), rn.alias("_rn")
    ).withColumn("_chunk", ((F.col("_rn") - 1) / F.lit(chunk_size)).cast("long"))

    # per-chunk summary: ordered values fold to (c, d) per alpha;
    # chunk 0 also records its seeded (NULL-init) fold so the series
    # start behaves exactly like the serial path
    per_chunk = chunked.groupBy(key_col, "_chunk").agg(
        F.array_sort(F.collect_list(F.struct("_rn", "_v"))).alias("_xs")
    )
    vals = F.transform("_xs", lambda s: s["_v"])
    # PySpark HOF lambdas must take exactly the arity of the merge
    # function — closures (not default args) carry the per-alpha value
    def _step(a: float):
        return lambda acc, x: x * F.lit(a) + acc * F.lit(1.0 - a)

    def _decay_step(a: float):
        return lambda acc, _: acc * F.lit(1.0 - a)

    summary_cols = []
    for name, alpha in alphas.items():
        contribution = F.aggregate(vals, F.lit(0.0), _step(alpha))
        decay = F.aggregate(vals, F.lit(1.0), _decay_step(alpha))
        summary_cols += [
            contribution.alias(f"_c_{name}"),
            decay.alias(f"_d_{name}"),
            ema_fold(vals, alpha).alias(f"_seeded_{name}"),
        ]
    summaries = per_chunk.select(
        key_col, "_chunk", F.size("_xs").alias("_n"), *summary_cols
    )

    # compose the ≤ n/chunk_size affine maps in chunk order
    per_alpha_fields = [
        f"_{p}_{name}" for name in alphas for p in ("c", "d", "seeded")
    ]
    folded = summaries.groupBy(key_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_chunk", "_n", *per_alpha_fields))
        ).alias("_ss"),
        F.sum("_n").alias("n_ticks"),
    )
    def _compose(n: str):
        return lambda acc, s: F.when(acc.isNull(), s[f"_seeded_{n}"]).otherwise(
            acc * s[f"_d_{n}"] + s[f"_c_{n}"]
        )

    out_cols = []
    for name in alphas:
        acc = F.aggregate(F.col("_ss"), F.lit(None).cast("double"), _compose(name))
        out_cols.append(acc.alias(name))
    return folded.select(key_col, "n_ticks", *out_cols)


def ema_by_key_chunked(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
    chunk_size: int = 1 << 16,
    out_col: str = "ema",
) -> DataFrame:
    """EMA per key over an arbitrarily long series with per-task memory
    bounded by ``chunk_size`` (single-alpha wrapper over
    ``emas_by_key_chunked``). Returns (key, n_ticks, out_col)."""
    return emas_by_key_chunked(
        df, key_col, order_cols, value_col, {out_col: alpha}, chunk_size
    )

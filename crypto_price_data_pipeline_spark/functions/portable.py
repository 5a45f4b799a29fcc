"""Engine-portable helpers shared by the query domain modules: each
Spark-side expression here has a DuckDB-side twin the oracles use, so
both engines compute the same value bit for bit.

Determinism contract (why the decimal casts): Spark aggregates doubles
in partition order, DuckDB sequentially — float addition isn't
associative, so raw SUM(double) hash-mismatches. Both sides therefore
sum through ``DECIMAL(38,6)`` (exact, associative) and cast the result
back to double: bit-identical everywhere, at ~zero cost (decimal sums
still vectorize). Products stay in double *per row* (deterministic)
and are only decimal-cast at the aggregation boundary, with identical
parenthesization in both engines. Averages divide the exact decimal sum
(as double) by the count. Top-k queries always order with a unique-key
tiebreak. ``_dec``/``dsum``/``davg`` are the Spark side of the rule,
``S_DSUM``/``S_DAVG`` the SQL side.

Also here: the hash-embedding width and its DuckDB rebuild
(``_DIM``/``_VECS_CTE``, the SQL twin of
``operators.text.feature_hash_embed``), and the training-mix
fractions with their SQL ``VALUES`` twin (``_MIX``/``_MIX_VALUES_SQL``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ------------------------------------------------- decimal determinism


def _dec(col: Column) -> Column:
    return col.cast("decimal(38,6)")


def dsum(col: Column) -> Column:
    """Deterministic double sum (see module docstring)."""
    return F.sum(_dec(col)).cast("double")


def davg(col: Column) -> Column:
    return F.sum(_dec(col)).cast("double") / F.count(col)


def _col(name: str) -> Column:
    return F.col(name)


# SQL-side twins
def S_DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def S_DAVG(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr})"


# ----------------------------------------- training-mix fractions

_MIX = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1}

_MIX_VALUES_SQL = ",".join(f"('{k}', {v})" for k, v in _MIX.items())


# --------------------------------------------------- hash embedding

_DIM = 64

# DuckDB rebuild of feature_hash_embed(dim=64): same alnum splitter the
# TF-IDF/contamination oracles use, md5 hex→int via the portable base-16
# digit fold, bucket counts as DOUBLE[] (exact small integers).
_VECS_CTE = """
toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents
),
bkts AS (
  SELECT doc_id,
         list_transform(toks, t ->
             CAST(list_reduce(list_transform(range(1, 9),
                      i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
                  (a, b) -> a * 16 + b) % 64 AS INTEGER)) AS bs
  FROM toked
),
vecs AS (
  SELECT doc_id,
         list_transform(range(0, 64), i -> CAST(len(list_filter(bs, b -> b = CAST(i AS INTEGER))) AS DOUBLE)) AS v
  FROM bkts
)
"""

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``crypto_price_data_pipeline_spark`` — see
``crypto_price_data_pipeline_spark/queries.py`` for the registry.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))


def _round_num(path: str) -> int:
    """Parse the integer round number out of CORRECTNESS_r{N}.json so
    ordering survives three-digit rounds (lexicographic 'r100' < 'r99')."""
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def _check_counts() -> tuple[dict[str, int], set[str]]:
    """How many times each query name has a GREEN hash-verified row in a
    past CORRECTNESS_r*.json (rows-only 'no_oracle' checks and harness
    errors don't count), plus the names in the most recent round. Used to
    rotate the registry so the driver's 50-per-round sample reaches the
    names with the fewest real verifications first."""
    counts: dict[str, int] = {}
    latest: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")), key=_round_num):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            latest = set(rows)
            for name, row in rows.items():
                if isinstance(row, dict) and row.get("hash_match") is True:
                    counts[name] = counts.get(name, 0) + 1
    return counts, latest


def _rotated(registry: dict, oracled: set[str]) -> dict:
    """Stable sort: least-hash-verified queries first; within a count,
    oracled names before deliberately rows-only ones (an oracle-less name
    can never go hash-green, so it must not pin a sample slot ahead of
    verifiable work), then names absent from the most recent round, then
    insertion order."""
    counts, latest = _check_counts()
    names = list(registry)
    order = sorted(
        range(len(names)),
        key=lambda i: (
            counts.get(names[i], 0),
            names[i] not in oracled,
            names[i] in latest,
            i,
        ),
    )
    return {names[i]: registry[names[i]] for i in order}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape pricing summary) on sf0.001."""
    from crypto_price_data_pipeline_spark.queries_tpch import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from crypto_price_data_pipeline_spark.queries import ORACLES, QUERIES

    return _rotated(dict(QUERIES), set(ORACLES))


def oracle_sql() -> dict[str, str]:
    from crypto_price_data_pipeline_spark.queries import ORACLES

    return dict(ORACLES)

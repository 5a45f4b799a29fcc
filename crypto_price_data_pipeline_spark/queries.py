"""Query registry: every implemented query as a (spark_fn, oracle_sql) pair.

Each domain module exports ``REGISTRY = {name: (fn, oracle_sql)}``;
``assemble`` merges the tables and rejects a name registered twice. The
heavy-oracle verification twins (queries_ext34) wrap the merged tables,
so they come last. The DECIMAL(38,6) determinism contract every oracle
follows is documented in functions/portable.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from . import queries_analytics, queries_dedup, queries_media, queries_pipeline
from . import queries_retrieval, queries_sketch, queries_text, queries_tpch
from .queries_ext34 import make_verification_twins

QueryFn = Callable[[SparkSession, str], DataFrame]
# registry insertion order is domain order (the last tiebreak of
# __spark_entry__._rotated)
DOMAINS = (queries_tpch, queries_pipeline, queries_analytics, queries_sketch,
           queries_text, queries_retrieval, queries_dedup, queries_media)


def assemble(
    tables: Iterable[dict[str, tuple[QueryFn, str]]],
) -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge registry tables, in order, into (queries, oracles)."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for table in tables:
        for name, (fn, sql) in table.items():
            if name in queries:
                raise ValueError(f"query {name!r} is registered twice")
            queries[name] = fn
            oracles[name] = sql
    return queries, oracles


_TABLES = [m.REGISTRY for m in DOMAINS]
QUERIES, ORACLES = assemble(_TABLES + [make_verification_twins(*assemble(_TABLES))])

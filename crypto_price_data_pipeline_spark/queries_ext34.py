"""Heavy-oracle verification twins: cheap ``<name>_sub`` registry
entries for the quadratic-pair and recursive-CTE oracles.

Fifteen registry names carry DuckDB oracles that are quadratic pair
rules or recursive reachability CTEs; at sf0.1 a full exact sweep of
them costs ~100 minutes. For every such name this module builds a
``<name>_sub`` twin that runs the IDENTICAL engine code path and the
IDENTICAL oracle SQL on a deterministic md5-selected quarter of the
corpus:

- engine side: the original query callable, pointed at a cached
  sampled twin of the sf directory (documents and embeddings filtered
  to ``substring(md5(id), 1, 1) IN ('0'..'3')`` — the repo's standard
  engine-portable membership rule, q_train_split's; every other table
  symlinked through). Zero drift by construction: the twin IS the
  original function, so any operator change is exercised end-to-end.
- oracle side: the original SQL with its ``documents``/``embeddings``
  references rewritten to MATERIALIZED sub-corpus CTEs carrying the
  same predicate. A quadratic pair rule on a 1/4 corpus costs ~1/16
  of the exact form; recursive closures shrink likewise.

The full-exact names STAY registered — the twins make the routine
sweep cheap (tools/check_oracle.py --routine skips the heavy exact
names, whose surface the twins cover), while the exact forms remain
for the deep sweep. Both ids (doc_id and vec_id) share the 0..N-1
space in the testdata, so document and embedding sampling are
membership-consistent and cross-table joins inside the originals
(e.g. q_cluster_representatives) survive sampling intact.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import load_table

# the heavy-exact registry names (NOTES r11's 14): quadratic pair
# oracles and recursive-CTE closures. tools/check_oracle.py --routine
# skips exactly these, relying on their _sub twins.
HEAVY_EXACT: tuple[str, ...] = (
    "q_minhash_pairs",
    "q_minhash_exact",
    "q_minhash_dupheavy",
    "q_ngram_jaccard",
    "q_ngram_overlap",
    "q_stream_dedup",
    "q_winnow_dedup",
    "q_curation_pipeline_v2",
    "q_semantic_dedup",
    "q_cross_dedup",
    "q_dedup_provenance",
    "q_bfs_hops",
    "q_dedup_rate_by_source",
    "q_embedding_clusters",
    "q_cluster_representatives",
)

_SUB_NIBBLES = ("0", "1", "2", "3")  # 4/16 of md5's first hex digit
# Per-name nibble overrides for twins whose EXACT form already runs on
# the md5 quarter (the generic quarter twin would reproduce it at full
# cost): their _sub runs on a 1/16 corpus instead — the query's own
# quarter predicate is a superset of the twin nibble, so engine and
# oracle stay membership-consistent (r14, the q_minhash_dupheavy rule).
_TWIN_NIBBLES: dict[str, tuple[str, ...]] = {
    "q_minhash_dupheavy": ("0",),
}
_SUB_DIRS: dict[tuple[str, tuple[str, ...]], str] = {}
_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def sampled_sf_dir(
    spark: SparkSession, sf: str, nibbles: tuple[str, ...] = _SUB_NIBBLES
) -> str:
    """A cached (per process+sf+nibbles) twin of ``sf`` whose documents
    and embeddings tables are filtered to the deterministic md5
    ``nibbles`` subset (default: the standard quarter); every other
    table is a symlink to the original. The artifact store keys by
    directory, so the twin corpus gets its own (sub-sized) signature
    artifacts — exactly what a distinct corpus should."""
    key = (os.path.abspath(sf), tuple(nibbles))
    cached = _SUB_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    d = tempfile.mkdtemp(prefix="sub_corpus_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    for tbl, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        nib = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
        load_table(spark, sf, tbl).where(nib.isin(*nibbles)).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"{tbl}.parquet"))
    for tbl in _TABLES:
        if tbl in ("documents", "embeddings"):
            continue
        src = os.path.join(key[0], f"{tbl}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{tbl}.parquet"))
    _SUB_DIRS[key] = d
    return d


def _twin_fn(
    base_fn: Callable[[SparkSession, str], DataFrame],
    nibbles: tuple[str, ...] = _SUB_NIBBLES,
) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf: str) -> DataFrame:
        return base_fn(spark, sampled_sf_dir(spark, sf, nibbles))

    return fn


def _nib_pred(id_col: str, nibbles: tuple[str, ...]) -> str:
    lst = ",".join(f"'{n}'" for n in nibbles)
    return (
        f"substring(md5(CAST({id_col} AS VARCHAR)), 1, 1) IN ({lst})"
    )


def sub_oracle_sql(sql: str, nibbles: tuple[str, ...] = _SUB_NIBBLES) -> str:
    """The original oracle with its base-table references rewritten to
    the sampled sub-corpus: ``documents``/``embeddings`` become
    MATERIALIZED CTEs carrying the md5 predicate (MATERIALIZED so a
    recursive consumer can't re-inline the parquet scan per iteration
    — the repo's standing DuckDB-recursion rule). The original must
    start with WITH; every heavy oracle does."""
    body = re.sub(r"\bdocuments\b", "__docs_sub", sql)
    body = re.sub(r"\bembeddings\b", "__embs_sub", body)
    m = re.match(r"(?is)^\s*WITH(\s+RECURSIVE)?", body)
    if m is None:  # pragma: no cover - guarded by the heavy list audit
        raise ValueError("heavy oracle does not start with WITH")
    head = "WITH RECURSIVE" if m.group(1) else "WITH"
    doc_pred = _nib_pred("doc_id", nibbles)
    vec_pred = _nib_pred("vec_id", nibbles)
    return (
        f"{head}\n"
        f"__docs_sub AS MATERIALIZED (SELECT * FROM documents WHERE {doc_pred}),\n"
        f"__embs_sub AS MATERIALIZED (SELECT * FROM embeddings WHERE {vec_pred}),"
        + body[m.end() :]
    )


def make_verification_twins(
    queries: dict[str, Callable[[SparkSession, str], DataFrame]],
    oracles: dict[str, str],
) -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]]:
    """A registry table of ``<name>_sub`` twins for every HEAVY_EXACT
    name. The assembler in queries.py builds it from the merged
    domain tables, so the twins wrap the final callables. Names in
    ``_TWIN_NIBBLES`` get a tighter md5 subset than the standard
    quarter (their exact form already runs on the quarter, so the
    generic twin would cost the same as the exact)."""
    table = {}
    for name in HEAVY_EXACT:
        nibs = _TWIN_NIBBLES.get(name, _SUB_NIBBLES)
        table[f"{name}_sub"] = (
            _twin_fn(queries[name], nibs),
            sub_oracle_sql(oracles[name], nibs),
        )
    return table

"""Sinks: parquet append/overwrite, idempotent append, JDBC.

Reference sinks (SURVEY.md §2.1): pandas ``to_sql(if_exists="append")``
to Postgres (S7), Mongo staging insert/update/delete/drop (S5, S6, S8,
S9). The Spark mapping replaces manual delete/drop cleanup with
idempotent writes: a retry never double-appends because the append is
deduplicated against the sink on a business key (the reference instead
races a reader against a collection drop —
dump_with_postgres.py:149-175 — which silently loses rows; we do not
reproduce the race).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import materialize


def append_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Plain append. At 100 TB, always pass partition_by (e.g. a date
    column) so readers get partition pruning."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> int:
    """Append only rows whose ``keys`` are not already in the sink.

    Left-anti join against the existing table (keys-only scan: column
    pruning means we read just the key columns of the sink). This is the
    Spark-idiomatic replacement for the reference's delete-after-load
    bookkeeping (bpi_crawler.py:37-41): retries and replays are safe
    because the second attempt appends zero rows. Returns rows written.
    """
    try:
        existing = spark.read.parquet(path).select(*keys)
    except Exception:
        existing = None
    fresh = df.dropDuplicates(keys)
    if existing is not None:
        fresh = fresh.join(existing, on=keys, how="left_anti")
    fresh = fresh.persist()
    n = fresh.count()
    if n:
        append_parquet(fresh, path, partition_by)
    fresh.unpersist()
    return n


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write with rows sorted *within each file* on ``sort_cols``.

    Sorting clusters values so parquet row-group min/max statistics
    become selective — point/range predicates on the sort columns skip
    whole row groups at scan time (the poor man's Z-order; at 100 TB
    this is the difference between reading 1 row group and reading the
    table). sortWithinPartitions is a local sort: no extra shuffle."""
    writer = df.sortWithinPartitions(*sort_cols).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table into files of
    ~``target_file_bytes``. Streaming appends and fine-grained idempotent
    writes accumulate small files; at scale the scan's task-per-file
    overhead dominates. Returns the resulting file count.

    Sizing uses the table's on-disk bytes (parquet-compressed) so the
    output files land near the target without sampling."""
    import glob
    import os

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = max(1, round(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    compacted = df.repartition(n_files)
    if sort_cols:
        compacted = compacted.sortWithinPartitions(*sort_cols)
    # break lineage before overwriting the source path
    compacted = compacted.transform(materialize)
    compacted.write.mode("overwrite").parquet(path)
    return n_files


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (overwrite) — interchange with Hive/Trino-flavored
    lakes; same partition-layout contract as the parquet sinks."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """Literal-parity warehouse sink (reference: bpi_crawler.py:173
    pandas.to_sql append). Driver jar required; gated by caller."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode("append")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()

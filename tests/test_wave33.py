"""Wave-33 units: streamed artifact maintenance ≡ batch artifacts,
and schema-evolution-on-read (widening + rejection paths)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streamed_minhash_store_equals_batch_artifact(spark):
    """The streamed minima store must be ROW-IDENTICAL to the batch
    artifact (same signature values, same pass-through keys) — the
    'corpus append never needs a rebuild' claim is only true if the
    incremental path produces the same table."""
    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.streaming.artifact_stream import (
        stream_artifact_index,
    )

    docs = load_table(spark, SF, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=3)
    streamed = {
        r["doc_id"]: (r["_n"], r["lang"], tuple(r[f"_m{i}"] for i in range(64)))
        for r in stores["mins"].collect()
    }
    batch = {
        r["doc_id"]: (r["_n"], r["lang"], tuple(r[f"_m{i}"] for i in range(64)))
        for r in artifacts.minhash_mins(spark, SF).collect()
    }
    assert streamed == batch


def test_streamed_tf_store_derives_batch_tfidf_weights(spark):
    """(df, w) derived at read time from the streamed tf postings must
    equal the batch tfidf_weights artifact — doc-local partials +
    refresh-time global stats is the maintenance contract."""
    from pyspark.sql.window import Window

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.streaming.artifact_stream import (
        stream_artifact_index,
    )

    docs = load_table(spark, SF, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=3)
    n_docs = stores["base_n"].count()
    w = (
        stores["tf"]
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .where(F.col("df") <= 50)
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.lit(float(n_docs)) / F.col("df")).alias("w"),
        )
    )
    streamed = {(r["doc_id"], r["term"]): r["w"] for r in w.collect()}
    batch = {
        (r["doc_id"], r["term"]): r["w"]
        for r in artifacts.tfidf_weights(spark, SF).collect()
    }
    assert streamed == batch


def test_read_evolved_widens_and_fills(spark, tmp_path):
    """Unified-schema landing read: INT→BIGINT and FLOAT→DOUBLE upcast
    per file, column absent in the old generation reads as NULL."""
    from crypto_price_data_pipeline_spark.queries_pipeline import read_evolved

    d = str(tmp_path / "landing")
    spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v float").write.parquet(
        os.path.join(d, "gen1")
    )
    spark.createDataFrame(
        [(3_000_000_000, 3.5, "x")], "k bigint, v double, extra string"
    ).write.parquet(os.path.join(d, "gen2"))
    out = read_evolved(spark, d, "k bigint, v double, extra string")
    rows = sorted(map(tuple, out.collect()))
    assert rows == [(1, 1.5, None), (2, 2.5, None), (3_000_000_000, 3.5, "x")]
    assert dict(out.dtypes) == {"k": "bigint", "v": "double", "extra": "string"}


def test_schema_evolution_rejects_incompatible_drift(spark, tmp_path):
    """A generation that RE-TYPED a column (string where the unified
    schema says double) must fail, not silently null — on both the
    unified-schema read (action time) and the mergeSchema read."""
    from crypto_price_data_pipeline_spark.queries_pipeline import read_evolved

    d = str(tmp_path / "landing")
    spark.createDataFrame([(1, 1.5)], "k bigint, v double").write.parquet(
        os.path.join(d, "gen1")
    )
    spark.createDataFrame([(2, "oops")], "k bigint, v string").write.parquet(
        os.path.join(d, "gen2")
    )
    with pytest.raises(Exception):
        read_evolved(spark, d, "k bigint, v double").collect()
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS|merg"):
        spark.read.option("mergeSchema", "true").option(
            "recursiveFileLookup", "true"
        ).parquet(d).collect()


def test_streamed_winnow_store_equals_batch_artifact(spark):
    """The streamed winnow postings with the read-time fp_df
    derivation must be ROW-IDENTICAL to the batch artifact
    artifacts.winnow_postings (r12 — the r11 verdict's 'add the
    winnowing family to the streamed store' item)."""
    from pyspark.sql.window import Window

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.streaming.artifact_stream import (
        stream_artifact_index,
    )

    docs = load_table(spark, SF, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=3)
    streamed = {
        (r["doc_id"], r["fp"]): r["fp_df"]
        for r in stores["winnow"]
        .withColumn("fp_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .collect()
    }
    batch = {
        (r["doc_id"], r["fp"]): r["fp_df"]
        for r in artifacts.winnow_postings(spark, SF).collect()
    }
    assert streamed == batch


def test_compact_artifact_store_bit_equal_and_idempotent(spark):
    """compact_artifact_store folds every family's per-batch subdirs
    into one settled subdir: re-read content is bit-identical to the
    pre-compaction union, a second compact is a no-op, and the
    compacted winnow store (with read-time fp_df) still feeds
    winnowing_pairs with output identical to the batch-artifact path
    (r11 verdict item 3 + 4)."""
    import os

    from pyspark.sql.window import Window

    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import winnowing_pairs
    from crypto_price_data_pipeline_spark.queries_dedup import q_winnowing_pairs
    from crypto_price_data_pipeline_spark.streaming.artifact_stream import (
        compact_artifact_store,
        read_artifact_store,
        stream_artifact_index,
    )

    docs = load_table(spark, SF, "documents")
    stores = stream_artifact_index(spark, docs, n_chunks=3)
    store_dir = stores["store_dir"]

    def snapshot(st):
        return {
            "mins": sorted(
                (r["doc_id"], tuple(r[f"_m{i}"] for i in range(64)))
                for r in st["mins"].collect()
            ),
            "base_n": sorted(
                (r["doc_id"], r["lang"], r["_n"]) for r in st["base_n"].collect()
            ),
            "simhash": sorted(
                (r["doc_id"], r["simhash32"]) for r in st["simhash"].collect()
            ),
            "tf": sorted(
                (r["doc_id"], r["term"], r["tf"]) for r in st["tf"].collect()
            ),
            "winnow": sorted(
                (r["doc_id"], r["fp"]) for r in st["winnow"].collect()
            ),
        }

    before = snapshot(stores)
    folded = compact_artifact_store(spark, store_dir)
    assert folded >= 3 * 5, f"expected >=3 subdirs x 5 families folded, got {folded}"
    for fam in ("mins", "base_n", "simhash", "tf", "winnow"):
        subdirs = [
            d for d in os.listdir(os.path.join(store_dir, fam))
            if os.path.isdir(os.path.join(store_dir, fam, d))
        ]
        assert subdirs == ["compacted_0000000000"], (fam, subdirs)
    after = snapshot(read_artifact_store(spark, store_dir))
    assert after == before
    # second compact: nothing to do
    assert compact_artifact_store(spark, store_dir) == 0
    # the compacted streamed store serves the pair query bit-equal to
    # the batch-artifact path
    fresh = read_artifact_store(spark, store_dir)
    fp = (
        fresh["winnow"]
        .withColumn("fp_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .localCheckpoint(eager=True)
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnowing_pairs(
            None, "doc_id", "text", k=8, w=8, min_shared=10, max_doc_freq=50,
            fp=fp,
        ).collect()
    )
    ref = sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in q_winnowing_pairs(spark, SF).collect()
    )
    assert got == ref

"""Wave-21 units: Morton-code round-trip law, zorder-beats-linear on
the box audit, equi-depth balance, clustering-factor bounds, streamed
changepoint ≡ batch."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _spread_ref(v: int) -> int:
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


def test_spread16_matches_python_reference(spark):
    from crypto_price_data_pipeline_spark.queries_pipeline import _spread16
    from pyspark.sql import functions as F

    vals = [0, 1, 2, 0xFF, 0x100, 0xABCD, 0xFFFF]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = [r["s"] for r in df.select(_spread16(F.col("v")).alias("s")).collect()]
    assert got == [_spread_ref(v) for v in vals]
    # interleave of distinct (x, y) is injective on the sample
    codes = {
        (_spread_ref(x) | (_spread_ref(y) << 1))
        for x in vals
        for y in vals
    }
    assert len(codes) == len(vals) ** 2


def test_zorder_prunes_no_worse_than_linear(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = {r["layout"]: r for r in QUERIES["q_zorder_layout"](spark, SF).collect()}
    assert set(rows) == {"zorder", "linear"}
    z, lin = rows["zorder"], rows["linear"]
    assert z["n_buckets"] <= 64 and lin["n_buckets"] <= 64
    # the point of the audit: the 2-D box scans fewer rows under zorder
    assert z["rows_scanned"] <= lin["rows_scanned"]
    assert 0 < z["buckets_scanned"] <= z["n_buckets"]


def test_equi_depth_histogram_is_balanced_and_ordered(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_equi_depth_histogram"](spark, SF).collect()
    assert [r["bucket"] for r in rows] == list(range(1, 17))
    total = load_table(spark, SF, "orders").count()
    assert sum(r["n"] for r in rows) == total
    assert max(r["n"] for r in rows) - min(r["n"] for r in rows) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


def test_clustering_factor_bounds_and_contrast(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = {
        r["column_name"]: r
        for r in QUERIES["q_clustering_factor"](spark, SF).collect()
    }
    assert set(rows) == {"l_partkey", "l_shipdate"}
    for r in rows.values():
        assert 0 <= r["n_breaks"] <= r["n_compared"]
        assert 0.0 <= r["monotone_frac_r9"] <= 1.0
    assert rows["l_partkey"]["n_compared"] == rows["l_shipdate"]["n_compared"]


def test_stream_changepoint_equals_batch(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    streamed = tuple(QUERIES["q_stream_changepoint"](spark, SF).first())
    batch = tuple(QUERIES["q_changepoint"](spark, SF).first())
    assert streamed == batch

"""Wave-16 units: rollup-hierarchy losslessness vs direct agg,
share-of-region sums to one, ABC partition ordering, Benford totals,
bigram conservation, streamed retention ≡ batch."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_rollup_hierarchy_equals_direct(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.functions.portable import _dec

    chained = [tuple(r) for r in QUERIES["q_rollup_hierarchy"](spark, SF).collect()]
    ev = load_table(spark, SF, "events")
    direct = [
        tuple(r)
        for r in ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("sum_value"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("day")
        .collect()
    ]
    assert chained == direct


def test_share_report_sums_to_one_per_region(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_share_report"](spark, SF).collect()
    by_region: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r["region_share"] <= 1.0
        by_region[r["r_name"]] = by_region.get(r["r_name"], 0.0) + r["region_share"]
    for total in by_region.values():
        assert abs(total - 1.0) < 1e-9


def test_abc_classes_ordered_and_complete(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = {r["abc"]: r for r in QUERIES["q_abc_classification"](spark, SF).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = (
        load_table(spark, SF, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    # Pareto shape: average revenue per part strictly decreases A > B > C
    avg = {k: r["revenue"] / r["n_parts"] for k, r in rows.items()}
    assert avg["A"] > avg["B"] > avg["C"]


def test_benford_covers_all_orders(spark):
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q_benford_audit"](spark, SF).collect()
    n_orders = load_table(spark, SF, "orders").count()
    assert sum(r["n_obs"] for r in rows) == n_orders
    assert all(1 <= r["digit"] <= 9 for r in rows)
    assert abs(sum(r["expected_r9"] for r in rows) - n_orders) < 1e-3
    assert all(r["chi2_contrib_r9"] >= 0 for r in rows)


def test_event_bigrams_conservation(spark):
    """Total transition count over ALL pairs equals n_events - n_users
    (each user's timeline of k events has k-1 transitions)."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import tokenize  # noqa: F401
    from pyspark.sql.window import Window

    ev = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b")
    ).where(F.col("b").isNotNull())
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert pairs.count() == n_events - n_users


def test_stream_retention_equals_batch(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    streamed = [tuple(r) for r in QUERIES["q_stream_retention"](spark, SF).collect()]
    batch = [tuple(r) for r in QUERIES["q_cohort_retention"](spark, SF).collect()]
    assert streamed == batch

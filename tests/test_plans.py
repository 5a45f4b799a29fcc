"""Physical-plan regression tests: the scale properties we rely on
(pushdown, broadcast, bucketed no-shuffle joins) must survive future
changes, not just exist in today's explain output."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q02_filter_pushdown"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,10.0)" in plan
    # projection pruning: unread columns never reach the scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_tax" not in read_schema and "l_returnflag" not in read_schema


def test_dimension_joins_broadcast(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q05_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the star join must not degenerate into a nested-loop product
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_topk_uses_take_ordered(spark):
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q03_segment_top_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_decorrelated_subqueries_broadcast(spark):
    """The Q2/Q17-shape decorrelations must keep the per-key aggregate
    on the build (broadcast) side — a shuffle join here would mean the
    decorrelation lost the dimension-sized build."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    for name in ("q02_min_cost_supplier", "q17_small_quantity"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_outer_join_count_distribution_plan(spark):
    """Q13 shape: the left outer join must stay a real join (no NL), and
    the two aggregation levels must be hash aggregates."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q13_customer_distribution"](spark, SF))
    assert "LeftOuter" in plan or "BuildRight" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 levels


def test_scalar_subquery_single_row_broadcast(spark):
    """Q11/Q15 shape: joining against a 1-row aggregate must broadcast
    (never shuffle the big grouped side against one row)."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    for name in ("q11_important_stock", "q15_top_supplier"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_dynamic_partition_pruning(spark, tmp_path):
    """Date-partitioned fact + filtered dim join must prune fact
    partitions at runtime (DPP) — the scan shape SCALING.md prescribes
    for every persisted table at 100 TB."""
    fact = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate"))
    )
    fact.write.partitionBy("o_year").mode("overwrite").parquet(
        str(tmp_path / "orders_part")
    )
    years = spark.createDataFrame(
        [(1997, "target")], "y_year int, tag string"
    )
    part_fact = spark.read.parquet(str(tmp_path / "orders_part"))
    joined = part_fact.join(
        years.where(F.col("tag") == "target"),
        part_fact["o_year"] == years["y_year"],
    )
    plan = _plan(joined)
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    n_1997 = part_fact.where(F.col("o_year") == 1997).count()
    assert joined.count() == n_1997


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-location: a join on the bucket key reads both sides
    without an Exchange — the 100 TB co-located-join strategy."""
    # spark.sql.warehouse.dir is static config — tables land in the
    # session's default warehouse; drop them (and their files) after
    import shutil

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .mode("overwrite").saveAsTable("li_b"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .mode("overwrite").saveAsTable("orders_b"))
        # disable broadcast so the join must rely on bucketing, as it
        # would on TB-scale sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        shutil.rmtree(wh, ignore_errors=True)

def test_asof_nearest_single_shuffle(spark):
    """nearest as-of computes both direction carries over the SAME hash
    partitioning: one Exchange, two Sorts — never a second shuffle or a
    join."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    df = QUERIES["q_asof_nearest"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_minhash_exact_no_cartesian(spark):
    """The chained exact-Jaccard path must stay candidate-proportional:
    only equi-joins (band/bucket and id joins), never a cross product.
    Built with materialize=False — the registry query eagerly
    checkpoints (to release the signature cache), which would hide the
    join plan behind a checkpoint scan."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import minhash_then_exact

    docs = load_table(spark, SF, "documents")
    df = minhash_then_exact(docs, threshold=0.3, bands=32, materialize=False)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_simhash_pair_join_has_no_dedup_shuffle(spark):
    """Round-10 structural property: canonical-block filtering removed
    the dropDuplicates exchange from the SimHash pair stage — with a
    precomputed fingerprint table, the whole pair computation must plan
    as a broadcast (or at worst one bucket-keyed) join with NO
    hash-partitioning exchange above it, and no aggregate at all (the
    old dedup was a HashAggregate over pairs × C(blocks,d) rows)."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import (
        simhash_md5,
        simhash_md5_pairs,
    )

    docs = load_table(spark, SF, "documents")
    sig = simhash_md5(docs).persist()
    try:
        sig.count()
        df = simhash_md5_pairs(docs, max_hamming=3, sig=sig)
        plan = _plan(df)
        # nothing above the pair join aggregates or repartitions the
        # pair stream (the persisted fingerprint's own cached build
        # plan — which legitimately aggregates votes — prints BELOW
        # the join inside InMemoryRelation, so scope to the prefix)
        join_pos = plan.find("Join")
        assert join_pos != -1, plan
        above = plan[:join_pos]
        assert "Aggregate" not in above, plan[:1500]
        assert "Exchange" not in above, plan[:1500]
    finally:
        sig.unpersist()


def test_scd2_single_window_shuffle(spark):
    """SCD2 history must stay one (key, ts) sort-shuffle — a self-join
    formulation would double the exchanges."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    df = QUERIES["q_scd2"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # dedup agg + window may each partition by user_id but only hash ways
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # groupBy + window


def test_tfidf_doc_freq_broadcast(spark):
    """The doc-frequency side of TF-IDF is vocabulary-sized — it must
    broadcast, never shuffle the term-frequency side for the join."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q_tfidf_terms"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_partitioned_staging_pruning(spark):
    """The dt-partitioned staging read must prune at the partition
    level: the dt range lands in PartitionFilters (directory pruning,
    no data read outside the range), not in the row-level data filters;
    and a join against a filtered date dim must plan dynamic partition
    pruning (the runtime analogue for ranges known only after the dim
    scan)."""
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.queries_pipeline import (
        partitioned_staging_dir,
    )

    plan = _plan(QUERIES["q_partitioned_staging"](spark, SF))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "dt" in pf and ">= 2024-01-10" in pf  # predicate reached the dirs
    # the whole range became directory pruning — no row-level filter
    # remains (the PushedFilters line vanishes when empty)
    assert "PushedFilters" not in plan or "PushedFilters: []" in plan

    # DPP: dim-driven date restriction becomes a dynamicpruning
    # subquery on the partitioned scan
    staged = spark.read.parquet(partitioned_staging_dir(spark, SF))
    dim = spark.createDataFrame(
        [("2024-01-05", "t"), ("2024-01-06", "t")], "d_dt string, tag string"
    ).select(F.col("d_dt").cast("date").alias("d_dt"), "tag")
    joined = (
        staged.join(dim.where(F.col("tag") == "t"), staged["dt"] == dim["d_dt"])
        .groupBy("dt")
        .count()
    )
    dpp_plan = _plan(joined)
    assert "dynamicpruning" in dpp_plan.lower()


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level filtering: when a selective dimension filter
    feeds a shuffle join, the optimizer must inject a bloom filter on
    the fact-side scan (`bloom_filter_might_contain`), pruning shuffle
    input before it moves — the difference between shuffling 100 TB
    and shuffling the matching fraction. Pinned here with the
    thresholds a real deployment would set; confs are restored so the
    shared session is unaffected."""
    from crypto_price_data_pipeline_spark.io.sources import load_table

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "true")
        spark.conf.set(keys[1], "0")  # fact side is tiny at test SF
        spark.conf.set(keys[2], "-1")  # force the shuffle join being guarded
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_text_embed_topk_fused_scan_take_ordered(spark):
    """The text→vector retrieval must stay one fused corpus pass: the
    embed fold lives in the scan projection (no materialized vector
    table, no shuffle) and the top-k plans as TakeOrderedAndProject —
    the 100-TB shape its docstring promises."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q_text_embed_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # zero shuffles: scan → project → top-k
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "lang" not in read_schema


def test_cross_dedup_no_cartesian(spark):
    """The bipartite cross-corpus join must stay band-bucket blocked:
    no CartesianProduct / broadcast-NL anywhere in the pair plan."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import minhash_cross_pairs
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    pairs = minhash_cross_pairs(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        threshold=0.8,
        materialize=False,
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_base_never_shuffles(spark):
    """MERGE's matched path must stream the base through a broadcast
    hash join (no Exchange feeding the base scan side of that join);
    the insert anti-join may shuffle, but only a key-pruned projection
    of the base."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q_merge_upsert"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the anti join's base-side scan is pruned to the key column
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any(
        "c_custkey" in l and "c_acctbal" not in l and "c_name" not in l
        for l in read_schemas
    ), "insert anti-join must scan only the base key column"


def test_graph_rank_edge_agg_broadcasts_dims(spark):
    """The heavy edge-build stage must broadcast the customer/supplier
    dims and never plan a nested-loop product; iterations join the
    tiny rank vector via broadcast too."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    plan = _plan(QUERIES["q_graph_rank"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_shard_manifest_no_single_partition_window(spark):
    """The DOCUMENT-scale prefix sum must stay bucketed: no raw-scan →
    Exchange SinglePartition → Window chain (the one-partition global
    window the two-phase design exists to avoid). Since r11 the bucket
    PREFIXES come from an in-plan window over the ≤256-row bucket-count
    aggregate — that bounded-domain single-partition window is the
    hygiene-permitted compressed case (same shape as
    global_order_index_inplan), so this test pins the precise census
    property instead of a blanket SinglePartition ban, plus that the
    per-document window is partitioned by the bucket."""
    from crypto_price_data_pipeline_spark.queries import QUERIES

    from test_plan_hygiene import raw_single_partition_window

    df = QUERIES["q_shard_manifest"](spark, SF)
    plan = _plan(df)
    assert not raw_single_partition_window(
        df._jdf.queryExecution().executedPlan().toString()
    )
    # the document-scale window shuffles on the bucket key, never global
    assert "hashpartitioning(_ord_bkt" in plan


def test_aqe_skew_join_split_fires_on_hot_key(spark):
    """Pin that AQE's runtime skew-join handling actually FIRES on a
    deliberately hot key: with skew thresholds lowered to test scale,
    the executed (final adaptive) sort-merge join plan must carry
    ``skew=true`` — i.e. the hot shuffle partition was split into
    multiple reader chunks at runtime and the other side's matching
    partition duplicated per chunk.

    When AQE suffices vs when salting (operators/skew.py) is still
    required: AQE's split happens at shuffle-READ time of a
    SortMergeJoin, so it handles join-side skew — including a single
    hot KEY, whose partition is split by map-output ranges —
    with zero query changes. It does NOT help (a) aggregation skew
    (a groupBy's hot key cannot be split without breaking the
    aggregate — salt + two-phase reaggregate remains the fix),
    (b) broadcast-hash paths (no shuffle to split; the hot STREAM
    side is already partition-parallel there), or (c) a skewed
    partition that must stay co-partitioned for a downstream
    stateful op. q_salted_join keeps the explicit salting operator
    for exactly those cases."""
    import random

    # hot key 0 carries ~50k fat rows; 50 cold keys carry 100 each
    rng = random.Random(7)
    payload = "".join(rng.choice("abcdef") for _ in range(64))
    left = (
        spark.range(0, 55_000)
        .selectExpr(
            "CASE WHEN id < 50000 THEN 0 ELSE id % 50 + 1 END AS k",
            f"concat('{payload}', id) AS pad",
        )
    )
    right = spark.range(0, 51).selectExpr("id AS k", "id * 10 AS v")
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        # force the sort-merge path: AQE skew split only applies there
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # coalescing can merge the evidence away at this tiny scale
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = left.join(right.hint("merge"), "k").selectExpr(
            "k", "length(pad) AS lp", "v"
        )
        # collect() (not count()) so THIS DataFrame's query execution
        # runs to completion — count() plans a separate aggregate QE
        # and this one would stay isFinalPlan=false
        assert len(joined.collect()) == 55_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

"""Tests for skew mitigation and the scale-path operators."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    from crypto_price_data_pipeline_spark.operators.skew import salted_join

    # one hot key (0) with 500 rows, plus a uniform tail
    facts = spark.createDataFrame(
        [(0, i) for i in range(500)] + [(i % 10 + 1, i) for i in range(200)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(11)], "k long, name string")
    plain = sorted(tuple(r) for r in facts.join(dim, ["k"]).collect())
    salted = sorted(tuple(r) for r in salted_join(facts, dim, ["k"]).collect())
    assert plain == salted


def test_quantize_int8_roundtrip_error(spark):
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0, 4.0, -8.0])],
        "id int, embedding array<double>",
    )
    out = df.select("id", "embedding", *quantize_int8("embedding")).collect()
    rows = {r["id"]: r for r in out}
    assert rows[1]["codes"] == [63, -127, 31]  # trunc toward zero
    assert rows[1]["scale"] == 1.0
    assert rows[2]["codes"] == [0, 0, 0] and rows[2]["scale"] == 0.0
    # dequantize error bounded by scale/127 per component
    for r in out:
        if r["scale"] == 0:
            continue
        for orig, code in zip(r["embedding"], r["codes"]):
            assert abs(orig - code * r["scale"] / 127.0) <= r["scale"] / 127.0 + 1e-12


def test_pq_codes_and_recall_gate(spark):
    """PQ encode: codes are m tinyints in [0, k); the ADC+re-rank query
    reaches recall 1.0 when the shortlist covers the corpus (sf0.001),
    so its in-plan recall gate must report TRUE."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.similarity import pq_build
    from crypto_price_data_pipeline_spark.queries_retrieval import q_pq_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes, codebooks = pq_build(emb, m=8, codebook_k=16)
    assert len(codebooks) == 8 and all(len(cb) == 16 for cb in codebooks)
    rows = codes.collect()
    assert all(len(r["_codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["_codes"])

    out = q_pq_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 10 and all(r["recall_ok"] for r in out)


def test_pq_build_empty_and_tiny_sample_guards(spark):
    """Empty corpus -> clear ValueError (not an opaque NoneType
    subscript); a train_fraction sampling fewer rows than codebook_k
    falls back to full-corpus training with a warning instead of an
    unrelated KMeans failure."""
    import warnings

    import pytest

    from crypto_price_data_pipeline_spark.operators.similarity import pq_build

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="embeddings table is empty"):
        pq_build(empty, m=2, codebook_k=4)

    rows = [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        codes, codebooks = pq_build(
            emb, m=2, codebook_k=8, train_fraction=0.01
        )
        assert any("training on the full corpus" in str(w.message) for w in caught)
    assert codes.count() == 40 and len(codebooks) == 2


def test_stratified_sample_exact_counts_and_determinism(spark):
    """Exact variant: per-stratum counts equal ceil(frac*n); unlisted
    strata are dropped; the selection is stable under repartitioning."""
    import math

    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, s string")
    mix = {"a": 0.5, "b": 0.1}
    out = stratified_sample(df, "s", mix, "id")
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": math.ceil(100 * 0.5), "b": math.ceil(100 * 0.1)}
    ids1 = sorted(r["id"] for r in out.collect())
    ids2 = sorted(
        r["id"] for r in stratified_sample(df.repartition(7), "s", mix, "id").collect()
    )
    assert ids1 == ids2


def test_stratified_sample_hash_partition_invariant_row_set(spark):
    """Hash variant: zero-shuffle per-row predicate — the selected row
    SET must be identical under any repartitioning, and stratum rates
    must land near their targets."""
    from crypto_price_data_pipeline_spark.operators.sampling import (
        stratified_sample_hash,
    )

    rows = [(i, "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, s string")
    mix = {"a": 0.3, "b": 0.7}
    ids1 = sorted(r["id"] for r in stratified_sample_hash(df, "s", mix, "id").collect())
    ids2 = sorted(
        r["id"]
        for r in stratified_sample_hash(df.repartition(13), "s", mix, "id").collect()
    )
    assert ids1 == ids2 and len(ids1) > 0
    n_a = sum(1 for i in ids1 if i % 2)
    assert abs(n_a / 1000 - 0.3) < 0.06  # binomial tolerance at n=1000


def test_bloom_no_false_negatives_and_low_fp_rate(spark):
    """Every member probe must hit (the guarantee the contamination
    pre-filter rests on); non-member false positives stay near the
    design fpp. Deterministic: seeded xxhash64 positions."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_hit,
    )

    members = [f"member gram {i}" for i in range(500)]
    bench = spark.createDataFrame([(g,) for g in members], "gram string")
    m_bits, k = 1 << 16, 3
    bloom = bloom_build(bench, m_bits=m_bits, k=k)

    probes = spark.createDataFrame(
        [(i, [g]) for i, g in enumerate(members)]
        + [(10_000 + i, [f"absent gram {i}"]) for i in range(2000)],
        "id long, grams array<string>",
    )
    out = probes.crossJoin(F.broadcast(bloom)).select(
        "id", bloom_hit(F.col("grams"), F.col("words"), m_bits, k).alias("hit")
    )
    hits = {r["id"]: r["hit"] for r in out.collect()}
    assert all(hits[i] for i in range(500))  # no false negatives
    fp = sum(1 for i in range(2000) if hits[10_000 + i])
    # load f = k*n/m = 0.0229 -> fpp ~ (1-e^-f)^k ~ 1.2e-5; allow slack
    assert fp / 2000 < 0.01, fp


def test_stratified_sampling_is_nested_across_fractions(spark):
    """Raising a stratum's fraction only ADDS rows (both variants):
    hash-threshold sampling is monotone in the threshold, and the
    exact variant takes a longer prefix of the same md5 order. This is
    what lets a training mix grow without resampling — the 10% run is
    a strict subset of the 30% run."""
    from crypto_price_data_pipeline_spark.operators.sampling import (
        stratified_sample,
        stratified_sample_hash,
    )

    rows = [(i, ["a", "b"][i % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string")
    for fn in (stratified_sample, stratified_sample_hash):
        small = {r["id"] for r in fn(df, "s", {"a": 0.1, "b": 0.2}, "id").collect()}
        big = {r["id"] for r in fn(df, "s", {"a": 0.3, "b": 0.6}, "id").collect()}
        assert small <= big, fn.__name__


def test_stratified_sample_scalable_equals_simple(spark):
    """The bucketed two-phase exact sampler must select EXACTLY the
    rows of the single-sort variant (bucket prefix is a prefix of the
    md5 order, so ranks compose), at any prefix width, including when
    a take boundary falls inside a bucket."""
    from crypto_price_data_pipeline_spark.operators.sampling import (
        stratified_sample,
        stratified_sample_exact_scalable,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(601)]
    df = spark.createDataFrame(rows, "id long, s string")
    mix = {"a": 0.37, "b": 0.11}
    want = sorted(r["id"] for r in stratified_sample(df, "s", mix, "id").collect())
    for pc in (1, 2):
        got = sorted(
            r["id"]
            for r in stratified_sample_exact_scalable(
                df, "s", mix, "id", prefix_chars=pc
            ).collect()
        )
        assert got == want, pc

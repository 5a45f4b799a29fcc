"""Wave-34 units: heavy-oracle verification twins — sampled-corpus
membership matches the oracle predicate, twin SQL structure, registry
wiring, and twin ≡ original on the sampled corpus."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_sampled_dir_membership_matches_oracle_predicate(spark):
    """The engine-side sampled corpus must contain exactly the ids the
    DuckDB predicate selects (same md5-first-nibble rule on both
    sides), for documents AND embeddings."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.queries_ext34 import (
        _SUB_NIBBLES,
        sampled_sf_dir,
    )

    d = sampled_sf_dir(spark, SF)
    for tbl, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        full_ids = [
            r[id_col] for r in load_table(spark, SF, tbl).select(id_col).collect()
        ]
        expect = {
            i
            for i in full_ids
            if hashlib.md5(str(i).encode()).hexdigest()[0] in _SUB_NIBBLES
        }
        got = {r[id_col] for r in load_table(spark, d, tbl).select(id_col).collect()}
        assert got == expect, tbl
        assert 0 < len(got) < len(full_ids)
    # non-sampled tables read through (symlinks)
    assert load_table(spark, d, "orders").count() == load_table(
        spark, SF, "orders"
    ).count()


def test_twin_sql_structure_and_registry_wiring(spark):
    """Every heavy-exact name keeps its exact registration AND gains a
    _sub twin whose oracle references only the rewritten CTE names."""
    import re

    from crypto_price_data_pipeline_spark.queries import ORACLES, QUERIES
    from crypto_price_data_pipeline_spark.queries_ext34 import HEAVY_EXACT

    for name in HEAVY_EXACT:
        assert name in QUERIES and name in ORACLES
        twin = f"{name}_sub"
        assert twin in QUERIES and twin in ORACLES
        sql = ORACLES[twin]
        body = sql.split("__embs_sub AS MATERIALIZED", 1)[1]
        # after the injected CTEs, the base tables are never referenced
        # directly again — everything goes through the sampled CTEs
        assert not re.search(r"\bdocuments\b", body.split("),", 1)[1])
        assert not re.search(r"\bembeddings\b", body.split("),", 1)[1])


def test_twin_equals_original_on_sampled_corpus(spark):
    """A twin must be EXACTLY the original callable on the sampled
    directory — zero drift by construction."""
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.queries_dedup import q_winnow_dedup
    from crypto_price_data_pipeline_spark.queries_ext34 import sampled_sf_dir

    d = sampled_sf_dir(spark, SF)
    got = sorted(map(tuple, QUERIES["q_winnow_dedup_sub"](spark, SF).collect()))
    ref = sorted(map(tuple, q_winnow_dedup(spark, d).collect()))
    assert got == ref and len(got) > 0


def test_simhash_strategies_bit_identical_and_auto_decision(spark):
    """canonical and distinct-fp strategies must emit the IDENTICAL
    pair set on both corpus regimes; auto must pick canonical on the
    mostly-distinct base corpus (artifact stamp stats) and distinct on
    the 20x-replica dup-heavy corpus (measured stats)."""
    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.dedup import (
        fp_group_stats,
        pick_simhash_strategy,
        simhash_md5,
        simhash_md5_pairs,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    dup = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("_r"), "doc_id", "text"
    ).select((F.col("doc_id") * 20 + F.col("_r")).alias("doc_id"), "text")
    for corpus in (docs, dup):
        sig = simhash_md5(corpus).localCheckpoint(eager=True)
        sets = {}
        for strat in ("canonical", "distinct"):
            sets[strat] = sorted(
                map(
                    tuple,
                    simhash_md5_pairs(
                        None, sig=sig, strategy=strat, materialize=False
                    ).collect(),
                )
            )
        assert sets["canonical"] == sets["distinct"]
        assert len(sets["canonical"]) > 0
    # artifact stamp carries the measured stats; base corpus -> canonical
    stamp = (
        artifacts.simhash32_table(spark, SF).schema.fields[0].metadata or {}
    )["artifact_params"]
    assert {"fp_n", "fp_d", "fp_pdup"} <= set(stamp)
    assert pick_simhash_strategy(stamp["fp_n"], stamp["fp_pdup"], 56) == "canonical"
    # dup-heavy corpus -> distinct, on measured stats
    dup_sig = simhash_md5(dup).localCheckpoint(eager=True)
    s = fp_group_stats(dup_sig, "simhash32")
    assert s["fp_n"] == 20 * docs.count()
    assert pick_simhash_strategy(s["fp_n"], s["fp_pdup"], 56) == "distinct"
    # unknown strategy rejected at construction
    import pytest

    with pytest.raises(ValueError, match="strategy"):
        simhash_md5_pairs(None, sig=dup_sig, strategy="fastest")


def test_lm_scores_artifact_path_equals_inline(spark):
    """bigram_lm_scores(probs=stored) must equal the self-training
    inline form bit-for-bit (same decimal transition values), and a
    differently-parameterized probs table must be rejected."""
    import pytest

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import bigram_lm_scores

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    inline = {
        r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(docs).collect()
    }
    probs = artifacts.lm_bigram_probs(spark, SF)
    served = {
        r["doc_id"]: r["lm_score"]
        for r in bigram_lm_scores(docs, probs=probs).collect()
    }
    assert served == inline and len(served) > 0
    bad = probs.withMetadata(
        probs.columns[0],
        {"artifact_params": {"artifact": "lm_bigram", "smoothing": "none"}},
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        bigram_lm_scores(docs, probs=bad)

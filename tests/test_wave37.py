"""Wave-37 units: the r13 ADVICE closures. (1) q_winnowing_pairs'
auto strategy now pins collapse_df="raw_docs", so a dup-heavy corpus
routed through the collapse branch stays bit-identical to the plain
(oracle) df semantics. (2) jpeg_decode refuses multi-scan
(non-interleaved) baseline files explicitly instead of silently
returning zero planes. (3) kmv_sample_from_hashes dedupes merge rows
on (group, _h, _v) before ranking, so a replayed/duplicated partial
(the crash-recovery double-count hazard) cannot bias the sample."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_winnow_auto_raw_docs_bit_identical_to_plain_when_dupheavy(spark):
    """The registry call shape (strategy='auto', collapse_df='raw_docs')
    on a corpus whose dup ratio trips the collapse branch must equal
    plain exactly — the r13 ADVICE medium finding."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.text import (
        winnowing_pairs,
    )

    base = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    # Replicate 3x -> dup ratio 3 >= 1.25, so auto picks collapse.
    dup = base.unionByName(
        base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    kw = dict(k=8, w=8, min_shared=4, max_doc_freq=80)
    plain = winnowing_pairs(dup, strategy="plain", **kw)
    auto = winnowing_pairs(
        dup, strategy="auto", collapse_df="raw_docs", **kw
    )
    key = lambda rows: sorted(
        (r["id_a"], r["id_b"], r["n_shared"]) for r in rows
    )
    got_plain, got_auto = key(plain.collect()), key(auto.collect())
    assert got_plain and got_auto == got_plain


def test_jpeg_multiscan_refused_explicitly():
    """A first SOS covering fewer components than SOF declares is a
    multi-scan (non-interleaved) file: refuse, don't half-decode."""
    from crypto_price_data_pipeline_spark.operators.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb[..., 0] = 200
    enc = jpeg_encode(rgb, quality=90)
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    body = enc[sos + 4:]  # past marker + 2-byte length
    ns = body[0]
    assert ns == 3
    seglen = int.from_bytes(enc[sos + 2:sos + 4], "big")
    # Rewrite SOS to cover only the first component (ns=1): keep the
    # first (cid, tbls) pair and the 3 spectral-selection bytes.
    new_body = bytes([1]) + body[1:3] + body[1 + 2 * ns:1 + 2 * ns + 3]
    patched = (
        enc[:sos + 2]
        + (len(new_body) + 2).to_bytes(2, "big")
        + new_body
        + enc[sos + 2 + seglen:]
    )
    with pytest.raises(NotImplementedError, match="multi-scan"):
        jpeg_decode(patched)


def test_kmv_sample_merge_idempotent_to_replayed_partials(spark):
    """Union of the exploded partials WITH A FULL REPLAY of themselves
    (every merge row duplicated) re-ranks to the whole-corpus sample
    bit-exactly — the dedupe-before-rank contract."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.sketch import (
        kmv_sample,
        kmv_sample_from_hashes,
    )

    ev = load_table(spark, SF, "events").select(
        "event_type", "event_id", "value"
    )
    whole = {
        r["event_type"]: r["smp"]
        for r in kmv_sample(
            ev, F.col("event_id"), F.col("value"), ["event_type"], k=64
        ).collect()
    }
    chunked = kmv_sample(
        ev.withColumn("_c", F.pmod("event_id", F.lit(3))),
        F.col("event_id"),
        F.col("value"),
        ["event_type", "_c"],
        k=64,
    )
    rows = chunked.select(
        "event_type", F.explode("smp").alias("_s")
    ).select(
        "event_type",
        F.col("_s._h").alias("_h"),
        F.col("_s._v").alias("_v"),
    )
    replayed = rows.unionByName(rows)  # crash-replayed batch partial
    merged = {
        r["event_type"]: r["smp"]
        for r in kmv_sample_from_hashes(
            replayed, ["event_type"], k=64, presalt=False
        ).collect()
    }
    assert merged == whole


def test_rolling_sketch_calendar_keys_no_multimonth_aliasing(spark):
    """The r13 verdict's design note, pinned: rolling sketch windows
    key daily cells on to_date(ts), so a TWO-MONTH corpus keeps day 5
    of January and day 5 of February in separate cells. The old
    dayofmonth keying (reproduced here by collapsing both months onto
    one) provably aliases — its windows overcount by merging months.
    Cells are < k distinct, so the sketch sits in the exact regime and
    equality assertions are exact."""
    import datetime

    from crypto_price_data_pipeline_spark.queries_sketch import (
        _kmv_rolling_from_events,
        _quantile_sketch_from_events,
    )

    rows = []
    eid = 0
    for m in (1, 2):
        for dom in (5, 6, 7):
            for i in range(5):
                rows.append(
                    (
                        "x",
                        datetime.date(2024, m, dom),
                        m * 1000 + dom * 10 + i,
                        eid,
                        float(m * 100 + dom * 10 + i),
                    )
                )
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_type string, day date, user_id long, "
        "event_id long, value double"
    )

    # ---- calendar-keyed rolling distincts == exact per-window counts
    got = {
        (r.event_type, r.day): r.est_uniques_7d
        for r in _kmv_rolling_from_events(
            ev.select("event_type", "day", "user_id"), k=128
        ).collect()
    }
    data = ev.collect()
    days = sorted({r.day for r in data})
    exact = {
        ("x", d): float(
            len({r.user_id for r in data if 0 <= (d - r.day).days <= 6})
        )
        for d in days
    }
    assert got == exact  # Jan-7 window = 15, never polluted by Feb

    # ---- the OLD keying (dayofmonth ≡ collapse months) overcounts
    aliased_ev = ev.select(
        "event_type",
        F.make_date(F.lit(2024), F.lit(1), F.dayofmonth("day")).alias("day"),
        "user_id",
    )
    aliased = {
        r.day.day: r.est_uniques_7d
        for r in _kmv_rolling_from_events(aliased_ev, k=128).collect()
    }
    # day-7 window under aliasing merges both months: 30 users vs 15
    assert aliased[7] == 30.0
    assert exact[("x", datetime.date(2024, 1, 7))] == 15.0

    # ---- quantile twin: calendar-keyed p50/p90 == exact (cells < k
    # keep the WHOLE window population, so lower-nearest-rank is exact)
    gq = {
        (r.event_type, r.day): (r.p50_7d, r.p90_7d)
        for r in _quantile_sketch_from_events(
            ev.select("event_type", "day", "event_id", "value"), k=128
        ).collect()
    }
    import math

    for d in days:
        vals = sorted(r.value for r in data if 0 <= (d - r.day).days <= 6)
        p50 = vals[max(math.ceil(len(vals) * 0.5), 1) - 1]
        p90 = vals[max(math.ceil(len(vals) * 0.9), 1) - 1]
        assert gq[("x", d)] == (p50, p90)


def test_kmv_merge_degrades_to_min_k(spark):
    """Cross-k merges no longer force a rebuild: merging a k=64 and a
    k=32 sketch with k_out='min' equals a DIRECT k=32 build over the
    concatenated inputs bit-exactly (union kept to bottom-min(k) IS a
    spec-valid min(k) sketch); merging UP stays a hard refusal, as
    does an unstamped input."""
    from crypto_price_data_pipeline_spark.io.sources import load_table
    from crypto_price_data_pipeline_spark.operators.sketch import (
        kmv_build,
        kmv_merge,
        kmv_sample,
        kmv_sample_merge,
        kmv_stamp,
    )

    ev = load_table(spark, SF, "events").select(
        "event_type", "event_id", "value"
    )
    a = ev.where(F.pmod("event_id", F.lit(2)) == 0)
    b = ev.where(F.pmod("event_id", F.lit(2)) == 1)
    sk_a = kmv_build(a, F.col("event_id"), ["event_type"], k=64)
    sk_b = kmv_build(b, F.col("event_id"), ["event_type"], k=32)
    merged = {
        r["event_type"]: r["kmv"]
        for r in kmv_merge([sk_a, sk_b], ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: r["kmv"]
        for r in kmv_build(ev, F.col("event_id"), ["event_type"], k=32).collect()
    }
    assert merged == direct and len(merged) > 0
    out_stamp = kmv_stamp(
        kmv_merge([sk_a, sk_b], ["event_type"]), "kmv"
    )
    assert out_stamp and int(out_stamp["k"]) == 32

    with pytest.raises(ValueError, match="biased upward"):
        kmv_merge([sk_a, sk_b], ["event_type"], k_out=64)
    with pytest.raises(ValueError, match="stamped"):
        kmv_merge(
            [sk_a.withMetadata("kmv", {}), sk_b], ["event_type"]
        )

    # value-sample twin: same degrade, values carried
    sm_a = kmv_sample(a, F.col("event_id"), F.col("value"), ["event_type"], k=64)
    sm_b = kmv_sample(b, F.col("event_id"), F.col("value"), ["event_type"], k=32)
    m2 = {
        r["event_type"]: r["smp"]
        for r in kmv_sample_merge([sm_a, sm_b], ["event_type"]).collect()
    }
    d2 = {
        r["event_type"]: r["smp"]
        for r in kmv_sample(
            ev, F.col("event_id"), F.col("value"), ["event_type"], k=32
        ).collect()
    }
    assert m2 == d2 and len(m2) > 0
    with pytest.raises(ValueError, match="biased upward"):
        kmv_sample_merge([sm_a, sm_b], ["event_type"], k_out=64)


def test_jpeg_codec_roundtrip_property():
    """Property harness for the r14 vectorized codec: random sizes
    (1..41 incl. non-multiple-of-8), gray and RGB, several qualities —
    dims exact, determinism exact, roundtrip error within the EXACT
    worst-case bound of the quantization profile (triangle inequality:
    pixel error ≤ Σ_uv (q_uv/2)·|basis_uv| + rounding slack; YCbCr
    channels compose through the 1.772 chroma gain). Fixed seed (the
    repo's determinism rule). The tight empirical bounds live in
    test_jpeg.py; this pins the rewrite can never exceed the math."""
    import numpy as np

    from crypto_price_data_pipeline_spark.operators.jpeg import (
        _Q_CHR,
        _Q_LUM,
        _quality_scale,
        jpeg_decode,
        jpeg_encode,
    )

    cmax = np.array([np.sqrt(1 / 8)] + [0.5] * 7)  # max |c_u cos(...)|
    amp = np.outer(cmax, cmax)

    def tbl_bound(tbl, quality):
        q = _quality_scale(tbl, quality).astype(float)
        return 0.5 * float((q * amp).sum())

    rng = np.random.RandomState(1234)
    for trial in range(24):
        h = int(rng.randint(1, 42))
        w = int(rng.randint(1, 42))
        quality = int(rng.choice([35, 60, 80, 90, 95]))
        color = bool(rng.randint(2))
        shape = (h, w, 3) if color else (h, w)
        a = rng.randint(0, 256, shape).astype(np.uint8)
        enc = jpeg_encode(a, quality=quality)
        assert enc == jpeg_encode(a, quality=quality)  # deterministic
        wd, hd, px = jpeg_decode(enc)
        assert (wd, hd) == (w, h)
        arr = np.asarray(px)
        if color:
            dec = np.stack(
                [(arr >> 16) & 255, (arr >> 8) & 255, arr & 255], axis=-1
            )
            bound = (
                tbl_bound(_Q_LUM, quality)
                + 1.772 * tbl_bound(_Q_CHR, quality)
                + 6
            )
        else:
            dec = arr
            bound = tbl_bound(_Q_LUM, quality) + 2
        err = float(np.abs(dec.astype(int) - a.astype(int)).max())
        assert err <= bound, (trial, h, w, quality, color, err, bound)


def test_boilerplate_strip_semantics(spark):
    """Planted corpus: a phrase shared by every doc is removed wherever
    it appears (all its 8-grams cross the df cap) while unique tails
    survive VERBATIM; a doc with no hot grams passes through
    unchanged; short (< k) and empty docs degrade to identity."""
    from crypto_price_data_pipeline_spark.operators.text import (
        boilerplate_strip,
    )

    common = "the quick brown fox jumps"  # cleaned: 21 chars
    # doc-unique from the FIRST char (a shared first tail char would
    # make the last boundary-crossing gram corpus-common and mask it)
    tails = [(str(i) + "xy") * 8 for i in range(10)]
    rows = [(i, f"{common} {tails[i]}") for i in range(10)]
    rows.append((100, "entirely singular content with no overlap"))
    rows.append((101, "tiny"))  # cleaned len 4 < k: no grams at all
    rows.append((102, ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_strip(
            docs, "doc_id", "text", k=8, max_doc_freq=5
        ).collect()
    }
    # the whole shared phrase is gone (boundary-crossing grams are
    # doc-unique, but every common position is covered by an inside
    # hot gram); the unique tail survives VERBATIM
    for i in range(10):
        assert out[i]["kept_text"] == tails[i]
        assert out[i]["n_masked"] == len("thequickbrownfoxjumps")
        assert out[i]["n_masked"] + len(tails[i]) == out[i]["n_chars"]
    # untouched doc: identity
    assert out[100]["kept_text"] == "entirelysingularcontentwithnooverlap"
    assert out[100]["n_masked"] == 0
    # sub-k and empty docs: no grams, identity
    assert out[101]["kept_text"] == "tiny" and out[101]["n_masked"] == 0
    assert out[102]["kept_text"] == "" and out[102]["n_chars"] == 0


def test_bpe_learn_matches_reference_and_segments(spark):
    """bpe_learn replays canonical greedy BPE exactly: merges (order,
    symbols, counts) equal a pure-Python reference on a corpus with
    overlapping runs ('aaaa'), shared morphology ('est') and ties;
    bpe_segment reproduces the reference segmentation; a corpus with
    no adjacent pairs learns nothing."""
    from crypto_price_data_pipeline_spark.operators.bpe import (
        bpe_learn,
        bpe_segment,
    )

    def ref_bpe(wf, n):
        segs = {w: [*w] for w in wf}
        merges = []
        for step in range(1, n + 1):
            counts = {}
            for w, f in wf.items():
                s = segs[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = (
                        counts.get((s[i], s[i + 1]), 0) + f
                    )
            if not counts:
                break
            (l, r), c = sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            merges.append((step, l, r, l + r, c))
            for w in segs:
                s = segs[w]
                out = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                segs[w] = out
        return merges, segs

    wf = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3,
        "aaaa": 4, "banana": 2, "loop": 1, "x": 9,
    }
    ref, segs = ref_bpe(wf, 8)
    df = spark.createDataFrame(list(wf.items()), "word string, freq long")
    assert bpe_learn(df, 8) == ref
    seg = bpe_segment(
        spark.createDataFrame([(w,) for w in wf], "word string"),
        [(l, r) for _, l, r, _, _ in ref],
    )
    for row in seg.collect():
        assert row.symbols == segs[row.word]
    assert (
        bpe_learn(
            spark.createDataFrame([("a", 3), ("b", 2)], "word string, freq long"),
            4,
        )
        == []
    )

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall seconds across the headline query set (each
executed once, fully materialized via a count/collect action after a
warm-up pass builds the session and JIT-compiles codegen paths).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_pushdown",
    "q03_segment_top_orders",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q07_nation_volume",
    "q10_returned_items",
    "q18_large_orders",
    "q_topk_per_group",
    "q_moving_avg",
    "q_agg_distinct",
    "q_asof_join",
    "q_time_bucket_ohlc",
    "q_sessionize",
    "q_word_freq",
    "q_dedup_exact",
    "q_quality_scores",
    "q_minhash_pairs",
    "q_embedding_topk",
    "q09_nation_profit",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "q_array_funcs",
    "q_frame_sample",
    "q_png_decode",
    "q_wav_decode",
    "q_ngram_jaccard",
    "q_minhash_exact",
    "q_embedding_neardup",
    "q_ts_similarity",
    "q_cms_counts",
    "q_pii_scrub",
    "q_tfidf_terms",
    "q_simhash_md5_pairs",
    "q_ema_chunked",
    "q_partitioned_staging",
    "q_percentiles",
    "q_csv_roundtrip",
    "q_contamination",
    "q_seq_packing",
    "q_train_split",
    "q_novelty_rate",
    "q_ngram_overlap",
    "q_repetition_topgrams",
    "q_winnowing_pairs",
    "q_batch_lsh_topk",
    "q_lm_scores",
    "q_mixture_sample_hash",
    "q_bloom_contamination",
    "q_text_embed_topk",
    "q_training_order",
    "q_source_cap",
    "q_zscore_outliers",
    "q_bucketed_join",
    "q_dpp_join",
    "q_merge_upsert",
    "q_graph_rank",
    "q_shard_manifest",
    # round-7 waves 18-23 representatives
    "q_tfidf_cosine_pairs",
    "q_bm25_topk",
    "q_top_paths",
    "q_k_anonymity",
    "q_zorder_layout",
    "q_rfm_segments",
    "q_changepoint",
    "q_peak_concurrency",
    "q_rolling_corr",
    # round-11 addition: the two-generation evolved-landing scan
    "q_schema_evolution",
    # round-13 additions: DSIR importance resampling (decimal-exact)
    # and the KMV distinct-overlap sketch
    "q_dsir_sample",
    "q_kmv_overlap",
    "q_kmv_rolling",
    # round-13 session-2: the cube-served NB classifier (model from
    # the token_counts artifact, one irreducible scoring explode)
    "q_nb_language_id",
    # round-14: boilerplate span removal (the dedup family's transform)
    "q_boilerplate_strip",
    # round-15: the tokenizer arc closed — learn merges (8 vocab-sized
    # driver rounds), segment the corpus in-row, pack into 128-token
    # sequences via the distributed prefix sum
    "q_bpe_chunks",
    # NOT headline: q_simhash_dupheavy / q_minhash_dupheavy (and the
    # r13 q_winnow_dupheavy / q_overlap_dupheavy) are REGIME pins —
    # they build signatures over synthetic 12-60x replica corpora to
    # exercise the dup-heavy pair strategies, so their cost is
    # dominated by constructing a corpus that does not exist at this
    # sf. Their per-round cost is recorded by the oracle sweeps
    # (CORRECTNESS/NOTES) and the strategy crossover numbers live in
    # SCALING.md.
]


def _calibration(spark) -> float:
    """Fixed-work CPU anchor: a constant aggregate over a synthetic range,
    pure whole-stage codegen, zero I/O, identical plan every round. Its
    wall time measures HOST throughput (contention, GC, CPU clock), not
    the engine — so a uniform shift in query timings that tracks the
    anchor is environment noise, and one that doesn't is a real
    regression. Reported but excluded from the headline total."""
    import time as _t

    df = spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 2 + 1) as s"
    )
    t0 = _t.time()
    df.collect()
    return round(_t.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from crypto_price_data_pipeline_spark.queries import QUERIES
    from crypto_price_data_pipeline_spark.session import get_spark

    # Several registry operators eagerly localCheckpoint intermediates
    # (minhash signatures, pair-stage vector tables); the blocks are
    # only dropped after the corresponding JVM references are GC'd, and
    # the ContextCleaner's periodic System.gc() defaults to 30 MINUTES
    # — longer than the whole bench. Left alone, checkpoint blocks pile
    # up in the block manager and old-gen GC pauses land on whichever
    # query happens to trigger them (measured: random 2-10s spikes on
    # otherwise-constant plans). A 2-minute periodic GC plus a Python
    # gc.collect() between queries (drops the py4j refs so the cleaner
    # can act) keeps the session state flat across the run.
    spark = get_spark("bench", extra_conf={"spark.cleaner.periodicGC.interval": "2min"})
    _calibration(spark)  # warm-up: JIT the range-agg codegen path
    calibration_pre = _calibration(spark)
    # warm-up pass over the full set: session, parquet footers, and
    # whole-stage-codegen JIT for every plan shape. At production scale
    # compile time amortizes to zero; timing the second pass measures
    # the engine, not the JIT.
    for name in HEADLINE:
        QUERIES[name](spark, sf_dir).count()
    QUERIES["q_stream_ohlc"](spark, sf_dir).count()  # streaming machinery

    import gc

    # Two timed passes, per-query MIN. Single-pass timings are hostage
    # to GC-pause placement: an old-gen pause on a 32 GiB heap costs
    # 2-5 s and lands on whichever query is running, so back-to-back
    # single-pass runs disagreed by 3-10 s on individual constant-plan
    # queries while the calibration anchor stayed flat. The min of two
    # passes is the steady-state engine cost; a pause can only inflate
    # one of them.
    passes: list[dict[str, float]] = []
    for _ in range(2):
        tp: dict[str, float] = {}
        for name in HEADLINE:
            fn = QUERIES[name]
            gc.collect()  # release py4j refs so the cleaner can drop blocks
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            tp[name] = round(time.time() - t0, 3)
            _ = n
            del df
        passes.append(tp)
    timings = {name: min(p[name] for p in passes) for name in HEADLINE}

    # corpus artifact cold builds (artifacts.py): the similarity
    # queries read per-corpus stored signature/fingerprint/posting
    # tables, so their per-query entries above measure the serving
    # path. The build cost is real work a production pipeline pays
    # once per corpus version — time it explicitly (forced rebuild,
    # min-of-2 like everything else) and include it in the total so
    # the stored-table design never hides work.
    from crypto_price_data_pipeline_spark import artifacts

    for art in artifacts.BUILDERS:
        samples = []
        for _ in range(2):
            gc.collect()
            t0 = time.time()
            artifacts.rebuild(spark, sf_dir, art)
            samples.append(round(time.time() - t0, 3))
        timings[f"artifact_{art}_build"] = min(samples)

    # end-to-end streaming entries: min-of-2 like the main set —
    # availableNow micro-batch scheduling adds multi-second jitter a
    # single sample can't separate from the engine (r7: 3.4s and 11.1s
    # single samples of the same unchanged stream in one day)
    def _stream_e2e(name: str) -> float:
        samples = []
        for _ in range(2):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            samples.append(round(time.time() - t0, 3))
        return min(samples)

    timings["stream_ohlc_e2e"] = _stream_e2e("q_stream_ohlc")
    timings["stream_join_e2e"] = _stream_e2e("q_stream_join")

    # documented headline EXCLUSION (r11 verdict #6): the incremental
    # artifact-maintenance simulation replays the corpus as 4 micro-
    # batches with 5 partial-store writes each — ~14 s at sf0.1, ~25%
    # of the whole headline total, dominated by availableNow micro-
    # batch scheduling rather than engine work. Its cost is recorded
    # here once per round (single sample, outside `value`) so the
    # stored-table design never hides it.
    t0 = time.time()
    QUERIES["q_stream_artifact_index"](spark, sf_dir).count()
    excluded = {"q_stream_artifact_index": round(time.time() - t0, 3)}

    # written-sink path: snappy-parquet append of the enriched lineitem
    # projection (measures the write pipeline, not just scans)
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from crypto_price_data_pipeline_spark.io.sinks import overwrite_parquet
    from crypto_price_data_pipeline_spark.io.sources import load_table

    out = tempfile.mkdtemp(prefix="bench_sink_")
    try:
        enriched = load_table(spark, sf_dir, "lineitem").withColumn(
            "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        t0 = time.time()
        overwrite_parquet(enriched, out)
        timings["sink_parquet_write"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    calibration_post = _calibration(spark)

    total = round(sum(timings.values()), 3)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    cal_mean = round((calibration_pre + calibration_post) / 2, 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # host-noise anchor, excluded from `value` (see _calibration)
        "calibration_sec": {"pre": calibration_pre, "post": calibration_post},
        # calibration-normalized seconds (t / cal_mean, the round's
        # anchor mean): round-over-round deltas should be read in THESE
        # units — r7/r8/r9 each burned a verdict cycle adjudicating
        # raw-second drift that the anchor fully explained (r9's host
        # ran the anchor 2.4× slower than r8's). A normalized ratio
        # far off 1.0 with a flat anchor is a real plan change; a raw
        # ratio matching the anchor shift is environment.
        "calibration_mean_sec": cal_mean,
        "queries_normalized": {
            name: round(t / cal_mean, 2) for name, t in timings.items()
        },
        "value_normalized": round(total / cal_mean, 2),
        # per-pass totals over HEADLINE (before the min): their spread
        # is the run's GC/host jitter, visible without a re-run
        "pass_totals_sec": [round(sum(p.values()), 3) for p in passes],
        # measured but NOT in `value` (see the exclusion comment above)
        "excluded_queries_sec": excluded,
        "driver_memory": spark.conf.get("spark.driver.memory", "default"),
    }
    prev_round, prev = _latest_prior_bench()
    if prev is not None and prev.get("sf") == sf:
        # r16: the per-query vs-prev maps go to STDERR, not the stdout
        # contract line. Rationale (r15 verdict "What's wrong" #4): the
        # driver tail-captures the one stdout JSON line and r11-r14's
        # lines were truncated past parseability; r15's 8.5 KB line was
        # the first to parse, and adding two ~2.3 KB derived maps (85
        # common entries vs BENCH_r15) pushed the line to 9.6 KB —
        # re-risking truncation for information any reader can
        # recompute from this line + the prior BENCH file (diff the two
        # files' per-query maps). The TIMED
        # surface, methodology and every primary field are unchanged;
        # only where the derived diagnostics are printed moved.
        out["prev_round"] = prev_round
        # NOTE: deliberately no "metric" key — the stdout contract
        # line is identified by that key, and this stderr line must
        # never be mistakable for it by a stream-merging consumer.
        diag: dict = {
            "diagnostic": "vs_prev",
            "prev_round": prev_round,
            "delta_vs_prev": {
                name: round(t - prev["queries"][name], 3)
                for name, t in timings.items()
                if name in prev.get("queries", {})
            },
        }
        prev_cal = prev.get("calibration_mean_sec") or (
            sum(prev.get("calibration_sec", {}).values()) / 2
            if prev.get("calibration_sec")
            else None
        )
        if prev_cal:
            # normalized round-over-round ratio per common query:
            # (t/cal) / (t_prev/cal_prev) — the number to adjudicate
            diag["normalized_ratio_vs_prev"] = {
                name: round((t / cal_mean) / (prev["queries"][name] / prev_cal), 2)
                for name, t in timings.items()
                if name in prev.get("queries", {}) and prev["queries"][name] > 0
            }
        print(json.dumps(diag), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def _parse_driver_bench(data: dict) -> dict | None:
    """The driver wraps bench.py's JSON line under "parsed", but when
    that is null it still keeps the line (front-truncated at an
    arbitrary offset inside the leading '{"metric"' key) under "tail"
    — reattach the missing prefix and parse. Returns None when neither
    form yields a dict."""
    parsed = data.get("parsed")
    if isinstance(parsed, dict):
        return parsed
    if "metric" in data:  # a raw bench.py line, not a driver wrapper
        return data
    tail = (data.get("tail") or "").strip()
    if not tail:
        return None
    prefix = '{"metric"'
    for k in range(len(prefix) + 1):
        if tail.startswith(prefix[k:]):
            tail = prefix[:k] + tail
            break
    try:
        out = json.loads(tail)
    except json.JSONDecodeError:
        return None
    return out if isinstance(out, dict) else None


def _latest_prior_bench() -> tuple[int | None, dict | None]:
    """Newest parseable BENCH_r{N}.json in the repo root — the prior
    round's numbers, so per-query regressions surface in this round's
    output instead of requiring archaeology across files."""
    import glob
    import re

    candidates = []
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(path))
        if m:
            candidates.append((int(m.group(1)), path))
    for n, path in sorted(candidates, reverse=True):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = _parse_driver_bench(data)
        if parsed and parsed.get("queries"):
            return n, parsed
    return None, None


if __name__ == "__main__":
    main()

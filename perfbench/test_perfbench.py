"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    plan_metrics,
    scan_and_output,
    tail,
    tree_cpu_s,
)


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _generate(d: str, seed: int) -> dict[str, str]:
    gen.star_schema(os.path.join(d, "star"), seed, 0.0005)
    gen.corpus(os.path.join(d, "corpus"), seed, 120)
    os.makedirs(os.path.join(d, "ingest"))
    gen.fx_rates(os.path.join(d, "ingest", "fx.parquet"), seed)
    stream = gen.PayloadStream(seed, 40)
    for i in range(3):
        stream.next_drop(os.path.join(d, "ingest", f"drop_{i}.json"))
    return {
        f"{sub}/{f}": h
        for sub in ("star", "corpus", "ingest")
        for f, h in _digest(os.path.join(d, sub)).items()
    }


@pytest.mark.parametrize("seed", [0, 1, 12345])
def test_generators_are_byte_identical_per_seed(tmp_path, seed):
    a = _generate(str(tmp_path / "a"), seed)
    b = _generate(str(tmp_path / "b"), seed)
    assert a == b
    other = _generate(str(tmp_path / "c"), seed + 1)
    assert set(other) == set(a)
    assert all(other[f] != a[f] for f in a if "region" not in f and "nation" not in f)


def test_payload_stream_resends_and_counts_distinct_keys(tmp_path):
    stream = gen.PayloadStream(7, 100)
    for i in range(4):
        stream.next_drop(str(tmp_path / f"d{i}.json"))
    lines = [l for i in range(4) for l in open(tmp_path / f"d{i}.json").read().splitlines()]
    assert stream.offered == len(lines)
    assert len(set(lines)) == len(stream.sent) < len(lines)
    assert stream.properties()["distinct_keys"] == len(stream.sent)


def test_corpus_properties_match_its_rows(tmp_path):
    import pyarrow.parquet as pq

    props = gen.corpus(str(tmp_path), 3, 2000)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert props["docs"] == len(texts) == 2000
    assert props["distinct_texts"] == len(set(texts))
    assert props["vocab"] == gen.vocab_size(2000)
    assert {w for t in texts for w in t.split()} <= {*gen.vocabulary(props["vocab"]), "dup"}
    near = sum(t.endswith(" dup") for t in texts)
    assert props["near_dup_share"] == near / 2000
    assert 0.02 < props["near_dup_share"] < 0.08


def test_vocabulary_words_are_distinct_letters():
    words = gen.vocabulary(gen.vocab_size(1000))
    assert 8000 < len(words) == len(set(words)) < 10000
    assert all(w.isalpha() and w.islower() and len(w) % 2 == 0 for w in words)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11, 10)
    value, pct, beyond = tail([float(i) for i in range(1, 101)])
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    value, pct, beyond = tail([float(i) for i in range(40, 0, -1)])
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_tree_cpu_counts_live_and_reaped_children():
    burn = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
        "print(flush=True)\n"
        "sys.stdin.read()\n"
    )
    c0 = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    child.stdout.readline()  # the child has spent its CPU and waits
    live = tree_cpu_s() - c0
    child.stdin.close()
    child.wait()
    reaped = tree_cpu_s() - c0
    assert 0.25 <= live <= reaped


def test_self_times_subtract_children_and_sum_to_wall():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span("op", 0.0, 10.0, None, 0, {"gc_s": 1.0}),
        Span("queries", 1.0, 4.0, 0, 0, {"gc_s": 0.25}),
        Span("plan", 4.0, 4.5, 0, 0, {"gc_s": 0.0}),
        Span("execute", 4.5, 9.0, 0, 0, {"gc_s": 0.5}),
        Span("op", 10.0, 12.0, None, 1, {"gc_s": 0.0}),
    ]
    got = [(s.name, st, sg) for s, st, sg in tr.self_times()]
    assert got == [
        ("op", 2.0, 0.25), ("queries", 3.0, 0.25), ("plan", 0.5, 0.0),
        ("execute", 4.5, 0.5), ("op", 2.0, 0.0),
    ]
    assert sum(st for s, st, _ in tr.self_times() if s.op_id == 0) == 10.0


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer(enabled=True, gc_clock=lambda: 0.0)
    tr.new_op()
    with tr.span("op"):
        with tr.span("queries"):
            pass
        with tr.span("execute"):
            pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("op", None, 0), ("queries", 0, 0), ("execute", 0, 0),
    ]
    per_op = sum(st for _, st, _ in tr.self_times())
    assert per_op == pytest.approx(tr.spans[0].end - tr.spans[0].start)
    off = Tracer(enabled=False)
    with off.span("op") as span:
        assert span is None
    assert off.spans == []


def test_sql_metrics_are_read_through_adaptive_query_stages(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    pq.write_table(
        pa.table({"k": [i % 7 for i in range(5000)], "v": list(range(5000))}),
        str(tmp_path / "t.parquet"),
    )
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        t = spark.read.parquet(str(tmp_path / "t.parquet"))
        df = t.groupBy("k").sum("v").join(t.select("k").distinct(), "k")
        rows = df.collect()
        nodes = plan_metrics(df._jdf.queryExecution().executedPlan())
        classes = [c for c, _ in nodes]
        assert classes[0] == "AdaptiveSparkPlanExec"
        assert any(c.endswith("QueryStageExec") for c in classes)
        # both scans sit below query stages; their rows are counted
        scans = [ms for c, ms in nodes if c == "FileSourceScanExec"]
        assert len(scans) == 2 and all(ms["numOutputRows"] == 5000 for ms in scans)
        assert any(ms.get("shuffleBytesWritten", 0) > 0 for _, ms in nodes)
        scan_bytes, out_rows = scan_and_output(nodes)
        assert scan_bytes == 2 * os.path.getsize(tmp_path / "t.parquet")
        assert out_rows == len(rows) == 7
    finally:
        spark.stop()

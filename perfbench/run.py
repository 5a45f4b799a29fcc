"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, sets the session up, runs the workload in a closed loop for
``--seconds`` seconds, checks every output, and prints its metrics; the
last line of standard output is one JSON object. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run (spans are written to ``perfbench/_work/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "crypto_price_data_pipeline_spark"

# Host settings, fixed for every run: one local executor thread per CPU,
# and a driver heap that fits beside other work on a 15 GB host (the
# session factory's default is 32 GB).
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "4g"

WORKLOADS = ("ingest", "analytics", "curation")

# the end-to-end metrics BENCHMARK.json bounds: set-up wall time, and
# the CPU seconds all processes of the run spend per operation, to
# which time the host gives to other guests is not charged
E2E_UNITS = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
}
# printed with the end-to-end metrics, but not bounded: wall-clock
# latencies follow the load other guests put on a shared host (their
# run-to-run spread exceeds any bound a comparison allows), not every
# workload has the others, peak RSS varies too much from run to run,
# and a run of fewer than 100 operations has no tail (op_tail_s is then
# left out)
PRINTED_UNITS = {
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "op_tail_s": "s",
    "jvm_peak_rss_mb": "MB",
    "failed_ratio": "ratio",
    "ingest_rows_per_s": "rows/s",
    "warehouse_bytes_per_row": "B",
    "cold_corpus_s": "s",
    "pass_p50_s": "s",
}
# the lowest percentile op_tail_s may report
TAIL_MIN_PERCENTILE = 90.0


def layer_units() -> dict:
    """Unit of every per-layer metric: one artifact triple per
    ``artifacts.BUILDERS`` entry and one stream phase per
    ``workloads.STREAM_PHASES`` entry."""
    from crypto_price_data_pipeline_spark.artifacts import BUILDERS
    from perfbench.workloads import STREAM_PHASES

    return {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "queries.construct_s": "s",
        "queries.construct_jobs": "count",
        "queries.construct_tasks": "count",
        "queries.construct_cpu_util": "ratio",
        "io.sources.load_table_s": "s",
        "io.sources.load_table_jobs": "count",
        "plan.s": "s",
        "execute.s": "s",
        "execute.jobs": "count",
        "execute.stages": "count",
        "execute.tasks": "count",
        "execute.failed_tasks": "count",
        "execute.shuffle_write_bytes": "B",
        "execute.shuffle_fetch_wait_ms": "ms",
        "execute.spill_bytes": "B",
        "execute.scan_bytes": "B",
        "execute.output_rows": "rows",
        "execute.cpu_util": "ratio",
        **{f"artifacts.build_s.{n}": "s" for n in BUILDERS},
        **{f"artifacts.build_jobs.{n}": "count" for n in BUILDERS},
        **{f"artifacts.bytes.{n}": "B" for n in BUILDERS},
        "streaming.ingest.stream_s": "s",
        "streaming.ingest.batches": "count",
        "streaming.ingest.input_rows": "rows",
        **{f"streaming.ingest.{p}_ms": "ms" for p in STREAM_PHASES},
        "streaming.ingest.addBatch_share": "ratio",
        "io.sinks.flush_s": "s",
        "io.sinks.flush_jobs": "count",
        "io.sinks.rows_written_ratio": "ratio",
        "io.sinks.warehouse_files": "count",
        "jvm.peak_rss_mb": "MB",
        "jvm.gc_s.setup": "s",
        **{f"jvm.gc_s.{p}": "s" for p in
           ("queries", "plan", "execute", "artifacts", "streaming", "sinks")},
        "trace.overhead_s": "s",
    }


# span name -> layer it is charged to
SPAN_LAYER = {"queries": "queries", "plan": "plan", "execute": "execute",
              "streaming.ingest": "streaming", "io.sinks": "sinks",
              "io.sources": "sources", "op": "op"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _set_host_env(tmp: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def layer_metrics(wl, tracer, ops, setup: dict, units: dict) -> dict:
    """Per-layer metrics of a traced run, each a mean per traced
    operation of the kind that exercises the layer; 0 where the workload
    does not reach the layer."""
    from perfbench.workloads import Ingest

    m = {k: 0.0 for k in units}
    m["session.start_s"], m["session.warmup_s"] = setup["start_s"], setup["warmup_s"]
    m["jvm.gc_s.setup"] = setup["gc_s"]
    self_t: dict[str, float] = {}
    gc_t: dict[str, float] = {}
    per_op: dict[int, float] = {}
    op_wall: dict[int, float] = {}
    for span, st, sg in tracer.self_times():
        layer = "artifacts" if span.name.startswith("artifacts.") else SPAN_LAYER[span.name]
        self_t[layer] = self_t.get(layer, 0.0) + st
        gc_t[layer] = gc_t.get(layer, 0.0) + sg
        per_op[span.op_id] = per_op.get(span.op_id, 0.0) + st
        if span.name == "op":
            op_wall[span.op_id] = span.end - span.start
    # the self times of each operation's spans add up to its wall time
    residual = max((abs(per_op[o] - w) for o, w in op_wall.items()), default=0.0)
    if residual > 1e-6:
        raise RuntimeError(f"span self times miss an operation's wall time by {residual}s")
    n_traced = max(len(op_wall), 1)
    for layer in ("queries", "plan", "execute", "artifacts", "streaming", "sinks"):
        m[f"jvm.gc_s.{layer}"] = gc_t.get(layer, 0.0) / n_traced
    # traced warm operations against the untraced ones interleaved with
    # them, plus the counter reading that follows each traced operation
    on = [op.wall for op in ops if op.traced and not op.cold]
    off = [op.wall for op in ops if not op.traced and not op.cold]
    m["trace.overhead_s"] = (statistics.fmean(on) - statistics.fmean(off)
                             + tracer.overhead_s / n_traced)

    qc = wl.layer_counts
    if qc:
        n = len(qc)
        m["queries.construct_s"] = self_t.get("queries", 0.0) / n
        m["plan.s"] = self_t.get("plan", 0.0) / n
        m["execute.s"] = self_t.get("execute", 0.0) / n
        cons = [c["construct"] for c in qc]
        ex = [c["execute"] for c in qc]
        m["queries.construct_jobs"] = sum(c["jobs"] for c in cons) / n
        m["queries.construct_tasks"] = sum(c["tasks"] for c in cons) / n
        for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
                    "shuffle_fetch_wait_ms", "spill_bytes", "scan_bytes", "output_rows"):
            m[f"execute.{key}"] = sum(c[key] for c in ex) / n
        # executor CPU seconds over the layer's wall seconds × cores
        for key, layer, counts in (("queries.construct_cpu_util", "queries", cons),
                                   ("execute.cpu_util", "execute", ex)):
            busy = self_t.get(layer, 0.0) * CPUS
            m[key] = sum(c["cpu_ns"] for c in counts) / 1e9 / busy if busy else 0.0
    if isinstance(wl, Ingest):
        n = len(op_wall)
        m.update(wl.stream_layer())
        m["streaming.ingest.stream_s"] = self_t.get("streaming", 0.0) / n
        m["io.sinks.flush_s"] = self_t.get("sinks", 0.0) / n
        trig = m["streaming.ingest.triggerExecution_ms"]
        m["streaming.ingest.addBatch_share"] = m["streaming.ingest.addBatch_ms"] / trig if trig else 0.0
        m["io.sinks.rows_written_ratio"] = wl.rows / wl.rows_offered
        m["io.sinks.warehouse_files"] = wl.warehouse_files
    m.update(wl.extra)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG} not found beside {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work)
    _set_host_env(tmp)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, tmp, work)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str, work: str) -> int:
    from perfbench import trace, workloads

    classes = {"ingest": workloads.Ingest, "analytics": workloads.Analytics,
               "curation": workloads.Curation}
    t_gen = time.perf_counter()
    wl = classes[args.workload](tmp, args.seed)
    gen_s = time.perf_counter() - t_gen
    print(f"inputs: {json.dumps(wl.props)} (generated in {gen_s:.2f}s)")

    t0 = time.perf_counter()
    import bench
    from crypto_price_data_pipeline_spark import queries  # noqa: F401  (registry import is set-up)
    from crypto_price_data_pipeline_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.cleaner.periodicGC.interval": "2min",
            # keep the JVM's files in the run directory: temporary files,
            # and no hsperfdata file (which always goes to /tmp)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        },
    )
    try:
        start_s = time.perf_counter() - t0
        pid = trace.jvm_pid(spark)
        tracer = trace.Tracer(bool(args.trace), gc_clock=lambda: trace.gc_seconds(spark))
        t1 = time.perf_counter()
        wl.warmup(spark, tracer)
        warmup_s = time.perf_counter() - t1
        setup = {"start_s": start_s, "warmup_s": warmup_s, "gc_s": trace.gc_seconds(spark)}
        t2 = time.perf_counter()
        ticks0 = _cpu_ticks()
        deadline = t2 + args.seconds
        ops = wl.run(spark, tracer, deadline)
        print(f"phases: generate {gen_s:.1f}s, session {start_s:.1f}s, warm-up {warmup_s:.1f}s, "
              f"run and checks {time.perf_counter() - t2:.1f}s", file=sys.stderr)
        ticks1 = _cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        print("op walls: " + " ".join(f"{op.name}={op.wall:.3f}" for op in ops), file=sys.stderr)
        print("op cpus: " + " ".join(f"{op.cpu:.2f}" for op in ops), file=sys.stderr)
        peak_mb = trace.peak_rss_mb(pid)
        bench._calibration(spark)  # first call compiles the anchor's plan
        print(f"host: cpus={CPUS} driver_mem={DRIVER_MEM} "
              f"calibration_s={bench._calibration(spark)} (bench.py fixed-work anchor) "
              f"steal={steal:.3f} (share of CPU time taken by other guests while timed)")
        failed = sum(op.failed for op in ops) + getattr(wl, "check_failures", 0)
        attempted = len(ops) + getattr(wl, "heavy_checks", 0)
        print(f"inputs after run: {json.dumps(wl.props)}")
        for op in ops:
            if op.failed:
                print(f"check failed: {op.kind} {op.name} (pass {op.pass_no})", file=sys.stderr)

        if args.trace:
            units = layer_units()
            metrics = layer_metrics(wl, tracer, ops, setup, units)
            metrics["jvm.peak_rss_mb"] = peak_mb
            path = os.path.join(work, f"trace_{args.workload}_{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(tracer.dump(), fh)
            print(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        else:
            walls = [op.wall for op in ops if not op.cold]
            e2e = {
                "setup_s": start_s + warmup_s,
                "cpu_per_op_s": statistics.fmean(op.cpu for op in ops),
            }
            extra = {
                "op_p50_s": statistics.median(walls),
                "ops_per_s": len(walls) / sum(walls),
                "jvm_peak_rss_mb": peak_mb,
                "failed_ratio": failed / attempted,
            }
            tail_v, tail_p, beyond = trace.tail(walls) if len(walls) > 10 else (0.0, 0.0, 0)
            if tail_p >= TAIL_MIN_PERCENTILE:
                extra["op_tail_s"] = tail_v
                print(f"op_tail_s is p{tail_p:.1f} of {len(walls)} ops ({beyond} beyond it)")
            else:
                print(f"op_tail_s not reported: with {len(walls)} ops the highest percentile "
                      f"with 10 ops beyond it is p{tail_p:.1f}, below "
                      f"p{TAIL_MIN_PERCENTILE:.0f}; a longer --seconds gives it")
            if args.workload == "ingest":
                extra["ingest_rows_per_s"] = sum(wl.new_rows) / sum(walls)
                extra["warehouse_bytes_per_row"] = wl.warehouse_bytes / wl.rows
            if args.workload == "curation":
                extra["cold_corpus_s"] = wl.cold_corpus_s
            if args.workload in ("analytics", "curation"):
                extra["pass_p50_s"] = statistics.median(wl.pass_s)
            for k, v in {**e2e, **extra}.items():
                unit = E2E_UNITS.get(k) or PRINTED_UNITS[k]
                print(f"  {k:<26} {v:>14.6g} {unit}")
            metrics, units = e2e, E2E_UNITS
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        _stop(spark)


if __name__ == "__main__":
    sys.exit(main())

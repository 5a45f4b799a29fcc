"""The three workloads: one client in a closed loop, each call waiting
for its result before the next is sent.

A workload generates its inputs, warms the session up on separate
warm-up inputs, runs operations until the deadline, and checks every
output outside the timed region. Each operation is timed around the
public calls a user makes; under tracing the same calls are wrapped in
spans, one per layer, and each span's Spark work is read back through
its own job group after the operation's clock has stopped. A traced run
interleaves untraced warm operations (every other ingest cycle or query
pass) with the traced ones, so that the cost of tracing can be measured
as the difference.
"""

from __future__ import annotations

import datetime as dt
import gc
import glob
import hashlib
import os
import random
import time

import pyarrow.parquet as pq

from . import gen
from .trace import Tracer, group_counts, plan_metrics, scan_and_output, tree_cpu_s


class Op:
    """One completed operation: its kind, name, wall time, the CPU
    seconds the run's processes spent while it ran, and whether its
    output check failed."""

    __slots__ = ("kind", "name", "wall", "cpu", "failed", "pass_no", "cold", "traced")

    def __init__(self, kind, name, wall, cpu, pass_no=0, cold=False, traced=False):
        self.kind, self.name, self.wall, self.cpu, self.pass_no = kind, name, wall, cpu, pass_no
        self.failed = False
        # cold operations are timed into cold_corpus_s, not the latency stats
        self.cold = cold
        self.traced = traced


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


class Oracle:
    """DuckDB oracle results for one data directory, computed once per
    query and compared as order-insensitive row multisets (the rule of
    the repository's oracle checker)."""

    def __init__(self, data_dir: str):
        import duckdb

        from tools.check_oracle import row_multiset

        self._rm = row_multiset
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(f)[: -len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        self._want: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._want:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            self._want[name] = (sorted(cols), self._rm(cols, rel.fetchall()))
        return self._want[name]

    def matches(self, name: str, sql: str, cols: list[str], rows: list) -> bool:
        want_cols, want_rows = self.expected(name, sql)
        return sorted(cols) == want_cols and self._rm(cols, rows) == want_rows

    def close(self):
        self.con.close()


UNTRACED = Tracer(enabled=False)


def traced_turn(tracer: Tracer, i: int) -> Tracer:
    """The tracer for the ``i``-th warm cycle or pass of a run: in a
    traced run, every other one goes untraced."""
    return tracer if i % 2 == 0 else UNTRACED


class QueryRunner:
    """Runs a registry query as a user does: construct, then collect.

    ``collect`` runs the DataFrame's own query execution, so after the
    action its executed plan still carries the SQL metrics of that run.
    Under tracing, the plan is forced in its own span first; the
    collect then reuses it."""

    def __init__(self, spark, tracer, layer_counts: list):
        from crypto_price_data_pipeline_spark.queries import ORACLES, QUERIES

        self.spark, self.tracer, self.layer_counts = spark, tracer, layer_counts
        self.queries, self.oracles = QUERIES, ORACLES

    def run(self, name: str, data_dir: str):
        """Returns (wall seconds, CPU seconds, column names, rows)."""
        gc.collect()  # drop py4j references so the JVM cleaner can free blocks
        sc, tr = self.spark.sparkContext, self.tracer
        op = tr.new_op()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("queries"):
                if tr.enabled:
                    sc.setJobGroup(f"op{op}.construct", name)
                df = self.queries[name](self.spark, data_dir)
            with tr.span("plan"):
                if tr.enabled:
                    sc.setJobGroup(f"op{op}.plan", name)
                    df._jdf.queryExecution().executedPlan()
            with tr.span("execute"):
                if tr.enabled:
                    sc.setJobGroup(f"op{op}.execute", name)
                rows = df.collect()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if tr.enabled:
            t1 = time.perf_counter()
            sc.setJobGroup("bench", "bench")
            counts = {
                layer: group_counts(self.spark, f"op{op}.{layer}")
                for layer in ("construct", "plan", "execute")
            }
            scan, out_rows = scan_and_output(plan_metrics(df._jdf.queryExecution().executedPlan()))
            counts["execute"].update(scan_bytes=scan, output_rows=out_rows)
            self.layer_counts.append(counts)
            tr.overhead_s += time.perf_counter() - t1
        return wall, cpu, df.columns, [tuple(r) for r in rows]


# ------------------------------------------------------------ analytics

ANALYTICS_MIX = [
    "q01_pricing_summary",
    "q03_segment_top_orders",
    "q05_region_revenue",
    "q09_nation_profit",
    "q18_large_orders",
    "q21_waiting_supplier",
    "q_asof_join",
    "q_time_bucket_ohlc",
    "q_sessionize",
    "q_changepoint",
    "q_rolling_corr",
]
ANALYTICS_TABLES = ["region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events"]


class Analytics:
    """Repeated passes over a fixed query mix; the seed shuffles each
    pass's order."""

    SF, WARMUP_SF = 0.01, 0.001

    def __init__(self, tmp: str, seed: int):
        self.seed = seed
        self.dir, self.warm_dir = f"{tmp}/analytics", f"{tmp}/analytics_warmup"
        self.props = gen.star_schema(self.dir, seed, self.SF)
        gen.star_schema(self.warm_dir, seed, self.WARMUP_SF)
        self.layer_counts: list = []
        self.extra: dict = {}

    def warmup(self, spark, tracer):
        runner = QueryRunner(spark, UNTRACED, [])
        for name in ANALYTICS_MIX:
            runner.run(name, self.warm_dir)

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        oracle = Oracle(self.dir)
        order = random.Random(self.seed)
        ops: list[Op] = []
        self.pass_s: list[float] = []
        min_passes = 2 if tracer.enabled else 1
        pass_no = 0
        try:
            while len(self.pass_s) < min_passes or time.perf_counter() < deadline:
                tr = traced_turn(tracer, pass_no)
                runner = QueryRunner(spark, tr, self.layer_counts)
                mix = ANALYTICS_MIX[:]
                order.shuffle(mix)
                total = 0.0
                for name in mix:
                    wall, cpu, cols, rows = runner.run(name, self.dir)
                    op = Op("query", name, wall, cpu, pass_no, traced=tr.enabled)
                    op.failed = not oracle.matches(name, runner.oracles[name], cols, rows)
                    ops.append(op)
                    total += op.wall
                self.pass_s.append(total)
                pass_no += 1
        finally:
            oracle.close()
        if tracer.enabled:
            self.extra.update(_load_table_layer(spark, tracer, self.dir, ANALYTICS_TABLES))
        return ops


def _load_table_layer(spark, tracer, data_dir: str, tables: list[str]) -> dict:
    """One ``load_table`` call per table the mix reads, each in a span
    and its own job group."""
    from crypto_price_data_pipeline_spark.io.sources import load_table

    sc = spark.sparkContext
    total_s, jobs = 0.0, 0
    for t in tables:
        tracer.new_op()
        sc.setJobGroup(f"load.{t}", t)
        with tracer.span("io.sources") as span:
            load_table(spark, data_dir, t)
        total_s += span.end - span.start
        jobs += group_counts(spark, f"load.{t}")["jobs"]
    sc.setJobGroup("bench", "bench")
    return {"io.sources.load_table_s": total_s, "io.sources.load_table_jobs": jobs}


# ------------------------------------------------------------- curation

CURATION_MIX = [
    "q_minhash_pairs",
    "q_simhash_md5_pairs",
    "q_winnowing_pairs",
    "q_tfidf_cosine_pairs",
    "q_word_freq",
    "q_lm_scores",
]


class Curation:
    """A fresh corpus version per run: every artifact build, one cold
    pass of the artifact-served dedup and similarity queries (together
    ``cold_corpus_s``), then warm passes, whose queries are the
    operations of the latency statistics.

    Queries whose oracle is quadratic (``HEAVY_EXACT``) are checked,
    after the timed loop, on a small corpus made by the same generator
    and seed; on the full corpus every pass must repeat the first
    pass's rows."""

    DOCS, SMALL_DOCS, MIN_WARM_PASSES = 1000, 150, 2

    def __init__(self, tmp: str, seed: int):
        self.seed = seed
        self.dir, self.small_dir = f"{tmp}/corpus", f"{tmp}/corpus_small"
        self.props = gen.corpus(self.dir, seed, self.DOCS)
        gen.corpus(self.small_dir, seed, self.SMALL_DOCS)
        self.layer_counts: list = []
        self.extra: dict = {}
        self.check_failures = self.heavy_checks = 0

    def _build_all(self, spark, tracer, data_dir: str, ops: list[Op] | None):
        from crypto_price_data_pipeline_spark import artifacts

        sc = spark.sparkContext
        for name, build in artifacts.BUILDERS.items():
            op = tracer.new_op()
            if tracer.enabled:
                sc.setJobGroup(f"op{op}.build", name)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("op"):
                with tracer.span(f"artifacts.{name}"):
                    build(spark, data_dir)
            wall = time.perf_counter() - t0
            if ops is not None:
                ops.append(Op("build", name, wall, tree_cpu_s() - c0, cold=True,
                              traced=tracer.enabled))
            if tracer.enabled:
                t1 = time.perf_counter()
                sc.setJobGroup("bench", "bench")
                self.extra[f"artifacts.build_s.{name}"] = wall
                self.extra[f"artifacts.build_jobs.{name}"] = group_counts(
                    spark, f"op{op}.build"
                )["jobs"]
                loc = artifacts._DIRS.get((name, os.path.abspath(data_dir)))
                self.extra[f"artifacts.bytes.{name}"] = _dir_bytes(loc) if loc else 0
                tracer.overhead_s += time.perf_counter() - t1

    def warmup(self, spark, tracer):
        """None: a curation job meets a new corpus in a new process, so
        the cold phase is cold in both senses."""

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        ops: list[Op] = []
        self.pass_s = []
        t0 = time.perf_counter()
        self._build_all(spark, tracer, self.dir, ops)
        order = random.Random(self.seed)
        results: list[tuple[Op, list, list]] = []
        pass_no = 0
        while pass_no <= self.MIN_WARM_PASSES or time.perf_counter() < deadline:
            # the cold pass and odd warm passes are traced in a traced run
            tr = traced_turn(tracer, max(pass_no - 1, 0))
            runner = QueryRunner(spark, tr, self.layer_counts)
            mix = CURATION_MIX[:]
            order.shuffle(mix)
            total = 0.0
            for name in mix:
                wall, cpu, cols, rows = runner.run(name, self.dir)
                op = Op("query", name, wall, cpu, pass_no, cold=pass_no == 0, traced=tr.enabled)
                ops.append(op)
                total += op.wall
                results.append((op, cols, rows))
            if pass_no == 0:
                self.cold_corpus_s = time.perf_counter() - t0 - tracer.overhead_s
            else:
                self.pass_s.append(total)
            pass_no += 1
        self._check(spark, runner, results)
        # output sizes are a property of the corpus: pair outputs must
        # grow in proportion to the document count
        self.props["out_rows_per_doc"] = {
            op.name: round(len(rows) / self.DOCS, 4) for op, _, rows in results if op.pass_no == 0
        }
        if tracer.enabled:
            self.extra.update(_load_table_layer(spark, tracer, self.dir, ["documents"]))
        return ops

    def _check(self, spark, runner, results):
        from crypto_price_data_pipeline_spark.queries_ext34 import HEAVY_EXACT

        full, small = Oracle(self.dir), Oracle(self.small_dir)
        untimed = QueryRunner(spark, UNTRACED, [])
        try:
            for name in CURATION_MIX:
                if name in HEAVY_EXACT:
                    _, _, cols, rows = untimed.run(name, self.small_dir)
                    self.heavy_checks += 1
                    self.check_failures += not small.matches(
                        name, runner.oracles[name], cols, rows
                    )
            first_rows: dict[str, list] = {}
            for op, cols, rows in results:
                if op.name in HEAVY_EXACT:
                    # every pass must return what the first pass returned
                    first_rows.setdefault(op.name, rows)
                    op.failed = sorted(map(repr, rows)) != sorted(map(repr, first_rows[op.name]))
                else:
                    op.failed = not full.matches(op.name, runner.oracles[op.name], cols, rows)
        finally:
            full.close()
            small.close()


# --------------------------------------------------------------- ingest

NOW = "2023-01-01 00:00:00"
# the durationMs phases of a micro-batch's progress report
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "triggerExecution")


class Ingest:
    """The paper's pipeline: each cycle drops one file of BPI payloads,
    runs the payload stream (availableNow) into staging, then flushes
    staging into one warehouse that grows over the run."""

    # the JIT keeps speeding the per-cycle path up for several cycles;
    # small warm-up cycles run that path without the payload volume
    PER_CYCLE, WARMUP_PER_CYCLE, WARMUP_CYCLES, MIN_CYCLES = 500, 100, 4, 12

    def __init__(self, tmp: str, seed: int):
        self.seed, self.tmp = seed, tmp
        self.fx_path = f"{tmp}/fx_rates.parquet"
        self.props = gen.fx_rates(self.fx_path, seed)
        self.gen = gen.PayloadStream(seed, self.PER_CYCLE)
        self.layer_counts: list = []
        self.extra: dict = {}
        self.progress: list[dict] = []
        self.flush_jobs: list[int] = []

    def _dirs(self, tag: str) -> dict:
        d = {k: f"{self.tmp}/{tag}_{k}" for k in ("drop", "staging", "ckpt", "warehouse")}
        os.makedirs(d["drop"], exist_ok=True)
        return d

    def _fx(self, spark):
        from crypto_price_data_pipeline_spark.pipeline.schema import FX_RATES_SCHEMA

        return spark.read.schema(FX_RATES_SCHEMA).parquet(self.fx_path)

    def _cycle(self, spark, tracer, dirs: dict, fx) -> tuple[float, float, int]:
        from crypto_price_data_pipeline_spark.streaming.ingest import (
            accumulate_then_flush,
            start_payload_stream,
        )

        sc = spark.sparkContext
        op = tracer.new_op()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("op"):
            with tracer.span("streaming.ingest"):
                q = start_payload_stream(
                    spark, dirs["drop"], dirs["staging"], dirs["ckpt"], fx, now=NOW
                )
                q.awaitTermination()
            with tracer.span("io.sinks"):
                if tracer.enabled:
                    sc.setJobGroup(f"op{op}.flush", "flush")
                written = accumulate_then_flush(spark, dirs["staging"], dirs["warehouse"])
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if tracer.enabled:
            t1 = time.perf_counter()
            sc.setJobGroup("bench", "bench")
            self.progress.append(list(q.recentProgress))
            self.flush_jobs.append(group_counts(spark, f"op{op}.flush")["jobs"])
            tracer.overhead_s += time.perf_counter() - t1
        return wall, cpu, written

    def warmup(self, spark, tracer):
        warm = gen.PayloadStream(self.seed + 1, self.WARMUP_PER_CYCLE)
        dirs = self._dirs("warmup")
        fx = self._fx(spark)
        for i in range(self.WARMUP_CYCLES):
            warm.next_drop(f"{dirs['drop']}/drop_{i:05d}.json")
            self._cycle(spark, UNTRACED, dirs, fx)

    def run(self, spark, tracer, deadline: float) -> list[Op]:
        dirs = self._dirs("run")
        self.warehouse = dirs["warehouse"]
        fx = self._fx(spark)
        ops: list[Op] = []
        self.new_rows: list[int] = []
        i = 0
        while len(ops) < self.MIN_CYCLES or time.perf_counter() < deadline:
            self.gen.next_drop(f"{dirs['drop']}/drop_{i:05d}.json")
            tr = traced_turn(tracer, i)
            wall, cpu, written = self._cycle(spark, tr, dirs, fx)
            ops.append(Op("cycle", "ingest", wall, cpu, traced=tr.enabled))
            self.new_rows.append(written)
            i += 1
        self.warehouse_files = len(glob.glob(f"{self.warehouse}/*.parquet"))
        self.warehouse_bytes = _dir_bytes(self.warehouse)
        self.props.update(self.gen.properties())
        self._check(ops)
        return ops

    def _check(self, ops: list[Op]):
        """Warehouse rows = the distinct (updatedISO, chartName) keys
        sent, each job_id once, and the IDR rate = USD rate × FX rate.
        A failure marks every cycle failed: the warehouse is their
        joint output."""
        wh = pq.read_table(self.warehouse).to_pydict()
        fx = pq.read_table(self.fx_path).to_pydict()
        rate = dict(zip(fx["rate_date"], fx["rate"]))
        ids = wh["job_id"]
        ok = len(ids) == len(set(ids)) == len(self.gen.sent)
        want = {
            hashlib.md5(f"{iso}|{chart}".encode()).hexdigest(): (iso, chart, usd)
            for (iso, chart), usd in self.gen.sent.items()
        }
        self.rows = len(ids)
        for i in range(0, len(ids), max(1, len(ids) // 500)):
            iso, chart, usd = want.get(ids[i], (None, None, None))
            day = dt.date.fromisoformat(iso[:10]) if iso else None
            ok = ok and (
                iso is not None
                and wh["chart_name"][i] == chart
                and wh["bpi_usd_rate_float"][i] == usd
                and wh["bpi_idr_rate_float"][i] == usd * rate[day]
            )
        self.check_ok = ok
        if not ok:
            for op in ops:
                op.failed = True
        self.rows_offered = self.gen.offered

    def stream_layer(self) -> dict:
        """Per-cycle means of the stream's progress phases."""
        n = len(self.progress)
        out = {f"streaming.ingest.{p}_ms": sum(
            b.get("durationMs", {}).get(p, 0) for cyc in self.progress for b in cyc
        ) / n for p in STREAM_PHASES}
        out["streaming.ingest.batches"] = sum(len(c) for c in self.progress) / n
        out["streaming.ingest.input_rows"] = sum(
            b.get("numInputRows", 0) for c in self.progress for b in c
        ) / n
        out["io.sinks.flush_jobs"] = sum(self.flush_jobs) / n
        return out

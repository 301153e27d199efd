"""Benchmark harness: session lifecycle, timed passes, probes, output
checks, metrics and the self-test."""

from __future__ import annotations

import hashlib
import io
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from py4j.protocol import Py4JError

import probes
import workloads
from scripts.driver_sim import canon_df
from sqlengine_spark.engine import SQLEngine
from sqlengine_spark.session import TABLES, get_spark, load_tables, table

MB = 1 << 20

#: End-to-end metrics: name -> unit.
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "executor_cpu_s": "s",
}
#: Per-layer metrics (traced run): name -> unit. Per-pass totals, median
#: over passes, unless NOTES.md says otherwise.
LAYER = {
    "session.get_spark_s": "s", "session.load_tables_s": "s", "session.table_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "engine.sql_s": "s",
    "catalyst.parsing_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.plan_nodes": "count", "catalyst.exchanges": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.stage_wall_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio", "exec.serial_stage_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.peak_exec_mem_mb": "MB",
    "collect.s": "s", "collect.rows": "count",
    "driver.gap_s": "s", "driver.peak_rss_mb": "MB",
    "stream.batches": "count", "stream.empty_batches": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.batch_p50_ms": "ms",
    "stream.state_rows": "count", "stream.state_mem_mb": "MB", "stream.idle_s": "s",
    "stream.rows_per_s": "rows/s",
    "dml.write_s": "s", "dml.rewrite_s": "s", "dml.read_back_s": "s",
    "dml.files_written": "count", "dml.bytes_written": "bytes", "dml.write_amp": "ratio",
}


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive content hash of ``scripts/driver_sim.canon_df``'s canonical form."""
    c = canon_df(pdf)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return h.hexdigest()


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


@dataclass
class CallRecord:
    qid: str
    p: int
    layer: str
    wall: float
    t0: float = 0.0
    t1: float = 0.0
    t2: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)
    rows: int = 0
    error: str | None = None
    pdf: pd.DataFrame | None = None
    cpu_s: float = 0.0
    batches: list = field(default_factory=list)
    written: tuple[int, int] = (0, 0)
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


@dataclass
class Result:
    attempted: int
    failed: int
    e2e_metrics: dict
    layer_metrics: dict
    record: dict
    trace: list

    @staticmethod
    def print_table(metrics: dict, out) -> None:
        for k, (v, u) in metrics.items():
            print(f"# {k:28s} {v:14.6g} {u}", file=out)


class Bench:
    def __init__(self, data_dir: str, run_dir: str, cpus: int) -> None:
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.cpus = cpus
        self.spark = None
        self.session = {}

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        for name in TABLES:
            table(self.spark, self.data_dir, name)
        t2 = time.perf_counter()
        load_tables(self.spark, self.data_dir, TABLES)
        t3 = time.perf_counter()
        self.session = {
            "session.get_spark_s": t1 - t0,
            "session.table_s": t2 - t1,
            "session.load_tables_s": t3 - t2,
        }
        self.eng = SQLEngine(self.data_dir, self.spark).load_catalog()
        self.sc = self.spark.sparkContext
        self.status = probes.StatusStore(self.spark)
        self.listener = probes.BatchListener()
        self.spark.streams.addListener(self.listener)
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.seen_plans: set[int] = set()
        self.duck = duckdb.connect()
        self.clock = probes.HostClock()
        for name in TABLES:
            self.duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.data_dir}/{name}.parquet')"
            )

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers have
        exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        pids = probes.descendants(os.getpid())
        try:
            self.spark.streams.removeListener(self.listener)
        except Py4JError:  # JVM already gone; still reap what is left
            pass
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while any(probes.alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.05)
        for p in pids:
            if probes.alive(p):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        while any(probes.alive(p) for p in pids) and time.time() < deadline + 10:
            time.sleep(0.05)
        self.spark = None

    # -- one call -----------------------------------------------------------
    def call(self, c: workloads.Call, p: int, trace: bool) -> CallRecord:
        group = f"{c.qid}#{p}"
        self.sc.setJobGroup(group, c.qid)
        j0, s0 = self.status.next_job_id(), self.status.next_stage_id()
        df = None
        rec = CallRecord(c.qid, p, c.layer, 0.0)
        t0 = time.time()
        pt0 = time.perf_counter()
        try:
            df = c.build()
            t1 = time.time()
            if c.write:
                c.write(df, c.table)
            else:
                rec.pdf = df.toPandas()
            rec.wall = time.perf_counter() - pt0
            t2 = time.time()
        except Exception as e:  # noqa: BLE001 — counted as a failed call
            rec.wall = time.perf_counter() - pt0
            t1 = t2 = time.time()
            rec.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec.t0, rec.t1, rec.t2 = t0, t1, t2
        if rec.error is None:
            # Fresh plan per timed call: a memoized DataFrame would time a
            # cached plan, not the call.
            plan_id = probes.qe_id(df)
            if plan_id in self.seen_plans:
                rec.error = "stale plan: the call returned a DataFrame built earlier"
            self.seen_plans.add(plan_id)
        if rec.pdf is not None:
            rec.rows = len(rec.pdf)
        self.status.drain()
        rec.jobs = (j0, self.status.next_job_id())
        rec.stages = (s0, self.status.next_stage_id())
        rec.batches = self.listener.take()
        if c.write and rec.error is None:
            rec.written = dir_files(os.path.join(self.run_dir, "warehouse", c.table))
        if trace:
            self._trace(rec, df if (rec.error is None and not c.write) else None)
        else:
            rec.cpu_s = self.status.stage_cpu_s(*rec.stages)
        return rec

    # -- tracing ------------------------------------------------------------
    def _trace(self, rec: CallRecord, df) -> None:
        st = self.status
        jobs = [st.job(j) for j in range(*rec.jobs)]
        stages = [s for s in (st.stage(i) for i in range(*rec.stages)) if s and s.get("submissionTime")]
        spans = [{"name": f"call:{rec.qid}", "layer": "call", "start": rec.t0, "end": rec.t2}]
        spans.append({"name": rec.layer, "layer": rec.layer, "start": rec.t0, "end": rec.t1})
        if rec.layer == "dml.rewrite":
            spans.append({"name": "dml.write", "layer": "dml.write", "start": rec.t1, "end": rec.t2})
        cat = probes.catalyst(df) if df is not None else {"phases": {}, "plan_nodes": 0, "exchanges": 0}
        for ph, (a, b) in cat["phases"].items():
            spans.append({"name": f"catalyst.{ph}", "layer": "catalyst", "start": a, "end": b})
        for j in jobs:
            end = (j.get("completionTime") or rec.t2 * 1e3) / 1e3
            spans.append({"name": f"exec.job:{j['jobId']}", "layer": "exec.job",
                          "start": (j.get("submissionTime") or rec.t0 * 1e3) / 1e3, "end": end,
                          "group": j.get("jobGroup")})
        for s in stages:
            spans.append({"name": f"exec.stage:{s['stageId']}", "layer": "exec.stage",
                          "start": s["submissionTime"] / 1e3,
                          "end": (s.get("completionTime") or rec.t2 * 1e3) / 1e3,
                          "tasks": s["numTasks"]})
        for i, b in enumerate(rec.batches):
            spans.append({"name": f"stream.batch:{i}", "layer": "stream.batch",
                          "start": b["start"], "end": b["end"], "rows": b["rows"]})
        if rec.layer != "dml.rewrite" and rec.error is None:
            after = [s["end"] for s in spans[2:] if s["start"] >= rec.t1 - probes.SLACK]
            start = min(max([rec.t1] + after), rec.t2)
            spans.append({"name": "collect", "layer": "collect", "start": start, "end": rec.t2})
        probes.nest(spans)
        selfs = probes.self_times(spans)
        for s, v in zip(spans, selfs):
            s["self_s"] = v
            s["call_id"] = f"{rec.qid}#{rec.p}"
        wall = rec.t2 - rec.t0
        if abs(sum(selfs) - wall) > 1e-6:
            raise AssertionError(f"{rec.qid}: self times {sum(selfs)} != wall {wall}")
        rec.spans = spans

        build_s = rec.t1 - rec.t0
        L = {}
        L["operators.build_s"] = build_s if rec.layer == "operators.build" else 0.0
        L["engine.sql_s"] = build_s if rec.layer == "engine.sql" else 0.0
        L["dml.rewrite_s"] = build_s if rec.layer == "dml.rewrite" else 0.0
        L["dml.write_s"] = rec.t2 - rec.t1 if rec.layer == "dml.rewrite" else 0.0
        L["dml.read_back_s"] = rec.wall if rec.qid == "dml_read_back" else 0.0
        L["dml.files_written"], L["dml.bytes_written"] = rec.written
        L["operators.build_jobs"] = sum(
            1 for j in jobs if (j.get("submissionTime") or 0) / 1e3 < rec.t1
        ) if rec.layer == "operators.build" else 0
        for ph in probes.PHASES:
            a, b = cat["phases"].get(ph, (0.0, 0.0))
            L[f"catalyst.{ph}_ms"] = (b - a) * 1e3
        L["catalyst.plan_nodes"] = cat["plan_nodes"]
        L["catalyst.exchanges"] = cat["exchanges"]
        L["exec.jobs"] = len(jobs)
        L["exec.stages"] = len(stages)
        L["exec.tasks"] = sum(s["numTasks"] for s in stages)
        L["exec.stage_wall_s"] = probes.union_s(
            [(s["start"], s["end"]) for s in spans if s["layer"] == "exec.stage"])
        L["exec.run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        L["exec.cpu_s"] = rec.cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
        L["exec.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
        L["exec.serial_stage_s"] = sum(
            s["end"] - s["start"] for s in spans if s["layer"] == "exec.stage" and s["tasks"] == 1)
        L["exec.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in stages) / MB
        L["exec.shuffle_read_mb"] = sum(s["shuffleReadBytes"] for s in stages) / MB
        L["exec.spill_mb"] = sum(s["diskBytesSpilled"] for s in stages) / MB
        L["exec.input_mb"] = sum(s["inputBytes"] for s in stages) / MB
        L["exec.peak_exec_mem_mb"] = max([s["peakExecutionMemory"] for s in stages] or [0]) / MB
        L["collect.s"] = sum(s["end"] - s["start"] for s in spans if s["layer"] == "collect")
        L["collect.rows"] = rec.rows
        L["driver.gap_s"] = selfs[0]
        b = rec.batches
        L["stream.batches"] = len(b)
        L["stream.empty_batches"] = sum(1 for x in b if x["rows"] == 0)
        for key, dk in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                        ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                        ("commit_offsets_ms", "commitOffsets")):
            L[f"stream.{key}"] = float(sum(x["duration_ms"].get(dk, 0) for x in b))
        L["stream.state_rows"] = max([x["state_rows"] for x in b] or [0])
        L["stream.state_mem_mb"] = max([x["state_mem"] for x in b] or [0]) / MB
        L["stream.idle_s"] = (build_s - L["stream.trigger_ms"] / 1e3) if b else 0.0
        rec.layers = L

    # -- checks -------------------------------------------------------------
    def check_call(self, c: workloads.Call, rec: CallRecord, wl: workloads.Workload,
                   first: dict) -> str | None:
        """Output check for one timed call, outside its timed window.
        ``first`` maps qid -> (rows, hash) of the qid's first timed pass."""
        if rec.error:
            return rec.error
        if c.write:
            return None  # written tables are checked per pass in check_dml
        if rec.qid not in first:
            try:
                h = frame_hash(rec.pdf)
            except Exception as e:  # noqa: BLE001 — e.g. container cells
                return f"canon: {type(e).__name__}: {e}"
            first[rec.qid] = (rec.rows, h)
            oracle = c.sql or self.eng.oracle(rec.qid)
            if oracle is None:
                return None if rec.rows > 0 else "rows-only operator returned no rows"
            if c.reads_written:
                self._view_written(wl, rec.p)
            want = self.duck.execute(oracle).df()
            if sorted(want.columns) != sorted(rec.pdf.columns):
                return f"columns {sorted(rec.pdf.columns)} != oracle {sorted(want.columns)}"
            if len(want) != rec.rows:
                return f"rows {rec.rows} != oracle {len(want)}"
            if frame_hash(want) != h:
                return "hash differs from the DuckDB oracle"
            return None
        rows, h = first[rec.qid]
        if rec.rows != rows:
            return f"rows {rec.rows} != first pass {rows}"
        if self.eng.oracle(rec.qid) is None and c.sql is None and frame_hash(rec.pdf) != h:
            return "rows-only operator: hash differs from the first pass"
        return None

    def _view_written(self, wl, p: int) -> None:
        tag = workloads.pass_tag(p)
        for name in wl.dml_sql(tag):
            path = os.path.join(self.run_dir, "warehouse", name)
            self.duck.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
            )

    def check_dml(self, wl, p: int) -> dict[str, str]:
        """Row count and content hash of every table written in pass ``p``
        against DuckDB's evaluation of the same statements over the
        source parquet. Returns {table: problem}."""
        self._view_written(wl, p)
        bad = {}
        for name, sql in wl.dml_sql(workloads.pass_tag(p)).items():
            cols = sorted(self.duck.execute(f"SELECT * FROM ({sql}) LIMIT 0").df().columns)
            got_cols = sorted(self.duck.execute(f"SELECT * FROM {name} LIMIT 0").df().columns)
            if cols != got_cols:
                bad[name] = f"columns {got_cols} != {cols}"
                continue
            row = "hash(" + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
            q = "SELECT count(*), sum({row}::HUGEINT) FROM ({src})"
            want = self.duck.execute(q.format(row=row, src=sql)).fetchone()
            got = self.duck.execute(q.format(row=row, src=f"SELECT * FROM {name}")).fetchone()
            if want != got:
                bad[name] = f"(rows, hash) {got} != oracle {want}"
        return bad

    def drop_tables(self, wl, p: int) -> None:
        for name in wl.dml_sql(workloads.pass_tag(p)):
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    # -- a run --------------------------------------------------------------
    def run_pass(self, wl, p: int, trace: bool) -> list[tuple[workloads.Call, CallRecord]]:
        out = []
        for c in wl.pass_calls(p):
            if p >= 0:
                self.clock.sample()
            out.append((c, self.call(c, p, trace)))
        return out

    def run(self, workload: str, seed: int, seconds: float, trace: bool,
            t_start: float) -> Result:
        wl = workloads.Workload(workload, self.eng, seed)
        warmup_s = []
        for p in range(-workloads.WARMUP_PASSES[workload], 0):  # JIT, file listing, staging
            warmup_s.append(sum(rec.wall for _, rec in self.run_pass(wl, p, False)))
            if wl.dml_params:
                self.drop_tables(wl, p)
        setup_s = time.perf_counter() - t_start

        # A fixed number of timed passes sized from ``seconds``. Output
        # checks wait until the loop ends, so the timed calls run back to
        # back.
        t_loop = time.perf_counter()
        passes = [self.run_pass(wl, p, trace) for p in range(workloads.n_passes(workload, seconds))]
        self.clock.sample()
        t_checks = time.perf_counter()
        rss = probes.vm_hwm_mb(self.jvm_pid) + probes.vm_hwm_mb()
        failures: list[dict] = []
        first: dict = {}
        for p, calls in enumerate(passes):
            for c, rec in calls:
                why = self.check_call(c, rec, wl, first)
                if why:
                    failures.append({"qid": rec.qid, "pass": p, "why": why})
                    rec.error = why
                rec.pdf = None
            if wl.dml_params:
                if p == 0:
                    for name, why in self.check_dml(wl, p).items():
                        failures.append({"qid": name, "pass": p, "why": why})
                        for c, rec in calls:
                            if c.table == name:
                                rec.error = why
                self.drop_tables(wl, p)
        passes = [[rec for _, rec in calls] for calls in passes]
        res = self._result(passes, failures, setup_s, rss, trace)
        res.record["warmup_pass_s"] = warmup_s
        res.record["host_clock_s"] = self.clock.loop_s
        res.record["phase_wall_s"] = {
            "timed_loop": t_checks - t_loop, "checks": time.perf_counter() - t_checks}
        return res

    # -- metrics ------------------------------------------------------------
    def _result(self, passes, failures, setup_s, rss, trace) -> Result:
        recs = [r for ps in passes for r in ps]
        walls = [r.wall for r in recs]
        pass_s = [sum(r.wall for r in ps) for ps in passes]
        q = statistics.quantiles(walls, n=10, method="inclusive") if len(walls) > 1 else walls * 9
        per_qid: dict[str, list[float]] = {}
        per_qid_cpu: dict[str, list[float]] = {}
        for r in recs:
            per_qid.setdefault(r.qid, []).append(r.wall)
            per_qid_cpu.setdefault(r.qid, []).append(r.cpu_s)
        e2e = {
            "setup_s": setup_s,
            # One pass with every call at its median over the passes: a
            # slow call in one pass moves it less than a median of pass sums.
            "pass_s": sum(statistics.median(v) for v in per_qid.values()),
            "query_p50_s": statistics.median(walls),
            "query_p90_s": q[8],
            "executor_cpu_s": sum(statistics.median(v) for v in per_qid_cpu.values()),
        }
        failed = sum(1 for r in recs if r.error)
        record = {
            "passes": len(passes),
            "calls": len(recs),
            "pass_s": pass_s,
            "per_qid_median_s": {k: statistics.median(v) for k, v in sorted(per_qid.items())},
            "per_qid_median_cpu_s": {k: statistics.median(v) for k, v in sorted(per_qid_cpu.items())},
            "failed_frac": failed / len(recs),
            "peak_rss_mb": rss,
            "call_walls_s": {f"{r.qid}#{r.p}": r.wall for r in recs},
            "failures": failures,
            "session": self.session,
            "stream_rows_per_s": self._stream_rows_per_s(recs),
            "write_amp": self._write_amp(recs, len(passes)),
        }
        layer = {}
        trace_out = []
        if trace:
            per_pass = []
            for ps in passes:
                tot = dict.fromkeys(LAYER, 0.0)
                for r in ps:
                    for k, v in r.layers.items():
                        tot[k] += v
                per_pass.append(tot)
            for k in LAYER:
                layer[k] = statistics.median(pp[k] for pp in per_pass)
            layer.update(self.session)
            layer["driver.peak_rss_mb"] = rss
            run_s = sum(pp["exec.run_s"] for pp in per_pass)
            wall_s = sum(pp["exec.stage_wall_s"] for pp in per_pass)
            layer["exec.core_util"] = run_s / (wall_s * self.cpus) if wall_s else 0.0
            batches = [b for r in recs for b in r.batches]
            layer["stream.batch_p50_ms"] = statistics.median(
                [b["duration_ms"].get("triggerExecution", 0) for b in batches]) if batches else 0.0
            layer["stream.rows_per_s"] = record["stream_rows_per_s"]
            layer["dml.write_amp"] = record["write_amp"]
            trace_out = [
                {"call_id": f"{r.qid}#{r.p}", "qid": r.qid, "pass": r.p, "wall_s": r.wall,
                 "error": r.error, "spans": r.spans}
                for r in recs
            ]
            record["layer_self_s"] = self._self_by_layer(recs, len(passes))
        # The host's cores run faster or slower by half from one minute to
        # the next; end-to-end times are scaled to the reference host
        # speed (probes.HostClock). The measured times stay in the record.
        factor = self.clock.factor()
        record["e2e_measured"] = e2e
        record["host_factor"] = factor
        e2e = {k: v / factor for k, v in e2e.items()}
        record["e2e"] = e2e
        return Result(
            attempted=len(recs),
            failed=failed,
            e2e_metrics={k: (float(v), E2E[k]) for k, v in e2e.items()},
            layer_metrics={k: (float(layer[k]), LAYER[k]) for k in LAYER} if trace else {},
            record=record,
            trace=trace_out,
        )

    @staticmethod
    def _stream_rows_per_s(recs) -> float:
        """Listener-reported input rows over the wall time of the calls
        that ran micro-batches."""
        wall = sum(r.wall for r in recs if r.batches)
        return sum(b["rows"] for r in recs for b in r.batches) / wall if wall else 0.0

    def _write_amp(self, recs, n_passes) -> float:
        written = sum(r.written[1] for r in recs)
        if not written:
            return 0.0
        src = os.path.getsize(os.path.join(self.data_dir, "orders.parquet"))
        return written / (src * n_passes)

    @staticmethod
    def _self_by_layer(recs, n_passes) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in recs:
            for s in r.spans:
                key = "driver.gap" if s["layer"] == "call" else s["layer"]
                out[key] = out.get(key, 0.0) + s["self_s"] / n_passes
        return out


def selftest(bench: Bench, out_dir: str) -> int:
    """Drive every workload once at sf0.001 with tracing on: the oracle
    checks, the self-time identity (asserted per call in ``_trace``),
    the metric printer and the trace writer."""
    bench.start()
    problems = []
    for name in workloads.WORKLOADS:
        for trace in (False, True):
            res = bench.run(name, seed=7, seconds=0.0, trace=trace, t_start=time.perf_counter())
            buf = io.StringIO()
            metrics = res.layer_metrics if trace else res.e2e_metrics
            res.print_table(metrics, buf)
            if len(buf.getvalue().splitlines()) != len(LAYER if trace else E2E):
                problems.append(f"{name}: metric printer")
            if res.failed:
                problems.append(f"{name}: {res.record['failures']}")
            if trace:
                path = os.path.join(out_dir, f"selftest-trace-{name}.json")
                with open(path, "w") as f:
                    json.dump({"calls": res.trace}, f)
                with open(path) as f:
                    calls = json.load(f)["calls"]
                for c in calls:
                    total = sum(s["self_s"] for s in c["spans"])
                    span = c["spans"][0]["end"] - c["spans"][0]["start"]
                    if abs(total - span) > 1e-6 or len({s["call_id"] for s in c["spans"]}) != 1:
                        problems.append(f"{name}: span tree of {c['call_id']}")
            print(f"selftest {name} trace={int(trace)}: {res.attempted} calls, "
                  f"{res.failed} failed", file=sys.stderr)
    for p in problems:
        print(f"selftest FAIL {p}", file=sys.stderr)
    print("selftest", "FAIL" if problems else "OK")
    return 1 if problems else 0

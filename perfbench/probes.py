"""Layer probes: everything the benchmark learns about a call, read from
outside the engine through public Spark surfaces.

- job and stage metrics from the SparkContext status store, serialized
  on the JVM side with Jackson (one Py4J round trip per job or stage);
- Catalyst phase times from ``QueryExecution.tracker().phases()``;
- micro-batch progress from a ``StreamingQueryListener``;
- high-water RSS of the driver JVM and of this process.

``self_times`` turns a call's span tree into per-layer self times that
sum exactly to the call's wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime, timezone

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("parsing", "analysis", "optimization", "planning")


class StatusStore:
    """Status-store reader for one SparkContext."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._bus = self._jsc.listenerBus()
        self._dag = self._jsc.dagScheduler()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = (
            jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        mapper.registerModule(scala_module)
        self._mapper = mapper

    def drain(self) -> None:
        """Wait until every posted listener event has reached the status
        store (and the streaming listener)."""
        self._bus.waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def next_stage_id(self) -> int:
        return int(self._dag.nextStageId())

    def job(self, job_id: int) -> dict:
        return json.loads(self._mapper.writeValueAsString(self._store.job(job_id)))

    def stage(self, stage_id: int) -> dict | None:
        try:
            data = self._store.lastStageAttempt(stage_id)
        except Py4JError:  # evicted or never submitted
            return None
        return json.loads(self._mapper.writeValueAsString(data))

    def stage_cpu_s(self, first: int, last: int) -> float:
        """Executor CPU seconds of stages ``first .. last-1`` (one Py4J
        call per stage, no JSON)."""
        total = 0
        for sid in range(first, last):
            try:
                total += int(self._store.lastStageAttempt(sid).executorCpuTime())
            except Py4JError:  # skipped stage, never ran
                pass
        return total / 1e9


def catalyst(df) -> dict:
    """Phase spans (epoch seconds) and plan shape of a DataFrame's
    QueryExecution."""
    qe = df._jdf.queryExecution()
    phases = {}
    summary = qe.tracker().phases()
    for name in PHASES:
        opt = summary.get(name)
        if opt.isDefined():
            p = opt.get()
            phases[name] = (p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
    plan = qe.executedPlan()
    try:
        initial = plan.initialPlan()  # AdaptiveSparkPlanExec
    except Py4JError:  # not an AdaptiveSparkPlanExec
        initial = plan
    lines = [ln for ln in initial.treeString().splitlines() if ln.strip()]
    names = [ln.lstrip(" :+-*").split(" ")[0].split("(")[0] for ln in lines]
    return {
        "phases": phases,
        "plan_nodes": len(names),
        "exchanges": sum(1 for n in names if n.endswith("Exchange")),
    }


def qe_id(df) -> int:
    """Identity of a DataFrame's QueryExecution (fresh per new plan)."""
    return int(df._jdf.queryExecution().id())


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress report; the harness drains
    the bus and takes the batches after each call."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs)
        start = _epoch(p.timestamp)
        self.batches.append({
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1e3,
            "rows": int(p.numInputRows),
            "duration_ms": dur,
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_mem": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (from /proc parent links)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- span tree and self times ----------------------------------------------

#: Nesting rank: a span's parent is the deepest lower-ranked span that
#: contains it in time.
RANK = {
    "call": 0, "operators.build": 1, "engine.sql": 1, "dml.rewrite": 1, "dml.write": 1,
    "stream.batch": 2, "catalyst": 2, "collect": 2,
    "exec.job": 3, "exec.stage": 4,
}
#: Clock slack between the Python and JVM clocks (JVM times are whole
#: milliseconds).
SLACK = 0.003


def nest(spans: list[dict]) -> list[dict]:
    """Give every span a ``parent`` index and clip it to its parent.
    ``spans[0]`` must be the call span."""
    order = sorted(range(1, len(spans)), key=lambda i: (RANK[spans[i]["layer"]], spans[i]["start"]))
    spans[0]["parent"] = None
    spans[0]["depth"] = 0
    placed = [0]
    for i in order:
        s = spans[i]
        best = 0
        for j in placed:
            p = spans[j]
            if (
                RANK[p["layer"]] < RANK[s["layer"]]
                and p["start"] - SLACK <= s["start"]
                and s["end"] <= p["end"] + SLACK
                and p["depth"] >= spans[best]["depth"]
            ):
                best = j
        p = spans[best]
        s["parent"] = best
        s["depth"] = p["depth"] + 1
        s["start"] = min(max(s["start"], p["start"]), p["end"])
        s["end"] = min(max(s["end"], s["start"]), p["end"])
        placed.append(i)
    return spans


def self_times(spans: list[dict]) -> list[float]:
    """Self time of every span: each instant of the call belongs to the
    deepest spans active at that instant, shared evenly when several
    overlap (stages of one job run concurrently). The self times of all
    spans therefore sum to the call's wall time; the call span's own
    share is the driver gap."""
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = [0.0] * len(spans)
    for a, b in zip(cuts, cuts[1:]):
        active = [i for i, s in enumerate(spans) if s["start"] <= a and b <= s["end"]]
        deepest = max(spans[i]["depth"] for i in active)
        top = [i for i in active if spans[i]["depth"] == deepest]
        for i in top:
            out[i] += (b - a) / len(top)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# -- host speed -------------------------------------------------------------

class HostClock:
    """Speed of the host's cores while a run lasts, read from fixed
    reference work that runs no code of the program: a pure-Python loop.
    The harness takes one sample before every timed call and one after
    the last; a sample is several short readings, so that the run's
    median rests on enough of them to be steady (a single reading
    spreads 0.1-0.27 of its median within a run on a busy host)."""

    LOOP_N = 75_000
    READINGS = 4
    #: A quarter of the 22 ms median of a 300 000-step reading on a quiet
    #: 4-core KVM guest (Xeon, model 207): the host speed the end-to-end
    #: times are scaled to.
    LOOP_REF_S = 0.0055

    def __init__(self) -> None:
        self.loop_s: list[float] = []

    def sample(self) -> None:
        for _ in range(self.READINGS):
            t0 = time.perf_counter()
            x = 0
            for i in range(self.LOOP_N):
                x = (x + i * i) & 0xFFFFFFFF
            self.loop_s.append(time.perf_counter() - t0)

    def factor(self) -> float:
        """This run's time per unit of work over the reference host's:
        the median reading over the reference."""
        return statistics.median(self.loop_s) / self.LOOP_REF_S

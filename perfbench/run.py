#!/usr/bin/env python3
"""Repo benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Each run generates (or reuses) the input
tables under ``.perfbench_data/``, starts Spark at ``local[1]``
with every scratch directory under a per-run temp dir that is removed
at exit, warms the JVM with untimed passes, then runs timed passes
over the workload's call list for ``--seconds`` seconds. Outputs are
checked against DuckDB outside the timed windows. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``), scaled to a reference host
speed measured during the run, or the per-layer metrics
(``--trace 1``). A run record (context, per-qid medians, failures) and,
with tracing, the span trace are written under ``.perfbench_out/``.
See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Hard cap on one run; the harness gives up (no result) past it.
DEADLINE_S = 170
SF = 0.1
#: Spark task slots. One: on a shared host the cores a run gets vary from
#: run to run, and a one-slot run depends on that far less than a
#: ``local[nproc]`` one (NOTES.md, "Load shape").
SPARK_CORES = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="interactive")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="drive every workload at sf0.001 and check the harness")
    return ap.parse_args(argv)


def repo_ok() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("sqlengine_spark/engine.py", "scripts/driver_sim.py", "__spark_entry__.py")
    )


BURN_N = 1_000_000
BURN = f"x = 0\nfor i in range({BURN_N}):\n    x += i * i\n"


def host_probe(workers: int) -> dict:
    """CPU capacity probe, run before the JVM starts: one burn loop alone,
    then ``workers`` loops in parallel child processes. Context for
    comparing runs, not a metric."""
    code = compile(BURN, "burn", "exec")
    single = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        exec(code, {})
        single = min(single, time.perf_counter() - t0)
    child = f"import sys\nprint(flush=True)\nsys.stdin.readline()\n{BURN}"
    procs = [
        subprocess.Popen([sys.executable, "-c", child], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(workers)
    ]
    try:
        for p in procs:
            p.stdout.readline()  # interpreter up
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.write("\n")
            p.stdin.flush()
        for p in procs:
            p.wait()
        wall = time.perf_counter() - t0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    return {
        "single_task_s": round(single, 4),
        "effective_cores": round(min(workers * single / wall, workers), 2),
    }


def prepare_env(run_dir: str, cpus: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` before anything starts."""
    for sub in ("tmp", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # One GC worker thread, like the one task slot: a stop-the-world
    # pause spread over four threads waits for whichever of them the
    # shared host runs last.
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')} "
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')} "
        "-XX:ParallelGCThreads=1 -XX:ConcGCThreads=1"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


class Stopped(Exception):
    """The run hit its deadline or was told to stop; cleanup still runs."""


def _on_signal(signum, frame):
    raise Stopped(f"{signal.Signals(signum).name} (deadline {DEADLINE_S} s)")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not repo_ok():
        print(
            "perfbench: run from a checkout of the repository (sqlengine_spark/, "
            "scripts/driver_sim.py and __spark_entry__.py must be present)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import workloads

    if not args.selftest and args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = os.path.join(tmp_root, f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    prepare_env(run_dir, SPARK_CORES)

    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(DEADLINE_S if not args.selftest else 900)
    try:
        t0 = time.perf_counter()
        data_dir = datagen.ensure(os.path.join(ROOT, ".perfbench_data"), 0.001 if args.selftest else SF)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        probe = host_probe(cpus)
        probe_s = time.perf_counter() - t0
        from harness import Bench, selftest

        bench = Bench(data_dir, run_dir, SPARK_CORES)
        try:
            if args.selftest:
                return selftest(bench, out_dir)
            bench.start()
            context = {
                "workload": args.workload,
                "seed": args.seed,
                "sf": SF,
                "trace": args.trace,
                "nproc": cpus,
                "spark_cores": SPARK_CORES,
                "host_probe": probe,
                "spark": bench.spark.version,
                "java": bench.spark._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
            # Set-up clock: process start to first timed call, less the
            # benchmark's own input generation and host probe.
            res = bench.run(args.workload, args.seed, args.seconds, bool(args.trace),
                            t_start=T_START + gen_s + probe_s)
        finally:
            t0 = time.perf_counter()
            bench.stop()
            stop_s = time.perf_counter() - t0
    except Stopped as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)

    record = dict(res.record, context=context)
    record["run_wall_s"] = {
        "inputs": gen_s, "host_probe": probe_s, "stop": stop_s,
        "total": time.perf_counter() - T_START,
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"context": context, "calls": res.trace}, f)
    metrics = res.layer_metrics if args.trace else res.e2e_metrics
    res.print_table(metrics, sys.stderr)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

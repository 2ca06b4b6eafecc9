"""Run one workload of the migration benchmark and print its metrics.

    python3 migbench/run.py --workload snapshot_migrate --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root: the engine package is imported from there.
The run builds its seeded inputs (untimed), sets up the engine (import,
session, first cold job: ``setup_s``), runs warm-up jobs, then times jobs
in a closed loop with one client. ``--seconds`` sets how many: the
workload's measured warm job time divides it into a job count, so every run
times the same stretch of the engine's warm-up curve and reports the same
tail percentile. A run whose timed jobs take more than 3 × ``--seconds``
fails (exit 3) rather than report figures from fewer jobs.
Every job's output is checked against the generator's expectations; a job
that raises or fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics, the job counts
of both kinds and the tracing overhead. The last line of standard output
is one JSON object; progress goes to standard error.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, layer_metrics, trace_targets  # noqa: E402

PACKAGE = "data_warehouse_migrate_spark"
# local[N] with N <= nproc; on a 4-vCPU host fewer task threads measured
# slower, not steadier
CORES = max(1, min(4, os.cpu_count() or 1))
DRIVER_HEAP = "2g"
# the JIT is still compiling after the cold job: per-job CPU falls by
# half over the next five or six jobs, and timing that stretch spread the
# job medians of runs minutes apart by up to a fifth
WARMUP_JOBS = 6
# a busy shared host can double job times; past this multiple of --seconds
# the run fails instead of overrunning its time budget
OVERRUN = 3.0
# the engine modules the benchmark calls or wraps
ENGINE_MODULES = {
    "session": "session", "migrate": "migrate", "schema": "schema",
    "readers": "sources.readers", "sinks": "sources.sinks",
    "casts": "functions.casts", "mapping": "operators.mapping",
    "constraints": "operators.constraints",
    "validate": "operators.validate", "delta": "operators.delta",
    "dedup": "operators.dedup",
}


def log(msg: str) -> None:
    print(f"[migbench] {msg}", file=sys.stderr, flush=True)


def import_engine() -> SimpleNamespace:
    return SimpleNamespace(**{
        k: importlib.import_module(f"{PACKAGE}.{v}")
        for k, v in ENGINE_MODULES.items()})


def start_session(eng, work: str, trace: bool):
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.local.dir": local,
        # no hsperfdata file in the system temp directory either. A fixed
        # heap under the parallel collector: G1's load-dependent heap
        # sizing spread peak RSS by 0.27 of its median over five seeds
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData "
            f"-XX:+UseParallelGC -Xms{DRIVER_HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the traced run reads every job back from the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return eng.session.get_spark("migbench", master=f"local[{CORES}]",
                                 extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds the process has used."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Runner:
    """Runs jobs of one workload and keeps the tallies."""

    def __init__(self, wl, eng, spark):
        self.wl, self.eng, self.spark = wl, eng, spark
        self.pids = [os.getpid(),
                     spark._jvm.java.lang.ProcessHandle.current().pid()]
        self.attempted = self.failed = 0
        self.i = 0
        self.last_cpu_s = 0.0

    def run_job(self, label: str):
        """One job: returns ``(seconds, result, outcome)``, with
        ``outcome`` None when the job raised or its checks failed. The
        job's CPU seconds (driver JVM plus Python) are left in
        ``last_cpu_s``."""
        i, self.i = self.i, self.i + 1
        self.attempted += 1
        cpu = sum(map(cpu_s, self.pids))
        t = time.perf_counter()
        try:
            result = self.wl.job(self.eng, self.spark, i)
        except Exception:
            self.failed += 1
            log(f"{label} job {i} raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t, None, None
        dt = time.perf_counter() - t
        self.last_cpu_s = sum(map(cpu_s, self.pids)) - cpu
        outcome = self.wl.check(i, result)
        if outcome.failures:
            self.failed += 1
            log(f"{label} job {i} failed its checks: {outcome.failures[:5]}")
            return dt, result, None
        return dt, result, outcome


def run(args) -> dict:
    wl_cls = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # temporary files (py4j's connection file, Arrow batches) stay inside
    # the work directory too
    os.environ["TMPDIR"] = tempfile.tempdir = work
    try:
        return _run(args, wl_cls(work, args.seed), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str) -> dict:
    t = time.perf_counter()
    wl.generate()
    log(f"generated {wl.name} inputs (seed {args.seed}) in "
        f"{time.perf_counter() - t:.2f} s, outside setup_s")

    t0 = time.perf_counter()
    eng = import_engine()
    t1 = time.perf_counter()
    spark = start_session(eng, work, bool(args.trace))
    start_s = time.perf_counter() - t1
    try:
        runner = Runner(wl, eng, spark)
        cold_s, _, _ = runner.run_job("cold")
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s: import {t1 - t0:.2f} s, session "
            f"{start_s:.2f} s, cold job {cold_s:.2f} s")
        for _ in range(WARMUP_JOBS):
            runner.run_job("warm-up")
        if args.trace:
            metrics = traced_loop(args, runner)
            metrics["session.start_s"] = start_s
        else:
            metrics = timed_loop(args, runner)
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = peak_rss_mb(runner.pids)
    finally:
        stop_session(spark)
    units = metric_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} "
                           "differ from BENCHMARK.json")
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in sorted(metrics.items())}}


def job_count(args, wl) -> int:
    """Timed jobs in a run: ``--seconds`` ÷ the workload's warm job time."""
    return max(4, round(args.seconds / wl.JOB_S))


class Overrun(Exception):
    """The timed jobs took far longer than ``--seconds``."""


def check_overrun(args, spent: float) -> None:
    if spent > OVERRUN * args.seconds:
        raise Overrun(
            f"timed jobs took {spent:.1f} s, over {OVERRUN:g} × "
            f"{args.seconds:g} s; the host is too busy for this run")


def timed_loop(args, runner) -> dict[str, float]:
    wl = runner.wl
    samples, cpu, outcomes, rows, spent = [], [], [], 0, 0.0
    for _ in range(job_count(args, wl)):
        dt, _, outcome = runner.run_job("timed")
        spent += dt
        check_overrun(args, spent)
        if outcome is None:
            continue
        samples.append(dt)
        cpu.append(runner.last_cpu_s)
        outcomes.append(outcome)
        rows += wl.source_rows
    if not samples:
        raise stats.RunTooShort("every timed job failed")
    log("timed jobs (wall s / cpu s): " + " ".join(
        f"{s:.2f}/{c:.2f}" for s, c in zip(samples, cpu)))
    tail, pct, n = stats.tail(samples)
    p50 = statistics.median(samples)
    print(f"job_s_tail is p{pct} of n={n} jobs: {tail:.4f} s "
          f"(p50 {p50:.4f} s)")
    planted = sum(o.planted for o in outcomes)
    return {
        "job_s_p50": p50,
        "job_s_tail": tail,
        "rows_per_s": rows / sum(samples),
        "out_bytes_per_row": statistics.median(
            o.dest_bytes / o.dest_rows for o in outcomes),
        "removal_recall": sum(o.removed for o in outcomes) / planted,
    }


def traced_loop(args, runner) -> dict[str, float]:
    """Run untraced and traced jobs in pairs, as many in all as the
    untraced run times; per-layer figures are medians over the traced
    jobs."""
    tracer = Tracer(runner.spark)
    targets = trace_targets(runner.eng)
    plain_s, traced_s, plain_jobs, traced_jobs = [], [], [], []
    unattributed, per_job, spent = 0, [], 0.0
    for k in range(2 * (job_count(args, runner.wl) // 2)):
        before = tracer.next_job_id()
        # pairs alternate which side runs first (untraced, traced, traced,
        # untraced, ...), so the warming engine favours neither side
        if (k % 2 == 0) == (k // 2 % 2 == 0):
            dt, _, outcome = runner.run_job("untraced")
            spent += dt
            check_overrun(args, spent)
            if outcome is not None:
                plain_s.append(dt)
                plain_jobs.append(tracer.next_job_id() - before)
            continue
        with tracer.patched(targets), tracer.span("job", "bench") as root:
            dt, result, outcome = runner.run_job("traced")
        spent += dt
        check_overrun(args, spent)
        launched = tracer.next_job_id() - before
        trace = tracer.collect(root)
        if outcome is None:
            continue
        traced_s.append(dt)
        traced_jobs.append(launched)
        unattributed += launched - len(trace.job_span)
        m = layer_metrics(trace, CORES)
        m["sources.sinks.files_out"] = outcome.dest_files
        m.update(runner.wl.extra_metrics(result, outcome, m))
        per_job.append(m)
    if not per_job or not plain_s:
        raise stats.RunTooShort("no traced or no untraced job completed")
    out = {k: statistics.median(m.get(k, 0.0) for m in per_job)
           for k in sorted(set().union(*per_job))}
    p50_plain = statistics.median(plain_s)
    p50_traced = statistics.median(traced_s)
    out.update({
        "trace.job_s_p50_untraced": p50_plain,
        "trace.job_s_p50_traced": p50_traced,
        "trace.overhead": p50_traced / p50_plain - 1.0,
        "trace.spark_jobs_untraced": statistics.median(plain_jobs),
        "trace.spark_jobs_traced": statistics.median(traced_jobs),
        "trace.unattributed_jobs": unattributed,
    })
    print(f"traced {len(traced_s)} jobs, untraced {len(plain_s)}; overhead "
          f"{100 * out['trace.overhead']:+.1f} % of the untraced job_s_p50; "
          f"Spark jobs per job {out['trace.spark_jobs_traced']} traced vs "
          f"{out['trace.spark_jobs_untraced']} untraced; "
          f"{unattributed} unattributed")
    return out


def metric_units(trace: int) -> dict[str, str]:
    """Name → unit of the metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        log(f"engine package {PACKAGE!r} not found under {ROOT}; run from "
            "the repository root")
        return 2
    try:
        out = run(args)
    except (stats.RunTooShort, Overrun) as e:
        log(f"run rejected: {e}")
        return 3
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

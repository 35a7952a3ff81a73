"""Benchmark command: one workload, one closed-loop client, full results.

    python3 perfbench/run.py --workload listings_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the session at
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
generates the workload's inputs from ``--seed``, warms up with untimed
ops, then runs passes over the workload's ops until ``--seconds`` of op
time have been measured. Every op's full result is checked outside
the timer. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run. Everything the run writes stays under ``.perfbench/``
in the repository root; the work dir is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.trace import SPARK_COUNTERS, TRACED_MODULES, self_time  # noqa: E402

#: Variables that change the program under test; a run refuses them.
PROGRAM_CHANGING_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_geomean_s": "s",
    "op_tail_s": "s",
    "input_mb_per_s": "MB/s",
    "cpu_s": "s",
}

#: Per-op figures reported as their median over the traced ops.
PER_OP_MEDIAN = {
    "queries.build_s": "s", "catalyst.plan_s": "s", "exec.collect_s": "s",
    "pipeline.scan_s": "s", "pipeline.parse_s": "s", "pipeline.sink_s": "s",
    "streaming.start_s": "s", "streaming.drain_s": "s", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.jobs_per_file": "count",
}
#: Per-op figures reported as their total per traced pass.
PER_PASS_TOTAL = {
    **SPARK_COUNTERS,
    "python.worker_cpu_s": "s",
    "jvm.cpu_s": "s",
    **{f"{m}.{k}": u for m in TRACED_MODULES for k, u in (("self_s", "s"), ("calls", "count"))},
}
PER_LAYER = {
    "session.build_s": "s",
    "process.peak_rss_mb": "MB",
    "pipeline.extract_cards.mb_per_s": "MB/s",
    **PER_OP_MEDIAN,
    **PER_PASS_TOTAL,
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail_latency(lat: list[float]) -> tuple[float, str]:
    """The highest of p99 and p95 with at least ten samples above it;
    below 200 samples, the p90 (interpolated), with the sample count
    beside it. A run holds 8 to 28 ops, where a percentile with ten
    samples above it is at most the p64 or does not exist, so the p90
    is what a run reports: the latency of its one to three slowest
    ops."""
    n = len(lat)
    if n < 2:
        return lat[0], f"max of n={n}"
    for pct in (99, 95):
        if n * (100 - pct) / 100 >= 10:
            return statistics.quantiles(lat, n=100, method="inclusive")[pct - 1], f"p{pct} of n={n}"
    return statistics.quantiles(lat, n=10, method="inclusive")[-1], f"p90 of n={n}"


class Session:
    """The Spark session and the JVM behind it; ``close`` stops both and
    waits for every process they started."""

    def __init__(self):
        self.spark = None
        self.jvm_pid = None
        self._children: list[int] = []

    def build(self) -> float:
        """Launch the JVM and build the session; returns the seconds taken."""
        from pyspark import SparkContext

        from parcialbigdata_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).collect()
        build_s = time.perf_counter() - t
        self.jvm_pid = SparkContext._gateway.proc.pid
        return build_s

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench.trace import descendants

        if self.jvm_pid is not None:
            self._children = descendants(self.jvm_pid)
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — still running: force it
                proc.kill()
                proc.wait(timeout=10)
            deadline = time.monotonic() + 15
            while self._children and time.monotonic() < deadline:
                self._children = [p for p in self._children if os.path.exists(f"/proc/{p}")]
                time.sleep(0.1)
            for pid in self._children:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def hermetic_env(work: str) -> None:
    """Confine the run to ``work`` and let Python workers import the
    program from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}") if p
    )
    os.chdir(work)  # spark-warehouse/ and any relative path land here


class Loop:
    """Closed-loop passes over a workload's ops, one client."""

    def __init__(self, workload, procs, tracer=None, counters=None):
        self.workload = workload
        self.procs = procs
        self.tracer = tracer
        self.counters = counters
        self.latencies: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.passes: list[tuple[float, int]] = []
        self.cpu = None
        self.attempted = 0
        self.failed = 0
        self.op_figures: list[dict[str, float]] = []
        self.loop_spans = 0

    def run(self, seconds: float) -> None:
        from perfbench.trace import CpuSample

        tracer, counters = self.tracer, self.counters
        cpu = CpuSample(0.0, 0.0, 0.0)
        measured = 0.0
        while not self.passes or measured < seconds:
            pass_s, pass_bytes, pass_log = 0.0, 0, []
            for op in self.workload.pass_ops():
                before = self.procs.cpu()
                if counters is not None:
                    counters.take()
                figures: dict[str, float] = {}
                t = time.perf_counter()
                try:
                    if tracer is None:
                        result = self.workload.run(op)
                    else:
                        result, figures = self.workload.run_traced(op, tracer)
                    error = None
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
                    result, error = None, exc
                dt = time.perf_counter() - t
                used = self.procs.cpu() - before
                cpu += used
                self.latencies.append(dt)
                self.by_op.setdefault(op.name, []).append(dt)
                pass_log.append((op.name, dt))
                pass_s += dt
                pass_bytes += op.input_bytes
                self.attempted += 1
                problems = self._check(op, result, error)
                if problems:
                    self.failed += 1
                    log(f"op {op.name} failed: {'; '.join(problems)[:2000]}")
                if counters is not None:
                    figures.update(counters.take())
                    figures["python.worker_cpu_s"] = used.workers
                    figures["jvm.cpu_s"] = used.jvm
                    self.op_figures.append(figures)
            self.passes.append((pass_s, pass_bytes))
            measured += pass_s
            log("pass " + " ".join(f"{n}={t:.3f}" for n, t in pass_log))
        self.cpu = cpu

    def _check(self, op, result, error) -> list[str]:
        problems = []
        if error is not None:
            problems.append("".join(traceback.format_exception_only(error)).strip())
        try:
            problems += self.workload.check(op, result)
        except Exception as exc:  # noqa: BLE001 — an unreadable result fails its check
            if error is None:
                problems.append(f"check raised {exc!r}")
        return problems

    @property
    def run_s(self) -> float:
        return statistics.median(p for p, _ in self.passes)

    @property
    def op_geomean_s(self) -> float:
        """Geometric mean over the workload's ops of each op's median
        latency. Every op counts once, whatever its cost: the plain
        median op of ``registry_queries`` is always the same query."""
        return statistics.geometric_mean(statistics.median(v) for v in self.by_op.values())


def measure(args, work: str) -> dict:
    from perfbench import workloads
    from perfbench.trace import Processes, SparkCounters, Tracer

    session = Session()
    try:
        build_s = session.build()
        workload = workloads.WORKLOADS[args.workload](session.spark, args.seed, work)
        t = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t
        workload.warmup()
        setup_s = time.perf_counter() - T_START - workload.check_s
        log(
            f"setup {setup_s:.3f}s: session build {build_s:.3f}, inputs {prepare_s:.3f}, "
            f"checks left out {workload.check_s:.3f}"
        )

        procs = Processes(session.jvm_pid)
        loop = Loop(workload, procs)
        # A traced run measures two loops, plain and traced, in the time
        # one untraced run measures, so it too ends within its limit.
        seconds = args.seconds / 2 if args.trace else args.seconds
        loop.run(seconds)
        tail, tail_note = tail_latency(loop.latencies)
        log(f"{len(loop.passes)} passes, {loop.attempted} ops, op_tail_s is the {tail_note}")
        metrics = {
            "setup_s": setup_s,
            "run_s": loop.run_s,
            "op_geomean_s": loop.op_geomean_s,
            "op_tail_s": tail,
            "input_mb_per_s": statistics.median(b / 1e6 / s for s, b in loop.passes),
            "cpu_s": loop.cpu.total / len(loop.passes),
        }
        attempted, failed = loop.attempted, loop.failed
        if args.trace:
            tracer = Tracer()
            traced = Loop(workload, procs, tracer, SparkCounters(session.spark))
            tracer.wrap_modules()
            try:
                traced.run(seconds)
                traced.loop_spans = len(tracer.spans)
                extra = workload.layer_figures(tracer, traced.counters)
            finally:
                tracer.unwrap_modules()
            attempted += traced.attempted
            failed += traced.failed
            metrics = per_layer(traced, tracer, extra, build_s, loop.run_s, procs.peak_rss_mb())
            write_trace(args, tracer, traced, metrics)
        units = {**END_TO_END, **PER_LAYER}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        session.close()


def per_layer(
    traced: Loop, tracer, extra: dict, build_s: float, untraced_run_s: float, peak_rss_mb: float
) -> dict:
    n_pass = len(traced.passes)
    out = {"session.build_s": build_s, "process.peak_rss_mb": peak_rss_mb}
    out["pipeline.extract_cards.mb_per_s"] = extra.pop("pipeline.extract_cards.mb_per_s", 0.0)
    figures = traced.op_figures + ([extra] if extra else [])
    for k in PER_OP_MEDIAN:
        vals = [f[k] for f in figures if k in f]
        out[k] = statistics.median(vals) if vals else 0.0
    for k in PER_PASS_TOTAL:
        out[k] = sum(f.get(k, 0.0) for f in traced.op_figures) / n_pass
    # Spans of the traced passes, per pass, plus those of the ops
    # ``layer_figures`` ran once after them.
    for spans, per in ((tracer.spans[:traced.loop_spans], n_pass), (tracer.spans[traced.loop_spans:], 1)):
        for name, (self_s, calls) in self_time(spans).items():
            if f"{name}.self_s" in PER_PASS_TOTAL:
                out[f"{name}.self_s"] += self_s / per
                out[f"{name}.calls"] += calls / per
    out["trace.overhead_s"] = traced.run_s - untraced_run_s
    return {k: out[k] for k in PER_LAYER}


def write_trace(args, tracer, traced: Loop, metrics: dict) -> None:
    out_dir = os.path.join(REPO, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            {"workload": args.workload, "seed": args.seed, "metrics": metrics,
             "op_figures": traced.op_figures, "latencies": traced.latencies,
             "spans": tracer.dump()},
            fh,
        )
    log(f"spans and per-op figures written to {path}")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    for var in PROGRAM_CHANGING_ENV:
        if os.environ.get(var):
            log(f"refusing to run: {var} is set and would change the program under test")
            return 2
    if not os.path.isfile(os.path.join(REPO, "parcialbigdata_spark", "__init__.py")):
        log(f"refusing to run: the program (parcialbigdata_spark/) is not in {REPO}")
        return 3
    args = parse_args(argv)
    work = os.path.join(REPO, ".perfbench", f"work-{os.getpid()}")
    hermetic_env(work)
    try:
        result = measure(args, work)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the city-directories pipeline and of the operator surface.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each invocation runs one workload in a
fresh process. The load is a closed loop with one client: one CLI run
after another (the ETL workload) or one operator key after another
(the sweep). Spark runs as local[N], N = half the cores this process
may use.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
runs the named workload, then the other workloads' layers in the same
process, so that it measures every per-layer metric; the metrics shared
by all workloads (set-up, wall views, tracer overhead) are the named
workload's. It also writes its spans under ``.perfbench/traces/``; ``perfbench/diff.py``
ranks the per-layer change between two of them. The exit code is
non-zero when any operation raised or an output check failed.

Workloads:

- ``etl_full``: ``cli`` download, parse, geocode and transform over
  generated hOCR archives, with the built-in address dim.
- ``operator_sweep``: rounds over a fixed stratified sample of
  ``queries()`` keys on the standard sf0.01 tables, each round on a
  fresh copy so the memos start cold; each key is checked against its
  DuckDB oracle.

Each workload first sets up SETUPS times (a fresh session and a
warm-up; setup_s is their median), then one priming pass that the
end-to-end metrics leave out, then counted passes until --seconds is
spent, at least one. pass_cpu_s is the median counted pass,
op_cpu_p50_s the median operation (a CLI step, or a key), and
op_cpu_tail_s the median of the slowest operation. Every timing is in CPU seconds of the process tree (see
``metrics.END_TO_END``); stderr gives the same figures in wall seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.spans import log  # noqa: E402
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "inputs")
TRACES = os.path.join(STATE, "traces")
SETUPS = 3  # set-ups per run: setup_s is their median
# The driver heap is committed whole and its young generation fixed: with
# G1 sizing both as it goes, the same run's peak RSS moved by up to 40%
# with the host's speed.
DRIVER_MEM = "2g"
YOUNG_MEM = "512m"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(op_s: dict[str, list[float]]) -> tuple[float, str]:
    """(value, operation) of the slowest operation by its median time
    over the passes: a tail that one stalled call cannot set."""
    if not op_s:
        return 0.0, ""
    op = max(op_s, key=lambda k: _median(op_s[k]))
    return _median(op_s[op]), op


def spark_cores() -> int:
    """Half the cores this process may use: Spark's task threads, its
    Python workers, and the JVM's JIT and GC threads then fit the cores
    together, so a run does not time the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _prepare_env(run_dir: str) -> None:
    """Everything Spark and its Python workers write goes under run_dir,
    and the workers import the package whatever the current directory."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "cwd", "work"):
        os.makedirs(os.path.join(run_dir, d))
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(spark_cores()),
            # the inputs are small; a smaller heap keeps the run's
            # footprint modest on a shared host
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TZ": "UTC",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_MEM}'"
                " --conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    time.tzset()
    os.chdir(os.path.join(run_dir, "cwd"))


class Run:
    """One benchmark process: its session, tracer and operation tally."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        from perfbench.spans import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = run_dir
        self.cache = CACHE
        self.work = os.path.join(run_dir, "work")
        self.tracer = Tracer(counters=trace)
        self.spark = None
        self.setup_s: list[float] = []
        # operation (a CLI step, or a key) -> its wall and CPU time in
        # each pass
        self.op_s: dict[str, list[float]] = {}
        self.op_cpu_s: dict[str, list[float]] = {}
        self.walls: list[float] = []  # per pass
        self.pass_cpu_s: list[float] = []
        self.overheads: list[float] = []  # the tracer's own time, per pass
        self.attempted = 0
        self.failed = 0
        self.per_layer: dict[str, float] = {}
        self.rss_mb = 0.0
        self.live_heap_mb = 0.0

    def record_op(self, op: str, span: dict) -> None:
        self.op_s.setdefault(op, []).append(span["wall_s"])
        self.op_cpu_s.setdefault(op, []).append(span["cpu_s"])

    def record_pass(self, wall_s: float, cpu_s: float, overhead_s: float) -> None:
        self.walls.append(wall_s)
        self.pass_cpu_s.append(cpu_s)
        self.overheads.append(overhead_s)

    def absorb(self, other: "Run") -> None:
        """Take the layer metrics and the operation tally of a traced run
        of another workload; the metrics shared by all workloads stay
        this run's."""
        for name, value in other.per_layer.items():
            self.per_layer.setdefault(name, value)
        self.attempted += other.attempted
        self.failed += other.failed

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        log(f"FAILED {what}{': ' + detail if detail else ''}")

    def new_session(self, warmup) -> None:
        """Stop the current session, start a fresh one and run
        ``warmup(spark, work_dir)`` in it; the two together are one
        set-up. Memos are keyed by application id, so nothing built in
        an earlier session carries over."""
        from etl_city_directories_spark.session import get_spark

        if self.spark is not None:
            self.tracer.bind(None)
            self.spark.stop()
        i = len(self.setup_s)
        with self.tracer.span("setup", cpu=True) as su:
            with self.tracer.span("session.start"):
                self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.tracer.bind(self.spark)
            with self.tracer.span("warmup"):
                warmup(self.spark, os.path.join(self.work, f"warmup-{i}"))
        self.setup_s.append(su["cpu_s"])
        log(f"set-up {i}: {su['wall_s']:.3f} s, cpu {su['cpu_s']:.2f} s")

    def setup(self, warmup) -> None:
        """SETUPS set-ups; the last session stays up."""
        for _ in range(SETUPS):
            self.new_session(warmup)

    def read_rss(self) -> None:
        """Peak resident memory of the driver JVM, from /proc, and the
        heap it still holds after a full collection."""
        jvm = self.spark._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    self.rss_mb = int(line.split()[1]) / 1024.0
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.live_heap_mb = heap.getUsed() / 1024.0 / 1024.0
        log(f"jvm peak rss {self.rss_mb:.1f} MB, live heap {self.live_heap_mb:.1f} MB")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def result(self) -> dict:
        from perfbench.metrics import END_TO_END, per_layer_units

        if self.trace:
            self.per_layer["wall_s"] = _median(self.walls)
            self.per_layer["query_p50_s"] = _median(
                [x for xs in self.op_s.values() for x in xs])
            self.per_layer["query_tail_s"] = tail(self.op_s)[0]
            self.per_layer["trace.overhead_s"] = _median(self.overheads)
            self.per_layer["jvm_live_heap_mb"] = self.live_heap_mb
            self.per_layer["setup_wall_s"] = _median(
                [s["wall_s"] for s in self.tracer.named("setup")])
            self.per_layer["session.start_s"] = _median(
                [s["wall_s"] for s in self.tracer.named("session.start")])
            self.per_layer["warmup_s"] = _median(
                [s["wall_s"] for s in self.tracer.named("warmup")])
            units = per_layer_units()
            metrics = {n: {"value": float(self.per_layer.get(n, 0.0)), "unit": u}
                       for n, u in units.items()}
            os.makedirs(TRACES, exist_ok=True)
            path = os.path.join(TRACES, f"{self.workload}-seed{self.seed}-{int(time.time())}.json")
            self.tracer.write(path, workload=self.workload, seed=self.seed,
                              per_layer={n: m["value"] for n, m in metrics.items()})
            log(f"trace written to {path}")
        else:
            cpu_tail, cpu_op = tail(self.op_cpu_s)
            values = {
                "setup_s": _median(self.setup_s),
                "pass_cpu_s": _median(self.pass_cpu_s),
                "op_cpu_p50_s": _median([x for xs in self.op_cpu_s.values() for x in xs]),
                "op_cpu_tail_s": cpu_tail,
                "jvm_peak_rss_mb": self.rss_mb,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
            wall_tail, wall_op = tail(self.op_s)
            n_ops = sum(map(len, self.op_s.values()))
            log(f"over {len(self.walls)} passes and {n_ops} operations:"
                f" op_cpu_tail_s is the median of {cpu_op}, the slowest of"
                f" {len(self.op_cpu_s)} operations; wall_s {_median(self.walls):.3f}"
                f" query_p50_s {_median([x for xs in self.op_s.values() for x in xs]):.3f}"
                f" query_tail_s {wall_tail:.3f} ({wall_op})")
        rate = self.failed / self.attempted if self.attempted else 1.0
        log(f"error_rate {rate:.4f} = {self.failed} failed / {self.attempted} attempted")
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main(argv: list[str] | None = None) -> int:
    from perfbench.metrics import WORKLOADS

    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("__spark_entry__.py", os.path.join("etl_city_directories_spark", "cli.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout of the repository")
            return 2

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    from perfbench import etl, sweep

    t0 = time.perf_counter()
    bodies = {"etl_full": etl.etl_full, "operator_sweep": sweep.operator_sweep}
    bench = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    runs = [bench]
    try:
        bodies[args.workload](bench)
        if bench.trace:
            # a traced run measures every per-layer metric: after its own
            # workload, it traces the layers the other workloads drive
            for name in WORKLOADS:
                if name != args.workload:
                    other = Run(name, args.seed, args.seconds, True, run_dir)
                    other.spark = bench.spark  # its first set-up stops this session
                    runs.append(other)
                    bodies[name](other)
                    bench.absorb(other)
        result = bench.result()
    except Exception:
        traceback.print_exc()
        log("run aborted")
        return 1
    finally:
        try:
            runs[-1].close()  # the last run holds the live session
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f} s")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

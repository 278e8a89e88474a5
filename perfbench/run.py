"""Earthquake-pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from the seed and
cached under ``.bench_work/``; all Spark, DuckDB and temporary files stay
there too. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

from tracing import Tracer, cpu_ticks, descendants, median, peak_rss_mb, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


def _environment(cpus: int) -> None:
    """Process-wide settings that must precede the JVM launch."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package by module reference; without the
    # repository root on their path they die with ModuleNotFoundError.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # one BLAS thread per Spark task slot: never more threads than cores
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)


class Bench:
    """Run state: the Spark session, check counts and traced counters."""

    def __init__(self, args, cpus: int):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cpus = cpus
        self.work = WORK
        self.spark = None
        self.event_dir: str | None = None
        self.jvm_start_s: float | None = None  # the session start that launched the JVM
        self.attempted = 0
        self.failed = 0
        self.counts: dict[str, list[float]] = defaultdict(list)  # traced counters
        self.phases: dict[str, list[float]] = defaultdict(list)  # untraced phase times
        self.traced_cycles: list[float] = []
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()

    def log(self, msg: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t0:7.1f}s {msg}", file=sys.stderr, flush=True)

    def steal_share(self) -> float:
        """Share of the machine's CPU time the hypervisor stole so far."""
        steal, busy = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        return steal / max(steal + busy, 1)

    def scratch(self, name: str) -> str:
        path = os.path.join(WORK, "run", name)
        os.makedirs(path, exist_ok=True)
        return path

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH: {what}", file=sys.stderr)

    def start_session(self) -> None:
        """A new Spark session; it launches a JVM unless one is running."""
        from pyspark import SparkContext

        from earthquake_data_pipeline_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            # a fixed heap: resident memory then tracks what is touched,
            # not when the collector decided to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.eventLog.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_dir:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        cold = SparkContext._gateway is None
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        if cold:
            self.jvm_start_s = time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _loop(self, tr, cycle, seconds: float) -> tuple[list[float], list[float]]:
        """Closed loop, one client: cycles until ``seconds`` have passed.
        Returns the wall time and the process tree's CPU time of each."""
        walls, cpus = [], []
        end = time.perf_counter() + seconds
        while True:
            c0 = tree_cpu_s(os.getpid())
            walls.append(cycle(tr))
            cpus.append(tree_cpu_s(os.getpid()) - c0)
            self.log(f"cycle {walls[-1]:.3f} s, {cpus[-1]:.2f} CPU s")
            if time.perf_counter() >= end:
                return walls, cpus

    def run_workload(self, setup, cycle, setup_repeats: int) -> dict:
        """Launch the JVM, set up, then measure.

        The first set-up launches the JVM; its session start is the
        per-layer ``session.start_s``. Each further set-up stops the
        session and starts a new one in the same JVM; ``setup(i)`` is told
        which set-up it is, so it can hand the program input it has not
        cached yet. ``setup_s`` is the median of ``setup_repeats`` of those.

        Untraced, the loop starts with the first cycle after set-up: a
        batch job starts a fresh Spark application every run, so its
        users pay that cycle's warm-up. The result is the end-to-end
        metrics; a cycle's cost is the CPU time of the Spark JVM and its
        Python workers, which the host's load moves far less than wall
        time. Traced, one untraced cycle warms the JVM, the loop runs
        untraced, then once more traced in a new session that writes an
        event log; the difference of the two median cycles is the tracing
        overhead. The traced run also reports the wall times of the first
        cycle and of the warm untraced ones."""
        from workloads import layer_metrics

        count = itertools.count()

        def timed_setup() -> float:
            self.stop_session()
            t0 = time.perf_counter()
            setup(next(count))
            return time.perf_counter() - t0

        timed_setup()

        if not self.trace:
            setups = [timed_setup() for _ in range(setup_repeats)]
            self.log(f"set-ups {' '.join(f'{x:.3f}' for x in setups)} s")
            _, cpus = self._loop(Tracer(self.spark, traced=False), cycle, self.seconds)
            self.log(f"host steal share {self.steal_share():.3f}")
            return {
                "setup_s": (median(setups), "s"),
                "cycle_cpu_s": (median(cpus), "s"),
                "peak_rss_mb": (peak_rss_mb(os.getpid()), "MB"),
            }

        (first,), _ = self._loop(Tracer(self.spark, traced=False), cycle, 0)
        self.phases.clear()
        self.log("measuring untraced")
        untraced = median(self._loop(Tracer(self.spark, traced=False), cycle, self.seconds)[0])
        phases = {p: median(xs) for p, xs in self.phases.items()}

        self.event_dir = os.path.join(WORK, "run", "eventlog")
        shutil.rmtree(self.event_dir, ignore_errors=True)
        os.makedirs(self.event_dir)
        timed_setup()
        self.counts.clear()
        self.log("measuring traced")
        tr = Tracer(self.spark, traced=True)
        self.traced_cycles = self._loop(tr, cycle, self.seconds)[0]
        self.stop_session()  # flushes the event log
        metrics = layer_metrics(self, tr, self.event_dir, median(self.traced_cycles) - untraced)
        metrics["host.steal_ratio"] = self.steal_share()
        metrics["cycle.first_wall_s"] = first
        metrics["cycle.warm_wall_s"] = untraced
        for p, v in phases.items():
            metrics[f"pipeline.{p}_s"] = v
        return {k: (v, unit_of(k)) for k, v in metrics.items()}


def unit_of(name: str) -> str:
    if name.endswith("_ms") or ".view_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith("per_changed_row"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def shutdown_jvm() -> None:
    """Stop the JVM gateway and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))  # what nproc reports, ignoring OMP_NUM_THREADS
    _environment(cpus)
    try:
        import earthquake_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args, cpus)
    try:
        metrics = WORKLOADS[args.workload](bench)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.stop_session()
        shutdown_jvm()
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

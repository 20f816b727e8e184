"""Engine benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload crawl_build|query_serve|ingest_serve
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``; the
engine is driven through its public functions in a single
``local[<cpus>]`` Spark session; every result is checked outside the
timed region. Human-readable lines go first; the last line of stdout is
one JSON object ``{correct, attempted, failed, metrics}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also writes its spans under
``.perfbench/traces/``). Everything the run writes stays under
``.perfbench/`` in the working directory. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import summary  # noqa: E402

# a run must end within 180 s: no new timed call after HARD_LIMIT_S once
# the run has its minimum samples, and the watchdog leaves ~30 s for the
# clean-up's own timeouts
HARD_LIMIT_S = 125.0
WATCHDOG_S = 150
DRIVER_MEMORY = "1g"
# pause before each yardstick sample, after the engine's last call
IDLE_PAUSE_S = 0.3
WORKLOADS = ("crawl_build", "query_serve", "ingest_serve")
E2E_UNITS = {"setup_s": "s", "call_p50_yard": "yardstick",
             "work_per_yard": "1/yardstick",
             "index_bytes_per_text_byte": "ratio", "peak_rss_mb": "MB"}


class Bench:
    """One run's settings, scratch directory and session."""

    def __init__(self, args, work: str):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.traced = args.seconds, bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.yard = None
        self.setup_s = None
        self._cpu0 = (0, 0)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_timed(self) -> float:
        """Marks the end of set-up; returns the timed region's start."""
        self.setup_s = procs.process_age_s()
        self._cpu0 = procs.cpu_steal()
        return time.perf_counter()

    def measure_yard(self) -> int:
        """One yardstick sample, taken while the engine is idle: once
        Spark's listener bus has drained and the JVM has had a pause to
        finish the last call's trailing work (clean-up, collection), so
        that the sample measures the machine, not the engine. Returns the
        sample's index in ``yard.samples``."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
            10_000)
        time.sleep(IDLE_PAUSE_S)
        self.yard.measure()
        return len(self.yard.samples) - 1

    def end_timed(self, outcome, start: float) -> None:
        """Marks the end of the timed region: its length, the peak memory
        so far, and the share of the machine's CPU time the hypervisor
        stole meanwhile (it explains slow runs)."""
        outcome.elapsed = time.perf_counter() - start
        outcome.peak_rss, outcome.rss_parts = procs.peak_rss_mb(
            exclude=self.yard.pids())
        self.measure_yard()
        outcome.detail["yardstick_p50_ms"] = 1000.0 * summary.median(
            self.yard.samples)
        total, stolen = (b - a for a, b in zip(self._cpu0, procs.cpu_steal()))
        outcome.detail["steal_share"] = stolen / total if total else 0.0

    def out_of_time(self) -> bool:
        return procs.process_age_s() > HARD_LIMIT_S

    @contextlib.contextmanager
    def untraced_if(self, cond: bool):
        was = self.tracer.enabled
        self.tracer.enabled = was and not cond
        try:
            yield
        finally:
            self.tracer.enabled = was


def _isolate(root: str, work: str) -> None:
    """Keep every file the run writes, JVM's included, under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    # the driver heap is committed and touched in full at JVM start, so
    # the JVM's resident memory does not depend on when its collector
    # last grew the heap (peak_rss_mb would move by ±10 % between runs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, root)


def _stop(spark) -> None:
    """Stop the session, the JVM gateway and every process they left."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except Exception:  # noqa: BLE001 - reaped below either way
            proc.kill()
            proc.wait()
    procs.reap_descendants(timeout_s=10)


def _print_table(bench, outcome, e2e: dict) -> None:
    rows = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]
    for k, v in outcome.detail.items():
        unit = ("count" if k.endswith("_n") else "ms" if k.endswith("_ms")
                else "ratio" if k.endswith("_share") else "1/s")
        rows.append((k, v, unit))
    rows.append(("error_rate", summary.ratio(len(outcome.failures),
                                             outcome.attempted), "ratio"))
    print(f"# {bench.workload} seed={bench.seed} seconds={bench.seconds} "
          f"trace={int(bench.traced)} timed_s={outcome.elapsed:.2f}")
    for name, value, unit in rows:
        print(f"{name:32s} {value:14.4f} {unit}")
    print("# peak rss by process (MB): " + ", ".join(
        f"{comm} {mb:.0f}" for _pid, comm, mb in outcome.rss_parts))
    for f in outcome.failures:
        print(f"FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdf_to_opensearch_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root; the engine package "
              "pdf_to_opensearch_spark/ is not in the working directory",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(root, work)
    bench = Bench(args, work)

    def _timeout(_sig, _frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    try:
        from pdf_to_opensearch_spark.session import get_spark
        from spans import Tracer
        from workloads import WORKLOADS as RUN
        from yardstick import Yardstick

        cpus = len(os.sched_getaffinity(0))
        bench.yard = Yardstick(cpus)
        t0 = time.perf_counter()
        spark = bench.spark = get_spark(f"perfbench-{args.workload}",
                                        cores=cpus)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        bench.tracer = Tracer(spark.sparkContext if bench.traced else None,
                              t0=t0)
        bench.tracer.record("session.get_spark", t0, t0 + session_s)
        outcome = RUN[args.workload](bench)
        e2e = {"setup_s": bench.setup_s, **outcome.e2e,
               "peak_rss_mb": outcome.peak_rss}
        layer = None
        if bench.traced:
            import layers

            layer = layers.compute(bench.tracer, outcome)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            bench.tracer.dump(
                os.path.join(base, "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "end_to_end_traced": e2e, "detail": outcome.detail,
                 "per_layer": layer, "failures": outcome.failures,
                 "peak_rss_parts": outcome.rss_parts,
                 "primary_traced_s": outcome.primary_traced,
                 "primary_untraced_s": outcome.primary_untraced})
    finally:
        signal.alarm(0)
        if bench.yard is not None:
            bench.yard.close()
        try:
            _stop(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    _print_table(bench, outcome, e2e)
    if layer is not None:
        metrics = {k: {"value": v, "unit": layers.METRICS[k][0]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": not outcome.failures,
                      "attempted": outcome.attempted,
                      "failed": len(outcome.failures),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

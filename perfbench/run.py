"""The benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Every input is generated
from ``--seed`` under ``.perfbench_work/`` in the checkout (removed at the
end); the engine sees only those files. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns on the Spark event log and the benchmark's
spans and prints the per-layer metrics, writing the spans, the event-log
ledger and the per-layer table to ``.perfbench_out/<workload>-<seed>/``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Exit code 2 means the
engine is not importable from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    ProgressLog,
    RssSampler,
    Tracer,
    configure_environment,
    new_session,
    remove_tree,
    tail_percentile,
)
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


class Run:
    """One benchmark run: its inputs, sessions, samples and checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out", f"{workload}-{seed}")
        self.event_log = os.path.join(self.work, "eventlog") if trace else None
        self.tracer = Tracer(trace)
        self.progress = ProgressLog()
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.attempted = 0
        self.failed = 0
        self.ledgers: list[tuple] = []
        #: traced runs: extra records written to ``<out>/<name>.json``
        self.outputs: dict[str, object] = {}

    # -- sessions ----------------------------------------------------------

    def session(self, cpus: str = "4"):
        """A fresh SparkContext through the engine's ``get_spark``, with the
        progress listener attached."""
        t0 = time.time()
        with self.tracer.span("session.get_spark"):
            spark = new_session(cpus)
        self.layers.setdefault("session.get_spark_ms", (time.time() - t0) * 1000)
        self.progress.attach(spark)
        return spark

    def scaling(self, name: str, measure) -> None:
        """Traced runs: *measure* the same job on a local[1] session."""
        self.layer(name, float(measure(self.session("1"))))

    # -- samples -----------------------------------------------------------

    def e2e(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)

    def report_setup(self, launch_s: float, start_s: float) -> None:
        """set-up time = session launch + what the workload does before its
        first measured epoch (stream start, the first epoch and any warm-up
        epochs)."""
        self.note(f"set-up: session launch {launch_s:.3f}s + start {start_s:.3f}s")
        self.e2e("setup_s", launch_s + start_s)

    def latency(self, samples: list[float]) -> None:
        """The median of *samples*; logs the sample count and the highest
        percentile with at least ten samples beyond it."""
        if not samples:
            raise RuntimeError("no latency samples in the measured window")
        self.e2e("latency_p50_s", statistics.median(samples))
        p, v, n = tail_percentile(samples)
        self.note(f"latency: n={n}, median={statistics.median(samples):.4f}s, "
                  f"highest percentile with ten samples beyond: "
                  + (f"p{p} = {v:.4f}s" if p else "none"))

    def rss(self):
        """Sample peak memory while the returned context is open."""
        return _RssMetric(self)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.note(f"CHECK FAILED {name}: {detail}")

    def note(self, msg: str) -> None:
        print(f"[{self.workload}] {msg}", file=sys.stderr, flush=True)

    def epoch_ledger(self, events: list[dict]) -> None:
        """Traced runs: attribute the jobs of these measured epochs (progress
        records of one query) from the event log once every session has
        stopped."""
        self.ledgers.append(("epochs", events))

    def query_ledger(self, walls_ms: dict[str, float]) -> None:
        """Traced runs: the same for batch queries keyed ``p1:<query>``."""
        self.ledgers.append(("queries", walls_ms))

    # -- result ------------------------------------------------------------

    def result(self) -> dict:
        names = PER_LAYER if self.trace else END_TO_END
        source = self.layers if self.trace else self.metrics
        missing = [n for n, _, _ in names if n not in source and not self.trace]
        for n in missing:
            self.check(f"metric_{n}", False, "not measured")
        return {
            "correct": all(ok for _, ok, _ in self.checks) and bool(self.checks),
            "attempted": int(max(self.attempted, 1)),
            "failed": int(self.failed),
            "metrics": {
                n: {"value": float(source.get(n, 0.0)), "unit": unit} for n, unit, _ in names
            },
        }


class _RssMetric(RssSampler):
    def __init__(self, run: Run):
        super().__init__()
        self.run = run

    def __exit__(self, *exc):
        super().__exit__(*exc)
        self.run.e2e("peak_rss_mb", self.peak / 2**20)
        return False


def engine_available(root: str) -> bool:
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import tower_parse_spark.streaming.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"engine not importable from {root}: {exc}", file=sys.stderr)
        return False
    return True


def shutdown_spark() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not engine_available(root):
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    remove_tree(run.work)
    os.makedirs(run.work)
    configure_environment(run.work, run.event_log)
    import workloads

    try:
        workloads.runner(args.workload)(run)
        shutdown_spark()
        if run.trace:
            workloads.finish_trace(run)
    except Exception:
        traceback.print_exc()
        try:
            shutdown_spark()
        except Exception:
            traceback.print_exc()
        return 1
    finally:
        remove_tree(run.work)
    result = run.result()
    # the end-to-end figures also on traced runs: traced minus untraced is
    # the tracing overhead
    run.note("end-to-end " + json.dumps(run.metrics))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

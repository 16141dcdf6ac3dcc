"""Shared measurement helpers: spans, the percentile rule, resident-memory
sampling, the streaming progress listener, and Spark session launch.

Nothing here imports the engine at module load, so the unit tests under
``perfbench/tests`` run without Spark.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, trace id, start, end, parent), written once at
    the end of a run. A disabled tracer records nothing, so the timing runs
    pay only a function call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        # spans open on each thread (stream epochs run on their own thread)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, trace: str | int | None = None):
        return _Span(self, name, trace)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name
        ]


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace):
        self.tracer, self.name, self.trace = tracer, name, trace

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            stack = t._stack()
            with t._lock:
                self.idx = len(t.spans)
                t.spans.append(
                    {
                        "id": self.idx,
                        "name": self.name,
                        "trace": self.trace,
                        "parent": stack[-1] if stack else None,
                        "start": time.time(),
                        "end": None,
                    }
                )
            stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.time()
            t._stack().pop()
        return False


def self_time_ms(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, not double-counted)."""
    parent = spans[span_id]
    lo, hi = parent["start"], parent["end"]
    kids = sorted(
        (max(s["start"], lo), min(s["end"], hi))
        for s in spans
        if s["parent"] == span_id and s["end"] is not None
    )
    return (hi - lo - union_length(kids)) * 1000


def union_length(intervals) -> float:
    """Total length covered by a list of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

#: the candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (no interpolation): the smallest sample with
    at least *p* percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def _rank(p: float, n: int) -> int:
    # rounded first, so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest of :data:`TAIL_PERCENTILES` that has at least
    *min_beyond* samples above its rank, with its value and the sample
    count: ``(p, value, n)``. ``p`` is None (value = the median) when even
    the median has too few samples beyond it."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= min_beyond:
            return p, percentile(values, p), n
    return None, statistics.median(values), n


# ---------------------------------------------------------------------------
# Resident memory of this process tree (psutil is not installed)
# ---------------------------------------------------------------------------


def _children(pid_map: dict[int, int], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, parent in pid_map.items() if parent == p)
    return out


def engine_pids(root: int | None = None) -> list[int]:
    """The engine's processes under *root* (default: this process): the
    Python driver, its JVM and the JVM's Python workers. Other descendants
    are skipped: a helper the JVM forks (e.g. for ``chmod``) briefly
    reports the JVM's whole resident set before it execs, and would count
    the JVM twice."""
    root = root or os.getpid()
    parents, comms = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        head, tail = stat.rsplit(")", 1)
        parents[int(d)] = int(tail.split()[1])
        comms[int(d)] = head.split("(", 1)[1]
    return [
        pid
        for pid in _children(parents, root)
        if comms[pid].startswith("python") or (comms[pid] == "java" and parents[pid] == root)
    ]


def tree_hwm_bytes(root: int | None = None) -> dict[int, int]:
    """pid -> VmHWM (peak resident bytes) of every :func:`engine_pids`."""
    out = {}
    for pid in engine_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


def reset_peaks(root: int | None = None) -> None:
    """Reset VmHWM to the current resident size in every engine process
    (``5`` to ``/proc/<pid>/clear_refs``), so a peak reached before, such
    as the benchmark building its inputs and oracle, is not counted."""
    for pid in engine_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


class RssSampler:
    """Background thread tracking the peak memory of the process tree: at
    each sample, the summed VmHWM (the kernel's per-process peak resident
    size, so short peaks between samples still count) of every live
    process; ``peak`` is the largest such sum. Workers that have exited
    drop out, so the figure does not grow with worker churn. Peaks reached
    before the sampler starts are reset, not counted."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        h = tree_hwm_bytes()
        self.peak = max(self.peak, sum(h.values()))

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        reset_peaks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False


# ---------------------------------------------------------------------------
# Spark session and streaming progress
# ---------------------------------------------------------------------------


def configure_environment(work: str, event_log_dir: str | None) -> None:
    """Point every temporary file Spark and Python create at *work*, and
    (traced runs) turn on the plain-JSON event log. Must run before the
    first SparkSession is built: the JVM reads these at launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    args = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def new_session(cpus: str = "4"):
    """Stop any running session and build a fresh one through the engine's
    own ``get_spark`` (one JVM per process; each call starts a new
    SparkContext in it)."""
    from pyspark.sql import SparkSession

    from tower_parse_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` as a dict, keyed by run."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                rec = json.loads(event.progress.json)
                with log._cond:
                    log.events.append(rec)
                    log._cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def wait_batches(self, run_id: str, n: int, timeout_s: float) -> list[dict]:
        """Block until *n* progress events with input rows have arrived for
        *run_id*; returns them (raises TimeoutError past *timeout_s*)."""
        deadline = time.time() + timeout_s
        with self._cond:
            while True:
                got = [
                    e
                    for e in self.events
                    if e["runId"] == run_id and e.get("numInputRows", 0) > 0
                ]
                if len(got) >= n:
                    return got
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"{len(got)}/{n} epochs in {timeout_s}s")
                self._cond.wait(min(left, 0.5))


def epochs_with_input(query) -> list[dict]:
    """The query's progress records with input rows, by batch id. Read
    from the query itself, not the listener: listener events arrive
    asynchronously and can still be in flight when the query stops."""
    records = [json.loads(p.json) for p in query.recentProgress]
    return sorted((r for r in records if r["numInputRows"] > 0), key=lambda r: r["batchId"])


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str, suffix: str = "") -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix) and not f.startswith(".")
    )


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def epoch_end(p: dict) -> float:
    """Wall-clock end of the epoch a progress record describes."""
    from datetime import datetime

    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


#: the progress ``durationMs`` phases reported per epoch
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
          "commitOffsets", "addBatch", "triggerExecution")


def progress_layers(run, events: list[dict]) -> None:
    """Per-epoch median of each micro-batch phase."""
    for key in PHASES:
        vals = [e["durationMs"].get(key, 0) for e in events]
        run.layer(f"stream.{key}_ms", statistics.median(vals) if vals else 0.0)

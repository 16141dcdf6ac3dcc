"""Spark event-log ledger: jobs, stages, tasks and executor time per trace.

A trace is a stream epoch (jobs carrying the ``sql.streaming.queryId`` and
``streaming.sql.batchId`` properties) or a batch query (jobs carrying the
``perfbench.trace`` local property the benchmark sets before running it).
The log must be the uncompressed JSON-lines form
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict

from common import union_length

TRACE_PROPERTY = "perfbench.trace"

_FIELDS = (
    "jobs", "stages", "tasks", "busy_ms", "executor_cpu_ms", "executor_run_ms",
    "gc_ms", "deserialize_ms", "shuffle_write_bytes",
)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def job_key(props: dict, query_id: str | None) -> str | None:
    """The trace a job belongs to, from its properties."""
    if query_id is not None:
        if props.get("sql.streaming.queryId") == query_id and "streaming.sql.batchId" in props:
            return str(props["streaming.sql.batchId"])
        return None
    return props.get(TRACE_PROPERTY)


def build_ledger(events, query_id: str | None = None) -> dict[str, dict]:
    """Per trace key: job/stage/task counts, the union of job-busy time
    (ms), summed executor CPU/run/GC/deserialize time (ms) and shuffle
    bytes written. *query_id* selects stream epochs of that query; without
    it, jobs are keyed by the benchmark's trace property."""
    job_trace: dict[int, str] = {}
    job_span: dict[int, list] = {}
    stage_trace: dict[int, str] = {}
    stages_run: dict[str, set] = defaultdict(set)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = job_key(ev.get("Properties") or {}, query_id)
            if key is None:
                continue
            jid = ev["Job ID"]
            job_trace[jid] = key
            job_span[jid] = [ev["Submission Time"], None]
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_trace.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                job_span[jid][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            key = stage_trace.get(ev["Stage ID"])
            if key is None:
                continue
            stages_run[key].add(ev["Stage ID"])
            rec = out[key]
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            rec["executor_run_ms"] += m.get("Executor Run Time", 0)
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            rec["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    spans_by_key: dict[str, list] = defaultdict(list)
    for jid, (start, end) in job_span.items():
        if end is not None:
            spans_by_key[job_trace[jid]].append((start, end))
    for key, rec in out.items():
        rec["stages"] = len(stages_run[key])
        rec["busy_ms"] = union_length(spans_by_key[key])
    return dict(out)


def with_driver_gap(ledger: dict[str, dict], walls_ms: dict[str, float]) -> dict[str, dict]:
    """Add ``driver_gap_ms`` = trace wall time - union of job-busy time,
    for every trace whose wall time is known."""
    for key, wall in walls_ms.items():
        if key in ledger:
            ledger[key]["driver_gap_ms"] = max(0.0, wall - ledger[key]["busy_ms"])
    return ledger

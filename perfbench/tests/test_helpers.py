"""Unit tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from common import Tracer, percentile, self_time_ms, tail_percentile, union_length  # noqa: E402
from ledger import build_ledger, read_events, with_driver_gap  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


# -- percentile rule ---------------------------------------------------------


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99) == 99
    assert percentile(vals, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected_p",
    [(5, None), (19, None), (20, 50.0), (100, 90.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_beyond(n, expected_p):
    p, value, count = tail_percentile([float(i) for i in range(n)])
    assert p == expected_p
    assert count == n
    if p is not None:
        # at least ten samples lie strictly beyond the reported rank
        assert sum(v > value for v in range(n)) >= 10


# -- spans -------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "trace": None, "parent": parent, "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)
    assert union_length([(3, 3), (4, 2)]) == 0


def test_self_time_subtracts_merged_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps child 1
        _span(3, 9.0, 12.0, parent=0),  # runs past the parent: clipped
        _span(4, 1.5, 2.5, parent=1),  # grandchild: not subtracted again
    ]
    assert self_time_ms(spans, 0) == pytest.approx((10 - 4 - 1) * 1000)
    assert self_time_ms(spans, 1) == pytest.approx(1000)


def test_tracer_parents_per_thread():
    t = Tracer(True)
    with t.span("outer", trace=1):
        done = threading.Event()

        def other():
            with t.span("other_thread"):
                pass
            done.set()

        th = threading.Thread(target=other)
        th.start()
        th.join(timeout=10)
        assert done.is_set()
        with t.span("inner"):
            pass
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["other_thread"]["parent"] is None
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


# -- event-log ledger --------------------------------------------------------


def _job(jid, start, end, stages, props):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, cpu_ns=0, run=0, gc=0, deser=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "Executor Run Time": run, "JVM GC Time": gc,
        "Executor Deserialize Time": deser,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_ledger_arithmetic_on_synthetic_log():
    epoch = {"sql.streaming.queryId": "q", "streaming.sql.batchId": "3"}
    events = (
        _job(0, 1000, 1100, [0, 1], epoch)
        + _job(1, 1050, 1200, [2], epoch)  # overlaps job 0
        + _job(2, 1300, 1310, [3], {"sql.streaming.queryId": "other", "streaming.sql.batchId": "3"})
        + _job(3, 1400, 1450, [4], {"perfbench.trace": "p1:q1"})
        + [_task(0, cpu_ns=2_000_000, run=5, gc=1, deser=2, shuffle=100),
           _task(1, cpu_ns=1_000_000, run=3),
           _task(2, run=7, shuffle=50),
           _task(3, run=99),
           _task(4, cpu_ns=4_000_000, run=4)]
    )
    led = build_ledger(events, "q")
    assert set(led) == {"3"}
    rec = led["3"]
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (2, 3, 3)
    assert rec["busy_ms"] == pytest.approx(200)
    assert rec["executor_cpu_ms"] == pytest.approx(3.0)
    assert rec["executor_run_ms"] == 15
    assert (rec["gc_ms"], rec["deserialize_ms"], rec["shuffle_write_bytes"]) == (1, 2, 150)
    with_driver_gap(led, {"3": 260.0})
    assert led["3"]["driver_gap_ms"] == pytest.approx(60)

    batch = build_ledger(events)
    assert set(batch) == {"p1:q1"}
    assert batch["p1:q1"]["tasks"] == 1
    assert batch["p1:q1"]["executor_cpu_ms"] == pytest.approx(4.0)


def test_ledger_on_captured_event_log():
    with open(FIXTURE) as f:
        query_id = json.loads(f.readline())["query_id"]
    events = list(read_events(FIXTURE))
    epochs = build_ledger(events, query_id)
    assert epochs, "the captured stream's epochs carry the query id"
    assert all(k.isdigit() for k in epochs)
    for rec in epochs.values():
        assert rec["jobs"] >= 1 and rec["tasks"] >= rec["stages"] >= 1
        assert rec["busy_ms"] > 0
    batch = build_ledger(events)
    assert set(batch) == {"p1:q_small"}
    # every task end in the log belongs to exactly one of the traces
    n_tasks = sum(1 for e in events if e.get("Event") == "SparkListenerTaskEnd")
    assert n_tasks == sum(r["tasks"] for r in epochs.values()) + batch["p1:q_small"]["tasks"]


# -- catalogue ---------------------------------------------------------------


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {n: (u, b) for n, u, b in END_TO_END}
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


# -- generators --------------------------------------------------------------


def test_probe_lines_deterministic_and_parseable():
    import re

    a, la = gen.probe_lines(np.random.default_rng(7), 100, 500)
    b, lb = gen.probe_lines(np.random.default_rng(7), 100, 500)
    assert a == b and (la == lb).all()
    rx = re.compile(gen.PROBE_REGEX)
    lines = a.splitlines()
    assert len(lines) == 500
    for i, line in enumerate(lines):
        m = rx.match(line)
        assert m and int(m["id"]) == 100 + i and int(m["level"]) == la[i]


def test_curation_ground_truth():
    c1, c2 = gen.Corpus(3), gen.Corpus(3)
    e1, kind1, src1 = gen.curation_stream(c1, 4, 300)
    e2, kind2, src2 = gen.curation_stream(c2, 4, 300)
    assert e1 == e2 and kind1 == kind2 and src1 == src2
    first_epoch = {d for d, _ in e1[0]}
    assert all(kind1[d] in ("novel", "spam", "salad") for d in first_epoch)
    text = {d: t for rows in e1 for d, t in rows}
    epoch_of = {d: k for k, rows in enumerate(e1) for d, _ in rows}
    for d, s in src1.items():
        assert kind1[s] == "novel" and epoch_of[s] < epoch_of[d]
        if kind1[d] == "copy":
            assert text[d] == text[s]
        else:
            assert text[d] != text[s]
    spam_words = set(c1.spam)
    for d, k in kind1.items():
        words = set(text[d].split())
        assert (k == "spam") == (words <= spam_words)


# -- file-source log and backlog -------------------------------------------


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_source_log_reads_compacted_batches(tmp_path):
    import ingest

    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _write_log(log / "9.compact", [
        {"path": f"file:/s/b{k:04d}.txt", "timestamp": 0, "batchId": k} for k in range(10)])
    _write_log(log / "10", [{"path": "file:/s/b0010.txt", "timestamp": 0, "batchId": 10}])
    _write_log(log / "8", [{"path": "file:/s/b0008.txt", "timestamp": 0, "batchId": 8}])
    (log / ".10.crc").write_text("x")
    got = ingest._source_log(str(tmp_path))
    assert sorted(got) == list(range(11))
    assert got[8] == ["file:/s/b0008.txt"]  # in the compact file and its own
    assert got[10] == ["file:/s/b0010.txt"]


def _epoch(batch, start_s, dur_ms, rows):
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(start_s, timezone.utc).isoformat().replace("+00:00", "Z")
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": dur_ms}}


def test_backlog_lines_at_trigger_start():
    import ingest

    events = [_epoch(0, 100.0, 1000, 10), _epoch(1, 101.0, 2000, 20), _epoch(2, 103.0, 2000, 20)]
    sizes = {"a": 10, "b": 20, "c": 20}
    placed = {"a": 99.0, "b": 100.5, "c": 102.0}
    # epoch 1 starts at 101: a and b placed, epoch 0 (10 lines) committed
    assert ingest._backlog_lines(events, placed, sizes, events[1]) == 20
    # epoch 2 starts at 103: all placed, epochs 0 and 1 committed
    assert ingest._backlog_lines(events, placed, sizes, events[2]) == 20
    assert ingest._backlog_lines(events, placed, sizes, events[0]) == 10


# -- steadiness record ---------------------------------------------------------


def test_steadiness_compares_common_traces_only():
    import steadiness

    a = steadiness.counters({
        "ledger": {"epochs": {"1": {"jobs": 1, "stages": 3, "tasks": 9, "busy_ms": 5.0},
                              "2": {"jobs": 1, "stages": 3, "tasks": 9, "busy_ms": 7.0}}},
        "funnel": {"1": {"accepted": 5, "dup_rejected": 1}},
    })
    b = steadiness.counters({
        "ledger": {"epochs": {"1": {"jobs": 1, "stages": 3, "tasks": 9, "busy_ms": 6.0},
                              "2": {"jobs": 2, "stages": 3, "tasks": 9, "busy_ms": 7.0},
                              "3": {"jobs": 1, "stages": 3, "tasks": 9, "busy_ms": 7.0}}},
        "funnel": {"1": {"accepted": 5, "dup_rejected": 1}},
    })
    both, differ = steadiness.compare(a, b)
    # busy time is not a counter; epoch 3 was measured by one run only
    assert both == ["epochs:1", "epochs:2", "funnel:1"]
    assert differ == ["epochs:2"]


def test_rss_sampler_resets_earlier_peaks():
    from common import RssSampler

    block = bytearray(200 * 2**20)
    for i in range(0, len(block), 4096):
        block[i] = 1
    del block
    with RssSampler(interval_s=0.05) as s:
        pass
    assert s.peak < 180 * 2**20

"""Workload dispatch and the traced run's post-processing: event-log
ledgers folded into per-layer metrics, and the span/ledger/layer files."""

from __future__ import annotations

import glob
import json
import os
import statistics

from ledger import build_ledger, read_events, with_driver_gap
from metrics import BATCH_QUERIES, PER_LAYER


def runner(workload: str):
    """The function that runs *workload* (imports the engine lazily)."""
    import curate
    import ingest

    return {
        "ingest_backlog": ingest.run_backlog,
        "curate_stream": curate.run_curate,
    }[workload]


def _ledgers(event_log: str, query_id: str | None) -> dict[str, dict]:
    """Merge the ledgers of every application log (job ids restart per
    SparkContext, so each log is parsed on its own)."""
    out = {}
    for path in sorted(glob.glob(os.path.join(event_log, "*"))):
        out.update(build_ledger(read_events(path), query_id))
    return out


def finish_trace(run) -> None:
    """After every session stopped: fold the event log into the per-layer
    metrics and write spans, ledgers and the layer table."""
    written = {}
    for kind, data in run.ledgers:
        if kind == "epochs":
            events = data
            led = _ledgers(run.event_log, events[0]["id"])
            walls = {str(e["batchId"]): e["durationMs"]["triggerExecution"] for e in events}
            led = with_driver_gap({k: v for k, v in led.items() if k in walls}, walls)
            written["epochs"] = led
            per = list(led.values())

            def med(field):
                return float(statistics.median([r[field] for r in per])) if per else 0.0

            run.layer("spark.jobs_per_epoch", med("jobs"))
            run.layer("spark.stages_per_epoch", med("stages"))
            run.layer("spark.tasks_per_epoch", med("tasks"))
            run.layer("spark.driver_gap_ms_per_epoch", med("driver_gap_ms"))
            run.layer("spark.executor_cpu_ms_per_epoch", med("executor_cpu_ms"))
            run.layer("spark.executor_run_ms_per_epoch", med("executor_run_ms"))
            run.layer("spark.gc_ms_per_epoch", med("gc_ms"))
            run.layer("spark.deserialize_ms_per_epoch", med("deserialize_ms"))
            run.layer("spark.shuffle_write_bytes_per_epoch", med("shuffle_write_bytes"))
            run.note("per-epoch jobs " + json.dumps(
                {k: led[k]["jobs"] for k in sorted(led, key=int)}))
        else:
            walls = data
            led = with_driver_gap(_ledgers(run.event_log, None), walls)
            written["queries"] = led
            # the first timed pass is keyed "p1:<query>"
            led = {k.split(":", 1)[1]: v for k, v in led.items() if k.startswith("p1:")}
            for q in BATCH_QUERIES:
                rec = led.get(q, {})
                run.layer(f"queries.{q}.jobs", rec.get("jobs", 0))
                run.layer(f"queries.{q}.stages", rec.get("stages", 0))
                run.layer(f"queries.{q}.driver_gap_ms", rec.get("driver_gap_ms", 0))
                run.layer(f"queries.{q}.executor_cpu_ms", rec.get("executor_cpu_ms", 0))
                run.layer(f"queries.{q}.shuffle_write_bytes", rec.get("shuffle_write_bytes", 0))
            run.note("per-query jobs " + json.dumps({q: led.get(q, {}).get("jobs") for q in BATCH_QUERIES}))
    os.makedirs(run.out, exist_ok=True)
    run.tracer.dump(os.path.join(run.out, "spans.json"))
    spans = run.tracer.spans
    with open(os.path.join(run.out, "ledger.json"), "w") as f:
        json.dump(written, f, indent=1)
    with open(os.path.join(run.out, "e2e.json"), "w") as f:
        json.dump(run.metrics, f, indent=1)
    for name, record in run.outputs.items():
        with open(os.path.join(run.out, f"{name}.json"), "w") as f:
            json.dump(record, f, indent=1)
    with open(os.path.join(run.out, "layers.tsv"), "w") as f:
        for name, unit, _ in PER_LAYER:
            f.write(f"{name}\t{run.layers.get(name, 0.0):.6g}\t{unit}\n")
    run.note(f"trace written to {run.out} ({len(spans)} spans)")

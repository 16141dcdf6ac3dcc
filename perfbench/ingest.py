"""``ingest_backlog``: ``--config`` ingest driven through
``streaming.pipeline.run_ingest`` over ``streaming.sources.file_lines``.

Closed loop: pre-generated probe files are renamed into the spool ahead
of the engine and drained one file per trigger, so every run sees identical
epochs. Set-up is the session launch, the first (small) epoch and a fixed
number of warm-up epochs; then every epoch started in the ``--seconds``
window, at least ``MIN_EPOCHS``, and the files still waiting when it
closes are measured.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np

import batch
import gen
from common import (
    dir_bytes,
    dir_files,
    epoch_end,
    epochs_with_input,
    progress_layers,
)

#: lines per drained file (one epoch each)
BACKLOG_LINES = 50_000
BACKLOG_PACK = 1000
#: lines in the set-up epoch's file (set-up measures start-up, not drain)
SETUP_LINES = 10_000
#: full epochs drained after the first and before the measurement, while
#: the JVM is still compiling the per-row paths (they count as set-up)
WARMUP_EPOCHS = 3
#: measured epochs per run at least, whatever the window
MIN_EPOCHS = 3
#: uncommitted files kept in the spool
AHEAD = 2
EPOCH_TIMEOUT_S = 90


def _start(spark, spool: str, base: str):
    """The ingest query over *spool*, one file per trigger."""
    from tower_parse_spark.streaming.pipeline import run_ingest
    from tower_parse_spark.streaming.sources import file_lines

    lines = file_lines(spark, spool, max_files_per_trigger=1)
    return run_ingest(spark, gen.probe_profile(BACKLOG_PACK), lines, base)


def _setup(run, spool: str):
    """Launch the session, start the query on *spool* and drive it through
    its first epoch; returns the session, the query, the sink base and the
    launch time."""
    t0 = time.time()
    spark = run.session()
    launch = time.time() - t0
    base = os.path.join(run.work, "sink")
    with run.tracer.span("stream.start"):
        q = _start(spark, spool, base)
    run.progress.wait_batches(q.runId, 1, EPOCH_TIMEOUT_S)
    return spark, q, base, launch


def _source_log(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> the files the file source planned for it (every tenth
    batch the log is compacted into ``<id>.compact``, whose entries carry
    their own batch ids)."""
    out: dict[int, list[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.isdigit() or name.endswith(".compact"):
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out.setdefault(int(entry["batchId"]), []).append(entry["path"])
    return {b: sorted(set(files)) for b, files in out.items()}


def _read_packs(data_dir: str):
    """The sink as a pandas frame of (level, pack_id, id), read with
    pyarrow (hive partitions level=/pack_id=)."""
    import pyarrow.dataset as ds

    table = ds.dataset(data_dir, format="parquet", partitioning="hive",
                       exclude_invalid_files=True).to_table(
        columns=["level", "pack_id", "id"])
    return table.to_pandas()


def check_packs(run, packs, pack_length: int, ids_by_level: dict[int, np.ndarray]) -> None:
    """Exact-N packs, no id twice, only generated ids, and per level
    packed + tail = generated with 0 <= tail < pack_length. Lines beyond a
    possible tail, and duplicates, count as failed."""
    sizes = packs.groupby(["level", "pack_id"]).size()
    off = int((sizes != pack_length).sum())
    run.check("packs_exact_size", off == 0, f"{off} packs off size")
    dups = int(packs["id"].duplicated().sum())
    run.check("no_duplicate_ids", dups == 0, f"{dups} duplicate ids")
    lost = dups
    for level, ids in ids_by_level.items():
        packed = packs[packs["level"] == level]
        tail = len(ids) - len(packed)
        run.check(f"level{level}_packed_plus_tail", 0 <= tail < pack_length,
                  f"generated {len(ids)} packed {len(packed)}")
        lost += max(0, tail - (pack_length - 1))
        stray = int((~packed["id"].astype("int64").isin(ids)).sum())
        run.check(f"level{level}_ids_generated", stray == 0, f"{stray} unknown ids")
    run.attempted += sum(len(ids) for ids in ids_by_level.values())
    run.failed += lost


def _ids_by_level(ranges) -> dict[int, np.ndarray]:
    """*ranges* of (first id, per-line levels) -> level -> ids."""
    out = {}
    for lv in (1, 2):
        out[lv] = np.concatenate(
            [first + np.flatnonzero(levels == lv) for first, levels in ranges]
            or [np.array([], "int64")]
        )
    return out


def _stream_layers(run, events: list[dict], checkpoint: str, data_dir: str,
                   n_lines: int, n_packs: int) -> None:
    """Per-epoch p50 of the progress phases, state store and sink figures."""
    def p50(vals):
        return float(np.median(vals)) if vals else 0.0

    progress_layers(run, events)
    state = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
    run.layer("packs.state_rows", p50([s["numRowsTotal"] for s in state]))
    run.layer("packs.state_bytes", p50([s["memoryUsedBytes"] for s in state]))
    run.layer("packs.state_commit_ms", p50([s.get("commitTimeMs", 0) for s in state]))
    log = _source_log(checkpoint)
    run.layer("sources.files_per_epoch", p50([len(log.get(e["batchId"], [])) for e in events]))
    sink = dir_bytes(data_dir, ".parquet")
    run.layer("pipeline.sink_bytes", float(sink))
    run.layer("pipeline.files_per_pack", dir_files(data_dir, ".parquet") / max(n_packs, 1))
    run.layer("pipeline.bytes_per_line", sink / max(n_lines, 1))


def _extraction_rate(run, spark, spool: str) -> None:
    """A span around batch ``extract_lines`` over the workload's own
    spool with the noop sink (one warm pass first)."""
    from pyspark.sql import functions as F

    from tower_parse_spark.functions.extraction import extract_lines

    lines = spark.read.text(spool).select(F.col("value").alias("line"), F.lit(0.0).alias("ts"))
    n = lines.count()
    parsed = extract_lines(lines, gen.probe_profile(BACKLOG_PACK))
    parsed.write.format("noop").mode("overwrite").save()
    t0 = time.time()
    with run.tracer.span("extraction.extract_lines", trace="batch"):
        parsed.write.format("noop").mode("overwrite").save()
    run.layer("extraction.lines_per_s", n / (time.time() - t0))


# ---------------------------------------------------------------------------
# ingest_backlog
# ---------------------------------------------------------------------------


def _trigger_start(e: dict) -> float:
    return epoch_end(e) - e["durationMs"]["triggerExecution"] / 1000.0


def _backlog_lines(events: list[dict], placed: dict[str, float],
                   sizes: dict[str, int], e: dict) -> int:
    """Lines waiting in the spool when epoch *e* started: lines of files
    placed before its trigger started, minus lines of epochs that had
    committed by then."""
    start = _trigger_start(e)
    made = sum(sizes[name] for name, t in placed.items() if t <= start)
    done = sum(x["numInputRows"] for x in events if epoch_end(x) <= start)
    return made - done


def run_backlog(run) -> None:
    rng = np.random.default_rng(run.seed)
    stage = os.path.join(run.work, "stage")
    os.makedirs(stage)
    # file 0 is the set-up epoch's small file, then the warm-up files, then
    # enough measured files for a window in which an epoch takes 1 s
    n_measured = max(MIN_EPOCHS, run.seconds) + AHEAD
    n_files = 1 + WARMUP_EPOCHS + n_measured
    sizes = [SETUP_LINES] + [BACKLOG_LINES] * (n_files - 1)
    firsts = [sum(sizes[:k]) for k in range(n_files)]
    names = [f"b{k:04d}.txt" for k in range(n_files)]
    levels = [
        gen.write_probe_file(os.path.join(stage, names[k]), rng, firsts[k], sizes[k])
        for k in range(n_files)
    ]
    spool = os.path.join(run.work, "spool")
    os.makedirs(spool)
    placed: dict[str, float] = {}

    def place(k: int) -> None:
        os.rename(os.path.join(stage, names[k]), os.path.join(spool, names[k]))
        placed[names[k]] = time.time()

    place(0)
    with run.rss():
        t0 = time.time()
        spark, q, base, launch = _setup(run, spool)
        done, deadline = 1, None
        while True:
            if deadline is None and done >= 1 + WARMUP_EPOCHS:
                # set-up: launch, first epoch and warm-up epochs
                run.report_setup(launch, time.time() - t0 - launch)
                deadline = time.time() + run.seconds
            if deadline and time.time() >= deadline and done - 1 - WARMUP_EPOCHS >= MIN_EPOCHS:
                break
            # keep AHEAD uncommitted files in the spool, so the engine never
            # idles on input
            while len(placed) - done < AHEAD and len(placed) < n_files:
                place(len(placed))
            if done == len(placed):
                break
            done = len(run.progress.wait_batches(q.runId, done + 1, EPOCH_TIMEOUT_S))
        q.processAllAvailable()
        q.stop()
    # every placed file is drained; the (at most AHEAD) files waiting when
    # the window closed are measured too
    events = epochs_with_input(q)
    warm = events[WARMUP_EPOCHS]
    measured = events[1 + WARMUP_EPOCHS:]
    lines = sum(e["numInputRows"] for e in measured)
    run.e2e("items_per_s", lines / (epoch_end(measured[-1]) - epoch_end(warm)))
    run.latency([e["durationMs"]["triggerExecution"] / 1000.0 for e in measured])
    run.note(f"{len(measured)} measured epochs, {lines} lines; epoch ms "
             + " ".join(str(e["durationMs"]["triggerExecution"]) for e in events))

    checkpoint, data_dir = os.path.join(base, "checkpoint"), os.path.join(base, "data")
    consumed = {os.path.basename(p) for files in _source_log(checkpoint).values() for p in files}
    ranges = [(firsts[k], levels[k]) for k in range(len(placed)) if names[k] in consumed]
    run.check("all_placed_consumed", len(ranges) == len(placed),
              f"{len(ranges)}/{len(placed)} files")
    packs = _read_packs(data_dir)
    check_packs(run, packs, BACKLOG_PACK, _ids_by_level(ranges))
    if run.trace:
        n_lines = sum(len(lv) for _, lv in ranges)
        _stream_layers(run, measured, checkpoint, data_dir, n_lines,
                       packs.groupby(["level", "pack_id"]).ngroups)
        by_name = dict(zip(names, sizes))
        run.layer("sources.backlog_lines_max", float(max(
            _backlog_lines(events, placed, by_name, e) for e in measured)))
        run.epoch_ledger(measured)
        _extraction_rate(run, spark, spool)
        # the batch registry plans are measured here too (see README)
        batch.trace_mix(run, spark)
        run.scaling("scaling.ingest_lines_per_s_local1",
                    lambda s: _local1_lines_per_s(run, s, spool))


def _local1_lines_per_s(run, spark, spool: str) -> float:
    """The same drain on a local[1] session over the set-up file and four
    full files: lines/s over the epochs after the first."""
    local1 = os.path.join(run.work, "spool_local1")
    os.makedirs(local1)
    for k in range(5):
        name = f"b{k:04d}.txt"
        shutil.copy(os.path.join(spool, name), os.path.join(local1, name))
    q = _start(spark, local1, os.path.join(run.work, "sink_local1"))
    q.processAllAvailable()
    q.stop()
    events = epochs_with_input(q)[1:]
    secs = sum(e["durationMs"]["triggerExecution"] for e in events) / 1000.0
    return sum(e["numInputRows"] for e in events) / secs if secs else 0.0

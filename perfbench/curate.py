"""``curate_stream``: the ``--curate`` path through ``__main__.start_curate``.

Closed loop, one file per epoch: epoch k+1's file of 2,000 documents is
dropped only after epoch k commits. The NB model and the bigram LM are
trained from seeded labelled slices and saved with the engine's own
``save_quality_model`` / ``save_bigram_lm`` between the session launch and
the stream start; set-up time counts both of those but not the training.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import gen
from common import (
    dir_bytes,
    dir_files,
    epoch_end,
    epochs_with_input,
    progress_layers,
    self_time_ms,
)

DOCS_PER_EPOCH = 2000
#: epochs generated; a run drops as many as its window takes
EPOCHS = 16
#: measured epochs per run at least, whatever the window (an epoch takes
#: 6-9 s on a 4-core host, so two is what the time budget allows)
MIN_EPOCHS = 2
EPOCH_TIMEOUT_S = 120


def _train_artifacts(run, spark, labelled, ref) -> tuple[str, str]:
    from tower_parse_spark.operators.classifier import save_quality_model, train_quality_nb
    from tower_parse_spark.operators.lm import save_bigram_lm, train_bigram_lm

    nb_path = os.path.join(run.work, "artifacts", "nb")
    lm_path = os.path.join(run.work, "artifacts", "lm")
    save_quality_model(
        train_quality_nb(spark.createDataFrame(labelled, "label boolean, text string")), nb_path
    )
    save_bigram_lm(
        train_bigram_lm(spark.createDataFrame(ref, "doc_id long, text string")), lm_path
    )
    return nb_path, lm_path


def _instrument(run) -> None:
    """Traced runs: spans around the public functions the stream calls
    (module attributes are looked up at call time, so wrapping them here
    reaches the calls inside the engine)."""
    from tower_parse_spark.operators import classifier, lm
    from tower_parse_spark.streaming import curation

    def wrap(module, attr, span, trace_arg=None):
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            trace = args[trace_arg] if trace_arg is not None else None
            with run.tracer.span(span, trace=trace):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapped)

    wrap(curation, "curate_epoch", "curation.curate_epoch", trace_arg=1)
    wrap(curation, "process_epoch", "neardup.process_epoch", trace_arg=1)
    wrap(classifier, "load_quality_model", "classifier.load_quality_model")
    wrap(lm, "load_bigram_lm", "lm.load_bigram_lm")


def _read(path: str):
    """A ``batch=N`` partitioned sink as pandas (empty frame if absent)."""
    import pandas as pd
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return pd.DataFrame()
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True).to_table().to_pandas()


def funnel(out: str) -> dict[int, dict[str, int]]:
    """Per epoch: read, quality/perplexity/near-dup rejected, accepted."""
    rejected, verdicts, accepted = (
        _read(os.path.join(out, d)) for d in ("rejected", "verdicts", "accepted")
    )
    epochs = set()
    for df in (rejected, verdicts, accepted):
        if len(df):
            epochs |= set(df["batch"].astype(int))
    out_counts = {}
    for b in sorted(epochs):
        rej = rejected[rejected["batch"].astype(int) == b] if len(rejected) else rejected
        ver = verdicts[verdicts["batch"].astype(int) == b] if len(verdicts) else verdicts
        acc = accepted[accepted["batch"].astype(int) == b] if len(accepted) else accepted
        q = int((rej["reject_stage"] == "quality").sum()) if len(rej) else 0
        p = int((rej["reject_stage"] == "perplexity").sum()) if len(rej) else 0
        d = int((ver["is_dup"] | ver["in_batch_dup"]).sum()) if len(ver) else 0
        out_counts[b] = {"quality_rejected": q, "ppl_rejected": p, "dup_rejected": d,
                         "accepted": len(acc)}
    return out_counts


def run_curate(run) -> None:
    from tower_parse_spark.__main__ import start_curate

    corpus = gen.Corpus(run.seed)
    labelled, ref = gen.training_slices(corpus, n_clean=500, n_spam=500, n_lm=4000)
    epochs, kind, source = gen.curation_stream(corpus, EPOCHS, DOCS_PER_EPOCH)
    if run.trace:
        _instrument(run)
    t0 = time.time()
    spark = run.session()
    launch = time.time() - t0
    with run.tracer.span("curate.train_artifacts"):
        nb_path, lm_path = _train_artifacts(run, spark, labelled, ref)
    spool, out = os.path.join(run.work, "spool"), os.path.join(run.work, "out")
    os.makedirs(spool)
    gen.write_atomic(os.path.join(spool, "e0000.json"), gen.jsonl(epochs[0]))
    # memory is that of the curation stream: peaks reached while the
    # artifacts were trained are reset when sampling starts
    with run.rss():
        t0 = time.time()
        with run.tracer.span("curate.start"):
            q = start_curate(spark, spool, nb_path, out, lm_path)
        run.progress.wait_batches(q.runId, 1, EPOCH_TIMEOUT_S)
        run.report_setup(launch, time.time() - t0)

        drops = {}
        deadline = time.time() + run.seconds
        k = 1
        while (time.time() < deadline or k <= MIN_EPOCHS) and k < EPOCHS:
            drops[k] = time.time()
            gen.write_atomic(os.path.join(spool, f"e{k:04d}.json"), gen.jsonl(epochs[k]))
            run.progress.wait_batches(q.runId, k + 1, EPOCH_TIMEOUT_S)
            k += 1
        q.stop()
    events = epochs_with_input(q)
    measured = [e for e in events if e["batchId"] >= 1]
    if not measured:
        raise RuntimeError("no curation epoch after the set-up epoch")
    docs = sum(e["numInputRows"] for e in measured)
    run.e2e("items_per_s", docs / (epoch_end(measured[-1]) - epoch_end(events[0])))
    run.latency([epoch_end(e) - drops[e["batchId"]] for e in measured])
    run.note(f"{len(measured)} measured epochs, {docs} docs; epoch ms "
             + " ".join(str(e["durationMs"]["triggerExecution"]) for e in events))

    counts = funnel(out)
    _check(run, counts, epochs, kind, source, out, len(events))
    if run.trace:
        _layers(run, measured, counts, out)


def _check(run, counts, epochs, kind, source, out, n_epochs) -> None:
    rejected, verdicts, accepted = (
        _read(os.path.join(out, d)) for d in ("rejected", "verdicts", "accepted")
    )
    consumed = [doc for rows in epochs[:n_epochs] for doc, _ in rows]
    read = len(consumed)
    total = {k: sum(c[k] for c in counts.values())
             for k in ("quality_rejected", "ppl_rejected", "dup_rejected", "accepted")}
    closed = read == sum(total.values())
    run.check("funnel_closes", closed, f"read {read} vs {total}")
    q_rejected = set(rejected.loc[rejected["reject_stage"] == "quality", "doc_id"].astype(int))
    spam = {d for d in consumed if kind[d] == "spam"}
    missed_spam = spam - q_rejected
    run.check("spam_quality_rejected", not missed_spam, f"{len(missed_spam)} spam docs passed")
    acc = set(accepted["doc_id"].astype(int))
    dup = set(verdicts.loc[verdicts["is_dup"], "doc_id"].astype(int)) if len(verdicts) else set()
    copies = {d for d in consumed if kind[d] == "copy" and source[d] in acc}
    missed_copies = copies - dup
    run.check("exact_copies_flagged", not missed_copies,
              f"{len(missed_copies)}/{len(copies)} copies of accepted docs not flagged")
    run.attempted += read
    run.failed += len(missed_spam) + len(missed_copies) + (0 if closed else 1)
    run.note(f"funnel {json.dumps(total)} over {read} docs")


def _layers(run, measured, counts, out) -> None:
    ids = {str(e["batchId"]) for e in measured}
    spans = run.tracer.spans
    run.layer("curation.curate_epoch_ms", _median(
        [(s["end"] - s["start"]) * 1000 for s in spans
         if s["name"] == "curation.curate_epoch" and str(s["trace"]) in ids]))
    run.layer("curation.gates_ms", _median(
        [self_time_ms(spans, s["id"]) for s in spans
         if s["name"] == "curation.curate_epoch" and str(s["trace"]) in ids]))
    nd = [(s["end"] - s["start"]) * 1000 for s in spans
          if s["name"] == "neardup.process_epoch" and str(s["trace"]) in ids]
    run.layer("neardup.process_epoch_ms", _median(nd))
    per = [c for b, c in counts.items() if str(b) in ids]
    for key in ("quality_rejected", "ppl_rejected", "dup_rejected", "accepted"):
        run.layer(f"curation.{key}", _median([c[key] for c in per]))
    read = _median([sum(c.values()) for c in per])
    run.layer("curation.read", read)
    run.layer("curation.accept_frac", _median([c["accepted"] / max(sum(c.values()), 1) for c in per]))
    index = os.path.join(out, "index")
    parts = [os.path.join(index, d) for d in os.listdir(index) if d.startswith("batch=")]
    run.layer("neardup.index_rows", float(len(_read(index)) if parts else 0))
    run.layer("neardup.index_files", float(sum(dir_files(p, ".parquet") for p in parts)))
    run.layer("neardup.index_bytes", float(sum(dir_bytes(p, ".parquet") for p in parts)))
    run.layer("classifier.load_ms", _median(run.tracer.durations_ms("classifier.load_quality_model")))
    run.layer("lm.load_ms", _median(run.tracer.durations_ms("lm.load_bigram_lm")))
    progress_layers(run, measured)
    run.epoch_ledger(measured)
    # the per-epoch funnel, for steadiness.py to compare across runs
    run.outputs["funnel"] = {str(b): c for b, c in counts.items()}


def _median(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0

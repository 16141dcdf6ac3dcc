#!/usr/bin/env python
"""Streaming near-dup index-growth smoke (VERDICT r7 item 6).

Drives N epochs of the streaming MinHash loop's foreachBatch body
(streaming/neardup.py::process_epoch) at batch_size docs/epoch and
records, per epoch: wall seconds, the probe-input index size (rows
visible to ``batch < N``), and the survivors indexed. 20% of each
epoch's documents repeat a document from the PREVIOUS epoch, so
cross-epoch suppression demonstrably fires and the index grows at ~80%
of the ingest rate.

The claim under test: per-epoch cost grows with |index| (the survivors'
banded signatures — a linear scan that partition-prunes to
``batch < N``), never with epoch COUNT — i.e. no history re-shingling,
no per-epoch replay of old work. A super-linear curve here would mean
the loop re-does old epochs' work.

Ends with one compaction + a post-compaction epoch, checking the
consolidated index keeps answering probes at the same cost.

Prints one JSON line; numbers land in SCALE.md.

Usage: python tools/stream_neardup_smoke.py [epochs] [batch_size]
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tower_parse_spark.session import get_spark  # noqa: E402
from tower_parse_spark.streaming import neardup as ND  # noqa: E402

TOKENS_PER_DOC = 30
VOCAB = 50_000


def epoch_docs(spark, epoch: int, batch: int):
    """batch docs for *epoch*: ids are contiguous per epoch; every 5th
    doc repeats the text of its counterpart one epoch earlier (a
    cross-epoch exact near-dup), the rest are novel word salad."""
    base = epoch * batch
    r = spark.range(base, base + batch, 1, 32)
    d = F.col("id")
    # text seed: the doc it near-duplicates (a NON-repeating doc of the
    # previous epoch — residue 3, so the target's own text was indexed,
    # not itself a pointer) or itself
    seed = F.when((d % 5 == 4) & (d >= batch), d - batch - 1).otherwise(d)
    # xxhash64-based words: pseudorandom per (seed, i), so distinct
    # seeds share no shingles by accident (an arithmetic generator made
    # ~60% of novel docs collide through shared token runs)
    word = lambda i: F.format_string(  # noqa: E731
        "w%05d", F.pmod(F.xxhash64(seed, i), F.lit(VOCAB)).cast("int")
    )
    toks = F.transform(F.sequence(F.lit(1), F.lit(TOKENS_PER_DOC)), word)
    return r.select(
        d.alias("doc_id"), F.concat_ws(" ", toks).alias("text")
    )


def main() -> int:
    args = sys.argv[1:]
    epochs = int(args[0]) if args else 10
    batch = int(args[1]) if len(args) > 1 else 50_000
    spark = get_spark("stream_neardup_smoke")
    tmp = tempfile.mkdtemp(prefix="ndsmoke_")
    idx, ver = f"{tmp}/idx", f"{tmp}/ver"
    out = {"epochs": epochs, "batch_size": batch, "per_epoch": []}
    try:
        for k in range(epochs):
            docs = epoch_docs(spark, k, batch).localCheckpoint(eager=True)
            index_rows_before = (
                ND._read_index(spark, idx, before_batch=k).count()
            )
            t0 = time.time()
            ND.process_epoch(docs, k, idx, ver)
            secs = round(time.time() - t0, 2)
            verd = spark.read.parquet(f"{ver}/batch={k}")
            survivors = verd.filter(
                ~F.col("is_dup") & ~F.col("in_batch_dup")
            ).count()
            dups = batch - survivors
            rec = {
                "epoch": k,
                "secs": secs,
                "index_rows_before": index_rows_before,
                "survivors": survivors,
                "dups": dups,
            }
            out["per_epoch"].append(rec)
            # release the epoch's localCheckpoint blocks (the bench.py
            # lesson): without this, accumulated blocks degrade later
            # epochs and the growth curve reads superlinear falsely
            del docs
            gc.collect()
        # growth summary: cost ratio of the last two epochs vs the
        # index-size ratio they probed — linear-in-index means the cost
        # ratio stays at or below the size ratio (plus constant floor)
        first, last = out["per_epoch"][1], out["per_epoch"][-1]
        out["epoch1_secs"] = first["secs"]
        out["last_epoch_secs"] = last["secs"]
        out["index_rows_final"] = (
            ND._read_index(spark, idx, before_batch=epochs).count()
        )

        t0 = time.time()
        report = ND.compact_minhash_index(
            spark, idx, through_batch=epochs - 1
        )
        out["compact_secs"] = round(time.time() - t0, 2)
        out["compact_partitions_removed"] = report["n_partitions_removed"]
        docs = epoch_docs(spark, epochs, batch).localCheckpoint(eager=True)
        t0 = time.time()
        ND.process_epoch(docs, epochs, idx, ver)
        out["post_compact_epoch_secs"] = round(time.time() - t0, 2)
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())

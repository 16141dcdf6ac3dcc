"""Regenerate ``fixtures/eventlog_small.jsonl``: a real Spark event log of
one two-epoch file stream and one traced batch query, cut down to the
events and fields the ledger parser reads.

    python3 perfbench/tests/capture_fixture.py   # from the checkout root
"""

from __future__ import annotations

import glob
import json
import os
import sys
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Event", "Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Task Metrics"),
}
PROPS = ("sql.streaming.queryId", "streaming.sql.batchId", "perfbench.trace")
METRICS = ("Executor CPU Time", "Executor Run Time", "JVM GC Time",
           "Executor Deserialize Time", "Shuffle Write Metrics")


def main() -> int:
    sys.path.insert(0, os.getcwd())
    work = os.path.join(os.getcwd(), ".perfbench_work", "fixture")
    shutil.rmtree(work, ignore_errors=True)
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{logs}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    spool = os.path.join(work, "spool")
    os.makedirs(spool)
    q = (
        spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
        .groupBy("value").count()
        .writeStream.outputMode("complete").format("noop")
        .option("checkpointLocation", os.path.join(work, "ckpt")).start()
    )
    for k in range(2):
        with open(os.path.join(spool, f"f{k}.txt"), "w") as f:
            f.write("a\nb\na\n")
        q.processAllAvailable()
    qid = q.id
    q.stop()
    spark.sparkContext.setLocalProperty("perfbench.trace", "p1:q_small")
    spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
    spark.sparkContext.setLocalProperty("perfbench.trace", None)
    spark.stop()
    time.sleep(1)
    out = []
    for path in glob.glob(os.path.join(logs, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                keep = KEEP.get(ev.get("Event"))
                if keep is None:
                    continue
                ev = {k: ev[k] for k in keep if k in ev}
                if "Properties" in ev:
                    ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k in PROPS}
                if "Task Metrics" in ev:
                    ev["Task Metrics"] = {k: v for k, v in ev["Task Metrics"].items() if k in METRICS}
                out.append(ev)
    os.makedirs(os.path.join(HERE, "fixtures"), exist_ok=True)
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl"), "w") as f:
        f.write(json.dumps({"query_id": qid}) + "\n")
        for ev in out:
            f.write(json.dumps(ev) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(out)} events, query {qid}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

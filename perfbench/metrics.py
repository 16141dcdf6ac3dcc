"""The benchmark's metric catalogue. ``BENCHMARK.json`` lists the same
names; ``tests/test_helpers.py`` keeps the two in step."""

from __future__ import annotations

#: the workloads BENCHMARK.json lists
WORKLOADS = ("ingest_backlog", "curate_stream")

#: (name, unit, better) of every end-to-end metric; every workload
#: reports every one (see README.md for what each means per workload)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
)

#: the batch mix, in the fixed order each pass runs it: scan + aggregate,
#: a five-way join + aggregate, and IVF ANN (MinHash dedup is measured in
#: its streaming form on curate_stream; its batch form cost 6.5 s cold)
BATCH_QUERIES = (
    "q1_pricing_summary",
    "q9_product_profit",
    "ann_ivf_topk",
)

_QUERY_FIELDS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("driver_gap_ms", "ms", "lower"),
    ("executor_cpu_ms", "ms", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
)

#: (name, unit, better) of every per-layer metric; a traced run reports
#: all of them, 0 for a layer its workload does not reach
PER_LAYER = (
    ("sources.files_per_epoch", "count", "lower"),
    ("sources.backlog_lines_max", "count", "lower"),
    ("stream.latestOffset_ms", "ms", "lower"),
    ("stream.getBatch_ms", "ms", "lower"),
    ("stream.queryPlanning_ms", "ms", "lower"),
    ("stream.walCommit_ms", "ms", "lower"),
    ("stream.commitOffsets_ms", "ms", "lower"),
    ("stream.addBatch_ms", "ms", "lower"),
    ("stream.triggerExecution_ms", "ms", "lower"),
    ("spark.jobs_per_epoch", "count", "lower"),
    ("spark.stages_per_epoch", "count", "lower"),
    ("spark.tasks_per_epoch", "count", "lower"),
    ("spark.driver_gap_ms_per_epoch", "ms", "lower"),
    ("spark.executor_cpu_ms_per_epoch", "ms", "lower"),
    ("spark.executor_run_ms_per_epoch", "ms", "lower"),
    ("spark.gc_ms_per_epoch", "ms", "lower"),
    ("spark.deserialize_ms_per_epoch", "ms", "lower"),
    ("spark.shuffle_write_bytes_per_epoch", "B", "lower"),
    ("extraction.lines_per_s", "1/s", "higher"),
    ("packs.state_rows", "count", "lower"),
    ("packs.state_bytes", "B", "lower"),
    ("packs.state_commit_ms", "ms", "lower"),
    ("pipeline.files_per_pack", "count", "lower"),
    ("pipeline.sink_bytes", "B", "lower"),
    ("pipeline.bytes_per_line", "B", "lower"),
    ("curation.curate_epoch_ms", "ms", "lower"),
    ("curation.gates_ms", "ms", "lower"),
    ("curation.read", "count", "higher"),
    ("curation.quality_rejected", "count", "lower"),
    ("curation.ppl_rejected", "count", "lower"),
    ("curation.dup_rejected", "count", "lower"),
    ("curation.accepted", "count", "higher"),
    ("curation.accept_frac", "ratio", "higher"),
    ("neardup.process_epoch_ms", "ms", "lower"),
    ("neardup.index_rows", "count", "lower"),
    ("neardup.index_files", "count", "lower"),
    ("neardup.index_bytes", "B", "lower"),
    ("classifier.load_ms", "ms", "lower"),
    ("lm.load_ms", "ms", "lower"),
    ("session.get_spark_ms", "ms", "lower"),
    *(
        (f"queries.{q}.{field}", unit, better)
        for q in BATCH_QUERIES
        for field, unit, better in _QUERY_FIELDS
    ),
    ("scaling.ingest_lines_per_s_local1", "1/s", "higher"),
    ("scaling.batch_mix_s_local1", "s", "lower"),
)

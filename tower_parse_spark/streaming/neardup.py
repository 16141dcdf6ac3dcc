"""Streaming near-duplicate dedup — the live-ingest shape of the
incremental MinHash path.

Batch near-dup dedup against a banded-signature index exists in
operators/dedup.py (build_minhash_index / incremental_minhash_dedup /
append_minhash_index); this module runs that exact machinery inside a
Structured Streaming ``foreachBatch`` loop, so a document stream is
deduplicated against ALL previously-seen survivors without ever
re-reading history documents:

- per micro-batch, the batch's banded signatures broadcast against the
  streaming index scan (batch ≪ history, the daily-ingest assumption);
- survivors' signatures land in the index under a ``batch=N``
  partition written with OVERWRITE, so a replayed epoch (kill/restart)
  rewrites its own partition instead of double-appending —
  exactly-once index growth, the same idempotency rule as the
  foreachBatch pack sink;
- the probe reads only partitions ``batch < N``: a half-written
  current partition from a crashed attempt can never flag the batch
  against itself (and the filter partition-prunes, so the re-scan cost
  is bounded by history, not by retries).

State is the index itself — unlike ``dropDuplicatesWithinWatermark``
(exact streaming dedup, bounded by the watermark horizon), near-dup
state cannot expire: a near-copy of LAST YEAR's document is still a
duplicate. The index is |survivors| × bands small rows on cheap
storage, not executor memory, which is what makes unbounded-horizon
dedup viable on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tower_parse_spark.operators.dedup import (
    incremental_minhash_dedup_with_banded,
)

_INDEX_SCHEMA = StructType(
    [
        StructField("band_key", StringType()),
        StructField("doc_id", LongType()),
        StructField("mh", ArrayType(LongType())),
        StructField("hash_fn", StringType()),
    ]
)

def _read_index(
    spark, index_path: str, before_batch: int, schema=None
) -> DataFrame:
    """The index as of batch *before_batch*: every ``batch=N`` partition
    with N < before_batch (partition-pruned), or an empty relation when
    nothing has been indexed yet.

    *schema* (r17, guide §5/§6): the streaming epoch loop passes the
    exact on-disk schema (INCLUDING the ``batch`` partition column),
    which it knows from its own writes — the reader then skips parquet
    footer schema inference, a per-epoch driver-side job the old path
    paid on every probe. Maintenance and validation callers leave it
    None and keep the inferred read (they accept indexes written with
    any id column name). Corruption surfaces at scan time in the probe
    job either way — inference only moved that failure earlier.

    "Nothing indexed yet" is decided by ``exists`` on the root through
    the Hadoop FileSystem of the path's own scheme (no Spark job), not
    by catching the reader's PATH_NOT_FOUND, which logs a Java stack
    trace on every stream's first epoch. Any other read failure
    propagates."""
    root = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    if not root.getFileSystem(spark._jsc.hadoopConfiguration()).exists(root):
        empty = (
            StructType([f for f in schema.fields if f.name != "batch"])
            if schema is not None
            else _INDEX_SCHEMA
        )
        return spark.createDataFrame([], empty)
    reader = spark.read.option("basePath", index_path)
    if schema is not None:
        reader = reader.schema(schema)
    return (
        reader.parquet(index_path)
        .filter(F.col("batch").cast("long") < before_batch)
        .drop("batch")
    )


def stream_minhash_dedup(
    docs_stream: DataFrame,
    index_path: str,
    verdict_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    compact_every: int | None = None,
):
    """Start the streaming near-dup query over *docs_stream* (columns
    *id_col*, *text_col*). Per epoch: probe the index, write verdict
    rows (id, n_hist_matches, max_est_jaccard, is_dup, in_batch_dup,
    batch) to ``{verdict_path}/batch=N``, and index the survivors under
    ``{index_path}/batch=N`` — both OVERWRITE per epoch, so replays are
    idempotent (:func:`process_epoch`, exposed for direct replay
    testing). *compact_every* (r15, VERDICT r14 #5) turns on the
    every-K-epochs auto-compaction — see :func:`process_epoch`. Returns
    the StreamingQuery (caller stops it).

    The index's hash family is validated ONCE here, against whatever
    rows a pre-existing index carries (the restart-with-a-different-
    hash_fn foot-gun); the epochs then skip the per-epoch one-row guard
    job — every row they probe beyond this point was written by this
    loop with this *hash_fn* (see :func:`process_epoch`
    *validate_family*)."""
    from tower_parse_spark.operators.dedup import validate_index_family

    validate_index_family(
        _read_index(docs_stream.sparkSession, index_path, 1 << 62), hash_fn
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_epoch(
            batch_df,
            batch_id,
            index_path,
            verdict_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            hash_fn=hash_fn,
            compact_every=compact_every,
            validate_family=False,
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def compact_minhash_index(
    spark,
    index_path: str,
    through_batch: int,
    files: int = 1,
) -> dict:
    """Coalesce the ``batch=0..through_batch`` partitions into a single
    consolidated ``batch=0`` partition — the small-file maintenance a
    long-running ingest needs: one partition per epoch is exactly-once
    gold but after months of micro-batches the index is thousands of
    tiny files (the packstore compaction rationale applied to the
    signature index).

    Correctness under the streaming loop's replay rule: an in-flight
    epoch N reads partitions ``batch < N``; compaction only REARRANGES
    rows among partitions numbered <= *through_batch*, so any probe
    with N > through_batch sees identical content. Run it between
    epochs (or from a maintenance job) with through_batch strictly
    below the next epoch id; compacting the CURRENT epoch's partition
    while it may still replay would merge rows the replay is about to
    overwrite.

    Crash safety: the consolidated rows are fully written to an
    underscore-prefixed staging dir (invisible to partition discovery)
    BEFORE any source partition is deleted; a crash mid-compaction
    leaves either the original partitions or the staging dir on disk,
    never neither (recovery: rename staging to ``batch=0``).

    The list/delete/rename maintenance runs through the Hadoop
    FileSystem API resolved from *index_path*'s own scheme (VERDICT r7
    item 3: the earlier glob/shutil/os.replace version silently no-oped
    on HDFS/S3, where a 100 TB deployment's index actually lives) —
    ``file://``, bare local paths, ``hdfs://`` and ``s3a://`` all take
    the same code path, and a path whose scheme has no registered
    Hadoop FileSystem fails loudly at resolution instead of
    half-compacting.

    Returns {"n_rows", "n_partitions_removed"}.
    """
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    staging = HPath(root, "_compact_staging")
    src = (
        spark.read.option("basePath", index_path)
        .parquet(index_path)
        .filter(F.col("batch").cast("long") <= through_batch)
        .drop("batch")
    )
    src.coalesce(files).write.mode("overwrite").parquet(str(staging))
    n_rows = spark.read.parquet(str(staging)).count()
    removed = 0
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if not name.startswith("batch="):
            continue
        b = name.split("=", 1)[1]
        if b.isdigit() and int(b) <= through_batch:
            fs.delete(status.getPath(), True)
            removed += 1
    target = HPath(root, "batch=0")
    if not fs.rename(staging, target):
        # Hadoop rename reports failure as a boolean (e.g. the target
        # reappeared); surface it — a silent False would strand the
        # compacted rows in the staging dir
        raise IOError(
            f"compact_minhash_index: rename {staging} -> {target} failed"
        )
    return {"n_rows": n_rows, "n_partitions_removed": removed}


def process_epoch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    verdict_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    compact_every: int | None = None,
    validate_family: bool = True,
) -> None:
    """One epoch of the streaming near-dup loop (the foreachBatch body):
    probe the pre-*batch_id* index, overwrite this epoch's verdict and
    index partitions. Re-invoking with the same *batch_id* (a replayed
    epoch after a crash) rewrites the same partitions byte-for-byte —
    the idempotency the kill/restart test pins.

    Auto-compaction cadence (r15, VERDICT r14 #5): with *compact_every*
    = K, every Kth epoch folds the index's per-epoch partitions through
    ``batch_id - 1`` after this epoch's writes commit — partition
    counts stay bounded at ~K+1 forever instead of growing until an
    operator remembers the ``--compact-index`` CLI. Why running this
    IN-STREAM is safe, against the CLI paths' stream-stopped rule: the
    CLI rule exists because an EXTERNAL process cannot know epoch
    boundaries, but the foreachBatch body IS the epoch — bodies are
    serialized per query, so "after this epoch's writes, before the
    next epoch starts" is exactly the between-epochs window the
    compaction contract requires. Replay of the compaction epoch
    itself is covered by the same arithmetic the CLI default uses
    (through max-committed-1): a replayed epoch N probes ``batch < N``,
    and compaction through N-1 only REARRANGES those rows; the replayed
    epoch then overwrites its own ``batch=N`` partitions, which the
    compaction never touched. Re-running the compaction on replay is
    idempotent (re-merging a merged partition is a no-op
    rearrangement).

    *validate_family* (r16): the probe's hash-family guard is a one-row
    driver job per epoch; :func:`stream_minhash_dedup` validates the
    pre-existing index ONCE at stream start (covering the restart-with-
    wrong-family case) and passes False, because every row it probes
    after that was written by this loop with this epoch's *hash_fn*.
    Direct callers (replay tests, manual epochs) keep the default True
    and the guard's per-call semantics."""
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
    # the epoch knows the index's exact schema — it is what this loop
    # writes (band_key, id, mh, hash_fn) + the batch partition column,
    # with the id's type taken from the live batch (one loop, one
    # stream, one id type) — so the probe read skips per-epoch footer
    # schema inference (r17, guide §5/§6)
    index_schema = StructType(
        [
            StructField("band_key", StringType()),
            StructField(id_col, batch_df.schema[id_col].dataType),
            StructField("mh", ArrayType(LongType())),
            StructField("hash_fn", StringType()),
            StructField("batch", LongType()),
        ]
    )
    index = _read_index(spark, index_path, batch_id, schema=index_schema)
    verdicts, batch_banded = incremental_minhash_dedup_with_banded(
        batch,
        index,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        hash_fn=hash_fn,
        validate_family=validate_family,
    )
    # NOTE (r17, measured): fusing this localCheckpoint into the verdict
    # write (write executes the DAG, survivor filter re-reads the
    # written partition) looked like one fewer materialization but ran
    # consistently SLOWER at sf0.1 (interleaved medians 7.10 s old vs
    # 8.04 s fused; bests 5.70 vs 6.59) — the read-back pays listing +
    # open + scan per epoch against a checkpoint-block read. Kept.
    verdicts = verdicts.localCheckpoint(eager=True)
    verdicts.write.mode("overwrite").parquet(
        f"{verdict_path}/batch={batch_id}"
    )
    # index the survivors by FILTERING the probe's own banded relation
    # (already localCheckpointed inside banded_signatures) — the epoch
    # shingles and minhashes each document exactly once
    survivor_ids = verdicts.filter(
        ~F.col("is_dup") & ~F.col("in_batch_dup")
    ).select(id_col)
    survivor_banded = batch_banded.join(survivor_ids, id_col).select(
        "band_key", id_col, "mh", "hash_fn"
    )
    survivor_banded.write.mode("overwrite").parquet(
        f"{index_path}/batch={batch_id}"
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        # every-K-epochs maintenance (safety argument in the docstring):
        # runs AFTER this epoch's writes so a crash during compaction
        # replays the whole epoch, whose probe reads batch < batch_id —
        # untouched content-wise by a compaction through batch_id - 1
        compact_minhash_index(spark, index_path, batch_id - 1)

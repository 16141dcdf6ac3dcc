"""Composed streaming curation pipeline (streaming/curation.py):
quality gate -> near-dup gate -> accepted/rejected sinks, exactly-once
per epoch."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from tower_parse_spark.operators.classifier import (
    NBModel,
    load_quality_model,
    save_quality_model,
    score_quality,
    train_quality_nb,
)
from tower_parse_spark.streaming import curation as CU

CLEAN_A = "the committee published the annual report with detailed findings"
CLEAN_B = "markets closed higher after the quarterly earnings beat forecasts"
CLEAN_C = "researchers described a new method for measuring ocean currents"
SPAM = "zzclicka zzbuyb zzfreec zzcasinod zzwinnere zzbonusf"


def _model(spark):
    rows = [(True, CLEAN_A), (True, CLEAN_B), (True, CLEAN_C)] + [
        (False, f"{SPAM} extra{i}") for i in range(3)
    ]
    return train_quality_nb(
        spark.createDataFrame(rows, "label boolean, text string")
    )


def _paths(tmp_path):
    return (
        str(tmp_path / "idx"),
        str(tmp_path / "acc"),
        str(tmp_path / "rej"),
        str(tmp_path / "ver"),
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_epoch_routes_quality_and_dups(spark, tmp_path):
    idx, acc, rej, ver = _paths(tmp_path)
    model = _model(spark)
    # epoch 0: two clean docs + one junk doc
    CU.curate_epoch(
        _docs(spark, [(1, CLEAN_A), (2, CLEAN_B), (3, CLEAN_A + " " + SPAM)]),
        0, model, idx, acc, rej, ver,
    )
    acc0 = {r.doc_id for r in spark.read.parquet(f"{acc}/batch=0").collect()}
    rej0 = spark.read.parquet(f"{rej}/batch=0").collect()
    assert acc0 == {1, 2}
    assert [r.doc_id for r in rej0] == [3]
    assert rej0[0].score_q < 0  # the drop is attributable

    # epoch 1: a near-copy of doc 1 (dedup gate), one novel clean doc,
    # one junk doc (quality gate)
    CU.curate_epoch(
        _docs(
            spark,
            [(10, CLEAN_A + " indeed"), (11, CLEAN_C), (12, SPAM + " again")],
        ),
        1, model, idx, acc, rej, ver,
    )
    acc1 = {r.doc_id for r in spark.read.parquet(f"{acc}/batch=1").collect()}
    rej1 = {r.doc_id for r in spark.read.parquet(f"{rej}/batch=1").collect()}
    assert acc1 == {11}
    assert rej1 == {12}
    verd1 = {
        r.doc_id: r.is_dup
        for r in spark.read.parquet(f"{ver}/batch=1").collect()
    }
    assert verd1[10] is True  # suppressed by the index, not quality
    # rejected junk never reached the dedup gate (no verdict row)
    assert 12 not in verd1


def test_epoch_replay_is_idempotent(spark, tmp_path):
    idx, acc, rej, ver = _paths(tmp_path)
    model = _model(spark)
    CU.curate_epoch(_docs(spark, [(1, CLEAN_A)]), 0, model, idx, acc, rej, ver)

    def snapshot():
        return (
            sorted(
                (r.doc_id,)
                for r in spark.read.parquet(f"{acc}/batch=1").collect()
            ),
            sorted(
                (r.doc_id, r.is_dup)
                for r in spark.read.parquet(f"{ver}/batch=1").collect()
            ),
            spark.read.option("basePath", idx).parquet(idx).count(),
        )

    batch1 = [(10, CLEAN_A + " copy"), (11, CLEAN_B), (12, SPAM)]
    CU.curate_epoch(_docs(spark, batch1), 1, model, idx, acc, rej, ver)
    first = snapshot()
    # replay the SAME epoch (a restart re-delivering the micro-batch)
    CU.curate_epoch(_docs(spark, batch1), 1, model, idx, acc, rej, ver)
    assert snapshot() == first  # no double-append anywhere


def test_stream_curate_non_default_width(spark, tmp_path):
    """A 4096-bucket saved artifact must keep its modulus through the
    stream's model pinning (r8 regression: stream_curate re-pinned the
    NBModel without n_features, silently scoring every epoch at the
    1024 default — plausible wrong verdicts on the public --curate
    path)."""
    rows = [(True, CLEAN_A), (True, CLEAN_B), (True, CLEAN_C)] + [
        (False, f"{SPAM} extra{i}") for i in range(3)
    ]
    trained = train_quality_nb(
        spark.createDataFrame(rows, "label boolean, text string"),
        n_features=4096,
    )
    mpath = str(tmp_path / "model")
    save_quality_model(trained, mpath)
    model = load_quality_model(spark, mpath)
    assert model.n_features == 4096

    docs = [(1, CLEAN_A), (2, CLEAN_B), (3, SPAM + " y"), (4, CLEAN_C)]
    expected = {
        r.doc_id: (r.is_quality, r.score_q)
        for r in score_quality(_docs(spark, docs), model).collect()
    }
    assert {d: v for d, (v, _) in expected.items()} == {
        1: True, 2: True, 3: False, 4: True
    }
    # teeth: dropping n_features (the exact r8 bug shape) must change
    # the integer scores, or the score_q pin below is vacuous (verdicts
    # alone can coincide on a corpus this small)
    dropped = NBModel(weights=model.weights, consts=model.consts)
    wrong = {
        r.doc_id: (r.is_quality, r.score_q)
        for r in score_quality(_docs(spark, docs), dropped).collect()
    }
    assert wrong != expected

    idx, acc, rej, ver = _paths(tmp_path)
    spool = str(tmp_path / "in")
    os.makedirs(spool)
    with open(os.path.join(spool, "b0.txt"), "w") as f:
        for doc_id, text in docs:
            f.write(f"{doc_id} {text}\n")
    sp = F.split(F.col("value"), " ", 2)
    stream_docs = spark.readStream.text(spool).select(
        sp[0].cast("long").alias("doc_id"), sp[1].alias("text")
    )
    q = CU.stream_curate(
        stream_docs, model, idx, acc, rej, ver, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    rej_rows = spark.read.parquet(rej).collect()
    assert accepted == {d for d, (v, _) in expected.items() if v}
    # the quarantine sink's attributable score must be the 4096-width
    # score, bit-exact — the wrong-modulus score differs (teeth above)
    assert {r.doc_id: r.score_q for r in rej_rows} == {
        d: s for d, (v, s) in expected.items() if not v
    }


def test_stream_curate_end_to_end(spark, tmp_path):
    idx, acc, rej, ver = _paths(tmp_path)
    model = _model(spark)
    spool = str(tmp_path / "in")
    os.makedirs(spool)
    batches = [
        [(1, CLEAN_A), (2, SPAM + " x")],
        [(10, CLEAN_A + " again"), (11, CLEAN_B)],
    ]
    t0 = time.time() - 20
    for i, rows in enumerate(batches):
        with open(os.path.join(spool, f"b{i}.txt"), "w") as f:
            for doc_id, text in rows:
                f.write(f"{doc_id} {text}\n")
        os.utime(os.path.join(spool, f"b{i}.txt"), (t0 + i, t0 + i))
    src = spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
    sp = F.split(F.col("value"), " ", 2)
    docs = src.select(
        sp[0].cast("long").alias("doc_id"), sp[1].alias("text")
    )
    q = CU.stream_curate(
        docs, model, idx, acc, rej, ver, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}
    rejected = {r.doc_id for r in spark.read.parquet(rej).collect()}
    assert accepted == {1, 11}  # 10 deduped, 2 junk
    assert rejected == {2}


# --------------------------------------------------------------------------
# Optional perplexity gate (r9): NB gate -> LM gate -> dedup gate
# --------------------------------------------------------------------------


def test_epoch_lm_gate_routes_and_attributes(spark, tmp_path):
    """With an LM configured, a fluent doc passes, a scrambled doc
    (same words — identical NB verdict — but unseen bigram order)
    quarantines at the perplexity stage with its cross-entropy, and a
    junk doc still quarantines at the quality stage with a NULL
    cross-entropy (it never reached the LM)."""
    from tower_parse_spark.operators import lm as LM

    idx, acc, rej, ver = _paths(tmp_path)
    model = _model(spark)
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate([CLEAN_A, CLEAN_B, CLEAN_C] * 2)],
        "doc_id long, text string",
    )
    lm = LM.train_bigram_lm(ref)
    scrambled = " ".join(reversed(CLEAN_A.split()))
    # derive a cutoff between the fluent and scrambled CE — the gap is
    # structural (seen bigrams vs word-backoff), not tuned
    ces = {
        r.doc_id: r.cross_entropy
        for r in LM.score_perplexity(
            _docs(spark, [(1, CLEAN_A), (2, scrambled)]), lm
        ).collect()
    }
    assert ces[1] < ces[2]
    cutoff = (ces[1] + ces[2]) / 2

    CU.curate_epoch(
        _docs(spark, [(1, CLEAN_A), (2, scrambled), (3, SPAM + " q")]),
        0, model, idx, acc, rej, ver, lm=lm, lm_reject_ce=cutoff,
    )
    accepted = {r.doc_id for r in spark.read.parquet(f"{acc}/batch=0").collect()}
    rej_rows = {r.doc_id: r for r in spark.read.parquet(f"{rej}/batch=0").collect()}
    assert accepted == {1}
    assert {d: r.reject_stage for d, r in rej_rows.items()} == {
        2: "perplexity", 3: "quality"
    }
    assert rej_rows[2].cross_entropy == ces[2]  # attributable, bit-exact
    assert rej_rows[3].cross_entropy is None
    assert rej_rows[3].score_q < 0

    # replay the epoch: byte-identical sinks (exactly-once discipline)
    before = sorted(map(tuple, spark.read.parquet(f"{rej}/batch=0").collect()))
    CU.curate_epoch(
        _docs(spark, [(1, CLEAN_A), (2, scrambled), (3, SPAM + " q")]),
        0, model, idx, acc, rej, ver, lm=lm, lm_reject_ce=cutoff,
    )
    after = sorted(map(tuple, spark.read.parquet(f"{rej}/batch=0").collect()))
    assert after == before


def test_stream_curate_lm_cli_end_to_end(spark, tmp_path):
    """The public --curate --lm-model path: both artifacts saved and
    loaded from disk, the DEFAULT CCNet tail cutoff doing the
    rejection — a doc the LM has never seen a single word of scores
    the unknown-word penalty ln(V) > CE_MIDDLE once V is realistic."""
    import json as _json
    import math

    from tower_parse_spark.__main__ import start_curate
    from tower_parse_spark.operators import lm as LM

    model = _model(spark)
    mpath = str(tmp_path / "nb")
    save_quality_model(model, mpath)

    # LM reference: CLEAN_A plus filler pushing V past e^CE_MIDDLE
    # (~33 words), sharing NO word with CLEAN_C
    filler = " ".join(f"zword{i:02d}" for i in range(45))
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate([CLEAN_A, filler] * 2)],
        "doc_id long, text string",
    )
    lm = LM.train_bigram_lm(ref)
    v = lm.unk.first()["vocab_v"]
    assert math.log(v) > LM.CE_MIDDLE  # the default cutoff has teeth
    lpath = str(tmp_path / "lm")
    LM.save_bigram_lm(lm, lpath)

    spool = str(tmp_path / "in")
    os.makedirs(spool)
    rows = [(1, CLEAN_A), (2, CLEAN_C), (3, SPAM + " w")]
    with open(os.path.join(spool, "b0.json"), "w") as f:
        for doc_id, text in rows:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    out = str(tmp_path / "out")
    q = start_curate(spark, spool, mpath, out, lpath)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    accepted = {r.doc_id for r in spark.read.parquet(f"{out}/accepted").collect()}
    rej_rows = {
        r.doc_id: r.reject_stage
        for r in spark.read.parquet(f"{out}/rejected").collect()
    }
    assert accepted == {1}
    assert rej_rows == {2: "perplexity", 3: "quality"}


def test_quarantine_schema_stable_across_lm_rearm(spark, tmp_path):
    """ADVICE r9 (low): restarting a --curate deployment with --lm-model
    newly armed (or dropped) must NOT mix two schemas across batch=N
    partitions of one rejected/ directory. The quarantine sink emits the
    lm-era schema unconditionally — reject_stage='quality' and a NULL
    cross_entropy when no LM is configured — so a plain reader (no
    mergeSchema) sees every column from every epoch."""
    from tower_parse_spark.operators import lm as LM

    idx, acc, rej, ver = _paths(tmp_path)
    model = _model(spark)
    # epoch 0: LM-less deployment quarantines a junk doc
    CU.curate_epoch(
        _docs(spark, [(1, CLEAN_A), (3, SPAM + " q")]),
        0, model, idx, acc, rej, ver,
    )
    cols_nolm = spark.read.parquet(f"{rej}/batch=0").columns
    assert cols_nolm == [
        "doc_id", "text", "reject_stage", "score_q", "log_odds",
        "cross_entropy",
    ]
    # restart with the LM newly armed: epoch 1 lands in the SAME dir
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate([CLEAN_A, CLEAN_B, CLEAN_C] * 2)],
        "doc_id long, text string",
    )
    lm = LM.train_bigram_lm(ref)
    scrambled = " ".join(reversed(CLEAN_B.split()))
    ces = {
        r.doc_id: r.cross_entropy
        for r in LM.score_perplexity(
            _docs(spark, [(1, CLEAN_B), (2, scrambled)]), lm
        ).collect()
    }
    cutoff = (ces[1] + ces[2]) / 2
    CU.curate_epoch(
        _docs(spark, [(20, scrambled), (21, SPAM + " r")]),
        1, model, idx, acc, rej, ver, lm=lm, lm_reject_ce=cutoff,
    )
    # a PLAIN read over both epochs: one schema, every drop attributable
    allrej = spark.read.parquet(rej)
    assert sorted(allrej.columns) == sorted(cols_nolm + ["batch"])
    rows = {r.doc_id: r for r in allrej.collect()}
    assert rows[3].reject_stage == "quality" and rows[3].cross_entropy is None
    assert rows[20].reject_stage == "perplexity"
    assert rows[20].cross_entropy == ces[2]
    assert rows[21].reject_stage == "quality" and rows[21].cross_entropy is None


#: jobs the SECOND curate_epoch below launches (measured: 26, identical
#: over repeated runs on local[4])
EPOCH_JOBS = 26
#: slack for one plan-dependent job (an AQE re-plan or broadcast)
EPOCH_JOBS_SLACK = 1


def test_epoch_job_count_pinned(spark, tmp_path):
    """Job budget: the second of two curate_epoch calls (a live index to
    probe, pinned model, family validated up front — the stream_curate
    shape) launches at most EPOCH_JOBS + EPOCH_JOBS_SLACK Spark jobs,
    counted by job group through the status tracker. A job added to the
    epoch path fails this before it shows up as wall time; a job removed
    should lower the pin."""
    idx, acc, rej, ver = _paths(tmp_path)
    m = _model(spark)
    model = NBModel(
        weights=m.weights.localCheckpoint(eager=True),
        consts=m.consts.localCheckpoint(eager=True),
        n_features=m.n_features,
    )
    epochs = [
        [(1, CLEAN_A), (2, CLEAN_B), (3, CLEAN_A + " " + SPAM)],
        [(10, CLEAN_A + " indeed"), (11, CLEAN_C), (12, SPAM + " again")],
    ]
    sc = spark.sparkContext
    group = f"test_epoch_job_count_pinned-{time.time_ns()}"
    CU.curate_epoch(
        _docs(spark, epochs[0]), 0, model, idx, acc, rej, ver,
        validate_family=False,
    )
    sc.setJobGroup(group, "second curate_epoch")
    try:
        CU.curate_epoch(
            _docs(spark, epochs[1]), 1, model, idx, acc, rej, ver,
            validate_family=False,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= EPOCH_JOBS + EPOCH_JOBS_SLACK, n_jobs
    # the epoch did its work: the near-copy was suppressed
    verd = {
        r.doc_id: r.is_dup
        for r in spark.read.parquet(f"{ver}/batch=1").collect()
    }
    assert verd[10] is True

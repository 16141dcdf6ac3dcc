"""CLI arg handling (A25 parity: --config xor --echo, endpoint checks)."""

from __future__ import annotations

import pytest

from tower_parse_spark.__main__ import build_parser, parse_endpoint


def test_modes_mutually_exclusive():
    p = build_parser()
    with pytest.raises(SystemExit):
        p.parse_args(["--config", "x.conf", "--echo", "h:1"])
    with pytest.raises(SystemExit):
        p.parse_args([])  # one mode required


def test_endpoint_parsing():
    assert parse_endpoint("10.0.0.1:4001") == ("10.0.0.1", 4001)
    # bracketed IPv6, like the reference's urlparse path (readport.py:748)
    assert parse_endpoint("[::1]:4001") == ("::1", 4001)
    for bad in [
        "nohost",
        ":4001",
        "h:notaport",
        "h:99999",
        "localhost:4001",  # reference requires a literal IP, not a hostname
        "10.0.0.1",  # missing port
        "10.0.0.1:0",  # port 0 rejected (falsy, same as reference assert)
    ]:
        with pytest.raises(SystemExit):
            parse_endpoint(bad)


def test_query_mode_runs_and_lists(spark, capsys):
    """--query list prints every registry name; --query NAME shows rows
    on the provided session's JVM (main() fetches the active session)."""
    from tower_parse_spark.__main__ import main

    assert main(["--query", "list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "ann_ivfpq_topk" in out
    assert (
        main(
            ["--query", "q6_forecast_revenue",
             "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"]
        )
        == 0
    )
    assert "revenue" in capsys.readouterr().out


def test_explain_mode_prints_plan(spark, capsys):
    from tower_parse_spark.__main__ import main

    assert main(
        ["--explain", "q6_forecast_revenue", "--sf-dir", "/root/testdata/sf0.001"]
    ) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_query_mode_unknown_name_exits():
    import pytest

    from tower_parse_spark.__main__ import main

    with pytest.raises(SystemExit, match="unknown query"):
        main(["--query", "nope_not_a_query"])


def test_curate_mode_end_to_end(spark, tmp_path):
    """--curate: jsonl spool -> quality gate -> near-dup gate -> sinks,
    driven through the CLI's start_curate seam."""
    import json as _json

    from tower_parse_spark.__main__ import start_curate
    from tower_parse_spark.operators.classifier import (
        save_quality_model,
        train_quality_nb,
    )

    clean = "the committee published the annual report with detailed findings"
    spam = "zzclicka zzbuyb zzfreec zzcasinod zzwinnere zzbonusf"
    model = train_quality_nb(
        spark.createDataFrame(
            [(True, clean), (True, clean + " twice"), (False, spam),
             (False, spam + " more")],
            "label boolean, text string",
        )
    )
    model_path = str(tmp_path / "model")
    save_quality_model(model, model_path)

    spool = tmp_path / "spool"
    spool.mkdir()
    rows = [
        {"doc_id": 1, "text": clean},
        {"doc_id": 2, "text": spam + " offer"},
        {"doc_id": 3, "text": clean + " indeed"},  # near-dup of 1
    ]
    (spool / "docs.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n"
    )
    out = str(tmp_path / "out")
    q = start_curate(spark, str(spool), model_path, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    accepted = {r.doc_id for r in spark.read.parquet(f"{out}/accepted").collect()}
    rejected = {r.doc_id for r in spark.read.parquet(f"{out}/rejected").collect()}
    assert accepted == {1}
    assert rejected == {2}


def test_curate_requires_model(spark, tmp_path):
    import pytest

    from tower_parse_spark.__main__ import start_curate

    with pytest.raises(SystemExit, match="--model"):
        start_curate(spark, str(tmp_path), None, str(tmp_path / "o"))


def test_compact_index_mode_end_to_end(spark, tmp_path, capsys):
    """--compact-index (r13): folds the signature index's batch
    partitions in one maintenance call. Default through-batch is the
    highest batch present MINUS ONE (ADVICE r13): a non-graceful stop
    replays the max epoch on restart, and that replay must not find its
    own rows already folded into batch=0 (self-flagging). The compacted
    index still answers probes."""
    import json as _json
    import os as _os

    from tower_parse_spark.__main__ import run_compact_index
    from tower_parse_spark.streaming import neardup as ND

    idx = str(tmp_path / "idx")
    ver = str(tmp_path / "ver")
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow and more words",
    ]
    for i, t in enumerate(texts):
        b = spark.createDataFrame([(i + 1, t)], "doc_id long, text string")
        ND.process_epoch(b, i, idx, ver)
    assert run_compact_index(spark, idx, None) == 0
    out = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(out) == 1
    assert out[0]["through_batch"] == 1  # max=2, default = max-1
    assert out[0]["index"]["n_partitions_removed"] == 2
    assert sorted(
        d
        for d in _os.listdir(idx)
        if d.startswith("batch=")
    ) == ["batch=0", "batch=2"]  # the replayable max epoch survives
    # a REPLAY of the max epoch is still safe: its probe reads
    # batch < 2, which no longer contains its own rows
    b_replay = spark.createDataFrame(
        [(3, texts[2])], "doc_id long, text string"
    )
    ND.process_epoch(b_replay, 2, idx, ver)
    replay_rows = (
        spark.read.option("basePath", ver)
        .parquet(ver)
        .filter("doc_id = 3")
        .collect()
    )
    assert replay_rows and not replay_rows[0]["is_dup"]  # no self-flag
    # explicit --through-batch=max remains available for a stream
    # known committed through max; the loop continues on the compacted
    # layout: a near-dup of a pre-compaction doc still flags
    assert run_compact_index(spark, idx, 2) == 0
    capsys.readouterr()
    b3 = spark.createDataFrame(
        [(30, texts[0] + " once more")], "doc_id long, text string"
    )
    ND.process_epoch(b3, 3, idx, ver)
    rows = spark.read.option("basePath", ver).parquet(ver)
    r30 = rows.filter("doc_id = 30").collect()
    assert r30 and r30[0]["is_dup"]


def test_phash_dedup_mode_end_to_end(spark, tmp_path):
    """--phash-dedup: jsonl hash spool -> Hamming-banded near-dup
    sinks, driven through the CLI's start_phash_dedup seam; the second
    file carries an exact repeat of the first file's hash and must
    come back is_dup."""
    import json as _json
    import os as _os
    import time as _time

    from tower_parse_spark.__main__ import start_phash_dedup

    spool = tmp_path / "hash_spool"
    spool.mkdir()
    out = str(tmp_path / "phout")
    t0 = _time.time() - 10
    f0 = spool / "b0.jsonl"
    f0.write_text(
        "\n".join(_json.dumps(r) for r in
                  [{"doc_id": 1, "phash": 0x12345678},
                   {"doc_id": 2, "phash": 0x0F0F0F0F}]) + "\n"
    )
    _os.utime(f0, (t0, t0))
    f1 = spool / "b1.jsonl"
    f1.write_text(_json.dumps({"doc_id": 10, "phash": 0x12345678})
                  + "\n")
    _os.utime(f1, (t0 + 1, t0 + 1))
    q = start_phash_dedup(spark, str(spool), out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r["doc_id"]: r
        for r in spark.read.option("basePath", f"{out}/verdicts")
        .parquet(f"{out}/verdicts").collect()
    }
    assert not rows[1]["is_dup"] and not rows[1]["in_batch_dup"]
    assert not rows[2]["is_dup"] and not rows[2]["in_batch_dup"]
    # the file source may deliver both files in ONE micro-batch (no
    # maxFilesPerTrigger on the CLI reader): the repeat is then an
    # in-batch dup of the lower id instead of a history dup —
    # suppressed either way
    assert rows[10]["is_dup"] or rows[10]["in_batch_dup"]


def test_phash_dedup_cli_arg_parses():
    from tower_parse_spark.__main__ import build_parser

    args = build_parser().parse_args(
        ["--phash-dedup", "/tmp/spool", "--out", "/tmp/o",
         "--compact-every", "5"]
    )
    assert args.phash_dedup == "/tmp/spool"
    assert args.compact_every == 5

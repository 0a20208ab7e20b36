"""The batch job's invariant checks run as branches of ``run_pipeline``:
the turn-order check still refuses a repeated key before any stage is
committed, on a resumed run too, and the span check still counts a bad
offset."""

import json
import shutil
import sys

import pytest
from pyspark.sql import functions as F

import kgnorm.session
from kgnorm import extract, job, synth


def _main(spark, monkeypatch, capsys, *argv) -> dict:
    """``kgnorm.job.main`` on the test session (left running); its JSON line."""
    monkeypatch.setattr(kgnorm.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(sys, "argv", ["kgnorm.job", *argv])
    job.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_repeated_turn_key_commits_no_stage(spark, tmp_path, monkeypatch, capsys):
    turns = synth.synth_transcripts(spark, 240)
    turns.unionByName(turns.limit(1)).write.parquet(str(tmp_path / "in"))
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="1 duplicate"):
        _main(spark, monkeypatch, capsys, "--input", str(tmp_path / "in"),
              "--output", str(out), "--canonicalize")
    assert list(out.rglob("_SUCCESS")) == []


def test_resumed_run_waits_for_the_turn_order_check(spark, tmp_path, monkeypatch, capsys):
    turns = synth.synth_transcripts(spark, 240)
    turns.write.parquet(str(tmp_path / "in"))
    turns.unionByName(turns.limit(1)).write.parquet(str(tmp_path / "in_dup"))
    out = tmp_path / "out"
    _main(spark, monkeypatch, capsys, "--input", str(tmp_path / "in"), "--output", str(out))
    shutil.rmtree(out / "graph_base")
    # mentions and facts exist: the resumed run reads them, but must not
    # build graph_base on them before the check refuses the input
    with pytest.raises(ValueError, match="1 duplicate"):
        _main(spark, monkeypatch, capsys, "--input", str(tmp_path / "in_dup"),
              "--output", str(out), "--resume")
    assert not (out / "graph_base" / "_SUCCESS").exists()


def test_span_check_counts_a_shifted_offset(spark, tmp_path, monkeypatch, capsys):
    build = extract.extract_mentions_df

    def shifted(*args, **kwargs):
        mentions = build(*args, **kwargs)
        one = mentions.orderBy("conv_id", "turn_idx", "start_offset").first()
        hit = ((F.col("conv_id") == one.conv_id) & (F.col("turn_idx") == one.turn_idx)
               & (F.col("start_offset") == one.start_offset))
        return mentions.withColumn(
            "start_offset", F.when(hit, F.col("start_offset") + 1).otherwise(F.col("start_offset")))

    monkeypatch.setattr(extract, "extract_mentions_df", shifted)
    report = _main(spark, monkeypatch, capsys, "--synth-turns", "240",
                   "--output", str(tmp_path / "out"))
    assert report["turns"] == 240
    assert report["span_violations"] >= 1

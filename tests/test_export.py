"""OMOP NOTE / NOTE_NLP export tests (reference: omop_exporter*.py)."""

import os

import pytest
from pyspark.sql import functions as F

from kgnorm import export, job, synth
from kgnorm.checkpoints import StageStore


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    transcripts = synth.golden_transcripts(spark)
    out = job.run_pipeline(spark, transcripts, StageStore(str(tmp_path_factory.mktemp("wh"))))
    return transcripts, out


def test_note_export_rows(spark, pipeline):
    transcripts, _ = pipeline
    notes = export.note_export(transcripts).collect()
    assert len(notes) == transcripts.count()
    for n in notes:
        assert len(n.note_id) == 32 and len(n.person_id) == 32  # md5 hex
        assert n.note_class == "conversation_turn"
        assert n.note_text  # text passes through unmutated


def test_note_nlp_term_exists_mapping(spark, pipeline):
    _, out = pipeline
    top = out["candidates"].filter(F.col("rank") == 1)
    nlp = export.note_nlp_export(out["mentions"], top)
    rows = nlp.collect()
    assert len(rows) == top.count()  # every linked mention exported
    absent = [r for r in rows if r.term_exists == "N"]
    present = [r for r in rows if r.term_exists == "Y"]
    assert absent and present  # negated findings exported, never dropped
    # cross-check against the mention assertion
    m = {(r.conv_id, r.turn_idx, r.start_offset, r.end_offset): r.assertion
         for r in out["mentions"].collect()}
    for r in rows:
        want = "N" if m[(r.conv_id, r.turn_idx, r.offset_start, r.offset_end)] == "absent" else "Y"
        assert r.term_exists == want


def test_write_export_csv(spark, pipeline, tmp_path):
    transcripts, out = pipeline
    top = out["candidates"].filter(F.col("rank") == 1)
    export.write_export(
        export.note_export(transcripts),
        export.note_nlp_export(out["mentions"], top),
        str(tmp_path / "omop"),
        fmt="csv",
    )
    note = spark.read.option("header", "true").csv(str(tmp_path / "omop" / "note"))
    nlp = spark.read.option("header", "true").csv(str(tmp_path / "omop" / "note_nlp"))
    assert note.count() == transcripts.count()
    assert nlp.count() == top.count()
    assert "term_exists" in nlp.columns

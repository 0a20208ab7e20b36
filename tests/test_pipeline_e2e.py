"""End-to-end pipeline parity tests.

The parity structure mirrors the north rule: the distributed Spark
pipeline's emitted (subj, pred, obj) triples are compared against a
straight-line single-node evaluation of the reference semantics (the
pure-Python rules engine + the reference's direct-link → fact → edge
projection rules).  Target is P/R ≥ 0.95; we assert exact equality —
both sides implement the same semantics, so any gap is a distribution
bug (lost rows in a shuffle, wrong dedup key, nondeterministic merge).
"""

import dataclasses
import math

import pytest
from pyspark.sql import functions as F

from kgnorm import job, metrics, rules, synth
from kgnorm.checkpoints import StageStore

_EDGE = {
    "condition": "has_condition",
    "drug": "takes_drug",
    "measurement": "has_measurement",
    "procedure": "has_procedure",
    "observation": "has_observation",
    "device": "has_observation",
}


def reference_triples(turns, automaton):
    """Single-node evaluation of the reference job path for direct-linked
    mentions: extract → fact dedup → patient→concept edge set.

    ``turns``: list of (conv_id, text).  Returns {(subj, pred, obj)}.
    """
    triples = set()
    for conv_id, text in turns:
        for m in rules.extract_mentions(text, automaton):
            if not m.omop_concept_id or m.omop_concept_id <= 0:
                continue  # golden dictionary always carries ids; guarded by test below
            domain = (m.domain_hint or "observation").lower()
            if domain not in _EDGE:
                domain = "observation"
            triples.add((conv_id, _EDGE[domain], f"concept:{m.omop_concept_id}"))
    return triples


@pytest.fixture(scope="module")
def golden_result(spark, tmp_path_factory):
    transcripts = synth.golden_transcripts(spark)
    out = job.run_pipeline(spark, transcripts, StageStore(str(tmp_path_factory.mktemp("wh"))),
                           canonicalize=True)
    return transcripts, out


def test_golden_triples_match_reference_semantics(spark, golden_result, golden_notes, automaton):
    transcripts, out = golden_result
    got = {(t.subj, t.pred, t.obj) for t in out["triples"].collect()}
    want = reference_triples([(n["patient_id"], n["text"]) for n in golden_notes], automaton)
    missing = want - got
    extra = got - want
    assert not missing and not extra, f"missing={missing} extra={extra}"
    # sanity: precision/recall vs the reference semantics is exactly 1.0
    assert len(got) > 10


def test_every_golden_mention_is_direct_linked(golden_result):
    _, out = golden_result
    # fixture dictionary always carries concept ids → all candidates direct
    assert out["candidates"].filter(F.col("method") != "direct").count() == 0
    assert out["candidates"].filter(F.col("rank") == 1).count() == out["mentions"].count()


def test_unlinked_entry_takes_the_cascade(spark, ontology_bundle):
    """An entry without a concept id sends its own mentions through the
    linking cascade (job.fact_inputs decides); every other mention keeps
    the direct bypass."""
    ont = dataclasses.replace(ontology_bundle, dictionary=[
        (k, (surface, domain, 0 if k == "pneumonia" else cid))
        for k, (surface, domain, cid) in ontology_bundle.dictionary
    ])
    mentions, candidates, fi = job.fact_inputs(spark, synth.golden_transcripts(spark), ont)

    def keyed(df):
        return {(r.conv_id, r.turn_idx, r.start_offset, r.end_offset): r for r in df.collect()}

    all_mentions = keyed(mentions)
    unlinked = {k for k, m in all_mentions.items() if m.omop_concept_id == 0}
    assert unlinked
    top = keyed(candidates.filter(F.col("rank") == 1))
    assert set(top) == set(all_mentions)
    # tier 1 of the cascade: the term equals the concept name "Pneumonia"
    assert {top[k].method for k in unlinked} == {"exact"}
    assert {top[k].method for k in set(top) - unlinked} == {"direct"}
    inputs = keyed(fi)
    assert {inputs[k].omop_concept_id for k in unlinked} == {255848}


def test_negated_pneumonia_triple_emitted_absent(golden_result):
    _, out = golden_result
    rows = out["facts"].filter(
        (F.col("conv_id") == "P001") & (F.col("concept_name") == "pneumonia")
    ).collect()
    assert len(rows) == 1 and rows[0].assertion == "absent"
    t = out["triples"].filter(
        (F.col("subj") == "P001") & (F.col("obj") == f"concept:{rows[0].omop_concept_id}")
    ).collect()
    assert len(t) == 1 and t[0].assertion == "absent"


def test_span_invariant_holds(spark, golden_result):
    transcripts, out = golden_result
    assert metrics.mention_span_check(transcripts, out["mentions"]) == 0
    order = metrics.turn_order_check(transcripts)
    assert order.duplicate_keys == 0
    assert order.turns == transcripts.count()


def test_turn_order_check_counts_duplicate_keys(spark):
    transcripts = spark.createDataFrame(
        [("C1", 0, "a"), ("C1", 1, "b"), ("C1", 1, "c"), ("C2", 0, "d"),
         ("C2", 0, "e"), ("C2", 0, "f")],
        "conv_id string, turn_idx int, text string",
    )
    assert metrics.turn_order_check(transcripts) == (6, 2)
    assert metrics.turn_order_check(transcripts.limit(0)) == (0, 0)


def test_confidences_in_range_and_merged(golden_result):
    _, out = golden_result
    bad = out["facts"].filter(
        (F.col("confidence") < 0) | (F.col("confidence") > 1) | F.isnan("confidence")
    ).count()
    assert bad == 0
    # at least one fact merged >1 evidence (repeated terms in a note)
    assert out["facts"].filter(F.col("evidence_count") > 1).count() >= 1


def test_synth_scale_parity(spark, automaton, tmp_path):
    """240 synthetic turns (30 convs × 8 turns cycling the 10 templates):
    the distributed result must equal the single-node evaluation."""
    transcripts = synth.synth_transcripts(spark, 240)
    out = job.run_pipeline(spark, transcripts, StageStore(str(tmp_path / "wh")))
    got = {(t.subj, t.pred, t.obj) for t in out["triples"].collect()}
    turns = [(r.conv_id, r.text) for r in transcripts.collect()]
    want = reference_triples(turns, automaton)
    assert got == want


def test_checkpoint_resume_identical(spark, tmp_path):
    transcripts = synth.golden_transcripts(spark)
    store = StageStore(str(tmp_path / "wh"))
    out1 = job.run_pipeline(spark, transcripts, store=store, resume=False)
    t1 = sorted((t.subj, t.pred, t.obj, t.assertion) for t in out1["triples"].collect())
    # resume run must not recompute (it reads checkpoints) and be identical
    out2 = job.run_pipeline(spark, transcripts, store=store, resume=True)
    t2 = sorted((t.subj, t.pred, t.obj, t.assertion) for t in out2["triples"].collect())
    assert t1 == t2
    assert out2["metrics"].count() > 0


def test_canonicalization_rewrites_aliases(spark, golden_result):
    _, out = golden_result
    # canonical triples exist and alias ids from concept_relationships.json
    # never appear as objects
    canon_objs = {t.obj for t in out["canonical_triples"].collect()}
    assert "concept:45548361" not in canon_objs
    assert len(canon_objs) > 0

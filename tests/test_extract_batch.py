"""Focused tests for the r6 vectorized text-kernel stage.

``extract.text_kernel_df`` runs all four per-turn text kernels
(extraction, advanced enhancement, ensemble, pattern pipeline): it
factorizes each Arrow batch to its distinct texts and replicates
memoized blocks across duplicate turns.  These tests pin that every
kernel's OUTPUT is exactly its per-row reference (the kernel's pure
per-text function called once per turn) under duplicate-heavy,
all-distinct, None-text and memo-eviction conditions, and that every
kernel is balanced by ``conv_id`` with and without AQE.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from kgnorm import ac, advanced, ensemble, extract, ontology, patterns, rules, schemas

KERNELS = ["extract", "advanced", "ensemble", "patterns"]


def _kernel_df(kernel, df, d, num_partitions=None):
    if kernel == "extract":
        return extract.extract_mentions_df(df, d, num_partitions)
    if kernel == "advanced":
        return advanced.enhanced_mentions_df(df, d, num_partitions)
    if kernel == "ensemble":
        return ensemble.ensemble_mentions_df(df, d, num_partitions)
    return patterns.pattern_entities_df(df, num_partitions)


def _reference_block(kernel, text, auto):
    if kernel == "extract":
        return [
            (m.text, m.start_offset, m.end_offset, m.lexical_variant,
             m.section, m.assertion, m.temporality, m.experiencer,
             m.confidence, m.domain_hint, m.omop_concept_id)
            for m in rules.extract_mentions(text, auto)
        ]
    if kernel == "advanced":
        rows = []
        for m in rules.extract_mentions(text, auto):
            e = advanced.enhance(text, m.text, m.start_offset, m.end_offset)
            rows.append((
                m.text, m.start_offset, m.end_offset,
                "absent" if e.negated else m.assertion,
                m.domain_hint, int(m.omop_concept_id or 0),
                e.disambiguated_term, e.disambiguation_context,
                e.negated, e.negation_trigger,
                e.linked_modifier, e.compound_condition_text,
                e.base_condition, e.laterality, e.laterality_text,
            ))
        return rows
    if kernel == "ensemble":
        return [
            (m.source, m.text, m.lexical_variant, m.start_offset,
             m.end_offset, m.domain, m.confidence)
            for m in ensemble.ensemble_for_text(text, auto)
        ]
    return [
        (e.text, e.normalized_text, e.entity_type, e.start_offset,
         e.end_offset, e.base_confidence, e.final_confidence,
         e.assertion, e.section, e.value, e.unit)
        for e in patterns.pipeline_entities(text)
    ]


def _reference_rows(kernel, turns, auto):
    rows = []
    for conv_id, turn_idx, text in turns:
        if text is None:
            continue
        rows.extend((conv_id, turn_idx) + r
                    for r in _reference_block(kernel, text, auto))
    return sorted(rows)


def _turns(ont):
    from kgnorm import synth

    templates = synth.note_templates()
    turns = []
    for i in range(40):
        # heavy duplication (i % 3) plus some distinct and None texts
        text = templates[i % 3] if i % 5 else None
        if i % 7 == 0:
            text = templates[i % len(templates)] + f" tail {i}"
        turns.append((f"C{i // 8:03d}", i % 8, text))
    return turns


def _transcripts(spark, turns):
    return spark.createDataFrame(
        [{"conv_id": c, "turn_idx": t, "role": "user", "text": x,
          "tool": "", "ts": None} for c, t, x in turns],
        schema=schemas.TRANSCRIPTS,
    )


def _run(spark, turns, ont, kernel="extract"):
    d = ontology.broadcast_dictionary(spark, ont)
    got = _kernel_df(kernel, _transcripts(spark, turns), d, num_partitions=3).collect()
    return sorted(map(tuple, got))


@pytest.mark.parametrize("kernel", KERNELS)
def test_batch_kernel_equals_per_row_reference(spark, kernel):
    ont = ontology.load_fixture_ontology()
    auto = ac.build_automaton(ont.dictionary)
    turns = _turns(ont)
    expected = _reference_rows(kernel, turns, auto)
    assert expected
    assert _run(spark, turns, ont, kernel) == expected


def test_batch_kernel_memo_eviction(spark, monkeypatch):
    """A cap of 2 distinct texts evicts the memo within every batch;
    the output must not change."""
    monkeypatch.setattr(extract, "MEMO_CAP", 2)
    ont = ontology.load_fixture_ontology()
    auto = ac.build_automaton(ont.dictionary)
    turns = _turns(ont)
    assert len({t for _, _, t in turns if t is not None}) > 2
    assert _run(spark, turns, ont) == _reference_rows("extract", turns, auto)


def test_batch_kernel_all_none_texts(spark):
    ont = ontology.load_fixture_ontology()
    turns = [("C000", 0, None), ("C000", 1, None)]
    assert _run(spark, turns, ont) == []


def _physical_plan(df):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain()
    return out.getvalue()


@pytest.mark.parametrize("kernel", KERNELS)
def test_extraction_balanced_with_and_without_aqe(spark, kernel):
    """The default path's REBALANCE hint needs AQE; with AQE off, every
    text kernel hash-partitions by conv_id explicitly instead."""
    from kgnorm.session import conf_override

    ont = ontology.load_fixture_ontology()
    df = _transcripts(spark, _turns(ont))
    d = ontology.broadcast_dictionary(spark, ont)
    plan = _physical_plan(_kernel_df(kernel, df, d))
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        plan = _physical_plan(_kernel_df(kernel, df, d))
    assert "REBALANCE_PARTITIONS_BY_COL" not in plan
    assert plan.index("MapInPandas") < plan.index("Exchange hashpartitioning(conv_id")

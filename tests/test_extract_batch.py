"""Focused tests for the r6 vectorized extraction batch kernel.

``extract_mentions_df`` factorizes each Arrow batch to its distinct
texts and replicates memoized mention blocks across duplicate turns;
these tests pin that the kernel's OUTPUT is exactly the per-row
reference (one ``rules.extract_mentions`` call per turn) under
duplicate-heavy, all-distinct, None-text and memo-off conditions.
"""

from __future__ import annotations

import contextlib
import io

from kgnorm import ac, ontology, rules, schemas
from kgnorm.extract import extract_mentions_df


def _reference_rows(turns, auto):
    rows = []
    for conv_id, turn_idx, text in turns:
        if text is None:
            continue
        for m in rules.extract_mentions(text, auto):
            rows.append((
                conv_id, turn_idx, m.text, m.start_offset, m.end_offset,
                m.lexical_variant, m.section, m.assertion, m.temporality,
                m.experiencer, m.confidence, m.domain_hint, m.omop_concept_id,
            ))
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


def _run(spark, turns, ont):
    df = spark.createDataFrame(
        [{"conv_id": c, "turn_idx": t, "role": "user", "text": x,
          "tool": "", "ts": None} for c, t, x in turns],
        schema=schemas.TRANSCRIPTS,
    )
    d = ontology.broadcast_dictionary(spark, ont)
    got = extract_mentions_df(df, d, num_partitions=3).collect()
    return sorted(map(tuple, got))


def test_batch_kernel_equals_per_row_reference(spark):
    ont = ontology.load_fixture_ontology()
    auto = ac.build_automaton(ont.dictionary)
    turns = _turns(ont)
    assert _run(spark, turns, ont) == _reference_rows(turns, auto)


def test_batch_kernel_memo_off(spark, monkeypatch):
    monkeypatch.setenv("KGNORM_NO_MEMO", "1")
    ont = ontology.load_fixture_ontology()
    auto = ac.build_automaton(ont.dictionary)
    turns = _turns(ont)
    assert _run(spark, turns, ont) == _reference_rows(turns, auto)


def test_batch_kernel_all_none_texts(spark):
    ont = ontology.load_fixture_ontology()
    turns = [("C000", 0, None), ("C000", 1, None)]
    assert _run(spark, turns, ont) == []


def _physical_plan(df):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain()
    return out.getvalue()


def test_extraction_balanced_with_and_without_aqe(spark):
    """The default path's REBALANCE hint needs AQE; with AQE off,
    extraction hash-partitions by conv_id explicitly instead."""
    from kgnorm.session import conf_override

    ont = ontology.load_fixture_ontology()
    df = spark.createDataFrame(
        [{"conv_id": c, "turn_idx": t, "role": "user", "text": x,
          "tool": "", "ts": None} for c, t, x in _turns(ont)],
        schema=schemas.TRANSCRIPTS,
    )
    d = ontology.broadcast_dictionary(spark, ont)
    plan = _physical_plan(extract_mentions_df(df, d))
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        plan = _physical_plan(extract_mentions_df(df, d))
    assert "REBALANCE_PARTITIONS_BY_COL" not in plan
    assert plan.index("MapInPandas") < plan.index("Exchange hashpartitioning(conv_id")

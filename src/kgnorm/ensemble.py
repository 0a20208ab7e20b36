"""Ensemble span-overlap merge across extraction sources.

Port of ``backend/app/services/nlp_ensemble.py``:

* ``_spans_overlap`` (:160-189): overlap ratio ≥ 0.5 relative to the
  SMALLER span;
* ``_merge_mentions`` (:191-280): flatten sources → sort by (start,
  -length) → greedy first-overlap conflict resolution with
  domain-preference > longer-span > higher-confidence replacement, and a
  +0.10 agreement boost (cap 0.99) when the incumbent wins;
* ``extract_mentions`` (:384-438): per-source confidence floors and the
  final ``confidence >= 0.5`` filter.

Sources wired here (config: nlp_ensemble.py:39-68):

* ``rule_based`` — the dictionary AC scan (:mod:`kgnorm.rules`),
  confidence floored at 0.85 (:297-299);
* ``pattern`` — the regex pattern pipeline (:mod:`kgnorm.patterns`),
  occupying the reference's second-extractor slot (its ``ml_ner``
  transformer extractor is unavailable without torch — the reference
  itself degrades to the remaining sources in that case, :305-322);
* ``value`` — clinical value extraction (:mod:`kgnorm.pyvalues`) mapped
  to mentions at confidence 0.90 with vital/lab→measurement,
  dose→drug domains (:325-366).

``DOMAIN_PREFERENCES`` is kept verbatim (measurement→value,
drug→rule_based, condition→ml_ner); the condition preference never fires
without an ml_ner source, exactly as in the reference.

Spark shape: the merge is a per-turn sequential algorithm over a handful
of mentions, so the whole ensemble (three extractors + merge) runs as ONE
text-kernel pass per turn (:func:`kgnorm.extract.text_kernel_df`) — no
join and no shuffle between sources, which at 10^12 turns saves two full
mention-stream shuffles versus merging materialized per-source tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from kgnorm import patterns, pyvalues, rules
from kgnorm.extract import _automaton_for, text_kernel_df, transpose_rows

MIN_CONFIDENCE = 0.5          # nlp_ensemble.py:49
RULE_BASED_CONFIDENCE = 0.85  # :50
VALUE_CONFIDENCE = 0.90       # :52
AGREEMENT_BOOST = 0.10        # :55
MAX_CONFIDENCE = 0.99         # :56
OVERLAP_THRESHOLD = 0.5       # :165

DOMAIN_PREFERENCES = {  # :64-68
    "measurement": "value",
    "drug": "rule_based",
    "condition": "ml_ner",
}


@dataclass
class EnsembleMention:
    source: str
    text: str
    lexical_variant: str
    start_offset: int
    end_offset: int
    domain: str
    confidence: float


def spans_overlap(start1: int, end1: int, start2: int, end2: int,
                  threshold: float = OVERLAP_THRESHOLD) -> bool:
    """Overlap ratio vs the smaller span (nlp_ensemble.py:160-189)."""
    overlap = max(0, min(end1, end2) - max(start1, start2))
    if overlap == 0:
        return False
    min_len = min(end1 - start1, end2 - start2)
    if min_len == 0:
        return False
    return overlap / min_len >= threshold


def merge_mentions(mentions_by_source: dict[str, list[EnsembleMention]]) -> list[EnsembleMention]:
    """Greedy span-overlap merge (nlp_ensemble.py:191-280)."""
    all_mentions: list[tuple[str, EnsembleMention]] = []
    for source, mentions in mentions_by_source.items():
        for m in mentions:
            all_mentions.append((source, m))
    if not all_mentions:
        return []

    all_mentions.sort(key=lambda x: (x[1].start_offset, -(x[1].end_offset - x[1].start_offset)))

    merged: list[EnsembleMention] = []
    used_spans: list[tuple[int, int]] = []
    for source, mention in all_mentions:
        overlaps_with = None
        for i, (us, ue) in enumerate(used_spans):
            if spans_overlap(mention.start_offset, mention.end_offset, us, ue):
                overlaps_with = i
                break

        if overlaps_with is not None:
            existing = merged[overlaps_with]
            should_replace = False
            if mention.domain and DOMAIN_PREFERENCES.get(mention.domain) == source:
                should_replace = True
            if (mention.end_offset - mention.start_offset) > (existing.end_offset - existing.start_offset):
                should_replace = True
            if mention.confidence > existing.confidence:
                should_replace = True
            if should_replace:
                merged[overlaps_with] = mention
                used_spans[overlaps_with] = (mention.start_offset, mention.end_offset)
            else:
                existing.confidence = min(existing.confidence + AGREEMENT_BOOST, MAX_CONFIDENCE)
        else:
            merged.append(mention)
            used_spans.append((mention.start_offset, mention.end_offset))
    return merged


_VALUE_DOMAIN = {  # nlp_ensemble.py:337-344
    "vital_sign": "measurement",
    "lab_result": "measurement",
    "medication_dose": "drug",
    "measurement": "measurement",
    "score": "measurement",
}


def ensemble_for_text(text: str, automaton) -> list[EnsembleMention]:
    """All three extractors + merge + min-confidence filter for one text
    (nlp_ensemble.py:384-438)."""
    by_source: dict[str, list[EnsembleMention]] = {}

    rb = [
        EnsembleMention(
            source="rule_based", text=m.text, lexical_variant=m.lexical_variant,
            start_offset=m.start_offset, end_offset=m.end_offset,
            domain=(m.domain_hint or "observation").lower(),
            confidence=max(float(m.confidence), RULE_BASED_CONFIDENCE),
        )
        for m in rules.extract_mentions(text, automaton)
    ]
    if rb:
        by_source["rule_based"] = rb

    pat = [
        EnsembleMention(
            source="pattern", text=e.text, lexical_variant=e.normalized_text,
            start_offset=e.start_offset, end_offset=e.end_offset,
            domain=e.entity_type, confidence=float(e.final_confidence),
        )
        for e in patterns.pipeline_entities(text)
    ]
    if pat:
        by_source["pattern"] = pat

    vals = [
        EnsembleMention(
            source="value", text=v.text, lexical_variant=v.name.lower(),
            start_offset=v.start_offset, end_offset=v.end_offset,
            domain=_VALUE_DOMAIN.get(v.value_type, "measurement"),
            confidence=VALUE_CONFIDENCE,
        )
        for v in pyvalues.extract_all(text)
    ]
    if vals:
        by_source["value"] = vals

    merged = merge_mentions(by_source)
    return [m for m in merged if m.confidence >= MIN_CONFIDENCE]


# ---------------------------------------------------------------------------
# Spark wrapper
# ---------------------------------------------------------------------------

ENSEMBLE_COLS = [
    "conv_id", "turn_idx", "source", "mention_text", "lexical_variant",
    "start_offset", "end_offset", "domain", "confidence",
]

ENSEMBLE_SCHEMA = (
    "conv_id string, turn_idx int, source string, mention_text string,"
    " lexical_variant string, start_offset int, end_offset int,"
    " domain string, confidence double"
)


def ensemble_mentions_df(transcripts, dictionary, num_partitions: int | None = None):
    """Transcripts → merged ensemble mentions.  One text-kernel
    pass; the dictionary travels as the same broadcast the extraction
    stage uses (per-worker automaton cache in kgnorm.extract)."""
    def make_block():
        auto = _automaton_for(dictionary.value)

        def block(text):
            rows = [
                (m.source, m.text, m.lexical_variant, m.start_offset,
                 m.end_offset, m.domain, m.confidence)
                for m in ensemble_for_text(text, auto)
            ]
            return transpose_rows(rows, len(ENSEMBLE_COLS) - 2)
        return block

    return text_kernel_df(transcripts, ENSEMBLE_COLS, ENSEMBLE_SCHEMA,
                          make_block, num_partitions)

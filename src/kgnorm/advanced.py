"""Advanced per-mention NLP enhancement.

Port of ``backend/app/services/nlp_advanced.py``:

* context-scored abbreviation disambiguation over a 14-entry ambiguous
  table (:523-574): indicator hits in a ±100-char window pick the
  expansion; zero hits fall back to the FIRST declared context;
* clause-aware negation (:576-645): last pre-trigger in the preceding
  50 chars wins unless a clause boundary intervenes; first post-trigger
  after the mention wins under the same boundary rule; a detected
  trigger flips the mention's assertion to absent;
* compound-condition extraction (:647-700): embedded abbreviations
  (HFrEF, AECOPD, …) first, then base-pattern + modifier-pattern scans
  over a [-30, +50]-char context, `{0}` templates filled from the first
  capture group;
* ordered laterality (:712-753): bilateral/unilateral BEFORE left/right
  over a 30-char preceding window, gated on anatomical terms.

All tables live in ``data/nlp_advanced_tables.json`` (extracted
verbatim, provenance in the header).  Pure Python over (text, mention)
— deployed like the other kernels through
:func:`kgnorm.extract.text_kernel_df` (per-worker compiled-pattern
caching), reusing the extraction stage's mention pass so enhancement
adds no extra scan of the text.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from kgnorm import rules
from kgnorm.extract import _automaton_for, text_kernel_df, transpose_rows
from kgnorm.ontology import DATA_DIR

ABBREV_WINDOW = 100   # nlp_advanced.py:108
NEG_WINDOW = 50       # :109
LAT_WINDOW = 30       # :110


def _load_tables(data_dir: str | None = None) -> dict:
    path = os.path.join(data_dir or DATA_DIR, "nlp_advanced_tables.json")
    with open(path) as f:
        return json.load(f)


_T = None
_COMPILED_CACHE: dict[int, dict] = {}


def _tables() -> dict:
    """Driver-side compiled tables (loaded from the data file)."""
    global _T
    if _T is None:
        _T = compile_tables(_load_tables())
    return _T


def compile_tables(raw: dict) -> dict:
    """Compile a raw table dict (the reference compiles in __init__,
    :445-499).  Executors receive ``raw`` via broadcast — the data file
    does not ship inside the py-files zip — and cache the compiled form
    per worker."""
    key = id(raw)
    cached = _COMPILED_CACHE.get(key)
    if cached is not None:
        return cached
    pre = re.compile(
        r"\b(" + "|".join(re.escape(t) for t in raw["negation_triggers_pre"]) + r")\b",
        re.IGNORECASE)
    post = re.compile(
        r"\b(" + "|".join(re.escape(t) for t in raw["negation_triggers_post"]) + r")\b",
        re.IGNORECASE)
    boundary = re.compile(
        r"(" + "|".join(re.escape(b) for b in raw["clause_boundaries"]) + r")",
        re.IGNORECASE)
    laterality = [
        (lat, re.compile("|".join(pats), re.IGNORECASE))
        for lat, pats in raw["laterality_patterns_ordered"]
    ]
    compounds = {}
    for name, data in raw["compound_patterns"].items():
        compounds[name] = {
            "base": re.compile(
                r"\b(" + "|".join(re.escape(p) for p in data["base_patterns"]) + r")\b",
                re.IGNORECASE),
            "base_text": data["base_patterns"][0],
            "modifiers": [
                (re.compile(m["pattern"], re.IGNORECASE), m["text"])
                for m in data["modifiers"]
            ],
        }
    compiled = {
        "abbrevs": raw["ambiguous_abbreviations"],
        "pre": pre, "post": post, "boundary": boundary,
        "laterality": laterality,
        "embedded": raw["embedded_compound_abbreviations"],
        "compounds": compounds,
        "anatomy": raw["lateralized_anatomy"],
    }
    if len(_COMPILED_CACHE) > 4:
        _COMPILED_CACHE.clear()
    _COMPILED_CACHE[key] = compiled
    return compiled


@dataclass
class Enhancement:
    disambiguated_term: str | None = None
    disambiguation_context: str | None = None
    negated: bool = False
    negation_trigger: str | None = None
    negation_boundary: str | None = None
    linked_modifier: str | None = None
    compound_condition_text: str | None = None
    base_condition: str | None = None
    laterality: str | None = None
    laterality_text: str | None = None


def disambiguate(text: str, mention_text: str, start: int, end: int, tables: dict | None = None) -> tuple[str | None, str | None]:
    """(context, expansion) — nlp_advanced.py:523-574."""
    t = tables or _tables()
    abbr = mention_text.upper()
    contexts = t["abbrevs"].get(abbr)
    if not contexts:
        return None, None
    window = text[max(0, start - ABBREV_WINDOW):min(len(text), end + ABBREV_WINDOW)].lower()
    scores = {
        name: sum(1 for ind in data["indicators"] if ind.lower() in window)
        for name, data in contexts.items()
    }
    best = max(scores.items(), key=lambda x: x[1])
    if best[1] == 0:
        first = next(iter(contexts))
        return first, contexts[first]["expansion"]
    return best[0], contexts[best[0]]["expansion"]


def clause_negation(text: str, start: int, end: int, tables: dict | None = None) -> tuple[str | None, str | None]:
    """(trigger, boundary) or (None, None) — nlp_advanced.py:576-645."""
    t = tables or _tables()
    ctx_start = max(0, start - NEG_WINDOW)
    before = text[ctx_start:start]
    last = None
    for m in t["pre"].finditer(before):
        last = m
    if last:
        trigger_end = ctx_start + last.end()
        between = text[trigger_end:start]
        bmatch = t["boundary"].search(between)
        if not bmatch or bmatch.start() >= (start - trigger_end):
            after = text[end:end + NEG_WINDOW]
            ab = t["boundary"].search(after)
            return last.group(1), (ab.group(1) if ab else None)
    after = text[end:min(len(text), end + NEG_WINDOW)]
    pm = t["post"].search(after)
    if pm and not t["boundary"].search(after[:pm.start()]):
        return pm.group(1), None
    return None, None


def compound_condition(text: str, mention_text: str, start: int, end: int, tables: dict | None = None) -> tuple[str | None, str | None, str | None]:
    """(modifier, compound_text, base) — nlp_advanced.py:647-700."""
    t = tables or _tables()
    low = mention_text.lower()
    for abbr, data in t["embedded"].items():
        if abbr in low:
            return data["modifier"], f"{data['base']} {data['modifier']}", data["base"]
    for name, pdata in t["compounds"].items():
        if not pdata["base"].search(low):
            continue
        before = text[max(0, start - 30):start].lower()
        after = text[end:min(len(text), end + 50)].lower()
        full = before + " " + low + " " + after
        for mre, template in pdata["modifiers"]:
            m = mre.search(full)
            if m:
                if "{0}" in template and m.groups():
                    modifier = template.format(m.group(1))
                else:
                    modifier = template
                base_text = pdata["base_text"]
                return modifier, f"{base_text} {modifier}", base_text
    return None, None, None


def laterality(text: str, mention_text: str, start: int, end: int, tables: dict | None = None) -> tuple[str | None, str | None]:
    """(laterality, matched_text) — nlp_advanced.py:712-753."""
    t = tables or _tables()
    low = mention_text.lower()
    is_anat = any(a in low for a in t["anatomy"])
    if not is_anat:
        is_anat = any(c in low for c in ["pain", "fracture", "weakness", "numbness", "edema", "swelling"])
    if not is_anat:
        return None, None
    context = text[max(0, start - LAT_WINDOW):end].lower()
    for lat, pattern in t["laterality"]:
        m = pattern.search(context)
        if m:
            return lat, m.group(0).strip()
    return None, None


def enhance(text: str, mention_text: str, start: int, end: int, tables: dict | None = None) -> Enhancement:
    """All four enhancements for one mention (nlp_advanced.py:755-805)."""
    e = Enhancement()
    ctx, expansion = disambiguate(text, mention_text, start, end, tables)
    if ctx:
        e.disambiguation_context = ctx
        e.disambiguated_term = expansion
    trigger, bnd = clause_negation(text, start, end, tables)
    if trigger:
        e.negated = True
        e.negation_trigger = trigger
        e.negation_boundary = bnd
    mod, compound, base = compound_condition(text, mention_text, start, end, tables)
    if mod:
        e.linked_modifier = mod
        e.compound_condition_text = compound
        e.base_condition = base
    lat, lat_text = laterality(text, mention_text, start, end, tables)
    if lat:
        e.laterality = lat
        e.laterality_text = lat_text
    return e


# ---------------------------------------------------------------------------
# Spark wrapper
# ---------------------------------------------------------------------------

ENHANCED_COLS = [
    "conv_id", "turn_idx", "mention_text", "start_offset", "end_offset",
    "assertion", "domain_hint", "omop_concept_id",
    "disambiguated_term", "disambiguation_context",
    "adv_negated", "negation_trigger",
    "linked_modifier", "compound_condition_text", "base_condition",
    "laterality", "laterality_text",
]

ENHANCED_SCHEMA = (
    "conv_id string, turn_idx int, mention_text string, start_offset int,"
    " end_offset int, assertion string, domain_hint string,"
    " omop_concept_id bigint, disambiguated_term string,"
    " disambiguation_context string, adv_negated boolean,"
    " negation_trigger string, linked_modifier string,"
    " compound_condition_text string, base_condition string,"
    " laterality string, laterality_text string"
)


def enhanced_mentions_df(transcripts, dictionary, num_partitions: int | None = None):
    """Transcripts → dictionary mentions + advanced enhancements in ONE
    Arrow pass (extraction and enhancement share the text scan).
    Assertion flips to 'absent' on clause-negation detection, as the
    reference does (nlp_advanced.py:788-790)."""
    # tables ride a broadcast — the data file is driver-local only
    tables_bc = transcripts.sparkSession.sparkContext.broadcast(_load_tables())

    def make_block():
        auto = _automaton_for(dictionary.value)
        tables = compile_tables(tables_bc.value)

        def block(text):
            rows = []
            for m in rules.extract_mentions(text, auto):
                e = enhance(text, m.text, m.start_offset, m.end_offset, tables)
                assertion = "absent" if e.negated else m.assertion
                rows.append((
                    m.text, m.start_offset, m.end_offset, assertion,
                    m.domain_hint, int(m.omop_concept_id or 0),
                    e.disambiguated_term, e.disambiguation_context,
                    e.negated, e.negation_trigger,
                    e.linked_modifier, e.compound_condition_text,
                    e.base_condition, e.laterality, e.laterality_text,
                ))
            return transpose_rows(rows, len(ENHANCED_COLS) - 2)
        return block

    return text_kernel_df(transcripts, ENHANCED_COLS, ENHANCED_SCHEMA,
                          make_block, num_partitions)

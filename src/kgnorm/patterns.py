"""Regex pattern extraction pipeline (second extraction source).

Port of the reference's ``backend/app/services/extraction_pipeline.py``:

* ``PatternExtractor`` (:181-497): ~105 condition patterns with
  per-pattern confidence, ~180-name drug lexicon, ~48 measurement
  patterns with value capture + fixed units;
* ``ContextAnalyzer`` (:505-531): per-entity clinical-context pass
  (negation/section/historical/family — :mod:`kgnorm.context`);
* ``EntityValidator`` (:560-667): brand→generic / abbrev→condition
  normalization (:mod:`kgnorm.normalize` carries the same 17+23-entry
  maps), keep-max dedup on ``(normalized_text, entity_type)``, final
  confidence = base × context-modifier;
* ``ExtractionPipeline.process`` (:694-757): extract → context →
  validate → ``final_confidence >= 0.5`` filter.

The pattern tables are reference data ported verbatim (parity requires
identical lexicons + confidences; each table cites its source lines).
The executing code is a pure function of the text, deployed exactly like
the dictionary-scan kernel through :func:`kgnorm.extract.text_kernel_df`
(Arrow-batched ``mapInPandas``, one partition choice, per-worker text
memo — agent transcripts repeat turn texts heavily) with per-worker
compiled-pattern caching.

Scale notes: the ~330 compiled regexes scan each text sequentially —
O(patterns × text) per distinct text, amortized by the memo.  The Spark
plan is that one ``mapInPandas`` stage (no join); per-match confidences
ride along as plain columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from kgnorm import context as ctx
from kgnorm.extract import text_kernel_df, transpose_rows
from kgnorm.normalize import CONDITION_NORMALIZATION, DRUG_NORMALIZATION

MIN_CONFIDENCE = 0.5  # extraction_pipeline.py:682

# ---------------------------------------------------------------------------
# pattern tables (extraction_pipeline.py:191-438, verbatim data)
# ---------------------------------------------------------------------------

CONDITION_PATTERNS: list[tuple[str, float]] = [
    # very high confidence — full diagnostic terms (:192-211)
    (r"\b(type [12] diabetes mellitus)\b", 0.98),
    (r"\b(diabetic ketoacidosis)\b", 0.98),
    (r"\b(heart failure with (?:reduced|preserved) ejection fraction)\b", 0.98),
    (r"\b(acute (?:decompensated )?heart failure)\b", 0.98),
    (r"\b(chronic obstructive pulmonary disease)\b", 0.98),
    (r"\b(acute myocardial infarction)\b", 0.98),
    (r"\b(transient ischemic attack)\b", 0.98),
    (r"\b(pulmonary embolism)\b", 0.98),
    (r"\b(deep vein thrombosis)\b", 0.98),
    (r"\b(acute kidney injury)\b", 0.98),
    (r"\b(chronic kidney disease)\b", 0.98),
    (r"\b(acute appendicitis)\b", 0.98),
    (r"\b(gastroesophageal reflux disease)\b", 0.98),
    (r"\b(obstructive sleep apnea)\b", 0.98),
    (r"\b(generalized anxiety disorder)\b", 0.98),
    (r"\b(major depressive disorder)\b", 0.98),
    (r"\b(benign prostatic hyperplasia)\b", 0.98),
    (r"\b(urinary tract infection)\b", 0.98),
    (r"\b(community[- ]acquired pneumonia)\b", 0.98),
    # high confidence — standard terms (:213-244)
    (r"\b(diabetes mellitus)\b", 0.95),
    (r"\b(hypertension)\b", 0.95),
    (r"\b(hyperlipidemia)\b", 0.95),
    (r"\b(atrial fibrillation)\b", 0.95),
    (r"\b(heart failure)\b", 0.95),
    (r"\b(coronary artery disease)\b", 0.95),
    (r"\b(hyperlipidemia)\b", 0.95),  # duplicate kept — reference has it twice
    (r"\b(obesity)\b", 0.92),
    (r"\b(anemia)\b", 0.92),
    (r"\b(depression)\b", 0.88),
    (r"\b(anxiety)\b", 0.85),
    (r"\b(osteoporosis)\b", 0.92),
    (r"\b(osteoarthritis)\b", 0.92),
    (r"\b(hypothyroidism)\b", 0.95),
    (r"\b(hyperthyroidism)\b", 0.95),
    (r"\b(pneumonia)\b", 0.92),
    (r"\b(asthma)\b", 0.95),
    (r"\b(epilepsy)\b", 0.95),
    (r"\b(stroke)\b", 0.92),
    (r"\b(migraine)\b", 0.92),
    (r"\b(costochondritis)\b", 0.95),
    (r"\b(urticaria)\b", 0.95),
    (r"\b(cellulitis)\b", 0.95),
    (r"\b(sepsis)\b", 0.95),
    (r"\b(hyperkalemia)\b", 0.95),
    (r"\b(hypokalemia)\b", 0.95),
    (r"\b(hypernatremia)\b", 0.95),
    (r"\b(hyponatremia)\b", 0.95),
    (r"\b(dehydration)\b", 0.90),
    (r"\b(pleural effusion)\b", 0.95),
    (r"\b(pulmonary edema)\b", 0.95),
    # medium confidence — abbreviations (:246-266)
    (r"\b(htn)\b", 0.85),
    (r"\b(dm2?)\b", 0.80),
    (r"\b(dm1)\b", 0.85),
    (r"\b(hfref)\b", 0.88),
    (r"\b(hfpef)\b", 0.88),
    (r"\b(chf)\b", 0.85),
    (r"\b(cad)\b", 0.82),
    (r"\b(afib|a-?fib)\b", 0.85),
    (r"\b(copd)\b", 0.88),
    (r"\b(ckd)\b", 0.85),
    (r"\b(aki)\b", 0.85),
    (r"\b(dka)\b", 0.90),
    (r"\b(tia)\b", 0.88),
    (r"\b(dvt)\b", 0.88),
    (r"\b(bph)\b", 0.85),
    (r"\b(gerd)\b", 0.88),
    (r"\b(osa)\b", 0.85),
    (r"\b(gad)\b", 0.80),
    (r"\b(uti)\b", 0.85),
    (r"\b(cap)\b", 0.75),
    # lower confidence — symptoms (:268-285)
    (r"\b(chest pain)\b", 0.75),
    (r"\b(abdominal pain)\b", 0.75),
    (r"\b(headache)\b", 0.70),
    (r"\b(nausea)\b", 0.70),
    (r"\b(vomiting)\b", 0.70),
    (r"\b(diarrhea)\b", 0.70),
    (r"\b(constipation)\b", 0.70),
    (r"\b(dyspnea)\b", 0.75),
    (r"\b(shortness of breath)\b", 0.75),
    (r"\b(cough)\b", 0.65),
    (r"\b(fever)\b", 0.70),
    (r"\b(fatigue)\b", 0.65),
    (r"\b(dizziness)\b", 0.70),
    (r"\b(syncope)\b", 0.80),
    (r"\b(edema)\b", 0.75),
    (r"\b(palpitations)\b", 0.75),
    (r"\b(dysphagia)\b", 0.80),
    # conditions with modifiers (:287-295)
    (r"\b(allergic reaction)\b", 0.90),
    (r"\b(shellfish allergy)\b", 0.95),
    (r"\b(drug allergy)\b", 0.90),
    (r"\b(food allergy)\b", 0.90),
    (r"\b(carotid.{0,15}stenosis)\b", 0.90),
    (r"\b(medication.{0,10}non-?compliance)\b", 0.85),
    (r"\b(medication.{0,10}non-?adherence)\b", 0.85),
]

DRUG_PATTERNS: list[tuple[str, float]] = [
    # diabetes (:300-305)
    ("metformin", 0.98), ("insulin glargine", 0.98), ("insulin lispro", 0.98),
    ("insulin aspart", 0.98), ("glipizide", 0.95), ("glyburide", 0.95),
    ("sitagliptin", 0.95), ("empagliflozin", 0.95), ("dapagliflozin", 0.95),
    ("semaglutide", 0.95), ("liraglutide", 0.95), ("dulaglutide", 0.95),
    ("pioglitazone", 0.95),
    # cardiac (:307-324)
    ("lisinopril", 0.98), ("enalapril", 0.95), ("ramipril", 0.95),
    ("losartan", 0.95), ("valsartan", 0.95), ("olmesartan", 0.95),
    ("amlodipine", 0.98), ("nifedipine", 0.95), ("diltiazem", 0.95),
    ("metoprolol", 0.98), ("carvedilol", 0.98), ("atenolol", 0.95),
    ("propranolol", 0.95), ("bisoprolol", 0.95),
    ("furosemide", 0.98), ("bumetanide", 0.95), ("torsemide", 0.95),
    ("hydrochlorothiazide", 0.95), ("chlorthalidone", 0.95),
    ("spironolactone", 0.95), ("eplerenone", 0.95),
    ("atorvastatin", 0.98), ("rosuvastatin", 0.95), ("simvastatin", 0.95),
    ("pravastatin", 0.95),
    ("aspirin", 0.95), ("clopidogrel", 0.95), ("ticagrelor", 0.95),
    ("apixaban", 0.98), ("rivaroxaban", 0.95), ("warfarin", 0.95),
    ("dabigatran", 0.95), ("enoxaparin", 0.95), ("heparin", 0.95),
    ("nitroglycerin", 0.95), ("isosorbide", 0.90),
    ("digoxin", 0.95), ("amiodarone", 0.95),
    # pain / anti-inflammatory (:326-331)
    ("ibuprofen", 0.95), ("naproxen", 0.95), ("acetaminophen", 0.95),
    ("morphine", 0.95), ("oxycodone", 0.90), ("hydrocodone", 0.90),
    ("fentanyl", 0.95), ("tramadol", 0.90),
    ("prednisone", 0.95), ("methylprednisolone", 0.95), ("dexamethasone", 0.95),
    ("hydrocortisone", 0.95),
    # GI (:333-337)
    ("omeprazole", 0.95), ("pantoprazole", 0.95), ("esomeprazole", 0.95),
    ("famotidine", 0.95), ("ranitidine", 0.90),
    ("ondansetron", 0.95), ("metoclopramide", 0.90), ("promethazine", 0.90),
    ("docusate", 0.85), ("senna", 0.85), ("polyethylene glycol", 0.85),
    # respiratory (:339-344)
    ("albuterol", 0.98), ("ipratropium", 0.95),
    ("tiotropium", 0.95), ("umeclidinium", 0.95),
    ("fluticasone", 0.90), ("budesonide", 0.90), ("mometasone", 0.90),
    ("salmeterol", 0.90), ("formoterol", 0.90), ("vilanterol", 0.90),
    ("montelukast", 0.95),
    # antibiotics (:346-352)
    ("azithromycin", 0.95), ("amoxicillin", 0.95), ("amoxicillin-clavulanate", 0.95),
    ("levofloxacin", 0.95), ("ciprofloxacin", 0.95), ("moxifloxacin", 0.95),
    ("ceftriaxone", 0.95), ("cephalexin", 0.95), ("cefdinir", 0.95),
    ("doxycycline", 0.95), ("trimethoprim-sulfamethoxazole", 0.95),
    ("vancomycin", 0.95), ("piperacillin-tazobactam", 0.95),
    ("metronidazole", 0.95),
    # psych (:354-361)
    ("sertraline", 0.95), ("fluoxetine", 0.95), ("escitalopram", 0.95),
    ("citalopram", 0.95), ("paroxetine", 0.95), ("venlafaxine", 0.95),
    ("duloxetine", 0.95), ("bupropion", 0.90), ("mirtazapine", 0.90),
    ("trazodone", 0.90), ("quetiapine", 0.90), ("olanzapine", 0.90),
    ("risperidone", 0.90), ("aripiprazole", 0.90),
    ("lorazepam", 0.90), ("alprazolam", 0.85), ("clonazepam", 0.90),
    ("diazepam", 0.90),
    # other (:363-371)
    ("gabapentin", 0.90), ("pregabalin", 0.90),
    ("levothyroxine", 0.95),
    ("tamsulosin", 0.95), ("finasteride", 0.95),
    ("alendronate", 0.95),
    ("cetirizine", 0.90), ("loratadine", 0.90), ("fexofenadine", 0.90),
    ("diphenhydramine", 0.90),
    ("epinephrine", 0.95), ("epipen", 0.95),
    ("sumatriptan", 0.90),
    # brand names (:373-379)
    ("lantus", 0.95), ("humalog", 0.95), ("novolog", 0.95),
    ("lasix", 0.95), ("coreg", 0.95), ("norvasc", 0.95),
    ("zoloft", 0.95), ("lipitor", 0.95), ("crestor", 0.95),
    ("prilosec", 0.95), ("nexium", 0.95),
    ("zofran", 0.95), ("benadryl", 0.90),
    ("tylenol", 0.90), ("advil", 0.90), ("motrin", 0.90),
]

# (pattern, display name, unit, confidence) — extraction_pipeline.py:382-438
MEASUREMENT_PATTERNS: list[tuple[str, str, str, float]] = [
    # vitals
    (r"\b(?:bp|blood pressure)[:\s]+(\d+/\d+)", "Blood Pressure", "mmHg", 0.98),
    (r"\b(?:hr|heart rate|pulse)[:\s]+(\d+)", "Heart Rate", "bpm", 0.95),
    (r"\b(?:rr|respiratory rate)[:\s]+(\d+)", "Respiratory Rate", "/min", 0.95),
    (r"\b(?:temp|temperature)[:\s]+(\d+\.?\d*)\s*(?:°?[cfCF])?", "Temperature", "C", 0.95),
    (r"\b(?:spo2|oxygen sat|o2 sat|sao2)[:\s]+(\d+)", "SpO2", "%", 0.98),
    (r"\b(?:weight)[:\s]+(\d+\.?\d*)\s*(?:lb|kg|lbs|pounds)?", "Weight", "kg", 0.90),
    # labs
    (r"\b(?:hba1c|a1c|hemoglobin a1c)[:\s]+(\d+\.?\d*)\s*%?", "HbA1c", "%", 0.98),
    (r"\b(?:glucose|blood sugar)[:\s]+(\d+)", "Glucose", "mg/dL", 0.95),
    (r"\bfasting glucose[:\s]+(\d+)", "Fasting Glucose", "mg/dL", 0.98),
    (r"\bcreatinine[:\s]+(\d+\.?\d*)", "Creatinine", "mg/dL", 0.95),
    (r"\b(?:bun|blood urea nitrogen)[:\s]+(\d+)", "BUN", "mg/dL", 0.95),
    (r"\b(?:egfr|gfr)[:\s]+[<>]?(\d+)", "eGFR", "mL/min", 0.95),
    (r"\b(?:k\+?|potassium)[:\s]+(\d+\.?\d*)", "Potassium", "mmol/L", 0.95),
    (r"\b(?:na\+?|sodium)[:\s]+(\d+)", "Sodium", "mmol/L", 0.95),
    (r"\bchloride[:\s]+(\d+)", "Chloride", "mmol/L", 0.90),
    (r"\b(?:co2|bicarbonate|bicarb)[:\s]+(\d+)", "Bicarbonate", "mmol/L", 0.90),
    (r"\b(?:bnp|b-?type natriuretic)[:\s]+(\d+)", "BNP", "pg/mL", 0.98),
    (r"\btroponin[:\s]+[<>]?(\d+\.?\d*)", "Troponin", "ng/mL", 0.98),
    (r"\b(?:hgb|hemoglobin)[:\s]+(\d+\.?\d*)", "Hemoglobin", "g/dL", 0.95),
    (r"\b(?:hct|hematocrit)[:\s]+(\d+\.?\d*)", "Hematocrit", "%", 0.95),
    (r"\bwbc[:\s]+(\d+\.?\d*)", "WBC", "K/uL", 0.95),
    (r"\bplatelet[s]?[:\s]+(\d+)", "Platelets", "K/uL", 0.95),
    (r"\binr[:\s]+(\d+\.?\d*)", "INR", "", 0.95),
    (r"\bptt[:\s]+(\d+\.?\d*)", "PTT", "sec", 0.90),
    (r"\bldl[:\s]+(\d+)", "LDL", "mg/dL", 0.92),
    (r"\bhdl[:\s]+(\d+)", "HDL", "mg/dL", 0.92),
    (r"\btriglycerides[:\s]+(\d+)", "Triglycerides", "mg/dL", 0.92),
    (r"\blipase[:\s]+(\d+)", "Lipase", "U/L", 0.90),
    (r"\bamylase[:\s]+(\d+)", "Amylase", "U/L", 0.90),
    (r"\blast[:\s]+(\d+)", "AST", "U/L", 0.90),  # sic '\blast' — reference :419
    (r"\balt[:\s]+(\d+)", "ALT", "U/L", 0.90),
    (r"\balkaline phosphatase[:\s]+(\d+)", "Alk Phos", "U/L", 0.90),
    (r"\bbilirubin[:\s]+(\d+\.?\d*)", "Bilirubin", "mg/dL", 0.90),
    (r"\balbumin[:\s]+(\d+\.?\d*)", "Albumin", "g/dL", 0.90),
    (r"\bprocalcitonin[:\s]+(\d+\.?\d*)", "Procalcitonin", "ng/mL", 0.95),
    (r"\blactate[:\s]+(\d+\.?\d*)", "Lactate", "mmol/L", 0.95),
    (r"\bcrp[:\s]+(\d+\.?\d*)", "CRP", "mg/L", 0.90),
    (r"\besr[:\s]+(\d+)", "ESR", "mm/hr", 0.90),
    # ABG
    (r"\bph[:\s]+(\d+\.?\d+)", "pH", "", 0.90),
    (r"\bpco2[:\s]+(\d+)", "pCO2", "mmHg", 0.90),
    (r"\bpo2[:\s]+(\d+)", "pO2", "mmHg", 0.90),
    # cardiac
    (r"\bef[:\s]+(\d+)", "Ejection Fraction", "%", 0.95),
    (r"\bejection fraction[:\s]+(\d+)", "Ejection Fraction", "%", 0.98),
    # scores
    (r"\bnihss[:\s]+(\d+)", "NIHSS", "", 0.98),
    (r"\bgcs[:\s]+(\d+)", "GCS", "", 0.95),
    (r"\bapgar[:\s]+(\d+)", "APGAR", "", 0.95),
    (r"\bbmi[:\s]+(\d+\.?\d*)", "BMI", "kg/m2", 0.95),
    (r"\banion gap[:\s]+(\d+)", "Anion Gap", "mEq/L", 0.95),
]


_COMPILED: dict[str, Any] = {}


def _compiled():
    """Per-process compiled pattern tables (extraction_pipeline.py:441-450)."""
    if not _COMPILED:
        _COMPILED["conditions"] = [
            (re.compile(p, re.IGNORECASE), c) for p, c in CONDITION_PATTERNS
        ]
        _COMPILED["drugs"] = [
            (re.compile(rf"\b({d})\b", re.IGNORECASE), c) for d, c in DRUG_PATTERNS
        ]
        _COMPILED["measurements"] = [
            (re.compile(p, re.IGNORECASE), name, unit, c)
            for p, name, unit, c in MEASUREMENT_PATTERNS
        ]
    return _COMPILED


@dataclass
class PatternEntity:
    """Pipeline entity (extraction_pipeline.py:38-80, core fields)."""

    text: str
    normalized_text: str
    entity_type: str  # condition | drug | measurement
    start_offset: int
    end_offset: int
    base_confidence: float
    final_confidence: float = 0.0
    assertion: str = ctx.PRESENT
    section: str = ctx.SEC_UNKNOWN
    is_negated: bool = False
    value: str | None = None
    unit: str | None = None
    include: bool = True
    context_modifier: float = 1.0


def extract_raw(text: str) -> list[PatternEntity]:
    """Stage 2: pattern extraction (extraction_pipeline.py:452-497) —
    conditions, then drugs, then measurements, finditer order."""
    tables = _compiled()
    out: list[PatternEntity] = []
    for pattern, conf in tables["conditions"]:
        for m in pattern.finditer(text):
            out.append(PatternEntity(
                text=m.group(0), normalized_text=m.group(0).lower(),
                entity_type="condition", start_offset=m.start(), end_offset=m.end(),
                base_confidence=conf,
            ))
    for pattern, conf in tables["drugs"]:
        for m in pattern.finditer(text):
            out.append(PatternEntity(
                text=m.group(0), normalized_text=m.group(0).lower(),
                entity_type="drug", start_offset=m.start(), end_offset=m.end(),
                base_confidence=conf,
            ))
    for pattern, name, unit, conf in tables["measurements"]:
        for m in pattern.finditer(text):
            out.append(PatternEntity(
                text=name, normalized_text=name.lower(),
                entity_type="measurement", start_offset=m.start(), end_offset=m.end(),
                base_confidence=conf,
                value=m.group(1) if m.groups() else None, unit=unit,
            ))
    return out


def pipeline_entities(text: str, min_confidence: float = MIN_CONFIDENCE) -> list[PatternEntity]:
    """Full pipeline: extract → context → validate → confidence filter
    (extraction_pipeline.py:694-757)."""
    entities = extract_raw(text)

    # stage 3: context analysis (:512-531) — one sections+scopes pass per text
    sections, scopes = ctx.analyze_text(text)
    for e in entities:
        c = ctx.analyze_mention(text, e.start_offset, e.end_offset, sections, scopes)
        e.assertion = c.assertion
        e.section = c.section
        e.is_negated = c.is_negated
        e.context_modifier = c.confidence_modifier
        if e.context_modifier <= 0:
            e.include = False

    # stage 4: validation — normalize names (:610-627)
    for e in entities:
        if e.entity_type == "drug":
            e.normalized_text = DRUG_NORMALIZATION.get(e.normalized_text.lower(), e.normalized_text)
        elif e.entity_type == "condition":
            e.normalized_text = CONDITION_NORMALIZATION.get(e.normalized_text.lower(), e.normalized_text)

    # keep-max dedup on (normalized_text, entity_type) (:643-661);
    # Python max keeps the FIRST of equal keys — preserved
    grouped: dict[tuple[str, str], list[PatternEntity]] = {}
    for e in entities:
        if e.include:
            grouped.setdefault((e.normalized_text.lower(), e.entity_type), []).append(e)
    deduped = [max(g, key=lambda e: e.base_confidence * e.context_modifier) for g in grouped.values()]

    # final confidence + threshold (:633-640, 748-751)
    out = []
    for e in deduped:
        e.final_confidence = e.base_confidence * e.context_modifier
        if e.final_confidence >= min_confidence:
            out.append(e)
    return out


# ---------------------------------------------------------------------------
# Spark wrapper
# ---------------------------------------------------------------------------

PATTERN_ENTITY_COLS = [
    "conv_id", "turn_idx", "entity_text", "normalized_text", "entity_type",
    "start_offset", "end_offset", "base_confidence", "final_confidence",
    "assertion", "section", "value", "unit",
]

PATTERN_ENTITIES_SCHEMA = (
    "conv_id string, turn_idx int, entity_text string, normalized_text string,"
    " entity_type string, start_offset int, end_offset int,"
    " base_confidence double, final_confidence double,"
    " assertion string, section string, value string, unit string"
)


def pattern_entities_df(transcripts, num_partitions: int | None = None):
    """Transcripts → pattern-pipeline entities (the same text-kernel
    stage as kgnorm.extract.extract_mentions_df)."""
    def block(text):
        rows = [
            (e.text, e.normalized_text, e.entity_type, e.start_offset,
             e.end_offset, e.base_confidence, e.final_confidence,
             e.assertion, e.section, e.value, e.unit)
            for e in pipeline_entities(text)
        ]
        return transpose_rows(rows, len(PATTERN_ENTITY_COLS) - 2)

    return text_kernel_df(transcripts, PATTERN_ENTITY_COLS, PATTERN_ENTITIES_SCHEMA,
                          lambda: block, num_partitions)

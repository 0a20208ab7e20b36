"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship KG-construction pipeline;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.

Oracle strategy for the KG pipeline: the pipeline's input is a
transcripts table derived DETERMINISTICALLY from the sandbox
``documents`` table (turn text = golden note template ``doc_id % 10``,
conv_id = ``doc_id // 5``).  Because the input is template-periodic, the
expected extraction per template is a fixed 10-row-group relation that
the oracle embeds as a VALUES literal (computed by the same pure-Python
rule engine the Arrow UDF runs — semantics pinned by tests/test_rules.py
against the reference).  Downstream stages (linking, noisy-OR fact
aggregation, triple projection, canonicalization) are then re-derived in
PURE SQL from those VALUES — an independent re-implementation of every
distributed aggregation/join/window, so the comparison catches
distribution bugs (lost rows, wrong dedup keys, nondeterministic
merges), not just plumbing.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

REPO = os.path.dirname(os.path.abspath(__file__))
SRC = os.path.join(REPO, "src")
if SRC not in sys.path:
    sys.path.insert(0, SRC)

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kgnorm import (
    ensemble, export, facts as facts_mod, graph, job, link, metrics, multimodal,
    normalize, ontology, patterns, pyvalues, rules, synth, textops, values, vecops,
)
from kgnorm.ac import build_automaton
from kgnorm.extract import extract_mentions_df

TURNS_PER_CONV = 5
_EDGE_CASE_SQL = (
    "CASE domain WHEN 'condition' THEN 'has_condition' WHEN 'drug' THEN 'takes_drug' "
    "WHEN 'measurement' THEN 'has_measurement' WHEN 'procedure' THEN 'has_procedure' "
    "WHEN 'observation' THEN 'has_observation' WHEN 'device' THEN 'has_observation' "
    "ELSE 'has_observation' END"
)

# ---------------------------------------------------------------------------
# executor deployment: the harness builds its own SparkSession, so the
# kgnorm package must be shipped per-session via addPyFile (driver-side
# sys.path mutation never reaches the forked Python workers).
# ---------------------------------------------------------------------------

_SHIPPED: set[str] = set()


def _kgnorm_zip() -> str:
    """Build (once per process) the kgnorm py-files zip for addPyFile."""
    path = os.path.join(tempfile.gettempdir(), f"kgnorm_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(path):
        tmp = path + ".part"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            pkg = os.path.join(SRC, "kgnorm")
            for root, _dirs, files in os.walk(pkg):
                for f in sorted(files):
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        z.write(p, os.path.relpath(p, SRC))
        os.replace(tmp, path)
    return path


def _ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    app = sc.applicationId
    if app not in _SHIPPED:
        sc.addPyFile(_kgnorm_zip())
        _SHIPPED.add(app)


def _shipping(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


# ---------------------------------------------------------------------------
# shared lazily-built artifacts
# ---------------------------------------------------------------------------

_ONT = None


def _ont():
    global _ONT
    if _ONT is None:
        _ONT = ontology.load_fixture_ontology()
    return _ONT


_STAGE_CACHE: dict = {}


def _stages(spark: SparkSession, sf_dir: str) -> dict:
    """Derived transcripts + pipeline stage DataFrames, cached per (session, sf)."""
    key = (id(spark), sf_dir)
    if key in _STAGE_CACHE:
        return _STAGE_CACHE[key]
    _ensure_shipped(spark)
    ont = _ont()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    transcripts = synth.transcripts_from_documents(docs, TURNS_PER_CONV)
    mentions, candidates, fi = job.fact_inputs(
        spark, transcripts, ont, stage=lambda name, build: build().persist())
    out = {
        "transcripts": transcripts,
        "dictionary": ontology.broadcast_dictionary(spark, ont),  # for the text-kernel queries
        "mentions": mentions,
        "candidates": candidates,
        "top": link.top_candidates(candidates),
        "fact_inputs": fi,
        "facts": facts_mod.build_facts(fi).persist(),
    }
    _STAGE_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# oracle-side literal generation
# ---------------------------------------------------------------------------


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # CAST from string parses IEEE-exact; a bare literal would go
        # through DECIMAL and can lose the last ulp
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows: list[tuple]) -> str:
    return ",\n    ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)


_EXPECTED_MENTIONS = None


def _expected_mentions() -> list[tuple]:
    """Run the pure-Python rule engine over the 10 templates once."""
    global _EXPECTED_MENTIONS
    if _EXPECTED_MENTIONS is None:
        auto = build_automaton(_ont().dictionary)
        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for m in rules.extract_mentions(text, auto):
                rows.append((
                    tmpl, m.text, m.start_offset, m.end_offset, m.lexical_variant,
                    m.section, m.assertion, m.temporality, m.experiencer,
                    float(m.confidence), m.domain_hint, int(m.omop_concept_id or 0),
                ))
        _EXPECTED_MENTIONS = rows
    return _EXPECTED_MENTIONS


def _turns_cte() -> str:
    return f"""turns AS (
  SELECT 'C' || lpad(cast(doc_id // {TURNS_PER_CONV} AS varchar), 8, '0') AS conv_id,
         cast(doc_id % {TURNS_PER_CONV} AS int) AS turn_idx,
         cast(doc_id % 10 AS int) AS tmpl
  FROM documents
)"""


def _exp_cte() -> str:
    cols = ("tmpl, mention_text, start_offset, end_offset, lexical_variant, section,"
            " assertion, temporality, experiencer, confidence, domain_hint, omop_concept_id")
    return f"exp({cols}) AS (\n  VALUES {_values(_expected_mentions())}\n)"


def _fi_cte() -> str:
    """FactInput rows: expected mentions joined onto turns (SQL side)."""
    return f"""fi AS (
  SELECT t.conv_id, t.turn_idx, e.mention_text, e.start_offset, e.end_offset,
         e.assertion, e.temporality, e.experiencer,
         cast(e.confidence AS double) AS confidence,
         cast(e.omop_concept_id AS bigint) AS omop_concept_id,
         coalesce(lower(e.domain_hint), 'observation') AS domain,
         t.turn_idx * 100000000 + e.start_offset * 10000 + e.end_offset AS ord
  FROM turns t JOIN exp e USING (tmpl)
)"""


def _facts_cte() -> str:
    return """facts AS (
  SELECT conv_id, omop_concept_id, assertion, temporality, experiencer,
         arg_min(mention_text, ord) AS concept_name,
         arg_min(domain, ord) AS domain,
         1 - exp(sum(ln(greatest(1 - confidence, 1e-15)))) AS confidence_raw,
         round(1 - exp(sum(ln(greatest(1 - confidence, 1e-15)))), 6) AS confidence6,
         count(*) AS evidence_count,
         min(turn_idx) AS first_turn_idx,
         arg_min(start_offset, ord) AS first_start_offset
  FROM fi
  GROUP BY 1, 2, 3, 4, 5
)"""


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def _q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["mentions"].select(
        "conv_id", "turn_idx", "mention_text", "start_offset", "end_offset",
        "lexical_variant", "section", "assertion", "temporality", "experiencer",
        "confidence", "domain_hint", "omop_concept_id",
    )


def _q_kg_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["candidates"].select(
        "conv_id", "turn_idx", "start_offset", "end_offset", "mention_text",
        "omop_concept_id", "concept_name", "concept_code", "vocabulary_id",
        "domain_id", "score", "method", "rank",
    )


def _q_kg_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["facts"].select(
        "conv_id", "omop_concept_id", "assertion", "temporality", "experiencer",
        "concept_name", "domain",
        F.round("confidence", 6).alias("confidence6"),
        "evidence_count", "first_turn_idx", "first_start_offset",
    )


def _q_facts_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE upsert (kgnorm.facts.merge_facts): facts built
    from turns 0-2 then upserted with the later turns' evidences must
    equal the full batch build — shares kg_facts' full-batch oracle, the
    strongest possible check of the append-only MERGE path."""
    fi = _stages(spark, sf_dir)["fact_inputs"]
    old = fi.filter(F.col("turn_idx") < 3)
    new = fi.filter(F.col("turn_idx") >= 3)
    merged = facts_mod.merge_facts(facts_mod.build_facts(old), new)
    return merged.select(
        "conv_id", "omop_concept_id", "assertion", "temporality", "experiencer",
        "concept_name", "domain",
        F.round("confidence", 6).alias("confidence6"),
        "evidence_count", "first_turn_idx", "first_start_offset",
    )


def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.build_triples(_stages(spark, sf_dir)["facts"]).select(
        "conv_id", "subj", "pred", "obj", "omop_concept_id", "assertion"
    )


def _q_kg_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.domain_counts(_stages(spark, sf_dir)["facts"])


def _q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = graph.build_nodes(_stages(spark, sf_dir)["facts"])
    return nodes.select(
        "node_id", "conv_id", "node_type", "omop_concept_id", "label",
        F.col("properties")["assertion"].alias("p_assertion"),
        F.col("properties")["is_negated"].alias("p_is_negated"),
    )


_GRAPH_STORE_DONE: dict = {}
_GRAPH_READ_CONVS = ["C00000000", "C00000002"]
_GRAPH_N_BUCKETS = 16


def _q_graph_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-graph read-back (SURVEY §2.11, graph_builder_db.py:334-376):
    the nodes and edges tables are persisted bucketed by hash(conv_id),
    then two conversations' complete subgraphs (hub + concept nodes +
    edges) are read back PARTITION-PRUNED — the filter on the _bucket
    partition column means a serving read touches 2/16ths of the store's
    files, never a full scan — and returned as one unified row set, the
    shape a per-patient graph API serves."""
    s = _stages(spark, sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"kgnorm_graphstore_{_sf_tag(sf_dir)}_{os.getpid()}")
    key = (spark.sparkContext.applicationId, base)
    if key not in _GRAPH_STORE_DONE:
        facts = s["facts"]
        b = facts_mod.bucket_col(_GRAPH_N_BUCKETS)
        graph.build_nodes(facts).withColumn("_bucket", b).write \
            .mode("overwrite").partitionBy("_bucket") \
            .parquet(os.path.join(base, "nodes"))
        graph.build_edges(facts).withColumn("_bucket", b).write \
            .mode("overwrite").partitionBy("_bucket") \
            .parquet(os.path.join(base, "edges"))
        _GRAPH_STORE_DONE[key] = True
    wanted = spark.createDataFrame(
        [(c,) for c in _GRAPH_READ_CONVS], ["conv_id"])
    buckets = [r._b for r in wanted.select(
        facts_mod.bucket_col(_GRAPH_N_BUCKETS).alias("_b")).collect()]
    nodes = (
        spark.read.parquet(os.path.join(base, "nodes"))
        .filter(F.col("_bucket").isin(buckets)
                & F.col("conv_id").isin(_GRAPH_READ_CONVS))
    )
    edges = (
        spark.read.parquet(os.path.join(base, "edges"))
        .filter(F.col("_bucket").isin(buckets)
                & F.col("conv_id").isin(_GRAPH_READ_CONVS))
    )
    return nodes.select(
        F.lit("node").alias("kind"),
        F.col("node_id").alias("item_id"),
        "conv_id",
        F.col("node_type").alias("item_type"),
        "omop_concept_id",
        "label",
        F.lit(None).cast("string").alias("source_node_id"),
        F.lit(None).cast("string").alias("target_node_id"),
        F.col("properties")["assertion"].alias("p_assertion"),
    ).unionByName(edges.select(
        F.lit("edge").alias("kind"),
        F.col("edge_id").alias("item_id"),
        "conv_id",
        F.col("edge_type").alias("item_type"),
        F.lit(None).cast("long").alias("omop_concept_id"),
        F.lit(None).cast("string").alias("label"),
        "source_node_id",
        "target_node_id",
        F.col("properties")["assertion"].alias("p_assertion"),
    ))


def _q_omop_note_nlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return export.note_nlp_export(s["mentions"], s["top"]).select(
        "note_nlp_id", "note_id", "conv_id", "turn_idx", "offset_start", "offset_end",
        "lexical_variant", "note_nlp_concept_id", "term_exists", "term_temporal",
    )


_CASCADE_TERMS = [
    "metformin",            # tier 1: exact concept name
    "chf",                  # tier 2: synonym
    "heart failure",        # tier 2: synonym (multi-word)
    "essential hyper",      # tier 3: prefix, fractional score
    "type 2 diabetes",      # tier 3 prefix + tier 4 keyword
    "cancer of colon",      # tier 4: keyword 'cancer' + jaccard 2/3
    "pleuritic pain extra", # tier 4: keyword 'pleuritic' + jaccard 1/2
    "chest",                # tier 3: prefix of two concepts → rank by id
    "zz",                   # no match (below prefix min length)
    "aspirin",              # tier 1
]


def _q_link_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ont = _ont()
    terms = spark.createDataFrame([(t,) for t in _CASCADE_TERMS], ["term"])
    return link.map_terms(terms, ontology.concepts_df(spark, ont), ontology.synonyms_df(spark, ont)).select(
        "term", F.col("concept_id").cast("long").alias("concept_id"), "concept_name",
        "vocabulary_id", "domain_id", "score", "method", "rank",
    )


# terms for the semantic tier: misspellings / paraphrases the exact and
# prefix cascade tiers cannot match (shared-char-trigram retrieval)
_SEMANTIC_TERMS = [
    "hypertention",          # misspelling of hypertension
    "diabetis mellitus",     # misspelling
    "atril fibrillation",    # misspelling
    "asprin",                # misspelling
    "heart failure",         # exact name (cos 1.0 sanity row)
    "myocardial infraction", # misspelling
    "zz",                    # no trigram overlap
]


def _q_link_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) linking tier (hybrid_search.py:195-268):
    cosine ≥ 0.6 against the broadcast concept-embedding matrix, score ×
    0.85, top-10 per term."""
    from kgnorm import semantic

    terms = spark.createDataFrame([(t,) for t in _SEMANTIC_TERMS], ["term"])
    emb = semantic.concept_embeddings(spark, _ont().concepts)
    return semantic.semantic_candidates(terms, emb).select(
        "term", F.col("concept_id").cast("long").alias("concept_id"),
        "concept_name", "vocabulary_id", "domain_id", "score", "method", "rank",
    )


_ICD10_QUERIES = [
    "sepsis",                 # exact synonym
    "blood poisoning",        # exact synonym (alias)
    "type 2 diabetes",        # partial synonym
    "acute kidney failure",   # description overlap
    "chest pain",             # exact + partial mix
    "zzz",                    # no match
]


def _q_kg_drug_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interaction check chained onto the KG itself: per-conversation
    medication lists come from PRESENT drug facts."""
    from kgnorm import interactions

    facts = _stages(spark, sf_dir)["facts"]
    meds = facts.filter(
        (F.col("domain") == "drug") & (F.col("assertion") == "present")
    ).select("conv_id", F.col("concept_name").alias("drug"))
    _rows, aliases = interactions.load_interaction_data()
    dim = interactions.interactions_dim(spark)
    return interactions.check_interactions(meds, dim, aliases).select(
        "conv_id", "drug1", "drug2", "severity", "interaction_type",
    )


def _kg_meds_conds(spark, sf_dir):
    facts = _stages(spark, sf_dir)["facts"]
    meds = facts.filter(
        (F.col("domain") == "drug") & (F.col("assertion") == "present")
    ).select("conv_id", F.col("concept_name").alias("drug"))
    conds = facts.filter(
        (F.col("domain") == "condition") & (F.col("assertion") == "present")
    ).select("conv_id", F.col("concept_name").alias("condition"))
    return meds, conds


def _q_safety_contraindications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drug-safety contraindication matches over the KG: present drug
    facts × present condition facts vs the broadcast contraindication
    dim (drug_safety.py:807-819, substring either way)."""
    from kgnorm import safety

    meds, conds = _kg_meds_conds(spark, sf_dir)
    _p, aliases = safety.load_safety_profiles()
    ci = safety.contraindications_dim(spark)
    return safety.check_contraindications(meds, conds, ci, aliases).select(
        "conv_id", "drug", "condition", "ci_condition", "severity",
    )


def _q_safety_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(conversation, drug) overall-safety rollup
    (drug_safety.py:860-875)."""
    from kgnorm import safety

    meds, conds = _kg_meds_conds(spark, sf_dir)
    _p, aliases = safety.load_safety_profiles()
    ci = safety.contraindications_dim(spark)
    matched = safety.check_contraindications(meds, conds, ci, aliases)
    return safety.safety_rollup(matched, meds, safety.profiles_dim(spark), aliases)


def _q_hcc_opportunities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HCC revenue opportunities from conversation text
    (hcc_analyzer.py:600-672): indicator scan → uncaptured HCCs →
    RAF × PMPM × 12."""
    from kgnorm import hcc

    s = _stages(spark, sf_dir)
    defs, pmpm = hcc.load_hcc()
    detected = hcc.detect_hccs(s["transcripts"], hcc.indicators_dim(spark))
    return hcc.hcc_opportunities(detected, None, hcc.hcc_dim(spark), pmpm)


def _q_hcc_raf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation additive RAF over detected HCCs
    (hcc_analyzer.py:582-598)."""
    from kgnorm import hcc

    s = _stages(spark, sf_dir)
    detected = hcc.detect_hccs(s["transcripts"], hcc.indicators_dim(spark))
    return hcc.raf_scores(detected.select("conv_id", "hcc_code"), hcc.hcc_dim(spark))


def _q_icd10_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICD-10 code suggestion (icd10_suggester.py:830-891): exact
    synonym → substring → description word-overlap tiers over broadcast
    code dims."""
    from kgnorm import icd10

    qs = spark.createDataFrame([(t,) for t in _ICD10_QUERIES], ["query"])
    return icd10.suggest_codes(qs, icd10.codes_dim(spark), icd10.synonyms_dim(spark))


_CPT_QUERIES = [
    "colonoscopy",
    "echocardiogram",
    "chest x-ray",
    "office visit",
    "zzz",
]


def _q_differential_dx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked differential diagnosis per conversation from PRESENT fact
    findings (differential_diagnosis.py:751-898; demographics default
    off — transcripts carry none)."""
    from kgnorm import differential as dd

    facts = _stages(spark, sf_dir)["facts"]
    findings = facts.filter(F.col("assertion") == "present").select(
        "conv_id", F.col("concept_name").alias("finding")
    )
    _dxs, aliases = dd.load_differential()
    return dd.differential(
        findings, dd.finding_index_dim(spark), dd.diagnosis_dim(spark), aliases
    )


# claim fixtures exercising bundling pairs, necessity hits and misses
_CLAIM_CPTS = [
    ("E1", "99215"), ("E1", "99213"),             # CCI pair (E/M levels)
    ("E1", "93000"),                              # ECG, supported below
    ("E2", "99285"), ("E2", "93000"),             # ED-visit + ECG CCI pair
    ("E3", "83036"),                              # HbA1c, unsupported dx below
    ("E4", "80053"),                              # panel, claim has no dx → skip
    ("E5", "71046"), ("E5", "71045"),             # 2-view CXR pair
]
_CLAIM_DXS = [
    ("E1", "I48.91"),      # supports 93000
    ("E2", "R07.9"),       # supports 93000 (pair finding still fires)
    ("E3", "K21.9"),       # does NOT support 83036
    ("E5", "J18.9"),       # supports 71046
]


def _q_billing_bundling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI bundling-edit findings (billing_optimizer.py:529-570)."""
    from kgnorm import billing

    cpts = spark.createDataFrame(_CLAIM_CPTS, ["claim_id", "cpt_code"])
    return billing.check_bundling(cpts, billing.bundles_dim(spark))


def _q_billing_necessity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medical-necessity findings (billing_optimizer.py:572-616)."""
    from kgnorm import billing

    cpts = spark.createDataFrame(_CLAIM_CPTS, ["claim_id", "cpt_code"])
    dxs = spark.createDataFrame(_CLAIM_DXS, ["claim_id", "icd10_code"])
    return billing.check_medical_necessity(cpts, dxs, billing.necessity_dim(spark))


def _q_doc_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documentation-gap (CDI) detection over extracted mentions
    (documentation_gaps.py:445-523)."""
    from kgnorm import docgaps

    s = _stages(spark, sf_dir)
    return docgaps.detect_gaps(
        s["mentions"], s["transcripts"],
        docgaps.rules_dim(spark), docgaps.laterality_dim(spark),
    )


def _q_doc_gap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation CDI rollup with revenue-at-risk estimate
    (documentation_gaps.py:585-597)."""
    from kgnorm import docgaps

    s = _stages(spark, sf_dir)
    gaps = docgaps.detect_gaps(
        s["mentions"], s["transcripts"],
        docgaps.rules_dim(spark), docgaps.laterality_dim(spark),
    )
    return docgaps.gap_rollup(gaps)


def _q_cpt_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CPT/HCPCS code suggestion over the merged 5,046-code dimension
    (cpt_suggester.py:991-1060)."""
    from kgnorm import cpt

    qs = spark.createDataFrame([(t,) for t in _CPT_QUERIES], ["query"])
    return cpt.suggest_codes(qs, cpt.codes_dim(spark), cpt.synonyms_dim(spark))


# drug-interaction check inputs: per-patient medication lists exercising
# alias normalization, contraindicated/major pairs, and no-hit lists
_MED_LISTS = [
    ("P1", "Coumadin"), ("P1", "aspirin"), ("P1", "lisinopril"),
    ("P2", "simvastatin"), ("P2", "clarithromycin"),
    ("P3", "metformin"), ("P3", "lisinopril"),
    ("P4", "sertraline"), ("P4", "tramadol"), ("P4", "warfarin"),
    ("P5", "Tylenol"),
]


def _q_drug_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise drug-interaction check (drug_interactions.py:664-686):
    conversation-local pair self-join vs the broadcast interaction dim."""
    from kgnorm import interactions

    meds = spark.createDataFrame(_MED_LISTS, ["conv_id", "drug"])
    _rows, aliases = interactions.load_interaction_data()
    dim = interactions.interactions_dim(spark)
    return interactions.check_interactions(meds, dim, aliases).select(
        "conv_id", "drug1", "drug2", "severity", "interaction_type",
    )


def _q_interaction_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-patient interaction rollup (drug_interactions.py:688-723)."""
    from kgnorm import interactions

    meds = spark.createDataFrame(_MED_LISTS, ["conv_id", "drug"])
    _rows, aliases = interactions.load_interaction_data()
    dim = interactions.interactions_dim(spark)
    found = interactions.check_interactions(meds, dim, aliases)
    return interactions.interaction_summary(found)


# ETL code-mapping fixture inputs: fixture vocabulary codes + an unknown
# code + a local-mapping override
_CODE_ROWS = [
    ("4548-4", "LOINC"),       # Hemoglobin A1c → LOINC path
    ("2160-0", "LOINC"),       # Creatinine
    ("6809", "RxNorm"),        # Metformin
    ("49727002", "SNOMED"),    # Cough (hierarchy-only source: no path target)
    ("233604007", "SNOMED"),   # Pneumonia
    ("J18.9", "ICD10CM"),      # not in fixture vocabulary → unmapped
    ("local1", "ICD10CM"),     # local-mapping override
]
_LOCAL_MAPPING_ROWS = [
    ("LOCAL1", "ICD10CM", "Local pneumonia code", 255848, "Pneumonia"),
]


def _q_code_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL code-mapping joins (vocabulary_mapping.py:234-362): local
    override → source lookup → best 'Maps to' relationship →
    relationship-typed confidence."""
    from kgnorm import codemap

    codes = spark.createDataFrame(_CODE_ROWS, ["source_code", "source_vocabulary"])
    locals_df = spark.createDataFrame(
        _LOCAL_MAPPING_ROWS,
        "local_code string, local_vocabulary string, local_description string,"
        " omop_concept_id long, omop_concept_name string",
    )
    ont = _ont()
    return codemap.map_codes(
        codes, ontology.concepts_df(spark, ont), ontology.relationships_df(spark, ont), locals_df
    ).select(
        "source_code", "source_vocabulary",
        F.col("source_concept_id").cast("long").alias("source_concept_id"),
        "source_concept_name",
        F.col("target_concept_id").cast("long").alias("target_concept_id"),
        "target_concept_name", "target_vocabulary", "mapping_type",
        "confidence", "confidence_score", "relationship_id", "unmapped_reason",
    )


def _q_kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgnorm import canon

    rels = ontology.relationships_df(spark, _ont())
    return canon.canonical_mapping(rels).select("concept_id", "canonical_concept_id")


# ---------------------------------------------------------------------------
# training-data ops (dedup / similarity / text analysis / multimodal)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _q_dedup_exact(spark, sf_dir):
    return textops.exact_dup_groups(_docs(spark, sf_dir))


def _q_text_quality(spark, sf_dir):
    return textops.text_quality(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


def _q_token_stats(spark, sf_dir):
    return textops.token_stats(_docs(spark, sf_dir))


def _q_fingerprints(spark, sf_dir):
    return textops.fingerprints(_docs(spark, sf_dir))


def _q_minhash_signatures(spark, sf_dir):
    return textops.minhash_signatures(_docs(spark, sf_dir), k=8)


def _q_minhash_lsh_pairs(spark, sf_dir):
    return textops.minhash_lsh_pairs(_docs(spark, sf_dir), k=8, bands=4)


JACCARD_DF_MAX = 100


def _q_ngram_jaccard_pairs(spark, sf_dir):
    return textops.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, df_max=JACCARD_DF_MAX
    )


def _q_simhash(spark, sf_dir):
    return textops.simhash(_docs(spark, sf_dir))


def _q_cosine_topk(spark, sf_dir):
    return vecops.cosine_topk(_embs(spark, sf_dir), n_queries=10, k=5)


EMB_DIM = 64


def _q_ann_lsh_topk(spark, sf_dir):
    return vecops.ann_lsh_topk(_embs(spark, sf_dir), EMB_DIM, n_queries=10, k=5)


EMB_DUP_THRESHOLD = 0.9


def _q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup dedup pairs: banded-LSH candidates +
    exact cosine confirm."""
    return vecops.lsh_dup_pairs(_embs(spark, sf_dir), EMB_DIM, threshold=EMB_DUP_THRESHOLD)


def _q_multimodal_features(spark, sf_dir):
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media, fake=True)
    return feats.select("media_id", "kind", "n_bytes", "width", "height", "n_channels")


def _q_frame_sample(spark, sf_dir):
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    return multimodal.frame_sample_plan(media, fps=1.0, duration_bytes_per_sec=10)


def _q_events_tumbling(spark, sf_dir):
    """Event-time tumbling-window aggregation (the batch twin of the
    Structured Streaming windowed agg in kgnorm.streaming)."""
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        events.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value4"))
        .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n_events", "sum_value4")
    )


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum.

    Gap measured in whole microseconds (timestamp_diff, which accepts
    TIMESTAMP_NTZ and is timezone-naive like the DuckDB oracle's epoch_us) —
    unix_timestamp would truncate fractional seconds and misclassify gaps
    near the boundary.
    """
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    marked = events.withColumn("new_s", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
    return marked.select(
        "user_id", "event_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_idx"),
    )


def _q_kg_relations(spark, sf_dir):
    from kgnorm import relations

    s = _stages(spark, sf_dir)
    rel = relations.proximity_relations(s["mentions"], s["transcripts"])
    return relations.dedup_relations(rel).select(
        "conv_id", "source_text", "target_text", "relation_type",
        "confidence", "first_turn_idx", "method", "source_domain", "target_domain",
    )


def _q_clinical_values(spark, sf_dir):
    return values.extract_values(_stages(spark, sf_dir)["transcripts"])


_EXPECTED_ENHANCED_MENTIONS = None


def _expected_enhanced_mentions() -> list[tuple]:
    """Pure-Python extraction over the 10 templates with the
    synonym-EXPANDED dictionary (vocabulary_enhanced set union)."""
    global _EXPECTED_ENHANCED_MENTIONS
    if _EXPECTED_ENHANCED_MENTIONS is None:
        auto = build_automaton(ontology.enhanced_dictionary(_ont()))
        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for m in rules.extract_mentions(text, auto):
                rows.append((
                    tmpl, m.text, m.start_offset, m.end_offset, m.lexical_variant,
                    m.assertion, float(m.confidence), m.domain_hint,
                    int(m.omop_concept_id or 0),
                ))
        _EXPECTED_ENHANCED_MENTIONS = rows
    return _EXPECTED_ENHANCED_MENTIONS


def _q_kg_mentions_enhanced(spark, sf_dir):
    """Dictionary scan with the synonym-expansion set union applied
    (vocabulary_enhanced.py:278-295 via ontology.enhanced_dictionary) —
    same extraction kernel, larger broadcast."""
    s = _stages(spark, sf_dir)
    enhanced = spark.sparkContext.broadcast(ontology.enhanced_dictionary(_ont()))
    return extract_mentions_df(s["transcripts"], enhanced).select(
        "conv_id", "turn_idx", "mention_text", "start_offset", "end_offset",
        "lexical_variant", "assertion", "confidence", "domain_hint",
        "omop_concept_id",
    )


_EXPECTED_ADVANCED = None


def _expected_advanced() -> list[tuple]:
    """Pure-Python extraction + advanced enhancement over the 10
    templates (pinned by tests/test_advanced.py)."""
    global _EXPECTED_ADVANCED
    if _EXPECTED_ADVANCED is None:
        from kgnorm import advanced as adv

        auto = build_automaton(_ont().dictionary)
        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for m in rules.extract_mentions(text, auto):
                e = adv.enhance(text, m.text, m.start_offset, m.end_offset)
                rows.append((
                    tmpl, m.text, m.start_offset, m.end_offset,
                    "absent" if e.negated else m.assertion,
                    m.domain_hint, int(m.omop_concept_id or 0),
                    e.disambiguated_term, e.disambiguation_context,
                    e.negated, e.negation_trigger,
                    e.linked_modifier, e.compound_condition_text,
                    e.base_condition, e.laterality, e.laterality_text,
                ))
        _EXPECTED_ADVANCED = rows
    return _EXPECTED_ADVANCED


def _q_kg_advanced_mentions(spark, sf_dir):
    """Advanced NLP enhancement pass (nlp_advanced.py:755-805):
    abbreviation disambiguation, clause-aware negation, compound
    conditions, laterality — fused with the dictionary scan in one
    Arrow pass."""
    from kgnorm import advanced as adv

    s = _stages(spark, sf_dir)
    return adv.enhanced_mentions_df(s["transcripts"], s["dictionary"]).select(*adv.ENHANCED_COLS)


def _oracle_kg_advanced_mentions() -> str:
    cols = ("tmpl, mention_text, start_offset, end_offset, assertion,"
            " domain_hint, omop_concept_id, disambiguated_term,"
            " disambiguation_context, adv_negated, negation_trigger,"
            " linked_modifier, compound_condition_text, base_condition,"
            " laterality, laterality_text")
    return f"""WITH {_turns_cte()},
aexp({cols}) AS (VALUES {_values(_expected_advanced())})
SELECT t.conv_id, t.turn_idx, a.mention_text, a.start_offset, a.end_offset,
       a.assertion, a.domain_hint, cast(a.omop_concept_id AS bigint) AS omop_concept_id,
       a.disambiguated_term, a.disambiguation_context,
       a.adv_negated, a.negation_trigger,
       a.linked_modifier, a.compound_condition_text, a.base_condition,
       a.laterality, a.laterality_text
FROM turns t JOIN aexp a USING (tmpl)"""


def _q_fhir_export(spark, sf_dir):
    """FHIR R4 resource rows from the facts table (fhir_exporter.py
    status/verification/category/coding rules, flattened for compare)."""
    from kgnorm import fhir

    return fhir.fhir_rows(_stages(spark, sf_dir)["facts"])


def _q_risk_scores(spark, sf_dir):
    """Per-conversation CHA₂DS₂-VASc from KG facts
    (clinical_calculators.py:126-242; condition flags pivoted from
    present facts, demographic points default 0 — transcripts carry no
    age/sex)."""
    from kgnorm import calculators

    return calculators.chadsvasc_from_facts(_stages(spark, sf_dir)["facts"]).select(
        "conv_id", "chf", "hypertension", "diabetes", "stroke_tia", "vascular",
        F.col("chadsvasc_score").cast("int").alias("chadsvasc_score"),
        "risk_level", "stroke_rate",
    )


def _q_quality_rollup(spark, sf_dir):
    """One-row AggregatedMetrics rollup over per-conversation processing
    metrics (quality_metrics.py:246-348)."""
    m = metrics.per_doc_metrics(_stages(spark, sf_dir)["mentions"])
    return metrics.aggregated_quality(m)


def _q_quality_trend(spark, sf_dir):
    """Rolling-average mention-load trend across conversations
    (quality_metrics.py:494-525)."""
    m = metrics.per_doc_metrics(_stages(spark, sf_dir)["mentions"])
    return metrics.rolling_trend(m, "mentions_extracted", window_size=10)


def _q_quality_trend_prefix(spark, sf_dir):
    """The w ≫ 100 prefix-sum rolling-trend formulation (r5,
    metrics.rolling_trend method='prefix' via the auto cutoff):
    window_size=150 computes each rolling sum as prefix[rn] −
    prefix[rn−w] over the same range-partition global numbering — 2×
    input rows at ANY window size instead of the explode plan's w× —
    oracle-pinned against the direct SQL window average."""
    m = metrics.per_doc_metrics(_stages(spark, sf_dir)["mentions"])
    return metrics.rolling_trend(m, "mentions_extracted", window_size=150)


def _q_accuracy_prf(spark, sf_dir):
    """Precision/recall/F1 per entity type (quality_metrics.py:350-387):
    pattern-extractor output validated against the dictionary scan as
    ground truth, keyed on (conv, turn, surface text)."""
    s = _stages(spark, sf_dir)
    d = s["mentions"].select(
        "conv_id", "turn_idx", F.lower("mention_text").alias("k"),
        F.lower(F.coalesce(F.col("domain_hint"), F.lit("observation"))).alias("d_type"),
    ).distinct()
    p = patterns.pattern_entities_df(s["transcripts"]).select(
        "conv_id", "turn_idx", F.lower("entity_text").alias("k"),
        F.col("entity_type").alias("p_type"),
    ).distinct()
    val = d.join(p, ["conv_id", "turn_idx", "k"], "full").select(
        F.coalesce("d_type", "p_type").alias("entity_type"),
        F.col("p_type").isNotNull().alias("predicted"),
        F.col("d_type").isNotNull().alias("actual"),
    )
    return metrics.accuracy_prf(val)


def _q_pattern_relations(spark, sf_dir):
    """Regex-template relations (full ALL_PATTERNS set), deduped."""
    from kgnorm import relations

    rel = relations.pattern_relations(_stages(spark, sf_dir)["transcripts"])
    return relations.dedup_relations(rel).select(
        "conv_id", "source_text", "target_text", "relation_type",
        "confidence", "first_turn_idx", "method",
        F.coalesce(F.col("source_domain"), F.lit("")).alias("source_domain"),
        "target_domain",
    )


def _q_treats_edges(spark, sf_dir):
    """condition_treated_by / drug_treats KG edges from proximity 'treats'
    relations linked through the candidate table."""
    from kgnorm import relations

    s = _stages(spark, sf_dir)
    rel = relations.dedup_relations(relations.proximity_relations(s["mentions"], s["transcripts"]))
    return relations.treats_edges(rel, s["top"]).select(
        "conv_id", "source_concept_id", "target_concept_id", "edge_type", "confidence",
    )


def _q_lab_interpret(spark, sf_dir):
    """Lab-value interpretation (lab_reference.py:698-767): extracted
    clinical values joined broadcast against the reference-range
    dimension, interpretation ladder as one CASE chain."""
    from kgnorm import labs

    cv = values.extract_values(_stages(spark, sf_dir)["transcripts"])
    lab_vals = cv.filter(F.col("value").isNotNull()).select(
        "conv_id", "turn_idx", "kind", "name", "value"
    )
    out = labs.interpret_labs(lab_vals, labs.reference_dim(spark))
    return out.select(
        "conv_id", "turn_idx", "kind", "name", "value",
        "test_name", "test_code", "category", "ref_unit",
        "level", "reference_range", "is_critical",
    )


def _q_pattern_entities(spark, sf_dir):
    """Regex pattern extraction pipeline (extract → context → validate →
    confidence filter; reference extraction_pipeline.py:694-757)."""
    return patterns.pattern_entities_df(_stages(spark, sf_dir)["transcripts"])


def _q_kg_ensemble_mentions(spark, sf_dir):
    """Ensemble span-overlap merge of dictionary + pattern + value
    extractors (reference nlp_ensemble.py:191-280)."""
    s = _stages(spark, sf_dir)
    return ensemble.ensemble_mentions_df(s["transcripts"], s["dictionary"]).select(
        "conv_id", "turn_idx", "source", "mention_text", "lexical_variant",
        "start_offset", "end_offset", "domain", "confidence",
    )


def _q_normalize_terms(spark, sf_dir):
    m = _stages(spark, sf_dir)["mentions"]
    return m.select(F.col("lexical_variant").alias("term")).distinct().select(
        "term",
        normalize.normalize_drug(F.col("term")).alias("drug_generic"),
        normalize.normalize_condition(F.col("term")).alias("condition_full"),
    )


def _q_kg_canonical_triples(spark, sf_dir):
    """Alias-merged triples: facts rewritten through the connected-components
    canonical mapping, re-merged, projected to triples (SURVEY §4)."""
    from kgnorm import canon

    rels = ontology.relationships_df(spark, _ont())
    cf = canon.canonicalize_facts(_stages(spark, sf_dir)["facts"], rels)
    return graph.build_triples(cf).select("conv_id", "subj", "pred", "obj", "omop_concept_id")


def _q_kg_positive_facts(spark, sf_dir):
    """Positive-event projection: ABSENT facts filtered for event exports
    (specs/omop_export.md:48-58); the facts table itself keeps them."""
    return facts_mod.positive_facts(_stages(spark, sf_dir)["facts"]).select(
        "conv_id", "omop_concept_id", "assertion", "temporality", "experiencer",
        F.round("confidence", 6).alias("confidence6"), "evidence_count",
    )


def _q_pricing_summary(spark, sf_dir):
    """Classic grouped-aggregate sweep over the largest fact table
    (generic engine breadth: multi-agg groupBy with filter pushdown)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_customer_order_stats(spark, sf_dir):
    """Broadcast dim join + agg (generic join/agg breadth)."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


def _q_rank_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic top-k-per-group window (SURVEY §2.6/2.7) on TPC-H orders."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# ---------------------------------------------------------------------------
# structured-source connectors + per-domain OMOP ETL (round 3)
# ---------------------------------------------------------------------------

# deterministic clinical-code cycles, shared between the Spark fixture
# writer and the DuckDB oracles (index = doc_id % len)
_ETL_COND_CODES = [
    ("E11.9", "Type 2 diabetes mellitus"),
    ("I10", "Essential hypertension"),
    ("I50.9", "Heart failure, unspecified"),
    ("J44.9", "COPD, unspecified"),
    ("N18.3", "CKD stage 3"),
    ("E78.5", "Hyperlipidemia"),
    ("I48.91", "Atrial fibrillation"),
    ("Z99.89", "Dependence on enabling machines"),  # deliberately unmapped
]
_ETL_COND_DIMS = [  # (icd_concept_id, icd_code, snomed_concept_id, snomed_name)
    (45500001, "E11.9", 201826, "Type 2 diabetes mellitus"),
    (45500002, "I10", 320128, "Essential hypertension"),
    (45500003, "I50.9", 316139, "Congestive heart failure"),
    (45500004, "J44.9", 255573, "COPD"),
    (45500005, "N18.3", 443597, "Chronic kidney disease stage 3"),
    (45500006, "E78.5", 432867, "Hyperlipidemia"),
    (45500007, "I48.91", 313217, "Atrial fibrillation"),
]
_ETL_COND_STATUS = ["active", "current", "resolved", "remission", ""]
_ETL_COND_STATUS_MAPPED = ["active", "active", "resolved", "inactive", "unknown"]
_ETL_STATUS_CONCEPT = {"active": 32904, "inactive": 32895, "resolved": 32893}

_ETL_DRUGS = [  # (rxnorm_code, name, concept_id)
    ("6809", "Metformin", 40164929),
    ("29046", "Lisinopril", 1308216),
    ("1191", "Aspirin", 1112807),
    ("83367", "Atorvastatin", 1545958),
    ("11289", "Warfarin", 1310149),
    ("4603", "Furosemide", 956874),
]
_ETL_DRUG_STATUS = ["active", "completed", "stopped", "cancelled", "on-hold"]
_ETL_DRUG_STATUS_MAPPED = ["active", "completed", "stopped", "stopped", "unknown"]
_ETL_ROUTES = ["Oral", "IV", "topical", "intranasal", "bogus-route"]
_ETL_ROUTE_CONCEPT = [4128794, 4302612, 4186832, 4262914, None]

_ETL_LABS = [  # (loinc, name, concept_id or None)
    ("4548-4", "Hemoglobin A1c", 3004410),
    ("2160-0", "Creatinine", 3016723),
    ("2823-3", "Potassium", 3023103),
    ("9999-9", "Mystery assay", None),
]
_ETL_UNITS = ["%", "mg/dL", "MMHG", "10*3/UL", "bogus"]
_ETL_UNIT_CONCEPT = [8554, 8840, 8876, None, None]

_ETL_PROCS = [  # (cpt_code, name); last two deliberately unmapped
    ("99213", "Office outpatient visit"),
    ("93000", "Electrocardiogram complete"),
    ("71020", "Chest x-ray 2 views"),
    ("80053", "Comprehensive metabolic panel"),
]
_ETL_PROC_CONCEPTS = {"99213": 2514408, "93000": 2617206}

_N_PERSONS = 97


def _etl_concepts_df(spark):
    rows = [(cid, sn, code, "ICD10CM") for cid, code, _sid, sn in _ETL_COND_DIMS]
    rows += [(sid, sn, f"SCT{sid}", "SNOMED") for _c, _code, sid, sn in _ETL_COND_DIMS]
    rows += [(cid, name, code, "RxNorm") for code, name, cid in _ETL_DRUGS]
    rows += [(cid, name, code, "LOINC") for code, name, cid in _ETL_LABS if cid]
    rows += [(_ETL_PROC_CONCEPTS[c], n, c, "CPT4")
             for c, n in _ETL_PROCS if c in _ETL_PROC_CONCEPTS]
    return spark.createDataFrame(
        rows, "concept_id long, concept_name string, concept_code string, vocabulary_id string"
    )


def _etl_relationships_df(spark):
    rows = [(cid, sid, "Maps to") for cid, _code, sid, _sn in _ETL_COND_DIMS]
    rows += [(cid, cid, "Maps to") for _code, _name, cid in _ETL_DRUGS]
    rows += [(cid, cid, "Maps to") for _code, _name, cid in _ETL_LABS if cid]
    rows += [(cid, cid, "Maps to") for cid in _ETL_PROC_CONCEPTS.values()]
    return spark.createDataFrame(
        rows, "concept_id_1 long, concept_id_2 long, relationship_id string"
    )


def _etl_persons_df(spark):
    return spark.createDataFrame(
        [(f"P{i}", i + 1) for i in range(_N_PERSONS)],
        "patient_source_id string, person_id long",
    )


_SRC_FIX_WRITTEN: set = set()


def _sf_tag(sf_dir: str) -> str:
    """Fixture-root tag: basename PLUS a hash of the full normalized
    path — two sf dirs sharing a basename (.../a/sf and .../b/sf) must
    never share or overwrite fixtures within one app."""
    import hashlib

    norm = os.path.abspath(os.path.normpath(sf_dir))
    h = hashlib.sha1(norm.encode()).hexdigest()[:8]
    return f"{os.path.basename(norm) or 'sf'}_{h}"


def _src_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the connector input files (CSV + FHIR NDJSON), derived
    DETERMINISTICALLY from the documents table by Spark itself —
    distributed ``df.write``, never a driver loop.  The oracles recompute
    the expected records straight from the ``documents`` view, so the
    whole file round-trip (write → read → parse) is value-checked."""
    root = os.path.join(
        tempfile.gettempdir(), f"kgnorm_srcfix_{_sf_tag(sf_dir)}_{os.getpid()}")
    key = (spark.sparkContext.applicationId, root)
    if key in _SRC_FIX_WRITTEN:
        return root
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("doc_id")
    d = F.col("doc_id")

    def pick(values, mod, col="doc_id"):
        arr = F.array([F.lit(v) for v in values])
        return F.element_at(arr, (F.col(col) % mod).cast("int") + 1)

    month = (d % 12 + 1).cast("int")
    day = (d % 28 + 1).cast("int")
    hour = (d % 24).cast("int")
    even = (d % 2) == 0
    onset = F.when(
        even, F.format_string("2024-%02d-%02d %02d:00:00", month, day, hour)
    ).otherwise(F.format_string("2024-%02d-%02d", month, day))

    cond = docs.select(
        F.concat(F.lit("DX"), d).alias("diagnosis_id"),
        F.concat(F.lit("P"), d % _N_PERSONS).alias("patientid"),
        pick([c for c, _n in _ETL_COND_CODES], 8).alias("icd_code"),
        pick([n for _c, n in _ETL_COND_CODES], 8).alias("description"),
        pick(_ETL_COND_STATUS, 5).alias("clinical_status"),
        onset.alias("onset_date"),
    )
    cond.coalesce(4).write.mode("overwrite").option("header", True).csv(
        os.path.join(root, "conditions_csv")
    )

    eff_start = F.format_string("2024-%02d-%02dT00:00:00", month, day)
    has_period = (d % 3) == 0
    med = docs.select(
        F.to_json(F.struct(
            F.lit("MedicationRequest").alias("resourceType"),
            F.concat(F.lit("m"), d).alias("id"),
            F.struct(F.array(F.struct(
                F.lit("http://www.nlm.nih.gov/research/umls/rxnorm").alias("system"),
                pick([c for c, _n, _i in _ETL_DRUGS], 6).alias("code"),
                pick([n for _c, n, _i in _ETL_DRUGS], 6).alias("display"),
            )).alias("coding")).alias("medicationCodeableConcept"),
            pick(_ETL_DRUG_STATUS, 5).alias("status"),
            F.format_string("2024-%02d-%02d", month, day).alias("authoredOn"),
            F.when(has_period, F.struct(
                eff_start.alias("start"),
                # fixed day 28 keeps every generated end date calendar-valid
                F.format_string("2024-%02d-28T00:00:00", month).alias("end"),
            )).alias("effectivePeriod"),
            F.struct(F.concat(F.lit("Patient/P"), d % _N_PERSONS).alias("reference"))
            .alias("subject"),
            F.array(F.struct(
                F.format_string("%d mg daily", (d % 8 + 1) * 50).alias("text"),
                F.struct(F.array(F.struct(
                    pick(_ETL_ROUTES, 5).alias("display"))).alias("coding"))
                .alias("route"),
                F.array(F.struct(F.struct(
                    ((d % 8 + 1) * 50).cast("double").alias("value"),
                    F.lit("mg").alias("unit"),
                ).alias("doseQuantity"))).alias("doseAndRate"),
            )).alias("dosageInstruction"),
        ), {"ignoreNullFields": "true"}).alias("value")
    )
    med.coalesce(4).write.mode("overwrite").text(os.path.join(root, "fhir_ndjson"))

    # labs CSV — %7 switch exercises the operator-prefix quirk
    case = (d % 7).cast("int")
    num = F.when(~case.isin(0, 2), F.format_string("%.1f", (d % 100).cast("double") / 10.0)) \
        .otherwise(F.lit(""))
    txt = (
        F.when(case == 0, F.format_string("<%.1f", (d % 50).cast("double") / 10.0))
        .when(case == 1, F.format_string("<=%.1f", (d % 50).cast("double") / 10.0))
        .when(case == 2, F.format_string("=%.1f", (d % 50).cast("double") / 10.0))
        .otherwise(F.lit(""))
    )
    labs = docs.select(
        F.concat(F.lit("L"), d).alias("lab_id"),
        F.concat(F.lit("P"), d % _N_PERSONS).alias("patient_id"),
        pick([c for c, _n, _i in _ETL_LABS], 4).alias("loinc"),
        pick([n for _c, n, _i in _ETL_LABS], 4).alias("test_name"),
        num.alias("value"),
        txt.alias("text_value"),
        pick(_ETL_UNITS, 5).alias("unit"),
        F.lit("0.5").alias("reference_low"),
        F.format_string("%.1f", (d % 10).cast("double") + 1.0).alias("reference_high"),
        F.format_string("2024-%02d-%02d %02d:00:00", month, day, hour).alias("result_date"),
    )
    labs.coalesce(4).write.mode("overwrite").option("header", True).csv(
        os.path.join(root, "labs_csv")
    )

    # patients CSV: one row per distinct patient id
    p = F.col("p")
    pdf = docs.select((d % _N_PERSONS).alias("p")).distinct()
    dob = F.when(
        (p % 2) == 0,
        F.format_string("%04d-%02d-%02d", (p % 40 + 1950).cast("int"),
                        (p % 12 + 1).cast("int"), (p % 28 + 1).cast("int")),
    ).otherwise(
        F.format_string("%d/%d/%04d", (p % 12 + 1).cast("int"),
                        (p % 28 + 1).cast("int"), (p % 40 + 1950).cast("int"))
    )
    patients = pdf.select(
        F.concat(F.lit("P"), p).alias("patient_id"),
        F.concat(F.lit("Giv"), p % 30).alias("first_name"),
        F.concat(F.lit("Fam"), p % 50).alias("last_name"),
        dob.alias("dob"),
        pick(["M", "F", "female", "x", ""], 5, "p").alias("sex"),
        pick(["White", "black", "2028-9", "martian", ""], 5, "p").alias("race"),
        pick(["Hispanic", "not hispanic", "U", "weird", ""], 5, "p").alias("ethnicity"),
        F.when(p % 10 == 0, "Y").otherwise("").alias("deceased"),
    )
    patients.coalesce(2).write.mode("overwrite").option("header", True).csv(
        os.path.join(root, "patients_csv")
    )

    # HL7 v2 feed: one ADT message per document (MSH/PID/PV1/DG1/PR1/OBX)
    hl7_msg = F.concat_ws(
        "\r",
        F.format_string("MSH|^~\\&|SRC|FAC|||20240101||ADT^A01|M%d|P|2.5", d),
        F.concat(F.lit("PID|1||"), F.concat(F.lit("P"), d % _N_PERSONS),
                 F.lit("^^^MRN||"),
                 F.format_string("Fam%d^Giv%d", (d % 50).cast("int"), (d % 30).cast("int")),
                 F.lit("||19600101|"), pick(["M", "F", "O", "U"], 4)),
        F.concat(F.lit("PV1|1|"), pick(["I", "O", "E", "U"], 4),
                 # attending at PV1-7, then 12 pipes put the visit id at
                 # PV1-19 and 25 more put the admit ts at PV1-44
                 F.lit("|WARD^1^A||||9^Att^Doc||||||||||||"),
                 F.concat(F.lit("V"), d),
                 F.lit("|||||||||||||||||||||||||"),
                 F.format_string("2024%02d%02d080000", month, day)),
        F.concat(F.lit("PR1|1||"), pick([c for c, _n in _ETL_PROCS], 4),
                 F.lit("^"), pick([n for _c, n in _ETL_PROCS], 4),
                 F.lit("^CPT4||"),
                 F.format_string("2024%02d%02d090000", month, day)),
        F.concat(F.lit("DG1|1|I10|"), pick([c for c, _n in _ETL_COND_CODES], 8),
                 F.lit("^"), pick([n for _c, n in _ETL_COND_CODES], 8),
                 F.lit("^ICD10CM||20240110|"), pick(["F", "A", "W"], 3)),
        F.concat(F.lit("OBX|1|NM|"), pick([c for c, _n, _i in _ETL_LABS], 4),
                 F.lit("^"), pick([n for _c, n, _i in _ETL_LABS], 4),
                 F.lit("^LOINC||"),
                 F.format_string("%.1f", (d % 100).cast("double") / 10.0),
                 F.lit("|"), pick(_ETL_UNITS, 5), F.lit("|0.5-9.5|"),
                 pick(["H", "L", "N"], 3)),
    )
    docs.select(hl7_msg.alias("value")).coalesce(4).write.mode("overwrite").text(
        os.path.join(root, "hl7_feed")
    )

    # C-CDA: one single-line XML document per documents row
    cond_code = pick([c for c, _n in _ETL_COND_CODES], 8)
    cond_name = pick([n for _c, n in _ETL_COND_CODES], 8)
    lab_code = pick([c for c, _n, _i in _ETL_LABS], 4)
    lab_name = pick([n for _c, n, _i in _ETL_LABS], 4)
    status = pick(["active", "completed", "aborted"], 3)
    xml = F.concat(
        F.lit('<ClinicalDocument><id root="doc"/>'
              '<recordTarget><patientRole><id root="mrn" extension="'),
        F.concat(F.lit("P"), d % _N_PERSONS),
        F.lit('"/><patient><name><given>G</given><family>F</family></name>'
              '<administrativeGenderCode code="F"/></patient></patientRole>'
              '</recordTarget><component><structuredBody>'
              '<component><section>'
              '<templateId root="2.16.840.1.113883.10.20.22.2.5.1"/>'
              '<entry><act><entryRelationship><observation>'
              '<statusCode code="'), status,
        F.lit('"/><value code="'), cond_code,
        F.lit('" codeSystemName="ICD10CM" displayName="'), cond_name,
        F.lit('"/></observation></entryRelationship></act></entry>'
              '</section></component>'
              '<component><section>'
              '<templateId root="2.16.840.1.113883.10.20.22.2.3.1"/>'
              '<entry><organizer><effectiveTime value="20240301"/>'
              '<component><observation>'
              '<code code="'), lab_code,
        F.lit('" codeSystemName="LOINC" displayName="'), lab_name,
        F.lit('"/><value xsi:type="PQ" value="'),
        F.format_string("%.1f", (d % 100).cast("double") / 10.0),
        F.lit('" unit="'), pick(_ETL_UNITS, 5),
        F.lit('"/><interpretationCode code="'), pick(["H", "L", "N"], 3),
        F.lit('"/></observation></component></organizer></entry>'
              '</section></component>'
              '</structuredBody></component></ClinicalDocument>'),
    )
    docs.select(xml.alias("value")).coalesce(4).write.mode("overwrite").text(
        os.path.join(root, "ccda_docs")
    )

    # Athena CONCEPT.csv (tab-delimited) with filter-exercising vocab/
    # domain mix: rows cycle through kept and dropped combinations
    vocab = pick(["SNOMED", "RxNorm", "LOINC", "ICD10CM", "CPT4"], 5)
    domain = pick(["Condition", "Drug", "Measurement", "Metadata"], 4)
    athena = docs.select(
        F.concat_ws(
            "\t",
            (d + 1000000).cast("string"),
            F.concat(F.lit("Concept "), d),
            F.concat(F.lit("CODE"), d),
            vocab, domain,
            F.lit("Clinical Finding"),
            F.when(d % 2 == 0, "S").otherwise(""),
        ).alias("value")
    )
    header = spark.createDataFrame(
        [("concept_id\tconcept_name\tconcept_code\tvocabulary_id\t"
          "domain_id\tconcept_class_id\tstandard_concept",)], ["value"])
    # header must sort first within the directory: single part via union
    header.unionByName(athena).coalesce(1).write.mode("overwrite").text(
        os.path.join(root, "athena_concept_csv")
    )
    _SRC_FIX_WRITTEN.add(key)
    return root


def _q_source_records_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector: synonym-header resolution + typed parsing
    (csv_connector.py:507-551) over a Spark-written conditions CSV."""
    from kgnorm import connectors as cn

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.csv_conditions(cn.read_csv(spark, os.path.join(root, "conditions_csv")))
    return src.select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "status",
        F.date_format("onset_datetime", "yyyy-MM-dd HH:mm:ss").alias("onset_ts"),
    )


def _q_source_records_fhir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FHIR NDJSON connector: one text scan + resourceType probe +
    typed from_json decode (fhir_connector.py:465-610)."""
    from kgnorm import connectors as cn

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.fhir_drugs(spark, os.path.join(root, "fhir_ndjson"))
    return src.select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "status",
        F.date_format("start_datetime", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
        F.date_format("end_datetime", "yyyy-MM-dd HH:mm:ss").alias("end_ts"),
        "dose_value", "dose_unit", "route", "sig",
    )


def _q_etl_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector → condition ETL chain (condition_etl.py:381-434):
    ICD10CM→SNOMED 'Maps to' lookup, status concepts, source_value."""
    from kgnorm import connectors as cn, etl

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.csv_conditions(cn.read_csv(spark, os.path.join(root, "conditions_csv")))
    out = etl.condition_occurrences(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "condition_source_id", "person_id", "condition_concept_id",
        F.date_format("condition_start_date", "yyyy-MM-dd").alias("start_date"),
        F.date_format("condition_start_datetime", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
        "condition_type_concept_id", "condition_status_concept_id",
        "condition_source_value", "condition_source_concept_id",
        "condition_status_source_value",
    )


def _q_etl_drugs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FHIR connector → drug ETL chain (drug_etl.py:303-376): route
    concepts, digit-sweep quantity, days-supply derivation."""
    from kgnorm import connectors as cn, etl

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.fhir_drugs(spark, os.path.join(root, "fhir_ndjson"))
    out = etl.drug_exposures(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "drug_source_id", "person_id", "drug_concept_id",
        F.date_format("drug_exposure_start_date", "yyyy-MM-dd").alias("start_date"),
        F.date_format("drug_exposure_end_date", "yyyy-MM-dd").alias("end_date"),
        "drug_type_concept_id", "quantity", "days_supply", "sig",
        "route_concept_id", "drug_source_value", "drug_source_concept_id",
        "route_source_value", "dose_unit_source_value",
    )


def _q_etl_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector → measurement ETL chain (measurement_etl.py:358-425):
    unit concepts (exact-then-lower), the operator-prefix insertion-order
    quirk, LOINC type hint."""
    from kgnorm import connectors as cn, etl

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.csv_measurements(cn.read_csv(spark, os.path.join(root, "labs_csv")))
    out = etl.measurements(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "measurement_source_id", "person_id", "measurement_concept_id",
        F.date_format("measurement_date", "yyyy-MM-dd").alias("meas_date"),
        "measurement_type_concept_id", "operator_concept_id", "value_as_number",
        "unit_concept_id", "range_low", "range_high",
        "measurement_source_value", "measurement_source_concept_id",
        "unit_source_value", "value_source_value",
    )


# ---------------------------------------------------------------------------
# clinical summarizer (round 3)
# ---------------------------------------------------------------------------


def _q_summary_problems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prioritized problem list (clinical_summarizer.py:343-378)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    return summarizer.problem_list(facts, spark).select(
        "conv_id", "name", "status", "priority", "rank"
    )


def _q_summary_one_liner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-patient one-liner (clinical_summarizer.py:613-629)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    return summarizer.one_liner(facts, spark)


def _q_summary_medications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medication reconciliation list + change strings
    (clinical_summarizer.py:380-407, 680-690)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    meds = summarizer.medication_list(facts)
    return meds.select(
        "conv_id", "name", "status",
        F.when(F.col("status") == "discontinued",
               F.concat(F.lit("Discontinued: "), F.col("name"))).alias("change"),
    )


def _q_summary_critical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical condition findings (clinical_summarizer.py:631-658)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    return summarizer.critical_findings(facts)


def _q_nlp_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered NLP vocabulary build (nlp_vocabulary.py:37-76): standard
    concepts only, capped to max_concepts by deterministic concept_id
    order, synonyms joined broadcast — max_concepts=20 so the cap
    actually bites on the 34-concept fixture (kgnorm.ontology
    .nlp_dictionary_from_tables is this plan + collect for broadcast)."""
    ont = _ont()
    concepts = ontology.concepts_df(spark, ont)
    synonyms = ontology.synonyms_df(spark, ont)
    capped = (
        concepts.filter(F.col("standard_concept").isin("S", "C"))
        .orderBy("concept_id")
        .limit(20)
        .select("concept_id", "domain_id")
    )
    return (
        synonyms.join(F.broadcast(capped), "concept_id")
        .select(
            F.lower(F.col("concept_synonym_name")).alias("term"),
            F.col("concept_synonym_name").alias("synonym"),
            "domain_id",
            "concept_id",
        )
    )


def _q_stage_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-bucket lineage/metrics rows over the mentions
    stage (north rule: per-partition lineage + metrics; the logical
    variant is stable across reruns/partitionings so the oracle can
    replicate it — kgnorm.metrics.logical_lineage)."""
    m = _stages(spark, sf_dir)["mentions"]
    bucket = F.substring(F.col("conv_id"), 2, 16).cast("long")
    return metrics.logical_lineage(m, "mentions", bucket, n_buckets=64)


def _q_summary_critical_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference shared cap: ONE critical list — conditions first, then
    critical lab values — capped at 5 combined (clinical_summarizer.py:658)."""
    from kgnorm import summarizer

    s = _stages(spark, sf_dir)
    cv = values.extract_values(s["transcripts"]).select(
        "conv_id", F.col("name").alias("label"), "value", "unit")
    return summarizer.critical_combined(s["facts"], cv)


def _q_summary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Problem-oriented per-patient rollup (clinical_summarizer.py:756-792)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    return summarizer.problem_summary(facts, spark).select(
        "conv_id", "total_facts",
        F.col("confidence_score").cast("double").alias("confidence_score"),
        "total_problems", "active_problems", "chronic_problems",
        "resolved_problems", "medication_count",
    )


# ---------------------------------------------------------------------------
# CDI coding-query generation (round 3)
# ---------------------------------------------------------------------------


def _cdi_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgnorm import docgaps

    s = _stages(spark, sf_dir)
    return docgaps.detect_gaps(
        s["mentions"], s["transcripts"],
        docgaps.rules_dim(spark), docgaps.laterality_dim(spark),
        with_query=True,
    )


def _q_cdi_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured coding queries from documentation gaps
    (coding_query_generator.py:423-597)."""
    from kgnorm import cdi

    out = cdi.generate_queries(_cdi_gaps(spark, sf_dir), cdi.templates_dim(spark))
    return out.select(
        "conv_id", "finding", "category", "severity", "query_id",
        "template_key", "question", "status", "priority", "coding_impacts",
        "estimated_revenue_impact", "cer_strength", "regulatory_basis",
        "n_options", "query_rank",
    )


def _q_cdi_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-encounter query batch rollup (coding_query_generator.py:755-803)."""
    from kgnorm import cdi

    gaps = _cdi_gaps(spark, sf_dir)
    qrs = cdi.generate_queries(gaps, cdi.templates_dim(spark))
    return cdi.query_batch(qrs, gaps)


# ---------------------------------------------------------------------------
# semantic QA / search services (round 3)
# ---------------------------------------------------------------------------

_SEARCH_QUERIES = [
    "table scan fast",
    "window agg join",
    "customer query order",
    "zzz missing tokens",
]
_FACT_SEARCH_QUERIES = [
    "type 2 diabetes mellitus",   # near-exact concept name
    "heart failure",              # partial
    "lisinopril",                 # drug name
]
_RELATION_CONCEPTS = ["diabetes", "lisinopril", "hemoglobin"]


def _q_search_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword search over the documents corpus
    (semantic_qa.py:319-356)."""
    from kgnorm import semsearch

    return semsearch.keyword_search(
        _docs(spark, sf_dir), spark, _SEARCH_QUERIES
    ).select("query", "doc_id", "score", "rank")


def _q_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword+semantic merge (semantic_qa.py:391-409)."""
    from kgnorm import semsearch

    return semsearch.hybrid_search(
        _docs(spark, sf_dir), spark, _SEARCH_QUERIES
    ).select("query", "doc_id", "score", "rank")


def _q_fact_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine clinical-fact search
    (semantic_search.py:55-121)."""
    from kgnorm import semsearch

    facts = _stages(spark, sf_dir)["facts"]
    return semsearch.fact_search(facts, spark, _FACT_SEARCH_QUERIES).select(
        "query", "conv_id", "name", "domain", "assertion", "temporality",
        F.col("omop_concept_id").cast("long").alias("omop_concept_id"),
        "score", "rank",
    )


def _q_concept_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept-relation search over fact pairs (semantic_qa.py:662-750)."""
    from kgnorm import semsearch

    facts = _stages(spark, sf_dir)["facts"]
    return semsearch.concept_relations(facts, spark, _RELATION_CONCEPTS)


def _q_lab_causes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abnormal lab values with their likely-cause lists
    (lab_reference.py:794-807): interpretation chained into the
    direction-keyed causes dimension."""
    from kgnorm import labs, values as values_mod

    cv = values_mod.extract_values(_stages(spark, sf_dir)["transcripts"])
    lab_vals = cv.filter(F.col("value").isNotNull()).select(
        "conv_id", "turn_idx", "kind", "name", "value"
    )
    interp = labs.interpret_labs(lab_vals, labs.reference_dim(spark))
    out = labs.with_causes(interp, labs.causes_dim(spark))
    return out.filter(F.col("causes").isNotNull()).select(
        "conv_id", "turn_idx", "name", "value", "test_code", "level",
        F.array_join("causes", "; ").alias("causes"),
    )


def _q_hl7_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HL7 v2 DG1 → SourceCondition over a Spark-written message feed
    (hl7v2_connector.py:529-579; faithful-dates mode, so onset is NULL
    exactly like the reference's unparseable datetime path)."""
    from kgnorm import hl7

    root = _src_fixture_dir(spark, sf_dir)
    msgs = hl7.read_messages(spark, os.path.join(root, "hl7_feed"))
    return hl7.hl7_conditions(msgs).select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "status", "category",
        F.date_format("onset_datetime", "yyyy-MM-dd").alias("onset_date"),
    )


def _q_hl7_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HL7 v2 OBX → SourceMeasurement (hl7v2_connector.py:681-761)."""
    from kgnorm import hl7

    root = _src_fixture_dir(spark, sf_dir)
    msgs = hl7.read_messages(spark, os.path.join(root, "hl7_feed"))
    return hl7.hl7_measurements(msgs).select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "value_numeric", "value_text",
        "unit", "range_low", "range_high", "interpretation",
    )


def _q_etl_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV patients → OMOP Person (person_etl.py:399-445): gender/race/
    ethnicity concept maps with defaults, birth components, sha2 ids."""
    from kgnorm import connectors as cn, etl

    root = _src_fixture_dir(spark, sf_dir)
    src = cn.csv_patients(cn.read_csv(spark, os.path.join(root, "patients_csv")))
    return etl.persons(src).select(
        "person_id", "gender_concept_id", "year_of_birth", "month_of_birth",
        "day_of_birth", "race_concept_id", "ethnicity_concept_id",
        "person_source_value", "gender_source_value", "race_source_value",
        "ethnicity_source_value",
    )


def _q_etl_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HL7 PV1 → OMOP Visit_Occurrence (visit_etl.py:241-300), with
    parsed dates (faithful mode would run-date-default every visit)."""
    from kgnorm import etl, hl7

    root = _src_fixture_dir(spark, sf_dir)
    msgs = hl7.read_messages(spark, os.path.join(root, "hl7_feed"))
    src = hl7.hl7_visits(msgs, faithful_dates=False)
    out = etl.visit_occurrences(src, _etl_persons_df(spark))
    return out.select(
        "visit_source_id", "person_id", "visit_concept_id",
        F.date_format("visit_start_date", "yyyy-MM-dd").alias("start_date"),
        F.date_format("visit_end_date", "yyyy-MM-dd").alias("end_date"),
        "visit_type_concept_id", "visit_source_value",
    )


def _q_etl_procedures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HL7 PR1 → OMOP Procedure_Occurrence (procedure_etl.py transform)."""
    from kgnorm import etl, hl7

    root = _src_fixture_dir(spark, sf_dir)
    msgs = hl7.read_messages(spark, os.path.join(root, "hl7_feed"))
    src = hl7.hl7_procedures(msgs, faithful_dates=False)
    out = etl.procedure_occurrences(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "procedure_source_id", "person_id", "procedure_concept_id",
        F.date_format("procedure_date", "yyyy-MM-dd").alias("proc_date"),
        "procedure_type_concept_id", "quantity",
        "procedure_source_value", "procedure_source_concept_id",
    )


_OBS_VALUES = ["yes", "no", "current smoker", "never smoker", "positive", "borderline"]


def _q_etl_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SourceObservation rows → OMOP Observation (observation_etl.py):
    categorical VALUE_CONCEPT_MAP lookup, unit concepts, type default."""
    from kgnorm import etl

    d = F.col("doc_id")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vals = F.array(*[F.lit(v) for v in _OBS_VALUES])
    codes = F.array(F.lit("4548-4"), F.lit("ZZZ-OBS"))
    src = docs.select(
        F.concat(F.lit("OB"), d).alias("source_id"),
        F.concat(F.lit("P"), d % _N_PERSONS).alias("patient_source_id"),
        F.element_at(codes, (d % 2).cast("int") + 1).alias("code"),
        F.lit("LOINC").alias("code_system"),
        F.lit("observation").alias("display_text"),
        F.when(d % 3 == 0, (d % 50).cast("double") / 10.0).alias("value_numeric"),
        F.element_at(vals, (d % 6).cast("int") + 1).alias("value_text"),
        F.when(d % 3 == 0, "%").alias("unit"),
        F.lit(None).cast("timestamp").alias("effective_datetime"),
    )
    out = etl.observations(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "observation_source_id", "person_id", "observation_concept_id",
        "observation_type_concept_id", "value_as_number", "value_as_string",
        "value_as_concept_id", "unit_concept_id", "observation_source_value",
        "observation_source_concept_id", "value_source_value",
    )


def _q_etl_deaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Death rows → OMOP Death (death_etl.py): type concepts, cause-of-
    death mapping via the shared concept lookup."""
    from kgnorm import etl

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = F.col("p")
    src = docs.select((F.col("doc_id") % _N_PERSONS).alias("p")).distinct()         .filter(p % 10 == 0).select(
            F.concat(F.lit("P"), p).alias("patient_source_id"),
            F.to_timestamp(
                F.format_string("2024-%02d-%02d 12:00:00",
                                (p % 12 + 1).cast("int"), (p % 28 + 1).cast("int"))
            ).alias("death_datetime"),
            F.element_at(F.array(F.lit("ehr"), F.lit("autopsy"), F.lit("registry"),
                                 F.lit("weird")), (p % 4).cast("int") + 1)
            .alias("death_type"),
            F.element_at(F.array(F.lit("E11.9"), F.lit("X99")),
                         (p % 2).cast("int") + 1).alias("code"),
            F.lit("ICD10CM").alias("code_system"),
        )
    out = etl.deaths(
        src, _etl_concepts_df(spark), _etl_relationships_df(spark), _etl_persons_df(spark)
    )
    return out.select(
        "person_id",
        F.date_format("death_date", "yyyy-MM-dd").alias("death_date"),
        "death_type_concept_id", "cause_concept_id",
        "cause_source_value", "cause_source_concept_id",
    )


def _q_ccda_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-CDA Problems section → SourceCondition via one from_xml decode
    (ccda_connector.py:473-535; faithful dates → NULL onsets)."""
    from kgnorm import ccda

    root = _src_fixture_dir(spark, sf_dir)
    docs = ccda.read_documents(spark, os.path.join(root, "ccda_docs"), per_line=True)
    return ccda.ccda_conditions(docs).select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "status",
        F.date_format("onset_datetime", "yyyy-MM-dd").alias("onset_date"),
    )


def _q_ccda_labs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-CDA Results section → SourceMeasurement
    (ccda_connector.py:664-750)."""
    from kgnorm import ccda

    root = _src_fixture_dir(spark, sf_dir)
    docs = ccda.read_documents(spark, os.path.join(root, "ccda_docs"), per_line=True)
    return ccda.ccda_lab_results(docs).select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "value_numeric", "value_text",
        "unit", "interpretation",
    )


def _q_db_source_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database connector mapping layer (database_connector.py:513-541,
    651-678) over a JDBC-shaped relation: uppercase DB column names
    resolved case-insensitively, typed DATE columns passed through."""
    from kgnorm import dbsource

    d = F.col("doc_id")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    codes = F.array(*[F.lit(c) for c, _n in _ETL_COND_CODES])
    names = F.array(*[F.lit(n) for _c, n in _ETL_COND_CODES])
    status = F.array(F.lit("Active"), F.lit("RESOLVED"), F.lit("remission"),
                     F.lit("bogus"))
    jdbc_shaped = docs.select(
        F.concat(F.lit("DX"), d).alias("DX_ID"),
        F.concat(F.lit("P"), d % _N_PERSONS).alias("PAT_ID"),
        F.element_at(codes, (d % 8).cast("int") + 1).alias("DIAGNOSIS_CODE"),
        F.element_at(names, (d % 8).cast("int") + 1).alias("DX_NAME"),
        F.element_at(status, (d % 4).cast("int") + 1).alias("DX_STATUS"),
        F.make_date(F.lit(2024), (d % 12 + 1).cast("int"), (d % 28 + 1).cast("int"))
        .alias("DX_DATE"),
    )
    out = dbsource.db_conditions(jdbc_shaped)
    return out.select(
        "source_id", "source_system", "patient_source_id", "code",
        "code_system", "display_text", "status",
        F.date_format("onset_datetime", "yyyy-MM-dd").alias("onset_date"),
    )


def _q_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone sentence segmentation with positions
    (extraction_pipeline.py:154-173)."""
    from kgnorm import sentences

    return sentences.sentences_df(_stages(spark, sf_dir)["transcripts"])


def _q_summary_sbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SBAR handoff generation (clinical_summarizer.py:720-754)."""
    from kgnorm import summarizer

    facts = _stages(spark, sf_dir)["facts"]
    return summarizer.generate_sbar(facts, spark)


_QA_QUESTIONS = [
    "is the table scan fast",          # yes_no
    "when was the last batch window",  # temporal
    "what is the customer query order",  # factual
    "zzz unanswerable nothing",        # factual, zero hits → 0.3 default
]


def _q_qa_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clinical QA over the corpus (semantic_qa.py:437-617): hybrid
    retrieval + question-type classification + per-type answer
    assembly."""
    from kgnorm import qa

    return qa.answer_questions(_docs(spark, sf_dir), spark, _QA_QUESTIONS)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive-closure clusters (salted hash-min CC,
    the dedup-pipeline tail over minhash_lsh_pairs)."""
    pairs = textops.minhash_lsh_pairs(_docs(spark, sf_dir))
    return textops.dup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus materialization: one representative doc per
    near-dup cluster, everything else passed through."""
    docs = _docs(spark, sf_dir)
    pairs = textops.minhash_lsh_pairs(docs)
    kept = textops.dedup_keep_canonical(docs.select("doc_id", "n_chars"),
                                        textops.dup_clusters(pairs))
    return kept.select("doc_id", "n_chars")


def _q_report_clinical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown clinical-summary report per patient
    (report_generator.py:551-618, :422-467)."""
    from kgnorm import reports

    return reports.clinical_summary_report(_stages(spark, sf_dir)["facts"], spark)


def _q_report_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown NLP extraction report per conversation
    (report_generator.py:620-675)."""
    from kgnorm import reports

    return reports.extraction_report(_stages(spark, sf_dir)["mentions"])


def _q_athena_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Athena CONCEPT.csv vocabulary scan with pushed-down vocab/domain
    filters (load_omop_vocabulary.py:37-120)."""
    root = _src_fixture_dir(spark, sf_dir)
    out = ontology.load_athena_concepts(
        spark, os.path.join(root, "athena_concept_csv"))
    return out.select(
        "concept_id", "concept_name", "concept_code", "vocabulary_id",
        "domain_id", "concept_class_id", "standard_concept",
    )


_STREAM_DONE: set = set()
_STATEFUL_DONE: dict = {}


def _drain(q, label: str, timeout_sec: int = 600) -> None:
    """Bounded availableNow drain: a wedged stream must fail THIS query
    loudly, never hang the whole driver sweep behind it."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise RuntimeError(f"{label}: streaming query did not drain in {timeout_sec}s")


def _q_stream_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (kgnorm/streaming.py
    stateful_facts, applyInPandasWithState update mode) on its
    PRODUCTION host (run_stateful_facts_to_dir: foreachBatch parquet
    sink — the memory sink cannot recover from a checkpoint): the first
    half of the fact inputs is drained, the query is STOPPED, the second
    half arrives, and a fresh query on the same checkpoint resumes the
    accumulator state mid-stream.  The continuously-current view
    (latest_stateful_facts) must then equal the full-batch facts table
    — shares kg_facts' oracle, so the green row is also a
    kill-and-restart resilience proof."""
    import shutil

    from kgnorm import streaming

    key = (spark.sparkContext.applicationId, _sf_tag(sf_dir))
    if key not in _STATEFUL_DONE:
        fi = _stages(spark, sf_dir)["fact_inputs"]
        base = os.path.join(
            tempfile.gettempdir(), f"kgnorm_sfacts_{_sf_tag(sf_dir)}_{os.getpid()}")
        shutil.rmtree(base, ignore_errors=True)
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ck_dir = os.path.join(base, "ckpt")
        # first half → drain → query STOPS (availableNow); most fact
        # keys get more evidence in the second half, so the final view
        # is only correct if the restarted query RECOVERED their state
        fi.filter(F.col("turn_idx") < 3).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _drain(streaming.run_stateful_facts_to_dir(
            spark, in_dir, out_dir, ck_dir), "stream_facts[1]")
        fi.filter(F.col("turn_idx") >= 3).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _drain(streaming.run_stateful_facts_to_dir(
            spark, in_dir, out_dir, ck_dir), "stream_facts[2]")
        _STATEFUL_DONE[key] = out_dir
    return streaming.latest_stateful_facts(spark, _STATEFUL_DONE[key]).select(
        "conv_id", "omop_concept_id", "assertion", "temporality",
        "experiencer", "concept_name", "domain",
        F.round("confidence", 6).alias("confidence6"),
        "evidence_count", "first_turn_idx", "first_start_offset",
    )


def _q_stream_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming incremental extraction (kgnorm/streaming.py):
    transcripts → availableNow file stream → mention parquet sink, read
    back.  Must match the BATCH extraction bit-for-bit, so it shares
    kg_mentions' oracle — the strongest possible check of the streaming
    plan's equivalence."""
    import shutil

    from kgnorm import streaming

    s = _stages(spark, sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"kgnorm_stream_{_sf_tag(sf_dir)}_{os.getpid()}")
    key = (spark.sparkContext.applicationId, base)
    out_dir = os.path.join(base, "out")
    if key not in _STREAM_DONE:
        shutil.rmtree(base, ignore_errors=True)
        in_dir = os.path.join(base, "in")
        s["transcripts"].write.mode("overwrite").parquet(in_dir)
        q = streaming.run_stream_to_dir(
            spark, in_dir, out_dir, os.path.join(base, "ckpt"), s["dictionary"]
        )
        _drain(q, "stream_mentions")
        _STREAM_DONE.add(key)
    return spark.read.parquet(out_dir).select(
        "conv_id", "turn_idx", "mention_text", "start_offset", "end_offset",
        "lexical_variant", "section", "assertion", "temporality", "experiencer",
        "confidence", "domain_hint", "omop_concept_id",
    )


def _q_ner_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML NER path (nlp_clinical_ner.py): pluggable model inference (the
    deterministic sandbox stand-in here) through the REAL post-processing
    pipeline — domain mapping, confidence calibration, context rules."""
    from kgnorm import ner

    return ner.ner_mentions_df(_stages(spark, sf_dir)["transcripts"])


# ---------------------------------------------------------------------------
# oracle SQL builders
# ---------------------------------------------------------------------------


def _oracle_kg_mentions() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}
SELECT t.conv_id, t.turn_idx, e.mention_text, e.start_offset, e.end_offset,
       e.lexical_variant, e.section, e.assertion, e.temporality, e.experiencer,
       cast(e.confidence AS double) AS confidence, e.domain_hint,
       cast(e.omop_concept_id AS bigint) AS omop_concept_id
FROM turns t JOIN exp e USING (tmpl)"""


def _oracle_kg_candidates() -> str:
    # template mentions are all dictionary-linked (concept_id > 0) → all direct
    return f"""WITH {_turns_cte()}, {_exp_cte()}
SELECT t.conv_id, t.turn_idx, e.start_offset, e.end_offset, e.mention_text,
       cast(e.omop_concept_id AS bigint) AS omop_concept_id,
       e.mention_text AS concept_name,
       cast(e.omop_concept_id AS varchar) AS concept_code,
       'Direct' AS vocabulary_id,
       coalesce(lower(e.domain_hint), 'observation') AS domain_id,
       cast(1.0 AS double) AS score, 'direct' AS method, 1 AS rank
FROM turns t JOIN exp e USING (tmpl)
WHERE e.omop_concept_id > 0"""


def _oracle_kg_facts() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()}
SELECT conv_id, omop_concept_id, assertion, temporality, experiencer,
       concept_name, domain, confidence6, evidence_count,
       first_turn_idx, first_start_offset
FROM facts"""


def _oracle_kg_triples() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
typed AS (SELECT *, {_EDGE_CASE_SQL} AS pred FROM facts),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, pred, omop_concept_id
    ORDER BY first_turn_idx, first_start_offset, assertion) AS rn
  FROM typed)
SELECT conv_id, conv_id AS subj, pred,
       'concept:' || cast(omop_concept_id AS varchar) AS obj,
       omop_concept_id, assertion
FROM ranked WHERE rn = 1"""


def _oracle_kg_domain_counts() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()}
SELECT conv_id, domain, count(*) AS n_facts FROM facts GROUP BY 1, 2"""


def _oracle_kg_nodes() -> str:
    node_type_sql = (
        "CASE domain WHEN 'condition' THEN 'condition' WHEN 'drug' THEN 'drug' "
        "WHEN 'measurement' THEN 'measurement' WHEN 'procedure' THEN 'procedure' "
        "WHEN 'observation' THEN 'observation' WHEN 'device' THEN 'observation' "
        "ELSE 'observation' END"
    )
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
typed AS (SELECT *, {node_type_sql} AS node_type FROM facts),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, node_type, omop_concept_id
    ORDER BY first_turn_idx, first_start_offset, assertion) AS rn
  FROM typed),
concept_nodes AS (
  SELECT sha256('concept|' || conv_id || '|' || node_type || '|' || cast(omop_concept_id AS varchar)) AS node_id,
         conv_id, node_type, cast(omop_concept_id AS bigint) AS omop_concept_id,
         concept_name AS label,
         assertion AS p_assertion,
         cast(assertion = 'absent' AS varchar) AS p_is_negated
  FROM ranked WHERE rn = 1),
hubs AS (
  SELECT DISTINCT sha256('patient|' || conv_id) AS node_id, conv_id,
         'patient' AS node_type, cast(NULL AS bigint) AS omop_concept_id,
         conv_id AS label, cast(NULL AS varchar) AS p_assertion,
         cast(NULL AS varchar) AS p_is_negated
  FROM facts)
SELECT node_id, conv_id, node_type, omop_concept_id, label, p_assertion, p_is_negated
FROM concept_nodes
UNION ALL
SELECT node_id, conv_id, node_type, omop_concept_id, label, p_assertion, p_is_negated FROM hubs"""


def _oracle_graph_read() -> str:
    node_type_sql = (
        "CASE domain WHEN 'condition' THEN 'condition' WHEN 'drug' THEN 'drug' "
        "WHEN 'measurement' THEN 'measurement' WHEN 'procedure' THEN 'procedure' "
        "WHEN 'observation' THEN 'observation' WHEN 'device' THEN 'observation' "
        "ELSE 'observation' END"
    )
    convs = ", ".join(f"'{c}'" for c in _GRAPH_READ_CONVS)
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
typed AS (SELECT *, {node_type_sql} AS node_type, {_EDGE_CASE_SQL} AS edge_type
          FROM facts WHERE conv_id IN ({convs})),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, node_type, omop_concept_id
    ORDER BY first_turn_idx, first_start_offset, assertion) AS rn
  FROM typed),
first AS (SELECT * FROM ranked WHERE rn = 1)
SELECT 'node' AS kind,
       sha256('concept|' || conv_id || '|' || node_type || '|' || cast(omop_concept_id AS varchar)) AS item_id,
       conv_id, node_type AS item_type,
       cast(omop_concept_id AS bigint) AS omop_concept_id,
       concept_name AS label,
       cast(NULL AS varchar) AS source_node_id,
       cast(NULL AS varchar) AS target_node_id,
       assertion AS p_assertion
FROM first
UNION ALL
SELECT DISTINCT 'node' AS kind, sha256('patient|' || conv_id) AS item_id,
       conv_id, 'patient' AS item_type, cast(NULL AS bigint) AS omop_concept_id,
       conv_id AS label, cast(NULL AS varchar) AS source_node_id,
       cast(NULL AS varchar) AS target_node_id, cast(NULL AS varchar) AS p_assertion
FROM typed
UNION ALL
SELECT 'edge' AS kind,
       sha256('edge|' || conv_id || '|' || edge_type || '|' || node_type || '|' || cast(omop_concept_id AS varchar)) AS item_id,
       conv_id, edge_type AS item_type, cast(NULL AS bigint) AS omop_concept_id,
       cast(NULL AS varchar) AS label,
       sha256('patient|' || conv_id) AS source_node_id,
       sha256('concept|' || conv_id || '|' || node_type || '|' || cast(omop_concept_id AS varchar)) AS target_node_id,
       assertion AS p_assertion
FROM first"""


def _oracle_omop_note_nlp() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}
SELECT md5(t.conv_id || '|' || cast(t.turn_idx AS varchar) || '|' ||
           cast(e.start_offset AS varchar) || '|' || cast(e.end_offset AS varchar)) AS note_nlp_id,
       md5(t.conv_id || '|' || cast(t.turn_idx AS varchar)) AS note_id,
       t.conv_id, t.turn_idx,
       e.start_offset AS offset_start, e.end_offset AS offset_end,
       e.mention_text AS lexical_variant,
       cast(e.omop_concept_id AS bigint) AS note_nlp_concept_id,
       CASE WHEN e.assertion = 'absent' THEN 'N' ELSE 'Y' END AS term_exists,
       e.temporality AS term_temporal
FROM turns t JOIN exp e USING (tmpl)
WHERE e.omop_concept_id > 0"""


def _oracle_link_cascade() -> str:
    ont = _ont()
    concept_rows = [
        (c["concept_id"], c["concept_name"], c["vocabulary_id"], c["domain_id"])
        for c in ont.concepts
    ]
    synonym_rows = [(s["concept_id"], s["concept_synonym_name"]) for s in ont.synonyms]
    term_rows = [(t,) for t in _CASCADE_TERMS]
    return f"""WITH terms(term) AS (VALUES {_values(term_rows)}),
concepts(concept_id, concept_name, vocabulary_id, domain_id) AS (VALUES {_values(concept_rows)}),
synonyms(concept_id, concept_synonym_name) AS (VALUES {_values(synonym_rows)}),
t AS (SELECT term, length(term) AS q_len, list_distinct(string_split(term, ' ')) AS q_tokens FROM terms),
dim AS (SELECT concept_id, concept_name, vocabulary_id, domain_id,
               lower(concept_name) AS cn_lower, length(concept_name) AS cn_len,
               list_distinct(string_split(
                 regexp_replace(trim(regexp_replace(lower(concept_name), '\\s+', ' ', 'g')),
                                '^[^a-z0-9_]+|[^a-z0-9_]+$', '', 'g'), ' ')) AS cn_tokens
        FROM concepts),
t1 AS (SELECT t.term, d.concept_id, d.concept_name, d.vocabulary_id, d.domain_id,
              1.0 AS score, 'exact' AS method, 1 AS tier
       FROM t JOIN dim d ON t.term = d.cn_lower),
t2 AS (SELECT t.term, d.concept_id, d.concept_name, d.vocabulary_id, d.domain_id,
              0.95 AS score, 'exact' AS method, 2 AS tier
       FROM t JOIN synonyms s ON t.term = lower(s.concept_synonym_name)
       JOIN dim d ON d.concept_id = s.concept_id),
cheap AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
counts AS (SELECT term, count(DISTINCT concept_id) AS n_cheap FROM cheap GROUP BY 1),
need AS (SELECT t.* FROM t LEFT JOIN counts c USING (term) WHERE coalesce(c.n_cheap, 0) < 5),
t3 AS (SELECT n.term, d.concept_id, d.concept_name, d.vocabulary_id, d.domain_id,
              least(0.9, n.q_len / d.cn_len + 0.3) AS score, 'fuzzy' AS method, 3 AS tier
       FROM need n JOIN dim d ON d.cn_lower LIKE n.term || '%'
       WHERE n.q_len >= 3),
multi AS (SELECT *, list_reduce(string_split(term, ' '),
                 (a, b) -> CASE WHEN length(b) > length(a) THEN b ELSE a END) AS main_word
          FROM need WHERE len(string_split(term, ' ')) >= 2),
t4 AS (SELECT m.term, d.concept_id, d.concept_name, d.vocabulary_id, d.domain_id,
              cast(len(list_intersect(m.q_tokens, d.cn_tokens)) AS double)
                / len(list_distinct(m.q_tokens || d.cn_tokens)) AS score,
              'fuzzy' AS method, 4 AS tier
       FROM multi m JOIN dim d ON contains(d.cn_lower, m.main_word)
       WHERE length(m.main_word) >= 4
         AND cast(len(list_intersect(m.q_tokens, d.cn_tokens)) AS double)
               / len(list_distinct(m.q_tokens || d.cn_tokens)) >= 0.3),
unioned AS (SELECT * FROM cheap UNION ALL SELECT * FROM t3 UNION ALL SELECT * FROM t4),
dedup AS (SELECT *, row_number() OVER (PARTITION BY term, concept_id ORDER BY tier) AS dup
          FROM unioned),
ranked AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY tier, concept_id) AS rank
           FROM dedup WHERE dup = 1)
SELECT term, cast(concept_id AS bigint) AS concept_id, concept_name, vocabulary_id,
       CASE WHEN lower(domain_id) IN ('condition','drug','measurement','procedure','observation','device')
            THEN lower(domain_id) ELSE 'observation' END AS domain_id,
       cast(score AS double) AS score, method, cast(rank AS int) AS rank
FROM ranked WHERE rank <= 5"""


def _oracle_icd10_suggest() -> str:
    from kgnorm import icd10

    code_rows = [
        (r["code"], r["description"], r["category"], bool(r["is_billable"]))
        for r in icd10.load_icd10()
    ]
    syn_rows = []
    seen = set()
    for r in icd10.load_icd10():
        for syn in r["synonyms"]:
            k = (syn.lower(), r["code"])
            if k not in seen:
                seen.add(k)
                syn_rows.append(k)
    stop_list = ", ".join(f"'{w}'" for w in icd10._DESC_STOPWORDS)
    return f"""WITH qs(query) AS (VALUES {_values([(t,) for t in _ICD10_QUERIES])}),
codes(code, description, category, is_billable) AS (VALUES {_values(code_rows)}),
syns(synonym, code) AS (VALUES {_values(syn_rows)}),
q AS (SELECT query, lower(trim(query)) AS ql FROM qs),
t1 AS (SELECT q.query, s.code, 1 AS tier, s.synonym AS matched
       FROM q JOIN syns s ON q.ql = s.synonym),
t2 AS (SELECT q.query, s.code, 2 AS tier, min(s.synonym) AS matched
       FROM q JOIN syns s ON contains(q.ql, s.synonym) OR contains(s.synonym, q.ql)
       GROUP BY 1, 2),
t3 AS (
  SELECT query, code, 3 AS tier,
         array_to_string(list_sort(common), ', ') AS matched
  FROM (
    SELECT q.query, c.code,
           list_filter(list_distinct(string_split(q.ql, ' ')),
                       x -> x NOT IN ({stop_list})
                            AND list_contains(list_distinct(string_split(lower(c.description), ' ')), x)) AS common,
           len(list_distinct(string_split(q.ql, ' '))) AS nq
    FROM q CROSS JOIN codes c)
  WHERE len(common) >= 2 OR (len(common) = 1 AND nq <= 2)),
unioned AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3),
dedup AS (SELECT *, row_number() OVER (PARTITION BY query, code ORDER BY tier, matched) AS d
          FROM unioned),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query ORDER BY tier, code) AS rank
           FROM dedup WHERE d = 1)
SELECT r.query, r.code, c.description, c.category, c.is_billable,
       CASE r.tier WHEN 1 THEN 'high' WHEN 2 THEN 'medium' ELSE 'low' END AS confidence,
       r.matched, cast(r.rank AS int) AS rank
FROM ranked r JOIN codes c ON c.code = r.code
WHERE r.rank <= 10"""


def _hcc_ctes() -> str:
    from kgnorm import hcc

    defs, _pmpm = hcc.load_hcc()
    ind_rows = [(d["hcc_code"], i.lower()) for d in defs for i in d["clinical_indicators"]]
    dim_rows = [
        (d["hcc_code"], d["description"], d["category"],
         float(d["raf_community"]), float(d["raf_institutional"]))
        for d in defs
    ]
    return f"""inds(hcc_code, indicator) AS (VALUES {_values(ind_rows)}),
hdim(hcc_code, description, category, raf_community, raf_institutional) AS (
  VALUES {_values(dim_rows)}),
tt AS (SELECT t.conv_id, lower(m.text) AS tl FROM turns t JOIN tmpls m USING (tmpl)),
detected AS (
  SELECT conv_id, hcc_code, count(*) AS n_indicator_hits
  FROM (SELECT DISTINCT tt.conv_id, i.hcc_code, i.indicator
        FROM tt JOIN inds i ON contains(tt.tl, i.indicator))
  GROUP BY 1, 2)"""


def _oracle_hcc_opportunities() -> str:
    from kgnorm import hcc

    _defs, pmpm = hcc.load_hcc()
    return f"""WITH {_turns_cte()}, {_templates_cte()},
{_hcc_ctes()}
SELECT d.conv_id, d.hcc_code, h.description, h.category, d.n_indicator_hits,
       cast(h.raf_community AS double) AS raf_value,
       cast(round(h.raf_community * {pmpm!r} * 12, 2) AS double) AS estimated_revenue
FROM detected d JOIN hdim h USING (hcc_code)"""


def _oracle_hcc_raf() -> str:
    return f"""WITH {_turns_cte()}, {_templates_cte()},
{_hcc_ctes()}
SELECT d.conv_id, count(*) AS n_hccs,
       cast(round(sum(h.raf_community), 4) AS double) AS raf_score
FROM detected d JOIN hdim h USING (hcc_code)
GROUP BY 1"""


def _oracle_differential_dx() -> str:
    from kgnorm import differential as dd

    dxs, aliases = dd.load_differential()
    index_rows = []
    for d in dxs:
        for field, w in dd._WEIGHTS:
            for finding in d[field]:
                index_rows.append((finding, d["name"], w, field == "classic_findings"))
    dim_rows = [
        (d["name"], d["domain"], d["urgency"], float(d["prevalence_base"]),
         float(0.9 * len(d["classic_findings"]) + 0.6 * len(d["common_findings"])))
        for d in dxs
    ]
    alias_case = _case_map(aliases, "trim(concept_name)")
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
fidx(finding, diagnosis, strength, is_classic) AS (VALUES {_values(index_rows)}),
ddim(diagnosis, domain, urgency, prevalence_base, max_possible) AS (VALUES {_values(dim_rows)}),
norm AS (
  SELECT DISTINCT conv_id,
         CASE WHEN ({alias_case}) <> lower(trim(concept_name))
              THEN ({alias_case})
              ELSE replace(lower(trim(concept_name)), ' ', '_') END AS finding
  FROM facts WHERE assertion = 'present'),
scored AS (
  SELECT n.conv_id, i.diagnosis,
         count(*) AS n_supporting,
         sum(i.strength) AS raw_score,
         CAST(sum(CASE WHEN i.is_classic THEN 1 ELSE 0 END) AS BIGINT) AS classic_count
  FROM norm n JOIN fidx i USING (finding)
  GROUP BY 1, 2),
withdx AS (
  SELECT s.*, d.domain, d.urgency, d.prevalence_base, d.max_possible,
         CASE WHEN s.classic_count >= 2
              THEN (s.raw_score + d.prevalence_base * 2) * 1.5
              ELSE s.raw_score + d.prevalence_base * 2 END AS score
  FROM scored s JOIN ddim d USING (diagnosis)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY score DESC, diagnosis) AS rank
  FROM withdx)
SELECT conv_id, diagnosis, domain, urgency, n_supporting, classic_count,
       CAST(round(score, 6) AS DOUBLE) AS score6,
       CAST(round(least(CAST(1.0 AS DOUBLE), score / (max_possible + 0.1)), 3) AS DOUBLE) AS probability,
       urgency = 'emergent' AS cannot_miss,
       cast(rank AS int) AS rank
FROM ranked WHERE rank <= 10"""


def _oracle_billing_bundling() -> str:
    from kgnorm import billing

    bundles, _n = billing.load_billing_rules()
    return f"""WITH cpts(claim_id, cpt_code) AS (VALUES {_values(_CLAIM_CPTS)}),
bundles(comprehensive, component, reason) AS (VALUES {_values([tuple(b) for b in bundles])})
SELECT a.claim_id, b.comprehensive, b.component, b.reason,
       'high' AS severity, CAST(-25.0 AS DOUBLE) AS revenue_impact
FROM cpts a
JOIN cpts c ON c.claim_id = a.claim_id
JOIN bundles b ON b.comprehensive = a.cpt_code AND b.component = c.cpt_code"""


def _oracle_billing_necessity() -> str:
    from kgnorm import billing

    _b, necessity = billing.load_billing_rules()
    nec_rows = [(cpt, dx) for cpt, dxs in necessity.items() for dx in dxs]
    return f"""WITH cpts(claim_id, cpt_code) AS (VALUES {_values(_CLAIM_CPTS)}),
dxs(claim_id, icd10_code) AS (VALUES {_values(_CLAIM_DXS)}),
nec(cpt_code, supporting_dx) AS (VALUES {_values(nec_rows)}),
candidates AS (
  SELECT DISTINCT c.claim_id, c.cpt_code
  FROM cpts c
  WHERE c.cpt_code IN (SELECT cpt_code FROM nec)
    AND c.claim_id IN (SELECT claim_id FROM dxs)),
supported AS (
  SELECT DISTINCT c.claim_id, c.cpt_code
  FROM cpts c JOIN nec n USING (cpt_code)
  JOIN dxs d ON d.claim_id = c.claim_id AND d.icd10_code = n.supporting_dx)
SELECT ca.claim_id, ca.cpt_code,
       'medical_necessity' AS category, 'high' AS severity
FROM candidates ca
LEFT JOIN supported s ON s.claim_id = ca.claim_id AND s.cpt_code = ca.cpt_code
WHERE s.claim_id IS NULL"""


def _docgap_ctes() -> str:
    from kgnorm import docgaps

    rules, lats = docgaps.load_gap_rules()
    rule_vals = []
    for r in rules:
        scope, terms = docgaps.SPECIFIC_TERMS.get(r["trigger"], ("text", []))
        term_lit = "[" + ", ".join(_lit(t) for t in terms) + "]"
        rule_vals.append(
            f"({r['order']}, {_lit(r['trigger'])}, {_lit(r['category'])},"
            f" {_lit(r['severity'])}, {_lit(r['issue'])}, {_lit(scope)}, {term_lit},"
            f" {_lit(r.get('query'))}, {_lit(r.get('impact'))})"
        )
    lat_vals = ",\n    ".join(f"({i}, {_lit(c)})" for i, c in enumerate(lats))
    lat_terms = " OR ".join(
        f"contains(ml, {_lit(t)}) OR contains(tl, {_lit(t)})" for t in docgaps.LATERALITY_TERMS
    )
    return f"""grules(rule_order, trigger, category, severity, issue, specific_scope, specific_terms, query_text, impact) AS (
  VALUES {",{}    ".format(chr(10)).join(rule_vals)}),
glats(lat_order, condition) AS (VALUES {lat_vals}),
mtext AS (
  SELECT t.conv_id, t.turn_idx, e.start_offset, e.mention_text AS finding,
         lower(e.mention_text) AS ml, lower(m.text) AS tl
  FROM turns t JOIN exp e USING (tmpl) JOIN tmpls m USING (tmpl)),
spec_gaps AS (
  SELECT conv_id, turn_idx, start_offset, finding,
         'specificity' AS gap_type, category, severity, issue, query_text, impact
  FROM (
    SELECT mt.*, r.category, r.severity, r.issue, r.query_text, r.impact,
           row_number() OVER (PARTITION BY mt.conv_id, mt.turn_idx, mt.start_offset
                              ORDER BY r.rule_order) AS rk
    FROM mtext mt JOIN grules r ON contains(mt.ml, r.trigger)
    WHERE NOT (CASE WHEN r.specific_scope = 'both'
                    THEN len(list_filter(r.specific_terms,
                             t -> contains(mt.ml, t) OR contains(mt.tl, t))) > 0
                    ELSE len(list_filter(r.specific_terms,
                             t -> contains(mt.tl, t))) > 0 END))
  WHERE rk = 1),
lat_gaps AS (
  SELECT conv_id, turn_idx, start_offset, finding,
         'laterality' AS gap_type, 'laterality' AS category,
         'high' AS severity,
         'Laterality not specified for ' || condition AS issue,
         'Is this ' || condition || ' on the left, right, or bilateral?' AS query_text,
         'Laterality is REQUIRED for valid ICD-10 coding of this condition' AS impact
  FROM (
    SELECT mt.*, l.condition,
           row_number() OVER (PARTITION BY mt.conv_id, mt.turn_idx, mt.start_offset
                              ORDER BY l.lat_order) AS rk
    FROM mtext mt JOIN glats l ON contains(mt.ml, l.condition)
    WHERE NOT ({lat_terms}))
  WHERE rk = 1),
all_gaps AS (SELECT * FROM spec_gaps UNION ALL SELECT * FROM lat_gaps)"""


def _oracle_doc_gaps() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_docgap_ctes()}
SELECT conv_id, turn_idx, start_offset, finding, gap_type, category, severity, issue
FROM all_gaps"""


def _oracle_doc_gap_rollup() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_docgap_ctes()}
SELECT conv_id, count(*) AS total_gaps,
       CAST(sum(CASE WHEN severity = 'critical' THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
       CAST(sum(CASE WHEN severity = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(CASE WHEN severity = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       CAST(round(sum(CASE severity WHEN 'critical' THEN 500.0 WHEN 'high' THEN 150.0
                                    WHEN 'medium' THEN 50.0 ELSE 10.0 END), 2) AS DOUBLE) AS revenue_at_risk
FROM all_gaps GROUP BY 1"""


def _oracle_cpt_suggest() -> str:
    from kgnorm import cpt

    stop_list = ", ".join(f"'{w}'" for w in cpt._DESC_STOPWORDS)
    codes_path = os.path.join(REPO, "data", "cpt_codes.json")
    syn_path = os.path.join(REPO, "data", "cpt_synonyms.json")
    return f"""WITH qs(query) AS (VALUES {_values([(t,) for t in _CPT_QUERIES])}),
codes AS (SELECT code, description, category
          FROM (SELECT unnest(codes, recursive := true) FROM read_json_auto('{codes_path}'))),
syns AS (SELECT synonym, code
         FROM (SELECT unnest(synonyms, recursive := true) FROM read_json_auto('{syn_path}'))),
q AS (SELECT query, lower(trim(query)) AS ql FROM qs),
t1 AS (SELECT q.query, s.code, 1 AS tier, 'exact_synonym' AS match_type, s.synonym AS matched
       FROM q JOIN syns s ON q.ql = s.synonym),
t2 AS (SELECT q.query, s.code, 2 AS tier, 'partial_synonym' AS match_type, min(s.synonym) AS matched
       FROM q JOIN syns s ON contains(q.ql, s.synonym) OR contains(s.synonym, q.ql)
       GROUP BY 1, 2),
t3 AS (
  SELECT query, code, 3 AS tier, 'description' AS match_type,
         array_to_string(list_sort(common), ', ') AS matched
  FROM (
    SELECT q.query, c.code,
           list_filter(list_distinct(string_split(q.ql, ' ')),
                       x -> x NOT IN ({stop_list})
                            AND list_contains(list_distinct(string_split(lower(c.description), ' ')), x)) AS common
    FROM q CROSS JOIN codes c)
  WHERE len(common) >= 2),
unioned AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3),
dedup AS (SELECT *, row_number() OVER (PARTITION BY query, code ORDER BY tier, matched) AS d
          FROM unioned),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query ORDER BY tier, code) AS rank
           FROM dedup WHERE d = 1)
SELECT r.query, r.code, c.description, c.category,
       CASE WHEN r.tier IN (1, 2) THEN 'medium' ELSE 'low' END AS confidence,
       r.match_type, r.matched, cast(r.rank AS int) AS rank
FROM ranked r JOIN codes c ON c.code = r.code
WHERE r.rank <= 10"""


def _safety_ctes() -> str:
    from kgnorm import safety

    profiles, aliases = safety.load_safety_profiles()
    ci_rows = [
        (p["generic_name"].lower(), c["condition"].lower(), c["severity"], c["rationale"])
        for p in profiles
        for c in p["contraindications"]
    ]
    prof_rows = [
        (p["generic_name"].lower(), len(p["black_box_warnings"]),
         p["pregnancy_category"], p["lactation_safety"])
        for p in profiles
    ]
    return f"""ci(drug, ci_condition, severity, rationale) AS (VALUES {_values(ci_rows)}),
profs(drug, n_black_box, pregnancy_category, lactation_safety) AS (VALUES {_values(prof_rows)}),
meds AS (SELECT DISTINCT conv_id, {_case_map(aliases, 'trim(concept_name)')} AS drug
         FROM facts WHERE domain = 'drug' AND assertion = 'present'),
conds AS (SELECT DISTINCT conv_id, lower(trim(concept_name)) AS condition
          FROM facts WHERE domain = 'condition' AND assertion = 'present'),
matched AS (
  SELECT m.conv_id, m.drug, c.condition, i.ci_condition, i.severity, i.rationale
  FROM meds m JOIN conds c USING (conv_id)
  JOIN ci i ON i.drug = m.drug
          AND (contains(c.condition, i.ci_condition) OR contains(i.ci_condition, c.condition)))"""


def _oracle_safety_contraindications() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_safety_ctes()}
SELECT conv_id, drug, condition, ci_condition, severity FROM matched"""


def _oracle_safety_check() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_safety_ctes()},
counts AS (
  SELECT conv_id, drug,
         CAST(sum(CASE WHEN severity = 'contraindicated' THEN 1 ELSE 0 END) AS BIGINT) AS n_ci,
         CAST(sum(CASE WHEN severity = 'warning' THEN 1 ELSE 0 END) AS BIGINT) AS n_warn,
         CAST(sum(CASE WHEN severity = 'caution' THEN 1 ELSE 0 END) AS BIGINT) AS n_caution
  FROM matched GROUP BY 1, 2)
SELECT m.conv_id, m.drug,
       coalesce(c.n_ci, 0) AS n_ci,
       coalesce(c.n_warn, 0) AS n_warn,
       coalesce(c.n_caution, 0) AS n_caution,
       cast(p.n_black_box AS int) AS n_black_box,
       CASE WHEN p.n_black_box IS NULL THEN 'caution'
            WHEN coalesce(c.n_ci, 0) > 0 THEN 'contraindicated'
            WHEN coalesce(c.n_warn, 0) > 0 OR p.n_black_box > 0 THEN 'warning'
            WHEN coalesce(c.n_caution, 0) > 0 THEN 'caution'
            ELSE 'safe' END AS overall_safety
FROM meds m
LEFT JOIN profs p USING (drug)
LEFT JOIN counts c ON c.conv_id = m.conv_id AND c.drug = m.drug"""


def _interactions_ctes() -> str:
    from kgnorm import interactions

    rows, aliases = interactions.load_interaction_data()
    dim_rows = [
        (min(r["drug1"], r["drug2"]), max(r["drug1"], r["drug2"]),
         r["severity"], r["interaction_type"])
        for r in rows
    ]
    return f"""meds(conv_id, drug) AS (VALUES {_values(_MED_LISTS)}),
idim(pair_lo, pair_hi, severity, interaction_type) AS (VALUES {_values(dim_rows)}),
norm AS (SELECT DISTINCT conv_id, {_case_map(aliases, 'trim(drug)')} AS d FROM meds),
found AS (
  SELECT a.conv_id, a.d AS drug1, b.d AS drug2, i.severity, i.interaction_type
  FROM norm a JOIN norm b ON a.conv_id = b.conv_id AND a.d < b.d
  JOIN idim i ON i.pair_lo = a.d AND i.pair_hi = b.d)"""


def _oracle_drug_interactions() -> str:
    return f"""WITH {_interactions_ctes()}
SELECT conv_id, drug1, drug2, severity, interaction_type FROM found"""


def _oracle_kg_drug_interactions() -> str:
    from kgnorm import interactions

    rows, aliases = interactions.load_interaction_data()
    dim_rows = [
        (min(r["drug1"], r["drug2"]), max(r["drug1"], r["drug2"]),
         r["severity"], r["interaction_type"])
        for r in rows
    ]
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
idim(pair_lo, pair_hi, severity, interaction_type) AS (VALUES {_values(dim_rows)}),
meds AS (
  SELECT DISTINCT conv_id, {_case_map(aliases, 'trim(concept_name)')} AS d
  FROM facts WHERE domain = 'drug' AND assertion = 'present')
SELECT a.conv_id, a.d AS drug1, b.d AS drug2, i.severity, i.interaction_type
FROM meds a JOIN meds b ON a.conv_id = b.conv_id AND a.d < b.d
JOIN idim i ON i.pair_lo = a.d AND i.pair_hi = b.d"""


def _oracle_interaction_check() -> str:
    rank = "CASE severity WHEN 'contraindicated' THEN 0 WHEN 'major' THEN 1 WHEN 'moderate' THEN 2 ELSE 3 END"
    return f"""WITH {_interactions_ctes()}
SELECT conv_id,
       count(*) AS total_interactions,
       CAST(sum(CASE WHEN severity = 'contraindicated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contraindicated,
       CAST(sum(CASE WHEN severity = 'major' THEN 1 ELSE 0 END) AS BIGINT) AS n_major,
       CAST(sum(CASE WHEN severity = 'moderate' THEN 1 ELSE 0 END) AS BIGINT) AS n_moderate,
       CAST(sum(CASE WHEN severity = 'minor' THEN 1 ELSE 0 END) AS BIGINT) AS n_minor,
       CASE min({rank}) WHEN 0 THEN 'contraindicated' WHEN 1 THEN 'major'
                        WHEN 2 THEN 'moderate' ELSE 'minor' END AS highest_severity,
       bool_or(severity = 'contraindicated') AS has_contraindicated,
       bool_or(severity = 'major') AS has_major
FROM found GROUP BY 1"""


def _oracle_code_mapping() -> str:
    from kgnorm import codemap

    ont = _ont()
    concept_rows = [
        (c["concept_id"], c["concept_name"], c.get("concept_code"), c.get("vocabulary_id"))
        for c in ont.concepts
    ]
    rel_rows = [
        (r["concept_id_1"], r["concept_id_2"], r["relationship_id"])
        for r in ont.relationships
    ]
    path_rows = list(codemap.VOCABULARY_MAPPING_PATHS.items())
    return f"""WITH codes(source_code, source_vocabulary) AS (VALUES {_values(_CODE_ROWS)}),
locals(local_code, local_vocabulary, local_description, omop_concept_id, omop_concept_name) AS (
  VALUES {_values(_LOCAL_MAPPING_ROWS)}),
concepts(concept_id, concept_name, concept_code, vocabulary_id) AS (VALUES {_values(concept_rows)}),
rel(concept_id_1, concept_id_2, relationship_id) AS (VALUES {_values(rel_rows)}),
paths(source_vocabulary, tv) AS (VALUES {_values(path_rows)}),
c AS (SELECT cd.source_code, cd.source_vocabulary, upper(cd.source_code) AS code_u, p.tv AS target_vocabulary
      FROM codes cd LEFT JOIN paths p USING (source_vocabulary)),
loc AS (SELECT c.*, l.local_description, l.omop_concept_id AS local_target, l.omop_concept_name AS local_target_name
        FROM c LEFT JOIN locals l
          ON upper(l.local_code) = c.code_u AND l.local_vocabulary = c.source_vocabulary),
best AS (
  SELECT concept_id_1 AS source_concept_id, concept_id_2 AS target_concept_id, relationship_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY concept_id_1
          ORDER BY CASE WHEN relationship_id = 'Maps to' THEN 0 ELSE 1 END,
                   relationship_id, concept_id_2) AS rk
        FROM rel)
  WHERE rk = 1),
resolved AS (
  SELECT lc.source_code, lc.source_vocabulary, lc.target_vocabulary,
         lc.local_target, lc.local_target_name, lc.local_description,
         sc.concept_id AS source_concept_id, sc.concept_name AS source_concept_name,
         b.target_concept_id, b.relationship_id, tc.concept_name AS target_concept_name
  FROM loc lc
  LEFT JOIN concepts sc
    ON upper(sc.concept_code) = lc.code_u AND sc.vocabulary_id = lc.source_vocabulary
  LEFT JOIN best b ON b.source_concept_id = sc.concept_id
  LEFT JOIN concepts tc ON tc.concept_id = b.target_concept_id)
SELECT source_code, source_vocabulary,
       cast(NULL AS bigint) AS source_concept_id,
       local_description AS source_concept_name,
       cast(local_target AS bigint) AS target_concept_id,
       local_target_name AS target_concept_name,
       target_vocabulary, 'local' AS mapping_type, 'medium' AS confidence,
       CAST(0.7 AS DOUBLE) AS confidence_score,
       cast(NULL AS varchar) AS relationship_id, cast(NULL AS varchar) AS unmapped_reason
FROM resolved WHERE local_target IS NOT NULL
UNION ALL
SELECT source_code, source_vocabulary,
       cast(source_concept_id AS bigint) AS source_concept_id, source_concept_name,
       cast(target_concept_id AS bigint) AS target_concept_id, target_concept_name,
       CASE WHEN target_concept_id IS NOT NULL THEN target_vocabulary END AS target_vocabulary,
       CASE WHEN target_concept_id IS NOT NULL THEN 'direct' ELSE 'unmapped' END AS mapping_type,
       coalesce(CASE relationship_id WHEN 'Maps to' THEN 'high'
                                     WHEN 'Is a' THEN 'medium'
                                     WHEN 'Subsumes' THEN 'medium'
                                     ELSE CASE WHEN relationship_id IS NOT NULL THEN 'low' END END,
                'low') AS confidence,
       coalesce(CASE relationship_id WHEN 'Maps to' THEN CAST(0.95 AS DOUBLE)
                                     WHEN 'Is a' THEN CAST(0.75 AS DOUBLE)
                                     WHEN 'Subsumes' THEN CAST(0.75 AS DOUBLE)
                                     ELSE CASE WHEN relationship_id IS NOT NULL THEN CAST(0.5 AS DOUBLE) END END,
                CAST(0.0 AS DOUBLE)) AS confidence_score,
       relationship_id,
       CASE WHEN source_concept_id IS NULL THEN 'Source code not found in ' || source_vocabulary
            WHEN target_concept_id IS NULL THEN 'No ''Maps to'' relationship found' END AS unmapped_reason
FROM resolved WHERE local_target IS NULL"""


def _oracle_link_semantic() -> str:
    from kgnorm import semantic

    def emb_lit(vec: list[float]) -> str:
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + "]"

    concept_rows = ",\n    ".join(
        f"({c['concept_id']}, {_lit(c['concept_name'])}, {_lit(c.get('vocabulary_id'))},"
        f" {_lit(c.get('domain_id'))}, {emb_lit(semantic.hash_embed(c['concept_name']))})"
        for c in _ont().concepts
    )
    term_rows = ",\n    ".join(
        f"({_lit(t)}, {emb_lit(semantic.hash_embed(t))})" for t in _SEMANTIC_TERMS
    )
    dot_qe = _DOT.format(a="t.q_emb", b="c.emb")
    nq = "sqrt(" + _DOT.format(a="t.q_emb", b="t.q_emb") + ")"
    nc = "sqrt(" + _DOT.format(a="c.emb", b="c.emb") + ")"
    return f"""WITH cemb(concept_id, concept_name, vocabulary_id, domain_id, emb) AS (
  VALUES {concept_rows}),
temb(term, q_emb) AS (VALUES {term_rows}),
scored AS (
  SELECT t.term, c.concept_id, c.concept_name, c.vocabulary_id, c.domain_id,
         {dot_qe} / ({nq} * {nc}) AS cos
  FROM temb t CROSS JOIN cemb c
  WHERE {nq} > 0 AND {nc} > 0),
thresh AS (
  SELECT term, concept_id, concept_name, vocabulary_id, domain_id,
         round(cos * CAST(0.85 AS DOUBLE), 6) AS score
  FROM scored WHERE cos >= CAST(0.6 AS DOUBLE)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY score DESC, concept_id ASC) AS rank
  FROM thresh)
SELECT term, cast(concept_id AS bigint) AS concept_id, concept_name,
       vocabulary_id, domain_id, cast(score AS double) AS score,
       'semantic' AS method, cast(rank AS int) AS rank
FROM ranked WHERE rank <= 10"""


def _oracle_kg_canonical() -> str:
    rel_rows = [
        (r["concept_id_1"], r["concept_id_2"], r["relationship_id"])
        for r in _ont().relationships
    ]
    return f"""WITH RECURSIVE rel(a, b, r) AS (VALUES {_values(rel_rows)}),
alias_e AS (
  SELECT a AS src, b AS dst FROM rel WHERE r IN ('Maps to', 'Mapped from') AND a <> b
  UNION
  SELECT b, a FROM rel WHERE r IN ('Maps to', 'Mapped from') AND a <> b),
reach(v, w) AS (
  SELECT src, dst FROM alias_e
  UNION
  SELECT r.v, e.dst FROM reach r JOIN alias_e e ON r.w = e.src),
comp AS (SELECT v AS concept_id, least(v, min(w)) AS component_id FROM reach GROUP BY v),
sources AS (SELECT DISTINCT a AS concept_id FROM rel WHERE r = 'Maps to'),
targets AS (SELECT DISTINCT b AS concept_id FROM rel WHERE r = 'Maps to'),
terminals AS (SELECT concept_id FROM targets
              WHERE concept_id NOT IN (SELECT concept_id FROM sources)),
comp_term AS (SELECT c.component_id, min(c.concept_id) AS terminal_id
              FROM comp c JOIN terminals tm ON c.concept_id = tm.concept_id GROUP BY 1),
comp_min AS (SELECT component_id, min(concept_id) AS min_id FROM comp GROUP BY 1)
SELECT cast(c.concept_id AS bigint) AS concept_id,
       cast(coalesce(ct.terminal_id, m.min_id) AS bigint) AS canonical_concept_id
FROM comp c
JOIN comp_min m USING (component_id)
LEFT JOIN comp_term ct USING (component_id)
WHERE c.concept_id <> coalesce(ct.terminal_id, m.min_id)"""


# shared oracle fragments for text ops
_TOKS_CTE = (
    "toks AS (SELECT doc_id, text, source, lang, "
    "string_split_regex(trim(text), '\\s+') AS tk FROM documents)"
)
_SHINGLES_CTE = (
    "sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3 THEN "
    "list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ') "
    "for i in generate_series(1, len(tk) - 2)]) ELSE [trim(text)] END) AS shingle FROM toks)"
)


def _oracle_dedup_exact() -> str:
    return """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1"""


def _oracle_text_quality() -> str:
    stop = ", ".join(f"'{w}'" for w in textops._STOP_EN)
    return f"""WITH {_TOKS_CTE},
m AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         len(tk) AS n_tokens,
         length(text) / len(tk) AS avg_token_span,
         len(list_filter(tk, x -> x IN ({stop}))) / len(tk) AS stopword_ratio,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / length(text) AS punct_ratio
  FROM toks)
SELECT doc_id, n_chars_m, n_tokens,
       round(avg_token_span, 6) AS avg_token_span6,
       round(stopword_ratio, 6) AS stopword_ratio6,
       round(punct_ratio, 6) AS punct_ratio6,
       round(
         (CASE WHEN n_tokens >= 20 THEN CAST(1.0 AS DOUBLE) ELSE n_tokens / CAST(20.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
         + (CASE WHEN stopword_ratio > CAST(0.02 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
         + (CAST(1.0 AS DOUBLE) - least(punct_ratio * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.3 AS DOUBLE)
       , 6) AS quality6
FROM m"""


def _oracle_lang_id() -> str:
    order = ["en", "es", "de", "fr", "zh"]
    score_cols = ",\n         ".join(
        f"len(list_filter(tk, x -> x IN ({', '.join(repr(w) for w in textops._LANG_PROFILES[k])}))) AS s_{k}"
        for k in order
    )
    mx = f"greatest({', '.join('s_' + k for k in order)})"
    pred = "'unknown'"
    for k in reversed(order):
        pred = f"CASE WHEN s_{k} = mx THEN '{k}' ELSE {pred} END"
    return f"""WITH {_TOKS_CTE},
s AS (SELECT doc_id, lang, {score_cols} FROM toks),
g AS (SELECT *, {mx} AS mx FROM s)
SELECT doc_id, lang AS declared_lang,
       CASE WHEN mx <= 0 THEN 'unknown' ELSE {pred} END AS predicted_lang,
       s_en, s_es, s_de, s_fr, s_zh
FROM g"""


def _oracle_token_stats() -> str:
    return f"""WITH {_TOKS_CTE},
per AS (SELECT source, len(tk) AS n_ws,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
        FROM toks)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_ws) AS BIGINT) AS ws_tokens, CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(round(avg(n_ws), 6) AS DOUBLE) AS avg_ws_tokens6
FROM per GROUP BY 1"""


def _oracle_fingerprints() -> str:
    return f"""WITH {_TOKS_CTE}
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_fp,
       list_min(list_transform(
         CASE WHEN len(tk) >= 3 THEN
           list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ')
                          for i in generate_series(1, len(tk) - 2)])
         ELSE [trim(text)] END,
         s -> md5(s))) AS minshingle_fp
FROM toks"""


def _oracle_minhash_signatures() -> str:
    aggs = ",\n       ".join(
        f"min(md5('{i}|' || shingle)) AS sig_{i}" for i in range(8)
    )
    return f"""WITH {_TOKS_CTE}, {_SHINGLES_CTE}
SELECT doc_id, {aggs}
FROM sh GROUP BY doc_id"""


def _oracle_minhash_lsh_pairs() -> str:
    bands = []
    for b in range(4):
        bands.append(f"SELECT doc_id, {b} AS band_idx, md5(sig_{2*b} || '|' || sig_{2*b+1}) AS bucket FROM sigs")
    banded = "\n  UNION ALL\n  ".join(bands)
    aggs = ", ".join(f"min(md5('{i}|' || shingle)) AS sig_{i}" for i in range(8))
    return f"""WITH {_TOKS_CTE}, {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {aggs} FROM sh GROUP BY doc_id),
banded AS (
  {banded}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band_idx, bucket)
WHERE a.doc_id < b.doc_id"""


def _oracle_ngram_jaccard_pairs() -> str:
    return f"""WITH {_TOKS_CTE}, {_SHINGLES_CTE},
kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {JACCARD_DF_MAX}),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
counts AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.doc_a, s.doc_b, s.shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
       round(s.shared / (ca.n_sh + cb.n_sh - s.shared), 6) AS jaccard6
FROM shared s
JOIN counts ca ON ca.doc_id = s.doc_a
JOIN counts cb ON cb.doc_id = s.doc_b
WHERE s.shared / (ca.n_sh + cb.n_sh - s.shared) >= CAST(0.5 AS DOUBLE)"""


def _oracle_simhash() -> str:
    votes = " || ".join(
        f"(CASE WHEN sum(ascii(substr(md5(tok), {b + 1}, 1)) % 2 * 2 - 1) >= 0 THEN '1' ELSE '0' END)"
        for b in range(16)
    )
    return f"""WITH {_TOKS_CTE},
t2 AS (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks)
SELECT doc_id, {votes} AS simhash
FROM t2 GROUP BY doc_id"""


_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _oracle_cosine_topk() -> str:
    dot_qe = _DOT.format(a="q.q_emb", b="e.emb")
    nq = "sqrt(" + _DOT.format(a="q.q_emb", b="q.q_emb") + ")"
    ne = "sqrt(" + _DOT.format(a="e.emb", b="e.emb") + ")"
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({dot_qe} / ({nq} * {ne}), 6) AS cos6
  FROM base e CROSS JOIN q WHERE e.vec_id <> q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id ASC) AS rk FROM scored)
SELECT query_id, vec_id, cos6, cast(rk AS int) AS rk FROM ranked WHERE rk <= 5"""


ANN_BITS = 32
ANN_BANDS = 4


def _oracle_ann_lsh_topk() -> str:
    planes = vecops.hyperplanes(EMB_DIM, ANN_BITS)
    plane_lits = [
        "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in p) + "]" for p in planes
    ]
    bit_exprs = [
        f"(CASE WHEN {_DOT.format(a='emb', b=pl)} >= 0 THEN '1' ELSE '0' END)"
        for pl in plane_lits
    ]
    per_band = ANN_BITS // ANN_BANDS
    band_selects = []
    for b in range(ANN_BANDS):
        band_bits = " || ".join(bit_exprs[b * per_band:(b + 1) * per_band])
        band_selects.append(
            f"SELECT vec_id, emb, {b} AS band_idx, {band_bits} AS band_bucket FROM base"
        )
    banded = "\n  UNION ALL\n  ".join(band_selects)
    dot_qe = _DOT.format(a="q.q_emb", b="e.emb")
    nq = "sqrt(" + _DOT.format(a="q.q_emb", b="q.q_emb") + ")"
    ne = "sqrt(" + _DOT.format(a="e.emb", b="e.emb") + ")"
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
banded AS (
  {banded}
),
qb AS (SELECT vec_id AS query_id, band_idx, band_bucket FROM banded WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT qb.query_id, e.vec_id
  FROM banded e JOIN qb USING (band_idx, band_bucket)
  WHERE e.vec_id <> qb.query_id),
qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 10),
scored AS (
  SELECT c.query_id, c.vec_id,
         round({dot_qe} / ({nq} * {ne}), 6) AS cos6
  FROM cand c JOIN base e ON e.vec_id = c.vec_id JOIN qe q ON q.query_id = c.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id ASC) AS rk FROM scored)
SELECT query_id, vec_id, cos6, cast(rk AS int) AS rk FROM ranked WHERE rk <= 5"""


def _oracle_embedding_dup_pairs() -> str:
    planes = vecops.hyperplanes(EMB_DIM, ANN_BITS)
    plane_lits = [
        "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in p) + "]" for p in planes
    ]
    bit_exprs = [
        f"(CASE WHEN {_DOT.format(a='emb', b=pl)} >= 0 THEN '1' ELSE '0' END)"
        for pl in plane_lits
    ]
    per_band = ANN_BITS // ANN_BANDS
    band_selects = []
    for b in range(ANN_BANDS):
        band_bits = " || ".join(bit_exprs[b * per_band:(b + 1) * per_band])
        band_selects.append(
            f"SELECT vec_id, emb, {b} AS band_idx, {band_bits} AS band_bucket FROM base"
        )
    banded = "\n  UNION ALL\n  ".join(band_selects)
    dot_ab = _DOT.format(a="ea.emb", b="eb.emb")
    na = "sqrt(" + _DOT.format(a="ea.emb", b="ea.emb") + ")"
    nb = "sqrt(" + _DOT.format(a="eb.emb", b="eb.emb") + ")"
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
banded AS (
  {banded}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b USING (band_idx, band_bucket)
  WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT c.vec_a, c.vec_b, {dot_ab} / ({na} * {nb}) AS cos
  FROM cand c JOIN base ea ON ea.vec_id = c.vec_a JOIN base eb ON eb.vec_id = c.vec_b)
SELECT vec_a, vec_b, round(cos, 6) AS cos6
FROM scored WHERE cos >= CAST({EMB_DUP_THRESHOLD!r} AS DOUBLE)"""


_HEXPOS = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"


def _oracle_multimodal_features() -> str:
    byte0 = f"({_HEXPOS.format(i=1)} * 16 + {_HEXPOS.format(i=2)})"
    byte1 = f"({_HEXPOS.format(i=3)} * 16 + {_HEXPOS.format(i=4)})"
    byte2 = f"({_HEXPOS.format(i=5)} * 16 + {_HEXPOS.format(i=6)})"
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3) + 1] AS kind,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS h
  FROM documents)
SELECT media_id, kind, cast(n_bytes AS bigint) AS n_bytes,
       cast(16 + {byte0} % 640 AS int) AS width,
       cast(16 + {byte1} % 480 AS int) AS height,
       cast(1 + {byte2} % 3 AS int) AS n_channels
FROM m"""


def _oracle_frame_sample() -> str:
    return """WITH m AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3) + 1] AS kind,
         cast(octet_length(encode(text)) AS bigint) AS n_bytes
  FROM documents),
v AS (SELECT media_id, n_bytes,
             greatest(1, cast(floor(n_bytes / 10 * CAST(1.0 AS DOUBLE)) AS int)) AS n_frames
      FROM m WHERE kind = 'video')
SELECT media_id, n_bytes, cast(unnest(generate_series(0, n_frames - 1)) AS int) AS frame_idx,
       cast(unnest(generate_series(0, n_frames - 1)) * 10 AS bigint) AS byte_offset
FROM v"""


def _oracle_events_tumbling() -> str:
    return """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value4
FROM events GROUP BY 1, 2"""


def _oracle_events_sessionize() -> str:
    return """SELECT user_id, event_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events)"""


def _proximity_rels_fragment() -> str:
    """Shared CTE chain m → pairs → rels (proximity relations) for the
    kg_relations and treats_edges oracles."""
    from kgnorm import relations as rel_mod

    rule_selects = []
    for src_dom, tgt_dom, rel_type, keywords in rel_mod.DOMAIN_RULES:
        kw = " OR ".join(f"contains(between_text, '{k}')" for k in keywords)
        rule_selects.append(f"""SELECT conv_id, turn_idx, source_text, source_domain, target_text, target_domain,
       '{rel_type}' AS relation_type,
       CASE WHEN {kw} THEN CAST(0.8 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS confidence
FROM pairs
WHERE source_domain = '{src_dom}' AND target_domain = '{tgt_dom}'
  AND (({kw}) OR distance < {rel_mod.CLOSE_DISTANCE})""")
    unioned = "\nUNION ALL\n".join(rule_selects)
    return f"""m AS (
  SELECT t.conv_id, t.turn_idx, t.tmpl, e.mention_text, e.start_offset, e.end_offset,
         lower(coalesce(e.domain_hint, 'observation')) AS dom
  FROM turns t JOIN exp e USING (tmpl)),
pairs AS (
  SELECT a.conv_id, a.turn_idx,
         a.mention_text AS source_text, a.dom AS source_domain,
         b.mention_text AS target_text, b.dom AS target_domain,
         abs(a.start_offset - b.start_offset) AS distance,
         lower(substr(tm.text,
                      least(a.end_offset, b.end_offset) + 1,
                      greatest(a.start_offset, b.start_offset) - least(a.end_offset, b.end_offset))) AS between_text
  FROM m a
  JOIN m b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
          AND (a.start_offset <> b.start_offset OR a.end_offset <> b.end_offset)
          AND abs(a.start_offset - b.start_offset) <= {rel_mod.MAX_ENTITY_DISTANCE}
  JOIN tmpls tm ON tm.tmpl = a.tmpl),
rels AS (
{unioned}
)"""


def _oracle_kg_relations() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_proximity_rels_fragment()}
SELECT conv_id, source_text, target_text, relation_type,
       max(confidence) AS confidence,
       min(turn_idx) AS first_turn_idx,
       arg_min('proximity', turn_idx) AS method,
       arg_min(source_domain, turn_idx) AS source_domain,
       arg_min(target_domain, turn_idx) AS target_domain
FROM rels
GROUP BY 1, 2, 3, 4"""


def _oracle_pattern_relations() -> str:
    from kgnorm import relations as rel_mod

    parts = []
    for pattern, src_dom, tgt_dom, rel_type in rel_mod.PATTERN_RULES:
        p = pattern.replace("'", "''")
        if src_dom is None:
            parts.append(f"""SELECT conv_id, turn_idx, '' AS source_text,
  cast(NULL AS varchar) AS source_domain,
  trim(unnest(regexp_extract_all(text, '{p}', 1))) AS target_text,
  '{tgt_dom}' AS target_domain, '{rel_type}' AS relation_type,
  CAST(0.7 AS DOUBLE) AS confidence
FROM tt""")
        else:
            parts.append(f"""SELECT conv_id, turn_idx, trim(l1[i]) AS source_text,
  '{src_dom}' AS source_domain, trim(l2[i]) AS target_text,
  '{tgt_dom}' AS target_domain, '{rel_type}' AS relation_type,
  CAST(0.7 AS DOUBLE) AS confidence
FROM (SELECT conv_id, turn_idx,
             regexp_extract_all(text, '{p}', 1) AS l1,
             regexp_extract_all(text, '{p}', 2) AS l2,
             unnest(generate_series(1, len(regexp_extract_all(text, '{p}', 1)))) AS i
      FROM tt)""")
    unioned = "\nUNION ALL\n".join(parts)
    return f"""WITH {_turns_cte()}, {_templates_cte()},
tt AS (SELECT t.conv_id, t.turn_idx, m.text FROM turns t JOIN tmpls m USING (tmpl)),
rels AS (
SELECT * FROM (
{unioned}
) WHERE length(target_text) >= 2
)
SELECT conv_id, source_text, target_text, relation_type,
       max(confidence) AS confidence,
       min(turn_idx) AS first_turn_idx,
       arg_min('pattern', turn_idx) AS method,
       coalesce(arg_min(source_domain, turn_idx), '') AS source_domain,
       arg_min(target_domain, turn_idx) AS target_domain
FROM rels
GROUP BY 1, 2, 3, 4"""


def _oracle_kg_mentions_enhanced() -> str:
    cols = ("tmpl, mention_text, start_offset, end_offset, lexical_variant,"
            " assertion, confidence, domain_hint, omop_concept_id")
    return f"""WITH {_turns_cte()},
eexp2({cols}) AS (VALUES {_values(_expected_enhanced_mentions())})
SELECT t.conv_id, t.turn_idx, e.mention_text, e.start_offset, e.end_offset,
       e.lexical_variant, e.assertion, cast(e.confidence AS double) AS confidence,
       e.domain_hint, cast(e.omop_concept_id AS bigint) AS omop_concept_id
FROM turns t JOIN eexp2 e USING (tmpl)"""


def _oracle_fhir_export() -> str:
    from kgnorm import fhir

    vital_kw = " OR ".join(
        f"contains(lower(concept_name), '{k}')" for k in fhir.VITAL_KEYWORDS
    )
    omop_uri = fhir.FHIR_CODE_SYSTEMS["omop"]
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
typed AS (
  SELECT *,
         CASE domain WHEN 'condition' THEN 'Condition'
                     WHEN 'drug' THEN 'MedicationStatement'
                     WHEN 'measurement' THEN 'Observation'
                     WHEN 'procedure' THEN 'Procedure' END AS resource_type
  FROM facts
  WHERE domain IN ('condition', 'drug', 'measurement', 'procedure'))
SELECT conv_id, resource_type,
       sha256('fhir|' || conv_id || '|' || resource_type || '|' ||
              cast(omop_concept_id AS varchar) || '|' || assertion) AS resource_id,
       CASE resource_type
         WHEN 'Condition' THEN
           CASE WHEN temporality = 'historical' THEN 'resolved'
                WHEN assertion = 'absent' THEN 'inactive'
                ELSE 'active' END
         WHEN 'MedicationStatement' THEN
           CASE WHEN assertion = 'absent' OR temporality = 'historical'
                THEN 'stopped' ELSE 'active' END
         WHEN 'Observation' THEN
           CASE WHEN confidence_raw >= 0.9 THEN 'final' ELSE 'preliminary' END
         ELSE
           CASE WHEN temporality = 'future' THEN 'preparation'
                WHEN temporality = 'historical' THEN 'completed'
                ELSE 'in-progress' END
       END AS status,
       CASE WHEN resource_type = 'Condition' THEN
         CASE WHEN assertion = 'possible' THEN 'provisional'
              WHEN assertion = 'absent' THEN 'refuted'
              WHEN confidence_raw >= 0.9 THEN 'confirmed'
              ELSE 'unconfirmed' END
       END AS verification_status,
       CASE WHEN resource_type = 'Observation' THEN
         CASE WHEN {vital_kw} THEN 'vital-signs' ELSE 'laboratory' END
       END AS category,
       CASE WHEN omop_concept_id > 0 THEN '{omop_uri}' END AS code_system,
       CASE WHEN omop_concept_id > 0 THEN cast(omop_concept_id AS varchar)
            ELSE replace(lower(concept_name), ' ', '-') END AS code,
       concept_name AS display,
       'Patient/' || conv_id AS subject_ref
FROM typed"""


def _oracle_risk_scores() -> str:
    from kgnorm import calculators

    flag_exprs = []
    for flag, keywords in calculators._CHADSVASC_FLAGS.items():
        kw = " OR ".join(f"contains(lower(concept_name), '{k}')" for k in keywords)
        flag_exprs.append(
            f"coalesce(max(CASE WHEN assertion = 'present' AND ({kw}) THEN true ELSE false END), false) AS {flag}"
        )
    flags_sql = ",\n         ".join(flag_exprs)
    pts = ("(CASE WHEN chf THEN 1 ELSE 0 END + CASE WHEN hypertension THEN 1 ELSE 0 END"
           " + CASE WHEN diabetes THEN 1 ELSE 0 END + CASE WHEN stroke_tia THEN 2 ELSE 0 END"
           " + CASE WHEN vascular THEN 1 ELSE 0 END)")
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
flags AS (
  SELECT conv_id,
         {flags_sql}
  FROM facts GROUP BY 1),
scored AS (SELECT *, {pts} AS s FROM flags)
SELECT conv_id, chf, hypertension, diabetes, stroke_tia, vascular,
       cast(s AS int) AS chadsvasc_score,
       CASE WHEN s = 0 THEN 'low' WHEN s = 1 THEN 'low_moderate'
            WHEN s = 2 THEN 'moderate' WHEN s <= 4 THEN 'high'
            ELSE 'very_high' END AS risk_level,
       CASE WHEN s = 0 THEN '0%' WHEN s = 1 THEN '1.3%' WHEN s = 2 THEN '2.2%'
            WHEN s <= 4 THEN printf('%.1f', 1.3 + (s - 1) * 1.5) || '%'
            ELSE cast(6 + (s - 5) * 2 AS varchar) || '%' END AS stroke_rate
FROM scored"""


_PM_CTE_DOMS = ["condition", "drug", "measurement", "procedure", "observation"]


def _pm_cte() -> str:
    """Per-conversation ProcessingMetrics CTE (from turns × exp)."""
    dom_sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN lower(coalesce(e.domain_hint, 'observation')) = '{d}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{d}"
        for d in _PM_CTE_DOMS
    )
    return f"""pm AS (
  SELECT t.conv_id,
         count(*) AS m,
         round(avg(cast(e.confidence AS double)), 6) AS avg_confidence,
         CAST(sum(CASE WHEN e.omop_concept_id > 0 THEN 1 ELSE 0 END) AS BIGINT) AS found,
         CAST(sum(CASE WHEN e.omop_concept_id > 0 THEN 0 ELSE 1 END) AS BIGINT) AS failed,
         {dom_sums}
  FROM turns t JOIN exp e USING (tmpl)
  GROUP BY 1)"""


def _oracle_quality_rollup() -> str:
    dom_totals = ",\n         ".join(
        f"CAST(sum(n_{d}) AS BIGINT) AS total_{d}s" for d in _PM_CTE_DOMS
    )
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_pm_cte()},
stats AS (
  SELECT count(*) AS document_count,
         CAST(sum(m) AS BIGINT) AS total_mentions,
         CAST(round(avg(m), 6) AS DOUBLE) AS avg_mentions_per_doc,
         CAST(round(avg(CASE WHEN avg_confidence > 0 THEN avg_confidence END), 6) AS DOUBLE) AS avg_confidence,
         CAST(sum(CASE WHEN avg_confidence < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS conf_0_05,
         CAST(sum(CASE WHEN avg_confidence >= 0.5 AND avg_confidence < 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS conf_05_07,
         CAST(sum(CASE WHEN avg_confidence >= 0.7 AND avg_confidence < 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS conf_07_09,
         CAST(sum(CASE WHEN avg_confidence >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS conf_09_10,
         CAST(sum(found) AS BIGINT) AS mappings_succeeded,
         CAST(sum(found) + sum(failed) AS BIGINT) AS mappings_attempted,
         CAST(round((sum(found) * CAST(1.0 AS DOUBLE)) / (sum(found) + sum(failed)), 6) AS DOUBLE) AS mapping_success_rate,
         {dom_totals},
         max(m) AS max_mentions
  FROM pm),
ranked AS (SELECT m, row_number() OVER (ORDER BY m, conv_id) AS rn FROM pm),
picked AS (
  SELECT max(CASE WHEN rn = (SELECT document_count // 2 + 1 FROM stats) THEN m END) AS p50_mentions,
         max(CASE WHEN rn = (SELECT CASE WHEN document_count > 20 THEN CAST(floor(document_count * 0.95) AS BIGINT) + 1 END FROM stats) THEN m END) AS p95_idx,
         max(CASE WHEN rn = (SELECT CASE WHEN document_count > 100 THEN CAST(floor(document_count * 0.99) AS BIGINT) + 1 END FROM stats) THEN m END) AS p99_idx
  FROM ranked)
SELECT document_count, total_mentions, avg_mentions_per_doc, avg_confidence,
       conf_0_05, conf_05_07, conf_07_09, conf_09_10,
       mappings_succeeded, mappings_attempted, mapping_success_rate,
       total_conditions, total_drugs, total_measurements, total_procedures,
       total_observations,
       p50_mentions,
       coalesce(p95_idx, max_mentions) AS p95_mentions,
       coalesce(p99_idx, max_mentions) AS p99_mentions,
       max_mentions
FROM stats CROSS JOIN picked"""


def _oracle_quality_trend() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_pm_cte()}
SELECT conv_id, m AS value,
       CAST(round(avg(m) OVER (ORDER BY conv_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS rolling_avg
FROM pm"""


def _oracle_quality_trend_prefix() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_pm_cte()}
SELECT conv_id, m AS value,
       CAST(round(avg(m) OVER (ORDER BY conv_id ROWS BETWEEN 149 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS rolling_avg
FROM pm"""


def _oracle_accuracy_prf() -> str:
    pcols = ("tmpl, entity_text, normalized_text, entity_type, start_offset,"
             " end_offset, base_confidence, final_confidence, assertion,"
             " section, value, unit")
    return f"""WITH {_turns_cte()}, {_exp_cte()},
pexp({pcols}) AS (VALUES {_values(_expected_pattern_entities())}),
d AS (SELECT DISTINCT t.conv_id, t.turn_idx, lower(e.mention_text) AS k,
             lower(coalesce(e.domain_hint, 'observation')) AS d_type
      FROM turns t JOIN exp e USING (tmpl)),
p AS (SELECT DISTINCT t.conv_id, t.turn_idx, lower(x.entity_text) AS k,
             x.entity_type AS p_type
      FROM turns t JOIN pexp x USING (tmpl)),
v AS (SELECT coalesce(d_type, p_type) AS entity_type,
             p_type IS NOT NULL AS predicted, d_type IS NOT NULL AS actual
      FROM d FULL OUTER JOIN p USING (conv_id, turn_idx, k)),
vv AS (SELECT * FROM v UNION ALL SELECT 'all' AS entity_type, predicted, actual FROM v),
agg AS (
  SELECT entity_type, count(*) AS total_samples,
         CAST(sum(CASE WHEN predicted AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN predicted AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT predicted AND actual THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM vv GROUP BY 1),
raw AS (
  SELECT *,
         CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE CAST(0.0 AS DOUBLE) END AS p_raw,
         CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE CAST(0.0 AS DOUBLE) END AS r_raw
  FROM agg)
SELECT entity_type, total_samples, tp, fp, fn,
       CAST(round(p_raw, 4) AS DOUBLE) AS precision,
       CAST(round(r_raw, 4) AS DOUBLE) AS recall,
       CAST(round(CASE WHEN p_raw + r_raw > 0 THEN 2 * p_raw * r_raw / (p_raw + r_raw) ELSE CAST(0.0 AS DOUBLE) END, 4) AS DOUBLE) AS f1_score
FROM raw"""


def _oracle_treats_edges() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_proximity_rels_fragment()},
dedup AS (
  SELECT conv_id, source_text, target_text, relation_type,
         max(confidence) AS confidence
  FROM rels GROUP BY 1, 2, 3, 4),
cands AS (
  SELECT conv_id, txt, min(cid) AS cid, arg_min(dom, cid) AS dom
  FROM (
    SELECT DISTINCT t.conv_id, lower(e.mention_text) AS txt,
           cast(e.omop_concept_id AS bigint) AS cid,
           coalesce(lower(e.domain_hint), 'observation') AS dom
    FROM turns t JOIN exp e USING (tmpl) WHERE e.omop_concept_id > 0)
  GROUP BY 1, 2),
treats AS (SELECT * FROM dedup WHERE relation_type = 'treats'),
linked AS (
  SELECT t.conv_id, t.confidence,
         s.cid AS src_concept, s.dom AS src_dom,
         d.cid AS dst_concept, d.dom AS dst_dom
  FROM treats t
  JOIN cands s ON s.conv_id = t.conv_id AND s.txt = lower(t.source_text)
  JOIN cands d ON d.conv_id = t.conv_id AND d.txt = lower(t.target_text)),
drug_treats AS (
  SELECT conv_id, src_concept AS source_concept_id, dst_concept AS target_concept_id,
         'drug_treats' AS edge_type, confidence
  FROM linked WHERE src_dom = 'drug' AND dst_dom = 'condition'
  UNION ALL
  SELECT conv_id, dst_concept, src_concept, 'drug_treats', confidence
  FROM linked WHERE src_dom = 'condition' AND dst_dom = 'drug'),
all_edges AS (
  SELECT * FROM drug_treats
  UNION ALL
  SELECT conv_id, target_concept_id, source_concept_id,
         'condition_treated_by', confidence
  FROM drug_treats)
SELECT conv_id, source_concept_id, target_concept_id, edge_type,
       max(confidence) AS confidence
FROM all_edges
GROUP BY 1, 2, 3, 4"""


def _templates_cte() -> str:
    rows = [(i, t) for i, t in enumerate(synth.note_templates())]
    return f"tmpls(tmpl, text) AS (VALUES {_values(rows)})"


def _oracle_clinical_values() -> str:
    """Independent re-run of the same regexes in DuckDB (RE2) — both
    engines use leftmost-first alternation, inline (?i), no lookbehind."""
    parts = []
    for kind, name, pattern, vg in values.VITAL_PATTERNS:
        p = pattern.replace("'", "''")
        parts.append(f"""SELECT conv_id, turn_idx, '{kind}' AS kind, '{name}' AS name,
  cast(unnest(regexp_extract_all(text, '{p}', {vg})) AS double) AS value,
  cast(NULL AS double) AS value2, cast(NULL AS varchar) AS unit,
  cast(NULL AS varchar) AS route, cast(NULL AS varchar) AS frequency
FROM tt""")
    bp = values.BP_PATTERN.replace("'", "''")
    parts.append(f"""SELECT conv_id, turn_idx, 'vital' AS kind, 'Blood Pressure' AS name,
  cast(l1[i] AS double) AS value, cast(l2[i] AS double) AS value2,
  'mmHg' AS unit, cast(NULL AS varchar) AS route, cast(NULL AS varchar) AS frequency
FROM (SELECT conv_id, turn_idx,
             regexp_extract_all(text, '{bp}', 1) AS l1,
             regexp_extract_all(text, '{bp}', 2) AS l2,
             unnest(generate_series(1, len(regexp_extract_all(text, '{bp}', 1)))) AS i
      FROM tt)""")
    lab = values.LAB_GENERIC.replace("'", "''")
    parts.append(f"""SELECT conv_id, turn_idx, 'lab' AS kind, lower(l1[i]) AS name,
  cast(l2[i] AS double) AS value, cast(NULL AS double) AS value2,
  nullif(lower(l3[i]), '') AS unit, cast(NULL AS varchar) AS route, cast(NULL AS varchar) AS frequency
FROM (SELECT conv_id, turn_idx,
             regexp_extract_all(text, '{lab}', 1) AS l1,
             regexp_extract_all(text, '{lab}', 2) AS l2,
             regexp_extract_all(text, '{lab}', 3) AS l3,
             unnest(generate_series(1, len(regexp_extract_all(text, '{lab}', 1)))) AS i
      FROM tt)""")
    med = values.MED_PATTERN.replace("'", "''")
    parts.append(f"""SELECT conv_id, turn_idx, 'medication' AS kind, lower(l1[i]) AS name,
  cast(l2[i] AS double) AS value, cast(NULL AS double) AS value2,
  nullif(lower(l3[i]), '') AS unit, nullif(lower(l4[i]), '') AS route, nullif(lower(l5[i]), '') AS frequency
FROM (SELECT conv_id, turn_idx,
             regexp_extract_all(text, '{med}', 1) AS l1,
             regexp_extract_all(text, '{med}', 2) AS l2,
             regexp_extract_all(text, '{med}', 3) AS l3,
             regexp_extract_all(text, '{med}', 4) AS l4,
             regexp_extract_all(text, '{med}', 5) AS l5,
             unnest(generate_series(1, len(regexp_extract_all(text, '{med}', 1)))) AS i
      FROM tt)""")
    unioned = "\nUNION ALL\n".join(parts)
    unit_case = _case_map(pyvalues.UNIT_NORMALIZATION, "unit")
    route_case = _case_map(values.ROUTE_CANONICAL, "route")
    freq_case = _case_map(values.FREQUENCY_CANONICAL, "frequency")
    return f"""WITH {_turns_cte()}, {_templates_cte()},
tt AS (SELECT t.conv_id, t.turn_idx, m.text FROM turns t JOIN tmpls m USING (tmpl))
SELECT DISTINCT *,
       {unit_case} AS unit_normalized,
       {route_case} AS route_normalized,
       {freq_case} AS frequency_normalized
FROM (
{unioned}
)"""


def _oracle_lab_interpret() -> str:
    from kgnorm import labs

    ref_rows = labs.lookup_rows()
    cols = ("key, test_name, test_code, category, ref_unit, low_normal, high_normal,"
            " low_critical, high_critical, gender_specific, male_low, male_high,"
            " female_low, female_high")
    return f"""WITH cv AS (
{_oracle_clinical_values()}
),
refs({cols}) AS (VALUES {_values(ref_rows)}),
j AS (
  SELECT cv.conv_id, cv.turn_idx, cv.kind, cv.name, cv.value,
         r.test_name, r.test_code, r.category, r.ref_unit,
         cast(r.low_normal AS double) AS lo, cast(r.high_normal AS double) AS hi,
         cast(r.low_critical AS double) AS loc, cast(r.high_critical AS double) AS hic
  FROM cv JOIN refs r ON lower(trim(cv.name)) = r.key
  WHERE cv.value IS NOT NULL)
SELECT conv_id, turn_idx, kind, name, value, test_name, test_code, category, ref_unit,
       CASE WHEN loc IS NOT NULL AND value < loc THEN 'critical_low'
            WHEN value < lo THEN 'low'
            WHEN hic IS NOT NULL AND value > hic THEN 'critical_high'
            WHEN value > hi THEN 'high'
            ELSE 'normal' END AS level,
       cast(lo AS varchar) || '-' || cast(hi AS varchar) AS reference_range,
       CASE WHEN (loc IS NOT NULL AND value < loc) OR (hic IS NOT NULL AND value > hic)
            THEN true ELSE false END AS is_critical
FROM j"""


def _case_map(mapping: dict, col: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE lower({col}) {whens} ELSE lower({col}) END"


_EXPECTED_PATTERN_ENTITIES = None


def _expected_pattern_entities() -> list[tuple]:
    """Pure-Python pattern pipeline over the 10 templates (the same
    engine the Arrow UDF runs; semantics pinned by tests/test_patterns.py
    against the reference)."""
    global _EXPECTED_PATTERN_ENTITIES
    if _EXPECTED_PATTERN_ENTITIES is None:
        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for e in patterns.pipeline_entities(text):
                rows.append((
                    tmpl, e.text, e.normalized_text, e.entity_type,
                    e.start_offset, e.end_offset,
                    float(e.base_confidence), float(e.final_confidence),
                    e.assertion, e.section, e.value, e.unit,
                ))
        _EXPECTED_PATTERN_ENTITIES = rows
    return _EXPECTED_PATTERN_ENTITIES


def _oracle_pattern_entities() -> str:
    cols = ("tmpl, entity_text, normalized_text, entity_type, start_offset,"
            " end_offset, base_confidence, final_confidence, assertion,"
            " section, value, unit")
    return f"""WITH {_turns_cte()},
pexp({cols}) AS (
  VALUES {_values(_expected_pattern_entities())}
)
SELECT t.conv_id, t.turn_idx, p.entity_text, p.normalized_text, p.entity_type,
       p.start_offset, p.end_offset,
       cast(p.base_confidence AS double) AS base_confidence,
       cast(p.final_confidence AS double) AS final_confidence,
       p.assertion, p.section,
       cast(p.value AS varchar) AS value, cast(p.unit AS varchar) AS unit
FROM turns t JOIN pexp p USING (tmpl)"""


_EXPECTED_ENSEMBLE = None


def _expected_ensemble() -> list[tuple]:
    """Pure-Python ensemble merge over the 10 templates (pinned by
    tests/test_ensemble.py against the reference's merge semantics)."""
    global _EXPECTED_ENSEMBLE
    if _EXPECTED_ENSEMBLE is None:
        auto = build_automaton(_ont().dictionary)
        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for m in ensemble.ensemble_for_text(text, auto):
                rows.append((
                    tmpl, m.source, m.text, m.lexical_variant,
                    m.start_offset, m.end_offset, m.domain, float(m.confidence),
                ))
        _EXPECTED_ENSEMBLE = rows
    return _EXPECTED_ENSEMBLE


def _oracle_kg_ensemble_mentions() -> str:
    cols = ("tmpl, source, mention_text, lexical_variant, start_offset,"
            " end_offset, domain, confidence")
    return f"""WITH {_turns_cte()},
eexp({cols}) AS (
  VALUES {_values(_expected_ensemble())}
)
SELECT t.conv_id, t.turn_idx, e.source, e.mention_text, e.lexical_variant,
       e.start_offset, e.end_offset, e.domain,
       cast(e.confidence AS double) AS confidence
FROM turns t JOIN eexp e USING (tmpl)"""


def _oracle_normalize_terms() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()},
terms AS (SELECT DISTINCT e.lexical_variant AS term FROM exp e
          WHERE e.tmpl IN (SELECT DISTINCT tmpl FROM turns))
SELECT term,
       {_case_map(normalize.DRUG_NORMALIZATION, 'term')} AS drug_generic,
       {_case_map(normalize.CONDITION_NORMALIZATION, 'term')} AS condition_full
FROM terms"""


def _canon_mapping_ctes() -> str:
    """Recursive-CTE connected components + terminal selection (shared by
    kg_canonical and kg_canonical_triples oracles)."""
    rel_rows = [
        (r["concept_id_1"], r["concept_id_2"], r["relationship_id"])
        for r in _ont().relationships
    ]
    return f"""rel(a, b, r) AS (VALUES {_values(rel_rows)}),
alias_e AS (
  SELECT a AS src, b AS dst FROM rel WHERE r IN ('Maps to', 'Mapped from') AND a <> b
  UNION
  SELECT b, a FROM rel WHERE r IN ('Maps to', 'Mapped from') AND a <> b),
reach(v, w) AS (
  SELECT src, dst FROM alias_e
  UNION
  SELECT rc.v, e.dst FROM reach rc JOIN alias_e e ON rc.w = e.src),
comp AS (SELECT v AS concept_id, least(v, min(w)) AS component_id FROM reach GROUP BY v),
mt_sources AS (SELECT DISTINCT a AS concept_id FROM rel WHERE r = 'Maps to'),
mt_targets AS (SELECT DISTINCT b AS concept_id FROM rel WHERE r = 'Maps to'),
terminals AS (SELECT concept_id FROM mt_targets
              WHERE concept_id NOT IN (SELECT concept_id FROM mt_sources)),
comp_term AS (SELECT c.component_id, min(c.concept_id) AS terminal_id
              FROM comp c JOIN terminals tm ON c.concept_id = tm.concept_id GROUP BY 1),
comp_min AS (SELECT component_id, min(concept_id) AS min_id FROM comp GROUP BY 1),
canon_map AS (
  SELECT c.concept_id,
         coalesce(ct.terminal_id, m2.min_id) AS canonical_concept_id
  FROM comp c
  JOIN comp_min m2 USING (component_id)
  LEFT JOIN comp_term ct USING (component_id)
  WHERE c.concept_id <> coalesce(ct.terminal_id, m2.min_id))"""


def _oracle_kg_canonical_triples() -> str:
    return f"""WITH RECURSIVE {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_canon_mapping_ctes()},
rewritten AS (
  SELECT f.conv_id,
         cast(coalesce(cm.canonical_concept_id, f.omop_concept_id) AS bigint) AS omop_concept_id,
         f.assertion, f.temporality, f.experiencer, f.domain,
         f.first_turn_idx, f.first_start_offset,
         f.first_turn_idx * 100000000 + f.first_start_offset AS ord2
  FROM facts f LEFT JOIN canon_map cm ON f.omop_concept_id = cm.concept_id),
merged AS (
  SELECT conv_id, omop_concept_id, assertion, temporality, experiencer,
         arg_min(domain, ord2) AS domain,
         min(first_turn_idx) AS first_turn_idx,
         min(first_start_offset) AS first_start_offset
  FROM rewritten
  GROUP BY 1, 2, 3, 4, 5),
typed AS (SELECT *, {_EDGE_CASE_SQL} AS pred FROM merged),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, pred, omop_concept_id
    ORDER BY first_turn_idx, first_start_offset, assertion) AS rn
  FROM typed)
SELECT conv_id, conv_id AS subj, pred,
       'concept:' || cast(omop_concept_id AS varchar) AS obj, omop_concept_id
FROM ranked WHERE rn = 1"""


def _oracle_kg_positive_facts() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()}
SELECT conv_id, omop_concept_id, assertion, temporality, experiencer,
       confidence6, evidence_count
FROM facts WHERE assertion <> 'absent'"""


def _sql_cycle(values, mod, expr="doc_id"):
    """DuckDB list-literal cycle indexed by (expr % mod) + 1."""
    items = ", ".join(_lit(v) for v in values)
    return f"([{items}])[({expr} % {mod}) + 1]"


def _prio_cte() -> str:
    from kgnorm.summarizer import PROBLEM_PRIORITY
    rows = ",\n    ".join(f"({_lit(t)}, {p})" for t, p in PROBLEM_PRIORITY.items())
    return f"prio_terms(term, prio) AS (\n  VALUES {rows}\n)"


def _problems_cte() -> str:
    """Problem list re-derivation in pure SQL (one row per condition fact)."""
    return """probs AS (
  SELECT conv_id, concept_name AS name, lower(concept_name) AS ml,
         temporality, first_turn_idx, first_start_offset,
         coalesce((SELECT max(t.prio) FROM prio_terms t
                   WHERE lower(concept_name) LIKE '%' || t.term || '%'), 0) AS priority,
         CASE WHEN temporality = 'historical' THEN 'resolved'
              WHEN lower(concept_name) LIKE '%chronic%' THEN 'chronic'
              WHEN lower(concept_name) LIKE '%acute%' THEN 'acute'
              ELSE 'active' END AS status
  FROM facts WHERE domain = 'condition' AND assertion <> 'absent'
), ranked_probs AS (
  SELECT *, cast(row_number() OVER (
    PARTITION BY conv_id
    ORDER BY priority DESC, first_turn_idx, first_start_offset, name) AS int) AS rank
  FROM probs
)"""


def _oracle_summary_problems() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_prio_cte()}, {_problems_cte()}
SELECT conv_id, name, status, priority, rank FROM ranked_probs"""


def _oracle_summary_one_liner() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_prio_cte()}, {_problems_cte()},
top3 AS (
  SELECT conv_id, string_agg(name, ', ' ORDER BY rank) AS problem_str
  FROM ranked_probs WHERE rank <= 3 GROUP BY conv_id
),
medc AS (
  SELECT conv_id,
         sum(CASE WHEN assertion <> 'absent' AND temporality <> 'historical'
                  THEN 1 ELSE 0 END) AS med_count
  FROM facts WHERE domain = 'drug' GROUP BY conv_id
)
SELECT f.conv_id,
       CASE WHEN t.problem_str IS NULL
            THEN 'Patient ' || f.conv_id || ' with no significant documented conditions'
            ELSE 'Patient with ' || t.problem_str || ', on ' ||
                 coalesce(m.med_count, 0) || ' medications' END AS one_liner
FROM (SELECT DISTINCT conv_id FROM facts) f
LEFT JOIN top3 t USING (conv_id) LEFT JOIN medc m USING (conv_id)"""


def _oracle_summary_medications() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()}
SELECT conv_id, concept_name AS name,
       CASE WHEN assertion = 'absent' OR temporality = 'historical'
            THEN 'discontinued' ELSE 'active' END AS status,
       CASE WHEN assertion = 'absent' OR temporality = 'historical'
            THEN 'Discontinued: ' || concept_name END AS change
FROM facts WHERE domain = 'drug'"""


def _oracle_summary_critical() -> str:
    from kgnorm.summarizer import CRITICAL_TERMS
    cond = " OR ".join(f"lower(concept_name) LIKE '%{t}%'" for t in CRITICAL_TERMS)
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
crit AS (
  SELECT conv_id, concept_name,
         row_number() OVER (PARTITION BY conv_id
           ORDER BY first_turn_idx, first_start_offset, concept_name) AS rk
  FROM facts WHERE domain = 'condition' AND ({cond})
)
SELECT conv_id, 'Critical condition: ' || concept_name AS finding
FROM crit WHERE rk <= 5"""


def _oracle_nlp_dictionary() -> str:
    ont = _ont()
    crows = [(c["concept_id"], c["domain_id"], c.get("standard_concept"))
             for c in ont.concepts]
    srows = [(s["concept_id"], s["concept_synonym_name"]) for s in ont.synonyms]
    return f"""WITH c(concept_id, domain_id, standard_concept) AS (VALUES {_values(crows)}),
s(concept_id, concept_synonym_name) AS (VALUES {_values(srows)}),
capped AS (
  SELECT concept_id, domain_id FROM c
  WHERE standard_concept IN ('S', 'C')
  ORDER BY concept_id LIMIT 20
)
SELECT lower(s.concept_synonym_name) AS term,
       s.concept_synonym_name AS synonym,
       capped.domain_id,
       CAST(s.concept_id AS BIGINT) AS concept_id
FROM s JOIN capped USING (concept_id)"""


def _oracle_stage_lineage() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()},
m AS (SELECT t.conv_id, t.turn_idx FROM turns t JOIN exp e USING (tmpl))
SELECT 'mentions' AS stage,
       CAST(CAST(substring(conv_id, 2) AS BIGINT) % 64 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS "rows",
       CAST(count(DISTINCT conv_id) AS BIGINT) AS convs,
       min(turn_idx) AS min_turn_idx,
       max(turn_idx) AS max_turn_idx
FROM m GROUP BY 1, 2"""


def _oracle_summary_critical_combined() -> str:
    from kgnorm.summarizer import CRITICAL_LAB_RANGES, CRITICAL_TERMS
    cond = " OR ".join(f"lower(concept_name) LIKE '%{t}%'" for t in CRITICAL_TERMS)
    lab_vals = ", ".join(
        f"('{k}', {lo}, {hi})" for k, (lo, hi) in CRITICAL_LAB_RANGES.items())
    # one row PER MATCHING LAB KEY (mirrors the per-key union in
    # summarizer.critical_labs, where a label containing two tracked lab
    # names emits twice)
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
cv AS (
{_oracle_clinical_values()}
),
labkeys(lab, lo, hi) AS (VALUES {lab_vals}),
crit AS (
  SELECT conv_id, 'Critical condition: ' || concept_name AS finding, 0 AS leg,
         row_number() OVER (PARTITION BY conv_id
           ORDER BY first_turn_idx, first_start_offset, concept_name) AS rk
  FROM facts WHERE domain = 'condition' AND ({cond})
),
critlabs AS (
  SELECT cv.conv_id,
         'Critical value: ' || cv.name || ' = ' || cast(cv.value AS varchar) AS finding,
         1 AS leg
  FROM cv JOIN labkeys k
    ON lower(cv.name) LIKE '%' || k.lab || '%'
   AND (cv.value < k.lo OR cv.value > k.hi)
  WHERE cv.value IS NOT NULL
),
u AS (
  SELECT conv_id, finding, leg FROM crit WHERE rk <= 5
  UNION ALL SELECT conv_id, finding, leg FROM critlabs
),
r AS (
  SELECT conv_id, finding,
         row_number() OVER (PARTITION BY conv_id ORDER BY leg, finding) AS rk
  FROM u
)
SELECT conv_id, finding FROM r WHERE rk <= 5"""


def _oracle_summary_rollup() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_prio_cte()}, {_problems_cte()},
buckets AS (
  SELECT conv_id, count(*) AS total_problems,
         sum(CASE WHEN status IN ('active', 'acute', 'uncontrolled')
                  THEN 1 ELSE 0 END) AS active_problems,
         sum(CASE WHEN status = 'chronic' THEN 1 ELSE 0 END) AS chronic_problems,
         sum(CASE WHEN status NOT IN ('active', 'acute', 'uncontrolled', 'chronic')
                  THEN 1 ELSE 0 END) AS resolved_problems
  FROM ranked_probs GROUP BY conv_id
),
medc AS (
  SELECT conv_id, count(*) AS medication_count FROM facts
  WHERE domain = 'drug' GROUP BY conv_id
),
conf AS (
  SELECT conv_id, round(avg(confidence_raw), 2) AS confidence_score,
         count(*) AS total_facts
  FROM facts GROUP BY conv_id
)
SELECT c.conv_id, c.total_facts,
       CAST(c.confidence_score AS DOUBLE) AS confidence_score,
       CAST(coalesce(b.total_problems, 0) AS BIGINT) AS total_problems,
       CAST(coalesce(b.active_problems, 0) AS BIGINT) AS active_problems,
       CAST(coalesce(b.chronic_problems, 0) AS BIGINT) AS chronic_problems,
       CAST(coalesce(b.resolved_problems, 0) AS BIGINT) AS resolved_problems,
       CAST(coalesce(m.medication_count, 0) AS BIGINT) AS medication_count
FROM conf c LEFT JOIN buckets b USING (conv_id) LEFT JOIN medc m USING (conv_id)"""


def _cdi_ctes() -> str:
    from kgnorm import cdi

    trows = ",\n    ".join(
        f"({_lit(k)}, {_lit(t['question'])}, {len(t.get('response_options', []))},"
        f" {_lit(','.join(t.get('coding_impacts', [])))},"
        f" {_lit('; '.join(t.get('regulatory_basis', [])))})"
        for k, t in cdi.load_templates().items()
    )
    hcc = " OR ".join(f"contains(fl, {_lit(t)})" for t in cdi.HCC_CONDITIONS)
    cc = " OR ".join(f"contains(fl, {_lit(t)})" for t in cdi.CC_CONDITIONS)
    qual = " OR ".join(f"contains(fl, {_lit(t)})" for t in cdi.QUALITY_CONDITIONS)
    return f"""ctempl(template_key, question, n_options, coding_impacts, regulatory_basis) AS (
  VALUES {trows}),
gkeyed AS (
  SELECT g.*, lower(finding) AS fl, lower(issue) AS il,
    coalesce(
      CASE WHEN contains(lower(finding), 'diabetes') OR contains(lower(finding), 'dm') THEN
        CASE WHEN contains(lower(issue), 'type') THEN 'diabetes_type'
             WHEN contains(lower(issue), 'complication') THEN 'diabetes_complications'
             WHEN contains(lower(issue), 'control') THEN 'diabetes_control' END END,
      CASE WHEN contains(lower(finding), 'heart failure') OR contains(lower(finding), 'chf')
                OR contains(lower(finding), 'hf') THEN
        CASE WHEN contains(lower(issue), 'type') OR contains(lower(issue), 'systolic')
                  OR contains(lower(issue), 'diastolic') THEN 'heart_failure_type'
             WHEN contains(lower(issue), 'acute') OR contains(lower(issue), 'chronic')
                  THEN 'heart_failure_acuity' END END,
      CASE WHEN contains(lower(finding), 'ckd') OR contains(lower(finding), 'chronic kidney')
           THEN 'ckd_stage' END,
      CASE WHEN contains(lower(finding), 'hypertension') THEN 'hypertension_control' END,
      CASE WHEN contains(lower(finding), 'fracture') THEN
        CASE WHEN contains(lower(issue), 'episode') OR contains(lower(issue), 'initial')
             THEN 'fracture_episode' END END,
      CASE WHEN contains(lower(finding), 'stroke') OR contains(lower(finding), 'cva')
           THEN 'stroke_type' END,
      CASE WHEN category = 'laterality' THEN 'laterality' END,
      CASE WHEN category = 'medical_necessity' THEN 'procedure_medical_necessity' END
    ) AS template_key
  FROM all_gaps g),
cqueries AS (
  SELECT k.conv_id, k.turn_idx, k.start_offset, k.finding, k.category, k.severity,
    substring(sha256(concat_ws(chr(0), k.conv_id, k.turn_idx, k.start_offset,
                               k.finding, k.category)), 1, 16) AS query_id,
    k.template_key,
    coalesce(t.question, k.query_text) AS question,
    'pending' AS status,
    CASE WHEN k.severity = 'critical' THEN 'urgent'
         WHEN k.severity = 'high' THEN 'routine'
         WHEN k.severity = 'medium' THEN 'routine'
         ELSE 'deferred' END AS priority,
    CASE WHEN k.severity = 'critical' THEN 1
         WHEN k.severity IN ('high', 'medium') THEN 2 ELSE 3 END AS prio_rank,
    coalesce(t.coding_impacts,
      array_to_string(list_filter([
        CASE WHEN {hcc} THEN 'HCC' END,
        CASE WHEN {cc} THEN 'CC_MCC' END,
        'SPECIFICITY',
        CASE WHEN {qual} THEN 'QUALITY' END], x -> x IS NOT NULL), ',')
    ) AS coding_impacts,
    CAST(CASE k.severity WHEN 'critical' THEN 500.0 WHEN 'high' THEN 150.0
                         WHEN 'medium' THEN 50.0 WHEN 'low' THEN 10.0
                         ELSE 25.0 END AS DOUBLE) AS estimated_revenue_impact,
    CASE WHEN k.severity IN ('critical', 'high') THEN 'HIGH'
         WHEN k.severity = 'medium' THEN 'MEDIUM' ELSE 'LOW' END AS cer_strength,
    coalesce(t.regulatory_basis, 'ICD-10-CM Official Guidelines') AS regulatory_basis,
    coalesce(t.n_options, 0) AS n_options
  FROM gkeyed k LEFT JOIN ctempl t USING (template_key)),
cranked AS (
  SELECT *, cast(row_number() OVER (PARTITION BY conv_id
    ORDER BY prio_rank, estimated_revenue_impact DESC, turn_idx, start_offset, finding)
    AS int) AS query_rank
  FROM cqueries)"""


def _oracle_cdi_queries() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_docgap_ctes()},
{_cdi_ctes()}
SELECT conv_id, finding, category, severity, query_id, template_key, question,
       status, priority, coding_impacts, estimated_revenue_impact, cer_strength,
       regulatory_basis, CAST(n_options AS INT) AS n_options, query_rank
FROM cranked"""


def _oracle_cdi_batch() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_templates_cte()},
{_docgap_ctes()},
{_cdi_ctes()}
SELECT q.conv_id,
       count(*) AS total_queries,
       CAST(sum(CASE WHEN priority = 'stat' THEN 1 ELSE 0 END) AS BIGINT) AS n_stat,
       CAST(sum(CASE WHEN priority = 'urgent' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(sum(CASE WHEN priority = 'routine' THEN 1 ELSE 0 END) AS BIGINT) AS n_routine,
       CAST(sum(CASE WHEN priority = 'deferred' THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred,
       CAST(max(CASE WHEN contains(coding_impacts, 'DRG_CHANGE') THEN 1 ELSE 0 END) AS INT)
         AS drg_impact_possible,
       CAST(max(CASE WHEN contains(coding_impacts, 'HCC') THEN 1 ELSE 0 END) AS INT)
         AS hcc_impact_possible,
       CAST(round(sum(CASE severity WHEN 'critical' THEN 500.0 WHEN 'high' THEN 150.0
                                    WHEN 'medium' THEN 50.0 ELSE 10.0 END), 2) AS DOUBLE)
         AS revenue_at_risk
FROM cranked q GROUP BY 1"""


_TOKSPLIT_SQL = "[^0-9A-Za-z_]+"


def _search_ctes(queries: list | None = None) -> str:
    qvals = ",\n    ".join(f"({_lit(q)})" for q in (queries or _SEARCH_QUERIES))
    return f"""sq(query) AS (VALUES {qvals}),
qt AS (
  SELECT query, unnest(list_distinct(list_filter(
    string_split_regex(lower(query), '{_TOKSPLIT_SQL}'), t -> len(t) > 0))) AS token
  FROM sq),
dt AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '{_TOKSPLIT_SQL}'), t -> len(t) > 0)) AS token
  FROM documents),
idft AS (
  SELECT token, ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / (count(DISTINCT doc_id) + 1)) + 1.0 AS idf
  FROM dt GROUP BY 1),
dbase AS (
  SELECT doc_id, lower(text) AS cl,
         len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)) AS nsplit
  FROM documents),
kw_scored AS (
  SELECT o.query, o.doc_id,
         round(least(sum(
           (length(b.cl) - length(replace(b.cl, o.token, ''))) / length(o.token)
           / b.nsplit * coalesce(i.idf, 1.0)), 1.0), 6) AS score
  FROM (SELECT DISTINCT d.doc_id, d.token, q.query FROM dt d JOIN qt q USING (token)) o
  LEFT JOIN idft i USING (token) JOIN dbase b USING (doc_id)
  GROUP BY 1, 2),
dvec AS (
  SELECT d.doc_id, d.token, count(*) * 1.0 / max(l.len) * coalesce(max(i.idf), 1.0) AS w
  FROM dt d
  JOIN (SELECT doc_id, count(*) AS len FROM dt GROUP BY 1) l USING (doc_id)
  LEFT JOIN idft i USING (token)
  GROUP BY 1, 2),
dnorm AS (SELECT doc_id, sqrt(sum(w * w)) AS dn FROM dvec GROUP BY 1),
qtok_all AS (
  SELECT query, unnest(list_filter(
    string_split_regex(lower(query), '{_TOKSPLIT_SQL}'), t -> len(t) > 0)) AS token
  FROM sq),
qvec AS (
  SELECT q.query, q.token, count(*) * 1.0 / max(l.len) * coalesce(max(i.idf), 1.0) AS qw
  FROM qtok_all q
  JOIN (SELECT query, count(*) AS len FROM qtok_all GROUP BY 1) l USING (query)
  LEFT JOIN idft i USING (token)
  GROUP BY 1, 2),
qnorm AS (SELECT query, sqrt(sum(qw * qw)) AS qn FROM qvec GROUP BY 1),
sem_scored AS (
  SELECT x.query, x.doc_id, round(x.dot / (qn.qn * dn.dn), 6) AS score
  FROM (SELECT v.query, d.doc_id, sum(d.w * v.qw) AS dot
        FROM dvec d JOIN qvec v USING (token) GROUP BY 1, 2) x
  JOIN qnorm qn USING (query) JOIN dnorm dn USING (doc_id)
  WHERE qn.qn > 0 AND dn.dn > 0 AND round(x.dot / (qn.qn * dn.dn), 6) > 0)"""


def _dedup_cluster_ctes() -> str:
    bands = []
    for b in range(4):
        bands.append(f"SELECT doc_id, {b} AS band_idx, md5(sig_{2*b} || '|' || sig_{2*b+1}) AS bucket FROM sigs")
    banded = "\n  UNION ALL\n  ".join(bands)
    aggs = ", ".join(f"min(md5('{i}|' || shingle)) AS sig_{i}" for i in range(8))
    return f"""{_TOKS_CTE}, {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {aggs} FROM sh GROUP BY doc_id),
banded AS (
  {banded}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band_idx, bucket)
  WHERE a.doc_id < b.doc_id),
dedg AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(v, w) AS (
  SELECT src, dst FROM dedg
  UNION
  SELECT r.v, e.dst FROM reach r JOIN dedg e ON r.w = e.src),
clusters AS (
  SELECT v AS doc_id, least(v, min(w)) AS cluster_id FROM reach GROUP BY v)"""


def _oracle_dedup_clusters() -> str:
    return f"""WITH RECURSIVE {_dedup_cluster_ctes()}
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
FROM clusters"""


def _oracle_dedup_canonical() -> str:
    return f"""WITH RECURSIVE {_dedup_cluster_ctes()}
SELECT d.doc_id, d.n_chars
FROM documents d LEFT JOIN clusters c USING (doc_id)
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id"""


def _oracle_athena_concepts() -> str:
    vocab = _sql_cycle(["SNOMED", "RxNorm", "LOINC", "ICD10CM", "CPT4"], 5)
    domain = _sql_cycle(["Condition", "Drug", "Measurement", "Metadata"], 4)
    return f"""WITH rows_all AS (
  SELECT doc_id + 1000000 AS concept_id,
         'Concept ' || doc_id AS concept_name,
         'CODE' || doc_id AS concept_code,
         {vocab} AS vocabulary_id,
         {domain} AS domain_id,
         'Clinical Finding' AS concept_class_id,
         CASE WHEN doc_id % 2 = 0 THEN 'S' END AS standard_concept
  FROM documents)
SELECT * FROM rows_all
WHERE vocabulary_id IN ('SNOMED', 'RxNorm', 'LOINC')
  AND domain_id IN ('Condition', 'Drug', 'Measurement', 'Procedure',
                    'Observation', 'Device')"""


_EXPECTED_NER = None


def _expected_ner() -> list[tuple]:
    """Fake-model NER over the 10 templates via the same pure-Python
    kernel the Arrow UDF runs."""
    global _EXPECTED_NER
    if _EXPECTED_NER is None:
        from kgnorm import ner

        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for m in ner.postprocess(text, ner.fake_model_fn(text)):
                rows.append((
                    tmpl, m["mention_text"], m["start_offset"], m["end_offset"],
                    m["lexical_variant"], m["assertion"], m["temporality"],
                    m["experiencer"], m["confidence"], m["domain_hint"],
                ))
        _EXPECTED_NER = rows
    return _EXPECTED_NER


def _oracle_ner_mentions() -> str:
    cols = ("tmpl, mention_text, start_offset, end_offset, lexical_variant,"
            " assertion, temporality, experiencer, confidence, domain_hint")
    return f"""WITH {_turns_cte()},
nexp({cols}) AS (VALUES {_values(_expected_ner())})
SELECT t.conv_id, t.turn_idx, e.mention_text,
       CAST(e.start_offset AS INT) AS start_offset,
       CAST(e.end_offset AS INT) AS end_offset,
       e.lexical_variant, e.assertion, e.temporality, e.experiencer,
       CAST(e.confidence AS DOUBLE) AS confidence, e.domain_hint
FROM turns t JOIN nexp e USING (tmpl)"""


def _oracle_report_clinical() -> str:
    from kgnorm.summarizer import CRITICAL_TERMS
    crit_cond = " OR ".join(f"lower(concept_name) LIKE '%{t}%'" for t in CRITICAL_TERMS)
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_prio_cte()}, {_problems_cte()},
top3 AS (
  SELECT conv_id, string_agg(name, ', ' ORDER BY rank) AS problem_str
  FROM ranked_probs WHERE rank <= 3 GROUP BY conv_id),
medc AS (
  SELECT conv_id,
         sum(CASE WHEN assertion <> 'absent' AND temporality <> 'historical'
                  THEN 1 ELSE 0 END) AS med_count
  FROM facts WHERE domain = 'drug' GROUP BY conv_id),
situation AS (
  SELECT f.conv_id,
         CASE WHEN t.problem_str IS NULL
              THEN 'Patient ' || f.conv_id || ' with no significant documented conditions'
              ELSE 'Patient with ' || t.problem_str || ', on ' ||
                   coalesce(m.med_count, 0) || ' medications' END AS one_liner
  FROM (SELECT DISTINCT conv_id FROM facts) f
  LEFT JOIN top3 t USING (conv_id) LEFT JOIN medc m USING (conv_id)),
ptbl AS (
  SELECT conv_id, count(*) AS n_problems,
         string_agg('| ' || name || ' | ' || status || ' |  |', chr(10) ORDER BY rank)
           AS prob_rows
  FROM ranked_probs GROUP BY conv_id),
mtbl AS (
  SELECT conv_id, count(*) AS n_meds,
         string_agg('- ' || concept_name, chr(10)
                    ORDER BY first_turn_idx, first_start_offset, concept_name)
           AS med_rows
  FROM facts WHERE domain = 'drug' GROUP BY conv_id),
crit AS (
  SELECT conv_id, string_agg(line, chr(10) ORDER BY line) AS crit_rows
  FROM (
    SELECT conv_id, '- Critical condition: ' || concept_name AS line
    FROM (SELECT conv_id, concept_name,
                 row_number() OVER (PARTITION BY conv_id
                   ORDER BY first_turn_idx, first_start_offset, concept_name) AS rk
          FROM facts WHERE domain = 'condition' AND ({crit_cond}))
    WHERE rk <= 5)
  GROUP BY conv_id)
SELECT s.conv_id,
  '# Clinical Summary Report' || chr(10) || chr(10) ||
  '**Patient ID:** ' || s.conv_id || '  ' || chr(10) || chr(10) ||
  '## Summary' || chr(10) || chr(10) || s.one_liner || chr(10) ||
  coalesce(chr(10) || '## Problem List' || chr(10) || chr(10) ||
           p.n_problems || ' active problems identified' || chr(10) || chr(10) ||
           '| Problem | Status | ICD-10 |' || chr(10) || '| --- | --- | --- |' || chr(10) ||
           p.prob_rows || chr(10), '') ||
  coalesce(chr(10) || '## Medications' || chr(10) || chr(10) ||
           m.n_meds || ' medications' || chr(10) || chr(10) ||
           m.med_rows || chr(10), '') ||
  coalesce(chr(10) || '## Critical Findings' || chr(10) || chr(10) ||
           c.crit_rows || chr(10), '') AS report_md
FROM situation s LEFT JOIN ptbl p USING (conv_id)
LEFT JOIN mtbl m USING (conv_id) LEFT JOIN crit c USING (conv_id)"""


def _oracle_report_extraction() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()},
m AS (
  SELECT t.conv_id, t.turn_idx, e.start_offset, e.mention_text,
         e.domain_hint, e.omop_concept_id, cast(e.confidence AS double) AS confidence
  FROM turns t JOIN exp e USING (tmpl)),
stats AS (
  SELECT conv_id, count(*) AS total,
         sum(CASE WHEN lower(coalesce(domain_hint, '')) = 'condition' THEN 1 ELSE 0 END) AS n_cond,
         sum(CASE WHEN lower(coalesce(domain_hint, '')) = 'drug' THEN 1 ELSE 0 END) AS n_drug,
         sum(CASE WHEN lower(coalesce(domain_hint, '')) = 'measurement' THEN 1 ELSE 0 END) AS n_meas,
         sum(CASE WHEN lower(coalesce(domain_hint, '')) = 'procedure' THEN 1 ELSE 0 END) AS n_proc,
         printf('%.2f%%', avg(confidence) * 100) AS avg_conf
  FROM m GROUP BY conv_id),
top AS (
  SELECT conv_id,
         string_agg('| ' || substring(mention_text, 1, 50) || ' | ' ||
                    coalesce(domain_hint, '') || ' | ' ||
                    coalesce(cast(omop_concept_id AS varchar), '') || ' | ' ||
                    printf('%.2f%%', confidence * 100) || ' |', chr(10)
                    ORDER BY turn_idx, start_offset, substring(mention_text, 1, 50),
                             coalesce(domain_hint, ''),
                             coalesce(cast(omop_concept_id AS varchar), ''))
           AS mention_rows
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
          ORDER BY turn_idx, start_offset, substring(mention_text, 1, 50),
                   coalesce(domain_hint, ''),
                   coalesce(cast(omop_concept_id AS varchar), '')) AS rk FROM m)
  WHERE rk <= 20 GROUP BY conv_id)
SELECT s.conv_id,
  '# NLP Extraction Report' || chr(10) || chr(10) ||
  '## Extraction Summary' || chr(10) || chr(10) ||
  '| Metric | Value |' || chr(10) || '| --- | --- |' || chr(10) ||
  '| Total Mentions | ' || s.total || ' |' || chr(10) ||
  '| Conditions | ' || s.n_cond || ' |' || chr(10) ||
  '| Medications | ' || s.n_drug || ' |' || chr(10) ||
  '| Measurements | ' || s.n_meas || ' |' || chr(10) ||
  '| Procedures | ' || s.n_proc || ' |' || chr(10) ||
  '| Avg Confidence | ' || s.avg_conf || ' |' || chr(10) || chr(10) ||
  '## Extracted Mentions' || chr(10) || chr(10) ||
  '| Text | Type | OMOP Concept | Confidence |' || chr(10) ||
  '| --- | --- | --- | --- |' || chr(10) ||
  coalesce(t.mention_rows, '') || chr(10) AS report_md
FROM stats s LEFT JOIN top t USING (conv_id)"""


def _oracle_qa_answers() -> str:
    from kgnorm import qa as qa_mod

    qrows = ",\n    ".join(
        f"({_lit(q)}, {_lit(qa_mod.classify_question(q))},"
        f" {_lit('; '.join(qa_mod.FOLLOW_UPS.get(qa_mod.classify_question(q), qa_mod.DEFAULT_FOLLOW_UPS)[:3]))})"
        for q in _QA_QUESTIONS
    )
    aff = " + ".join(f"(CASE WHEN contains(lower(sentence), {_lit(t)}) THEN 1 ELSE 0 END)"
                     for t in qa_mod.AFFIRMATIVE)
    neg = " + ".join(f"(CASE WHEN contains(lower(sentence), {_lit(t)}) THEN 1 ELSE 0 END)"
                     for t in qa_mod.NEGATIVE)
    no_ev = {
        "yes_no": "I couldn't find enough information to answer definitively.",
        "list": "No relevant items found.",
        "temporal": "No temporal information found.",
        "factual": "I couldn't find specific information to answer this question.",
    }
    noev_case = " ".join(f"WHEN {_lit(k)} THEN {_lit(v)}" for k, v in no_ev.items())
    # none of the fixed questions contains a CLINICAL_TERMS entry, so
    # the reference's term-bridge clause (:512-515) is identically false
    # here and relevance is pure token overlap
    return f"""WITH {_search_ctes(_QA_QUESTIONS)},
qmeta(query, qtype, follow_ups) AS (VALUES {qrows}),
hits AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
  FROM (SELECT coalesce(k.query, s.query) AS query,
               coalesce(k.doc_id, s.doc_id) AS doc_id,
               round(CASE WHEN k.score IS NOT NULL AND s.score IS NOT NULL
                          THEN (k.score + s.score) / 2.0
                          ELSE coalesce(k.score, s.score) END, 6) AS score
        FROM kw_scored k FULL JOIN sem_scored s
          ON k.query = s.query AND k.doc_id = s.doc_id)
  WHERE score >= 0.1),
ctx AS (
  SELECT h.query,
         string_agg(substring(d.text, 1, 500), chr(10) || chr(10) ORDER BY h.rank)
           AS context,
         count(*) AS n_sources
  FROM hits h JOIN documents d USING (doc_id)
  WHERE h.rank <= 5 GROUP BY 1),
full_q AS (
  SELECT m.query, m.qtype, m.follow_ups,
         coalesce(c.context, '') AS context,
         CAST(coalesce(c.n_sources, 0) AS INT) AS n_sources
  FROM qmeta m LEFT JOIN ctx c USING (query)),
qtok AS (
  SELECT query,
         list_distinct(list_filter(
           string_split_regex(lower(query), '{_TOKSPLIT_SQL}'),
           t -> len(t) > 0)) AS toks
  FROM qmeta),
sents AS (
  SELECT query, u.sentence, u.ord FROM (
    SELECT f.query,
           unnest(list_transform(string_split_regex(f.context, '[.!?]'),
                                 (x, i) -> {{'sentence': x, 'ord': i}})) AS u
    FROM full_q f)),
rel AS (
  SELECT s.query, trim(s.sentence) AS sentence, s.ord
  FROM sents s JOIN qtok q USING (query)
  WHERE len(list_intersect(
          list_distinct(list_filter(
            string_split_regex(lower(s.sentence), '{_TOKSPLIT_SQL}'),
            t -> len(t) > 0)), q.toks)) > 0),
agg AS (
  SELECT query, count(*) AS n_rel,
         arg_min(sentence, ord) AS first_rel,
         sum({aff}) AS aff, sum({neg}) AS neg
  FROM rel GROUP BY 1)
SELECT f.query AS question, f.n_sources, f.qtype AS question_type,
       CASE WHEN a.n_rel IS NULL THEN CASE f.qtype {noev_case} END
            WHEN f.qtype = 'yes_no' THEN
              CASE WHEN a.aff > a.neg
                   THEN 'Yes, based on the available information. ' || a.first_rel
                   WHEN a.neg > a.aff
                   THEN 'No, based on the available information. ' || a.first_rel
                   ELSE 'The information is inconclusive. Relevant context: ' || a.first_rel
              END
            WHEN f.qtype = 'temporal'
            THEN 'Temporal context from records: ' || a.first_rel
            ELSE 'Based on the clinical records: ' || a.first_rel
       END AS answer,
       CAST(CASE WHEN a.n_rel IS NULL THEN 0.3
                 ELSE round(least(a.n_rel / 5.0, 1.0), 6) END AS DOUBLE) AS confidence,
       -- DuckDB least() skips NULLs, so guard explicitly
       CAST(CASE WHEN a.n_rel IS NULL THEN 0 ELSE least(a.n_rel, 5) END AS INT)
         AS n_evidence,
       f.follow_ups
FROM full_q f LEFT JOIN agg a USING (query)"""


def _oracle_search_keyword() -> str:
    return f"""WITH {_search_ctes()}
SELECT query, doc_id, score, cast(rank AS int) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
      FROM kw_scored WHERE score >= 0.1)
WHERE rank <= 10"""


def _oracle_search_hybrid() -> str:
    return f"""WITH {_search_ctes()},
merged AS (
  SELECT coalesce(k.query, s.query) AS query,
         coalesce(k.doc_id, s.doc_id) AS doc_id,
         round(CASE WHEN k.score IS NOT NULL AND s.score IS NOT NULL
                    THEN (k.score + s.score) / 2.0
                    ELSE coalesce(k.score, s.score) END, 6) AS score
  FROM kw_scored k FULL JOIN sem_scored s
    ON k.query = s.query AND k.doc_id = s.doc_id)
SELECT query, doc_id, score, cast(rank AS int) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank
      FROM merged WHERE score >= 0.1)
WHERE rank <= 10"""


def _oracle_fact_search() -> str:
    from kgnorm import semantic

    def emb_lit(vec):
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + "]"

    qrows = ",\n    ".join(
        f"({_lit(q)}, {emb_lit(semantic.hash_embed(q))})" for q in _FACT_SEARCH_QUERIES
    )
    dot = _DOT.format(a="q.q_emb", b="n.emb")
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
qe(query, q_emb) AS (VALUES {qrows}),
names AS (SELECT DISTINCT concept_name AS name FROM facts),
nemb AS (SELECT name, emb FROM (
  SELECT name, {_name_emb_sql()} AS emb FROM names)),
scored AS (
  SELECT q.query, n.name, round({dot}, 6) AS score
  FROM qe q CROSS JOIN nemb n
  WHERE round({dot}, 6) >= 0.5),
fanned AS (
  SELECT s.query, f.conv_id, s.name, f.domain, f.assertion, f.temporality,
         f.omop_concept_id, s.score
  FROM facts f JOIN scored s ON f.concept_name = s.name)
SELECT query, conv_id, name, domain, assertion, temporality,
       omop_concept_id, score, cast(rank AS int) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query
        ORDER BY score DESC, conv_id, name, omop_concept_id) AS rank FROM fanned)
WHERE rank <= 10"""


def _name_emb_sql() -> str:
    """CASE mapping distinct fixture concept names → embedding literals
    (the name set is closed: every fact concept_name comes from the
    fixture ontology's dictionary)."""
    from kgnorm import semantic

    def emb_lit(vec):
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + "]"

    names = sorted({m[1] for m in _expected_mentions()})
    whens = "\n    ".join(
        f"WHEN {_lit(n)} THEN {emb_lit(semantic.hash_embed(n))}" for n in names
    )
    return f"CASE name\n    {whens}\n    END"


def _oracle_concept_relations() -> str:
    cvals = ",\n    ".join(f"({_lit(c)})" for c in _RELATION_CONCEPTS)
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
cq(query_concept) AS (VALUES {cvals}),
fbase AS (SELECT conv_id, concept_name AS label, domain FROM facts),
anchors AS (
  SELECT c.query_concept, f.* FROM fbase f
  JOIN cq c ON contains(lower(f.label), lower(c.query_concept))),
pairs AS (
  SELECT a.query_concept, a.label, a.domain, o.label AS other_label, o.domain AS other_domain
  FROM anchors a JOIN fbase o USING (conv_id)
  WHERE a.label <> o.label OR a.domain <> o.domain),
rels AS (
  SELECT DISTINCT query_concept,
    CASE WHEN domain = 'condition' AND other_domain = 'drug' THEN other_label
         WHEN domain = 'drug' AND other_domain = 'condition' THEN label
         WHEN domain = 'measurement' AND other_domain = 'condition' THEN label END AS source,
    CASE WHEN domain = 'condition' AND other_domain = 'drug' THEN 'treats'
         WHEN domain = 'drug' AND other_domain = 'condition' THEN 'treats'
         WHEN domain = 'measurement' AND other_domain = 'condition' THEN 'monitors' END AS relationship,
    CASE WHEN domain = 'condition' AND other_domain = 'drug' THEN label
         WHEN domain = 'drug' AND other_domain = 'condition' THEN other_label
         WHEN domain = 'measurement' AND other_domain = 'condition' THEN other_label END AS target
  FROM pairs
  WHERE (domain = 'condition' AND other_domain = 'drug')
     OR (domain = 'drug' AND other_domain = 'condition')
     OR (domain = 'measurement' AND other_domain = 'condition'))
SELECT query_concept, source, relationship, target, cast(rank AS int) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_concept
        ORDER BY source, relationship, target) AS rank FROM rels)
WHERE rank <= 20"""


def _oracle_etl_persons() -> str:
    from kgnorm import etl as etl_mod

    def cyc(vals, mod):
        return _sql_cycle(vals, mod, "p")

    gender = cyc(["male", "female", "female", "unknown", "unknown"], 5)
    gender_concept = cyc([8507, 8532, 8532, 8551, 8551], 5)
    race = cyc(["White", "black", "2028-9", "martian", None], 5)
    race_concept = cyc([8527, 8516, 8515, 8552, 8552], 5)
    eth = cyc(["Hispanic", "not hispanic", "U", "weird", None], 5)
    eth_concept = cyc([38003563, 38003564, 0, 0, 0], 5)
    return f"""WITH pids AS (SELECT DISTINCT doc_id % {_N_PERSONS} AS p FROM documents)
SELECT sha256('person|P' || p) AS person_id,
       CAST({gender_concept} AS BIGINT) AS gender_concept_id,
       CAST(p % 40 + 1950 AS INT) AS year_of_birth,
       CAST(p % 12 + 1 AS INT) AS month_of_birth,
       CAST(p % 28 + 1 AS INT) AS day_of_birth,
       CAST({race_concept} AS BIGINT) AS race_concept_id,
       CAST({eth_concept} AS BIGINT) AS ethnicity_concept_id,
       'P' || p AS person_source_value,
       {gender} AS gender_source_value,
       {race} AS race_source_value,
       {eth} AS ethnicity_source_value
FROM pids"""


def _oracle_etl_visits() -> str:
    concept = _sql_cycle([9201, 9202, 9203, 9202], 4)
    vtype = _sql_cycle(["inpatient", "outpatient", "emergency", "unknown"], 4)
    return f"""SELECT 'V' || doc_id AS visit_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS visit_concept_id,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS start_date,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS end_date,
       CAST(32817 AS BIGINT) AS visit_type_concept_id,
       {vtype} AS visit_source_value
FROM documents"""


def _oracle_etl_procedures() -> str:
    concept = _sql_cycle(
        [_ETL_PROC_CONCEPTS.get(c, 0) for c, _n in _ETL_PROCS], 4)
    src_concept = _sql_cycle(
        [_ETL_PROC_CONCEPTS.get(c) for c, _n in _ETL_PROCS], 4)
    codes = _sql_cycle([c for c, _n in _ETL_PROCS], 4)
    return f"""SELECT 'M' || doc_id || '-PR1-0' AS procedure_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS procedure_concept_id,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS proc_date,
       CAST(32817 AS BIGINT) AS procedure_type_concept_id,
       CAST(1 AS INT) AS quantity,
       'CPT4:' || {codes} AS procedure_source_value,
       CAST({src_concept} AS BIGINT) AS procedure_source_concept_id
FROM documents"""


def _oracle_etl_observations() -> str:
    from kgnorm import etl as etl_mod

    vals = _sql_cycle(_OBS_VALUES, 6)
    val_concepts = _sql_cycle(
        [etl_mod.VALUE_CONCEPT_MAP.get(v) for v in _OBS_VALUES], 6)
    codes = _sql_cycle(["4548-4", "ZZZ-OBS"], 2)
    concept = _sql_cycle([3004410, 0], 2)
    src_concept = _sql_cycle([3004410, None], 2)
    return f"""SELECT 'OB' || doc_id AS observation_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS observation_concept_id,
       CAST(32817 AS BIGINT) AS observation_type_concept_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 50) / 10.0 END AS DOUBLE)
         AS value_as_number,
       {vals} AS value_as_string,
       CAST({val_concepts} AS BIGINT) AS value_as_concept_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 8554 END AS BIGINT) AS unit_concept_id,
       'LOINC:' || {codes} AS observation_source_value,
       CAST({src_concept} AS BIGINT) AS observation_source_concept_id,
       {vals} AS value_source_value
FROM documents"""


def _oracle_etl_deaths() -> str:
    return f"""WITH p AS (
  SELECT DISTINCT doc_id % {_N_PERSONS} AS p FROM documents)
SELECT CAST(p + 1 AS BIGINT) AS person_id,
       printf('2024-%02d-%02d', p % 12 + 1, p % 28 + 1) AS death_date,
       CAST(([32817, 32886, 32879, 32817])[(p % 4) + 1] AS BIGINT)
         AS death_type_concept_id,
       CAST(CASE WHEN p % 2 = 0 THEN 201826 ELSE 0 END AS BIGINT) AS cause_concept_id,
       'ICD10CM:' || (['E11.9', 'X99'])[(p % 2) + 1] AS cause_source_value,
       CAST(CASE WHEN p % 2 = 0 THEN 45500001 END AS BIGINT) AS cause_source_concept_id
FROM p WHERE p % 10 = 0"""


_EXPECTED_SENTENCES = None


def _expected_sentences() -> list[tuple]:
    """Pure-Python segmentation over the 10 templates (the same kernel
    the Arrow UDF runs)."""
    global _EXPECTED_SENTENCES
    if _EXPECTED_SENTENCES is None:
        from kgnorm import sentences as sent_mod

        rows = []
        for tmpl, text in enumerate(synth.note_templates()):
            for i, (st, en, sent) in enumerate(sent_mod.segment_sentences(text)):
                rows.append((tmpl, i, st, en, sent))
        _EXPECTED_SENTENCES = rows
    return _EXPECTED_SENTENCES


def _oracle_sentence_spans() -> str:
    return f"""WITH {_turns_cte()},
sents(tmpl, sent_idx, start, "end", sentence) AS (
  VALUES {_values(_expected_sentences())})
SELECT t.conv_id, t.turn_idx, s.sent_idx,
       CAST(s.start AS INT) AS start, CAST(s."end" AS INT) AS "end", s.sentence
FROM turns t JOIN sents s USING (tmpl)"""


def _oracle_summary_sbar() -> str:
    return f"""WITH {_turns_cte()}, {_exp_cte()}, {_fi_cte()}, {_facts_cte()},
{_prio_cte()}, {_problems_cte()},
top3 AS (
  SELECT conv_id, string_agg(name, ', ' ORDER BY rank) AS problem_str
  FROM ranked_probs WHERE rank <= 3 GROUP BY conv_id
),
medc AS (
  SELECT conv_id,
         sum(CASE WHEN assertion <> 'absent' AND temporality <> 'historical'
                  THEN 1 ELSE 0 END) AS med_count
  FROM facts WHERE domain = 'drug' GROUP BY conv_id
),
situation AS (
  SELECT f.conv_id,
         CASE WHEN t.problem_str IS NULL
              THEN 'Patient ' || f.conv_id || ' with no significant documented conditions'
              ELSE 'Patient with ' || t.problem_str || ', on ' ||
                   coalesce(m.med_count, 0) || ' medications' END AS one_liner
  FROM (SELECT DISTINCT conv_id FROM facts) f
  LEFT JOIN top3 t USING (conv_id) LEFT JOIN medc m USING (conv_id)
),
pmh AS (
  SELECT conv_id, string_agg(name, ', ' ORDER BY rank) AS background
  FROM ranked_probs WHERE status IN ('chronic', 'resolved') GROUP BY conv_id
),
assessment AS (
  SELECT conv_id,
         string_agg('- ' || name || ' (' || status || ')', chr(10) ORDER BY rank)
           AS assessment
  FROM ranked_probs WHERE rank <= 5 GROUP BY conv_id
),
pend AS (
  SELECT conv_id, item,
         row_number() OVER (PARTITION BY conv_id
           ORDER BY first_turn_idx, first_start_offset, concept_name) AS rk
  FROM (
    SELECT conv_id, first_turn_idx, first_start_offset, concept_name,
           CASE WHEN temporality = 'future' THEN 'Pending: ' || concept_name
                WHEN contains(lower(concept_name), 'pending')
                     OR contains(lower(concept_name), 'ordered')
                THEN concept_name END AS item
    FROM facts) WHERE item IS NOT NULL
),
fup AS (
  SELECT conv_id, item, row_number() OVER (PARTITION BY conv_id ORDER BY rank) AS rk
  FROM (
    SELECT conv_id, rank,
           CASE WHEN status = 'uncontrolled' THEN 'Follow up on ' || name
                WHEN status = 'acute' THEN 'Close monitoring for ' || name
           END AS item
    FROM ranked_probs) WHERE item IS NOT NULL
),
rec AS (
  SELECT conv_id, string_agg(line, chr(10) ORDER BY grp, rk) AS recommendation
  FROM (
    SELECT conv_id, '- ' || item AS line, 0 AS grp, rk FROM pend WHERE rk <= 3
    UNION ALL
    SELECT conv_id, '- ' || item AS line, 1 AS grp, rk FROM fup WHERE rk <= 3)
  GROUP BY conv_id
)
SELECT s.conv_id,
       chr(10) || '**SITUATION**' || chr(10) || s.one_liner ||
       chr(10) || chr(10) || '**BACKGROUND**' || chr(10) ||
       coalesce(p.background, 'No significant past medical history') ||
       chr(10) || chr(10) || '**ASSESSMENT**' || chr(10) ||
       coalesce(a.assessment, 'Stable') ||
       chr(10) || chr(10) || '**RECOMMENDATION**' || chr(10) ||
       coalesce(r.recommendation, 'Continue current plan') || chr(10) AS sbar
FROM situation s LEFT JOIN pmh p USING (conv_id)
LEFT JOIN assessment a USING (conv_id) LEFT JOIN rec r USING (conv_id)"""


def _oracle_db_source_records() -> str:
    codes = _sql_cycle([c for c, _n in _ETL_COND_CODES], 8)
    names = _sql_cycle([n for _c, n in _ETL_COND_CODES], 8)
    status = _sql_cycle(["active", "resolved", "inactive", "unknown"], 4)
    return f"""SELECT 'DX' || doc_id AS source_id,
       'database' AS source_system,
       'P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {codes} AS code,
       'ICD10CM' AS code_system,
       {names} AS display_text,
       {status} AS status,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS onset_date
FROM documents"""


def _oracle_ccda_conditions() -> str:
    codes = _sql_cycle([c for c, _n in _ETL_COND_CODES], 8)
    names = _sql_cycle([n for _c, n in _ETL_COND_CODES], 8)
    status = _sql_cycle(["active", "resolved", "inactive"], 3)
    return f"""SELECT 'mrn^P' || (doc_id % {_N_PERSONS}) || '_prob_0' AS source_id,
       'ccda' AS source_system,
       'mrn^P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {codes} AS code,
       'ICD10CM' AS code_system,
       {names} AS display_text,
       {status} AS status,
       CAST(NULL AS VARCHAR) AS onset_date
FROM documents"""


def _oracle_ccda_labs() -> str:
    loinc = _sql_cycle([c for c, _n, _i in _ETL_LABS], 4)
    names = _sql_cycle([n for _c, n, _i in _ETL_LABS], 4)
    units = _sql_cycle(_ETL_UNITS, 5)
    interp = _sql_cycle(["H", "L", "N"], 3)
    return f"""SELECT 'mrn^P' || (doc_id % {_N_PERSONS}) || '_lab_0_0' AS source_id,
       'ccda' AS source_system,
       'mrn^P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {loinc} AS code,
       'LOINC' AS code_system,
       {names} AS display_text,
       CAST((doc_id % 100) / 10.0 AS DOUBLE) AS value_numeric,
       CAST(NULL AS VARCHAR) AS value_text,
       {units} AS unit,
       {interp} AS interpretation
FROM documents"""


def _oracle_hl7_conditions() -> str:
    codes = _sql_cycle([c for c, _n in _ETL_COND_CODES], 8)
    names = _sql_cycle([n for _c, n in _ETL_COND_CODES], 8)
    cats = _sql_cycle(["F", "A", "W"], 3)
    return f"""SELECT 'M' || doc_id || '-DG1-0' AS source_id,
       'hl7v2' AS source_system,
       'P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {codes} AS code,
       'ICD10CM' AS code_system,
       {names} AS display_text,
       'active' AS status,
       {cats} AS category,
       CAST(NULL AS VARCHAR) AS onset_date
FROM documents"""


def _oracle_hl7_measurements() -> str:
    loinc = _sql_cycle([c for c, _n, _i in _ETL_LABS], 4)
    names = _sql_cycle([n for _c, n, _i in _ETL_LABS], 4)
    units = _sql_cycle(_ETL_UNITS, 5)
    interp = _sql_cycle(["H", "L", "N"], 3)
    return f"""SELECT 'M' || doc_id || '-OBX-0' AS source_id,
       'hl7v2' AS source_system,
       'P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {loinc} AS code,
       'LOINC' AS code_system,
       {names} AS display_text,
       CAST((doc_id % 100) / 10.0 AS DOUBLE) AS value_numeric,
       CAST(NULL AS VARCHAR) AS value_text,
       {units} AS unit,
       CAST(0.5 AS DOUBLE) AS range_low,
       CAST(9.5 AS DOUBLE) AS range_high,
       {interp} AS interpretation
FROM documents"""


def _oracle_lab_causes() -> str:
    from kgnorm import labs

    _ranges, causes = labs.load_lab_reference()
    cause_rows = []
    for code, dirs in causes.items():
        for direction, lst in dirs.items():
            cause_rows.append((code.lower(), direction, "; ".join(lst)))
    return f"""WITH interp AS (
{_oracle_lab_interpret()}
),
cdim(code_l, direction, causes) AS (VALUES {_values(cause_rows)})
SELECT i.conv_id, i.turn_idx, i.name, i.value, i.test_code, i.level, c.causes
FROM interp i
JOIN cdim c ON lower(i.test_code) = c.code_l
           AND c.direction = CASE WHEN i.level IN ('low', 'critical_low') THEN 'low'
                                  WHEN i.level IN ('high', 'critical_high') THEN 'high' END"""


def _oracle_source_records_csv() -> str:
    codes = _sql_cycle([c for c, _n in _ETL_COND_CODES], 8)
    names = _sql_cycle([n for _c, n in _ETL_COND_CODES], 8)
    status = _sql_cycle(_ETL_COND_STATUS_MAPPED, 5)
    return f"""SELECT 'DX' || doc_id AS source_id,
       'csv' AS source_system,
       'P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {codes} AS code,
       'ICD10CM' AS code_system,
       {names} AS display_text,
       {status} AS status,
       CASE WHEN doc_id % 2 = 0
            THEN printf('2024-%02d-%02d %02d:00:00', doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24)
            ELSE printf('2024-%02d-%02d 00:00:00', doc_id % 12 + 1, doc_id % 28 + 1)
       END AS onset_ts
FROM documents"""


def _oracle_source_records_fhir() -> str:
    codes = _sql_cycle([c for c, _n, _i in _ETL_DRUGS], 6)
    names = _sql_cycle([n for _c, n, _i in _ETL_DRUGS], 6)
    status = _sql_cycle(_ETL_DRUG_STATUS_MAPPED, 5)
    routes = _sql_cycle(_ETL_ROUTES, 5)
    return f"""SELECT 'm' || doc_id AS source_id,
       'fhir' AS source_system,
       'P' || (doc_id % {_N_PERSONS}) AS patient_source_id,
       {codes} AS code,
       'RxNorm' AS code_system,
       {names} AS display_text,
       {status} AS status,
       printf('2024-%02d-%02d 00:00:00', doc_id % 12 + 1, doc_id % 28 + 1) AS start_ts,
       CASE WHEN doc_id % 3 = 0
            THEN printf('2024-%02d-28 00:00:00', doc_id % 12 + 1) END AS end_ts,
       CAST((doc_id % 8 + 1) * 50 AS DOUBLE) AS dose_value,
       'mg' AS dose_unit,
       {routes} AS route,
       printf('%d mg daily', (doc_id % 8 + 1) * 50) AS sig
FROM documents"""


def _oracle_etl_conditions() -> str:
    concept = _sql_cycle([sid for _c, _code, sid, _sn in _ETL_COND_DIMS] + [0], 8)
    src_concept = _sql_cycle([cid for cid, _c, _s, _n in _ETL_COND_DIMS] + [None], 8)
    codes = _sql_cycle([c for c, _n in _ETL_COND_CODES], 8)
    status = _sql_cycle(_ETL_COND_STATUS_MAPPED, 5)
    status_concept = _sql_cycle(
        [_ETL_STATUS_CONCEPT.get(sm) for sm in _ETL_COND_STATUS_MAPPED], 5)
    return f"""SELECT 'DX' || doc_id AS condition_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS condition_concept_id,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS start_date,
       CASE WHEN doc_id % 2 = 0
            THEN printf('2024-%02d-%02d %02d:00:00', doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24)
            ELSE printf('2024-%02d-%02d 00:00:00', doc_id % 12 + 1, doc_id % 28 + 1)
       END AS start_ts,
       CAST(32817 AS BIGINT) AS condition_type_concept_id,
       CAST({status_concept} AS BIGINT) AS condition_status_concept_id,
       'ICD10CM:' || {codes} AS condition_source_value,
       CAST({src_concept} AS BIGINT) AS condition_source_concept_id,
       {status} AS condition_status_source_value
FROM documents"""


def _oracle_etl_drugs() -> str:
    concept = _sql_cycle([cid for _c, _n, cid in _ETL_DRUGS], 6)
    codes = _sql_cycle([c for c, _n, _i in _ETL_DRUGS], 6)
    routes = _sql_cycle(_ETL_ROUTES, 5)
    route_concept = _sql_cycle(_ETL_ROUTE_CONCEPT, 5)
    return f"""SELECT 'm' || doc_id AS drug_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS drug_concept_id,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS start_date,
       CASE WHEN doc_id % 3 = 0 THEN printf('2024-%02d-28', doc_id % 12 + 1)
            ELSE strftime(make_date(2024, CAST(doc_id % 12 + 1 AS INT),
                                    CAST(doc_id % 28 + 1 AS INT)) + INTERVAL 30 DAY,
                          '%Y-%m-%d')
       END AS end_date,
       CAST(32817 AS BIGINT) AS drug_type_concept_id,
       CAST((doc_id % 8 + 1) * 50 AS DOUBLE) AS quantity,
       CASE WHEN doc_id % 3 = 0 THEN CAST(28 - (doc_id % 28 + 1) AS INT) END AS days_supply,
       printf('%d mg daily', (doc_id % 8 + 1) * 50) AS sig,
       CAST({route_concept} AS BIGINT) AS route_concept_id,
       'RxNorm:' || {codes} AS drug_source_value,
       CAST({concept} AS BIGINT) AS drug_source_concept_id,
       {routes} AS route_source_value,
       'mg' AS dose_unit_source_value
FROM documents"""


def _oracle_etl_measurements() -> str:
    concept = _sql_cycle([cid if cid else 0 for _c, _n, cid in _ETL_LABS], 4)
    src_concept = _sql_cycle([cid for _c, _n, cid in _ETL_LABS], 4)
    loinc = _sql_cycle([c for c, _n, _i in _ETL_LABS], 4)
    units = _sql_cycle(_ETL_UNITS, 5)
    unit_concept = _sql_cycle(_ETL_UNIT_CONCEPT, 5)
    return f"""SELECT 'L' || doc_id AS measurement_source_id,
       CAST(doc_id % {_N_PERSONS} + 1 AS BIGINT) AS person_id,
       CAST({concept} AS BIGINT) AS measurement_concept_id,
       printf('2024-%02d-%02d', doc_id % 12 + 1, doc_id % 28 + 1) AS meas_date,
       CAST(32856 AS BIGINT) AS measurement_type_concept_id,
       CAST(CASE doc_id % 7 WHEN 0 THEN 4171756 WHEN 1 THEN 4171756
                            WHEN 2 THEN 4172703 END AS BIGINT) AS operator_concept_id,
       CAST(CASE doc_id % 7 WHEN 0 THEN (doc_id % 50) / 10.0
                            WHEN 2 THEN (doc_id % 50) / 10.0
                            ELSE (doc_id % 100) / 10.0 END AS DOUBLE) AS value_as_number,
       CAST({unit_concept} AS BIGINT) AS unit_concept_id,
       CAST(0.5 AS DOUBLE) AS range_low,
       CAST((doc_id % 10) + 1.0 AS DOUBLE) AS range_high,
       'LOINC:' || {loinc} AS measurement_source_value,
       CAST({src_concept} AS BIGINT) AS measurement_source_concept_id,
       {units} AS unit_source_value,
       CASE doc_id % 7 WHEN 0 THEN printf('<%.1f', (doc_id % 50) / 10.0)
                       WHEN 1 THEN printf('<=%.1f', (doc_id % 50) / 10.0)
                       WHEN 2 THEN printf('=%.1f', (doc_id % 50) / 10.0)
       END AS value_source_value
FROM documents"""


def _oracle_pricing_summary() -> str:
    return """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY 1, 2"""


def _oracle_customer_order_stats() -> str:
    return """SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       count(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1"""


def _oracle_rank_topk_orders() -> str:
    return """SELECT o_custkey, o_orderkey, o_totalprice, cast(rk AS int) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders)
WHERE rk <= 3"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline on sf0.001-derived transcripts."""
    _ensure_shipped(spark)
    return _q_kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _shipping(fn) for k, fn in _QUERY_FNS.items()}


_QUERY_FNS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # ORDER = driver-sweep priority (the driver checks the first
        # ~50 entries per round).  r6 rotation: the 11 queries whose
        # latest driver row is r1-r3-era first (r5 verdict #1), then
        # every query downstream of this round's optimized code
        # (extraction batch kernel, canonicalize_facts split, graph),
        # then the r4-checked rows, then the r5-checked remainder.
        # --- r1-r3-era driver rows (stalest) ---
        "ccda_conditions": _q_ccda_conditions,
        "ccda_labs": _q_ccda_labs,
        "db_source_records": _q_db_source_records,
        "hl7_conditions": _q_hl7_conditions,
        "hl7_measurements": _q_hl7_measurements,
        "kg_candidates": _q_kg_candidates,
        "kg_mentions": _q_kg_mentions,
        "lab_causes": _q_lab_causes,
        "sentence_spans": _q_sentence_spans,
        "stream_mentions": _q_stream_mentions,
        "summary_sbar": _q_summary_sbar,
        # --- downstream of code optimized this round ---
        "kg_facts": _q_kg_facts,
        "kg_triples": _q_kg_triples,
        "kg_domain_counts": _q_kg_domain_counts,
        "kg_nodes": _q_kg_nodes,
        "graph_read": _q_graph_read,
        "facts_incremental": _q_facts_incremental,
        "stream_facts": _q_stream_facts,
        "kg_canonical_triples": _q_kg_canonical_triples,
        "kg_canonical": _q_kg_canonical,
        "kg_positive_facts": _q_kg_positive_facts,
        "omop_note_nlp": _q_omop_note_nlp,
        "kg_ensemble_mentions": _q_kg_ensemble_mentions,
        "kg_advanced_mentions": _q_kg_advanced_mentions,
        "kg_mentions_enhanced": _q_kg_mentions_enhanced,
        "link_cascade": _q_link_cascade,
        "link_semantic": _q_link_semantic,
        "ner_mentions": _q_ner_mentions,
        # --- r4-checked rows ---
        "summary_critical_combined": _q_summary_critical_combined,
        "stage_lineage": _q_stage_lineage,
        "nlp_dictionary": _q_nlp_dictionary,
        "etl_measurements": _q_etl_measurements,
        "code_mapping": _q_code_mapping,
        "drug_interactions": _q_drug_interactions,
        "interaction_check": _q_interaction_check,
        "icd10_suggest": _q_icd10_suggest,
        "cpt_suggest": _q_cpt_suggest,
        "differential_dx": _q_differential_dx,
        "doc_gaps": _q_doc_gaps,
        "doc_gap_rollup": _q_doc_gap_rollup,
        "billing_bundling": _q_billing_bundling,
        "billing_necessity": _q_billing_necessity,
        "kg_drug_interactions": _q_kg_drug_interactions,
        "safety_contraindications": _q_safety_contraindications,
        "safety_check": _q_safety_check,
        "hcc_opportunities": _q_hcc_opportunities,
        "hcc_raf": _q_hcc_raf,
        "rank_topk_orders": _q_rank_topk_orders,
        "dedup_exact": _q_dedup_exact,
        "text_quality": _q_text_quality,
        "lang_id": _q_lang_id,
        "token_stats": _q_token_stats,
        "fingerprints": _q_fingerprints,
        "minhash_signatures": _q_minhash_signatures,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "simhash": _q_simhash,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "embedding_dup_pairs": _q_embedding_dup_pairs,
        "clinical_values": _q_clinical_values,
        "lab_interpret": _q_lab_interpret,
        "pattern_entities": _q_pattern_entities,
        # --- r5-checked (freshest) ---
        "multimodal_features": _q_multimodal_features,
        "frame_sample": _q_frame_sample,
        "events_tumbling": _q_events_tumbling,
        "events_sessionize": _q_events_sessionize,
        "normalize_terms": _q_normalize_terms,
        "kg_relations": _q_kg_relations,
        "fhir_export": _q_fhir_export,
        "search_keyword": _q_search_keyword,
        "search_hybrid": _q_search_hybrid,
        "qa_answers": _q_qa_answers,
        "fact_search": _q_fact_search,
        "concept_relations": _q_concept_relations,
        "quality_trend": _q_quality_trend,
        "quality_trend_prefix": _q_quality_trend_prefix,
        "risk_scores": _q_risk_scores,
        "quality_rollup": _q_quality_rollup,
        "accuracy_prf": _q_accuracy_prf,
        "pattern_relations": _q_pattern_relations,
        "treats_edges": _q_treats_edges,
        "pricing_summary": _q_pricing_summary,
        "customer_order_stats": _q_customer_order_stats,
        "source_records_csv": _q_source_records_csv,
        "source_records_fhir": _q_source_records_fhir,
        "etl_conditions": _q_etl_conditions,
        "etl_drugs": _q_etl_drugs,
        "etl_persons": _q_etl_persons,
        "etl_visits": _q_etl_visits,
        "etl_procedures": _q_etl_procedures,
        "etl_observations": _q_etl_observations,
        "etl_deaths": _q_etl_deaths,
        "summary_problems": _q_summary_problems,
        "summary_one_liner": _q_summary_one_liner,
        "summary_medications": _q_summary_medications,
        "summary_critical": _q_summary_critical,
        "summary_rollup": _q_summary_rollup,
        "cdi_queries": _q_cdi_queries,
        "cdi_batch": _q_cdi_batch,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_canonical": _q_dedup_canonical,
        "report_clinical": _q_report_clinical,
        "report_extraction": _q_report_extraction,
        "athena_concepts": _q_athena_concepts,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_advanced_mentions": _oracle_kg_advanced_mentions(),
        "risk_scores": _oracle_risk_scores(),
        "quality_rollup": _oracle_quality_rollup(),
        "quality_trend": _oracle_quality_trend(),
        "quality_trend_prefix": _oracle_quality_trend_prefix(),
        "accuracy_prf": _oracle_accuracy_prf(),
        "pattern_relations": _oracle_pattern_relations(),
        "treats_edges": _oracle_treats_edges(),
        "kg_canonical_triples": _oracle_kg_canonical_triples(),
        "kg_positive_facts": _oracle_kg_positive_facts(),
        "pricing_summary": _oracle_pricing_summary(),
        "customer_order_stats": _oracle_customer_order_stats(),
        "source_records_csv": _oracle_source_records_csv(),
        "source_records_fhir": _oracle_source_records_fhir(),
        "etl_conditions": _oracle_etl_conditions(),
        "etl_drugs": _oracle_etl_drugs(),
        "etl_measurements": _oracle_etl_measurements(),
        "etl_persons": _oracle_etl_persons(),
        "etl_visits": _oracle_etl_visits(),
        "etl_procedures": _oracle_etl_procedures(),
        "etl_observations": _oracle_etl_observations(),
        "etl_deaths": _oracle_etl_deaths(),
        "summary_problems": _oracle_summary_problems(),
        "summary_one_liner": _oracle_summary_one_liner(),
        "summary_medications": _oracle_summary_medications(),
        "summary_critical": _oracle_summary_critical(),
        "summary_critical_combined": _oracle_summary_critical_combined(),
        "stage_lineage": _oracle_stage_lineage(),
        # the stateful streaming accumulator must converge to the FULL
        # batch facts — deliberately the same oracle as kg_facts
        "stream_facts": _oracle_kg_facts(),
        "graph_read": _oracle_graph_read(),
        "nlp_dictionary": _oracle_nlp_dictionary(),
        "summary_rollup": _oracle_summary_rollup(),
        "cdi_queries": _oracle_cdi_queries(),
        "cdi_batch": _oracle_cdi_batch(),
        "search_keyword": _oracle_search_keyword(),
        "search_hybrid": _oracle_search_hybrid(),
        "fact_search": _oracle_fact_search(),
        "concept_relations": _oracle_concept_relations(),
        "qa_answers": _oracle_qa_answers(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "dedup_canonical": _oracle_dedup_canonical(),
        "report_clinical": _oracle_report_clinical(),
        "report_extraction": _oracle_report_extraction(),
        "athena_concepts": _oracle_athena_concepts(),
        "lab_causes": _oracle_lab_causes(),
        "hl7_conditions": _oracle_hl7_conditions(),
        "hl7_measurements": _oracle_hl7_measurements(),
        "ccda_conditions": _oracle_ccda_conditions(),
        "ccda_labs": _oracle_ccda_labs(),
        "db_source_records": _oracle_db_source_records(),
        "sentence_spans": _oracle_sentence_spans(),
        "summary_sbar": _oracle_summary_sbar(),
        "stream_mentions": _oracle_kg_mentions(),
        "ner_mentions": _oracle_ner_mentions(),
        "kg_mentions": _oracle_kg_mentions(),
        "kg_candidates": _oracle_kg_candidates(),
        "kg_facts": _oracle_kg_facts(),
        # the incremental MERGE must reproduce the FULL batch build —
        # deliberately the same oracle as kg_facts
        "facts_incremental": _oracle_kg_facts(),
        "kg_triples": _oracle_kg_triples(),
        "kg_domain_counts": _oracle_kg_domain_counts(),
        "kg_nodes": _oracle_kg_nodes(),
        "omop_note_nlp": _oracle_omop_note_nlp(),
        "link_cascade": _oracle_link_cascade(),
        "link_semantic": _oracle_link_semantic(),
        "code_mapping": _oracle_code_mapping(),
        "drug_interactions": _oracle_drug_interactions(),
        "interaction_check": _oracle_interaction_check(),
        "icd10_suggest": _oracle_icd10_suggest(),
        "cpt_suggest": _oracle_cpt_suggest(),
        "differential_dx": _oracle_differential_dx(),
        "doc_gaps": _oracle_doc_gaps(),
        "doc_gap_rollup": _oracle_doc_gap_rollup(),
        "billing_bundling": _oracle_billing_bundling(),
        "billing_necessity": _oracle_billing_necessity(),
        "kg_drug_interactions": _oracle_kg_drug_interactions(),
        "safety_contraindications": _oracle_safety_contraindications(),
        "safety_check": _oracle_safety_check(),
        "hcc_opportunities": _oracle_hcc_opportunities(),
        "hcc_raf": _oracle_hcc_raf(),
        "kg_canonical": _oracle_kg_canonical(),
        "rank_topk_orders": _oracle_rank_topk_orders(),
        "dedup_exact": _oracle_dedup_exact(),
        "text_quality": _oracle_text_quality(),
        "lang_id": _oracle_lang_id(),
        "token_stats": _oracle_token_stats(),
        "fingerprints": _oracle_fingerprints(),
        "minhash_signatures": _oracle_minhash_signatures(),
        "minhash_lsh_pairs": _oracle_minhash_lsh_pairs(),
        "ngram_jaccard_pairs": _oracle_ngram_jaccard_pairs(),
        "simhash": _oracle_simhash(),
        "cosine_topk": _oracle_cosine_topk(),
        "ann_lsh_topk": _oracle_ann_lsh_topk(),
        "embedding_dup_pairs": _oracle_embedding_dup_pairs(),
        "multimodal_features": _oracle_multimodal_features(),
        "frame_sample": _oracle_frame_sample(),
        "events_tumbling": _oracle_events_tumbling(),
        "events_sessionize": _oracle_events_sessionize(),
        "clinical_values": _oracle_clinical_values(),
        "lab_interpret": _oracle_lab_interpret(),
        "pattern_entities": _oracle_pattern_entities(),
        "kg_ensemble_mentions": _oracle_kg_ensemble_mentions(),
        "normalize_terms": _oracle_normalize_terms(),
        "kg_relations": _oracle_kg_relations(),
        "fhir_export": _oracle_fhir_export(),
        "kg_mentions_enhanced": _oracle_kg_mentions_enhanced(),
    }

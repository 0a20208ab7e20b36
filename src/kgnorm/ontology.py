"""Ontology (vocabulary) loading, dictionary construction, broadcast.

Reproduces the reference's vocabulary semantics (backend/app/services/
vocabulary.py:104-202):

* curated clinical abbreviations load FIRST and own their lowercase
  synonyms (first-wins priority);
* OMOP fixture concepts load second, with synonyms already claimed by the
  curated set filtered out; a concept whose synonyms are all claimed is
  skipped entirely;
* the extraction dictionary maps ``lower(synonym) → (synonym, domain_id,
  concept_id)``, first occurrence wins (nlp_rule_based.py:244-266).

Spark-first design: the dictionary is a plain list of entries built on
the driver and shipped to executors as a **broadcast variable**; each
executor Python worker lazily builds (and caches) the Aho-Corasick
automaton from it (SURVEY §4 — the reference's process-singleton
vocabulary becomes a broadcast).

Production-scale loaders for Athena CSV exports (CONCEPT.csv /
CONCEPT_SYNONYM.csv / CONCEPT_RELATIONSHIP.csv — reference:
backend/app/scripts/load_omop_vocabulary.py:37-120,
load_concept_relationships.py:33-140) are provided as declarative Spark
scans with pushed-down filters; at 5.36M concepts the filtered NLP subset
(≤150k, nlp_vocabulary.py:37) stays broadcastable (< ~30 MB).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from kgnorm import schemas

def _default_data_dir() -> str:
    env = os.environ.get("KGNORM_DATA_DIR")
    if env:
        return env
    here = os.path.dirname(os.path.abspath(__file__))
    repo_data = os.path.join(os.path.dirname(os.path.dirname(here)), "data")
    if os.path.isdir(repo_data):
        return repo_data
    # --py-files zip layout (tools/make_pyfiles.py): kgnorm_data/ beside the package
    return os.path.join(os.path.dirname(here), "kgnorm_data")


DATA_DIR = _default_data_dir()

# Vocabularies/domains kept by the Athena bulk loader
# (load_omop_vocabulary.py:47-58).
ATHENA_VOCABULARIES = ("SNOMED", "RxNorm", "LOINC")
ATHENA_DOMAINS = ("Condition", "Drug", "Measurement", "Procedure", "Observation", "Device")
MAX_NLP_CONCEPTS = 150_000  # nlp_vocabulary.py:37


@dataclass(frozen=True)
class Ontology:
    """Driver-side ontology bundle.

    ``dictionary`` is the ordered list of AC entries
    ``(lower_synonym, (synonym, domain_id, concept_id))``;
    ``concepts``/``synonyms`` are row dicts for building dimension
    DataFrames (and the in-test oracle).
    """

    dictionary: list[tuple[str, tuple[str, str, int]]]
    concepts: list[dict]
    synonyms: list[dict]
    relationships: list[dict]


def load_fixture_ontology(data_dir: str | None = None) -> Ontology:
    """Load the fixture vocabulary with reference-parity priority rules."""
    d = data_dir or DATA_DIR
    with open(os.path.join(d, "clinical_abbreviations.json")) as f:
        abbrev = json.load(f)
    with open(os.path.join(d, "omop_vocabulary.json")) as f:
        vocab = json.load(f)
    rel_path = os.path.join(d, "concept_relationships.json")
    relationships: list[dict] = []
    if os.path.exists(rel_path):
        with open(rel_path) as f:
            relationships = json.load(f)["relationships"]

    dictionary: list[tuple[str, tuple[str, str, int]]] = []
    curated: set[str] = set()

    # 1. curated abbreviations first (vocabulary.py:114-117, 161-197)
    for term in abbrev.get("terms", []):
        name, synonyms = term.get("name", ""), term.get("synonyms", [])
        if not name or not synonyms:
            continue
        domain = term.get("domain", "Observation")
        concept_id = term.get("omop_concept_id", 0)
        for syn in synonyms:
            key = syn.lower()
            curated.add(key)
            dictionary.append((key, (syn, domain, concept_id)))

    # 2. OMOP fixture concepts, curated-claimed synonyms filtered out
    #    (vocabulary.py:119-151)
    concepts: list[dict] = []
    synonyms_rows: list[dict] = []
    for c in vocab.get("concepts", []):
        concepts.append({
            "concept_id": c["concept_id"],
            "concept_name": c["concept_name"],
            "concept_code": c.get("concept_code"),
            "vocabulary_id": c.get("vocabulary_id"),
            "domain_id": c.get("domain_id"),
            "concept_class_id": c.get("concept_class_id"),
            "standard_concept": c.get("standard_concept"),
        })
        for syn in c.get("synonyms", []):
            synonyms_rows.append({
                "concept_id": c["concept_id"],
                "concept_synonym_name": syn,
                "language_concept_id": 4180186,
            })
        remaining = [s for s in c.get("synonyms", []) if s.lower() not in curated]
        if not remaining:
            continue
        for syn in remaining:
            dictionary.append((syn.lower(), (syn, c.get("domain_id"), c["concept_id"])))

    return Ontology(
        dictionary=dictionary,
        concepts=concepts,
        synonyms=synonyms_rows,
        relationships=relationships,
    )


def enhanced_dictionary(ontology: Ontology) -> list[tuple[str, tuple[str, str, int]]]:
    """Dictionary with synonym-expansion set union applied
    (vocabulary_enhanced.py:229-295 via :mod:`kgnorm.expand`).

    Each entry's surface key set grows by its abbreviation expansions and
    spelling variations; expanded keys inherit the source entry's
    (domain, concept_id) and the ORIGINAL first-wins priority: an
    expansion never displaces a key some earlier entry already claimed.
    """
    from kgnorm.expand import expand_synonyms

    out: list[tuple[str, tuple[str, str, int]]] = []
    seen: set[str] = set()
    for key, (syn, domain, concept_id) in ontology.dictionary:
        if key not in seen:
            seen.add(key)
            out.append((key, (syn, domain, concept_id)))
        for exp in expand_synonyms([key]):
            k = exp.lower()
            if k not in seen:
                seen.add(k)
                out.append((k, (exp, domain, concept_id)))
    return out


def all_entries_linked(ontology: Ontology) -> bool:
    """True when every dictionary entry carries a concept id — i.e. every
    extracted mention takes the direct-candidate bypass and the linking
    cascade can be skipped (driver-side check, zero Spark jobs)."""
    return all(cid is not None and cid > 0 for _k, (_s, _d, cid) in ontology.dictionary)


def _local_df(spark: SparkSession, rows: list[dict], schema) -> DataFrame:
    """Driver-held rows as a ``LocalTableScan``, through an Arrow table.

    ``createDataFrame(list)`` plans a parallelized Python RDD, so every
    scan of these small dimension tables would boot Python workers; an
    Arrow table becomes a local relation whatever the session's Arrow
    conf, and its known size lets the planner broadcast it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def concepts_df(spark: SparkSession, ontology: Ontology) -> DataFrame:
    return _local_df(spark, ontology.concepts, schemas.CONCEPTS)


def synonyms_df(spark: SparkSession, ontology: Ontology) -> DataFrame:
    return _local_df(spark, ontology.synonyms, schemas.CONCEPT_SYNONYMS)


def relationships_df(spark: SparkSession, ontology: Ontology) -> DataFrame:
    return _local_df(spark, ontology.relationships, schemas.CONCEPT_RELATIONSHIPS)


def broadcast_dictionary(spark: SparkSession, ontology: Ontology):
    """Broadcast the ordered AC entry list to executors.

    The automaton itself is built per executor worker from these entries
    (kgnorm.extract) — broadcasting the entry list instead of a pickled
    automaton keeps the payload compact and lets workers use the
    C-accelerated matcher when available.
    """
    return spark.sparkContext.broadcast(ontology.dictionary)


# ---------------------------------------------------------------------------
# Production-scale Athena CSV loaders (declarative scans; filters push down)
# ---------------------------------------------------------------------------


def load_athena_concepts(spark: SparkSession, concept_csv: str) -> DataFrame:
    """Scan an Athena CONCEPT.csv export (tab-delimited) into the concepts dim.

    Mirrors backend/app/scripts/load_omop_vocabulary.py:37-120: keep only
    {SNOMED, RxNorm, LOINC} × clinical domains.  Both filters are simple
    predicates on scanned columns, so Catalyst pushes them into the scan.
    """
    raw = (
        spark.read.option("sep", "\t").option("header", "true").csv(concept_csv)
        .select(
            F.col("concept_id").cast("long"),
            "concept_name",
            "concept_code",
            "vocabulary_id",
            "domain_id",
            "concept_class_id",
            "standard_concept",
        )
    )
    return raw.filter(
        F.col("vocabulary_id").isin(*ATHENA_VOCABULARIES)
        & F.col("domain_id").isin(*ATHENA_DOMAINS)
    )


def load_athena_synonyms(spark: SparkSession, synonym_csv: str, concepts: DataFrame) -> DataFrame:
    """Scan CONCEPT_SYNONYM.csv, restricted to loaded concepts (broadcast semi-join)."""
    raw = (
        spark.read.option("sep", "\t").option("header", "true").csv(synonym_csv)
        .select(
            F.col("concept_id").cast("long"),
            "concept_synonym_name",
            F.col("language_concept_id").cast("long"),
        )
    )
    return raw.join(F.broadcast(concepts.select("concept_id")), "concept_id", "left_semi")


def load_athena_relationships(spark: SparkSession, relationship_csv: str) -> DataFrame:
    """Scan CONCEPT_RELATIONSHIP.csv keeping alias edges only.

    Mirrors load_concept_relationships.py:33-44 ("Maps to"/"Mapped from").
    """
    raw = (
        spark.read.option("sep", "\t").option("header", "true").csv(relationship_csv)
        .select(
            F.col("concept_id_1").cast("long"),
            F.col("concept_id_2").cast("long"),
            "relationship_id",
        )
    )
    return raw.filter(F.col("relationship_id").isin("Maps to", "Mapped from"))


def nlp_dictionary_from_tables(
    concepts: DataFrame,
    synonyms: DataFrame,
    max_concepts: int = MAX_NLP_CONCEPTS,
) -> list[tuple[str, tuple[str, str, int]]]:
    """Build the broadcastable NLP dictionary from full dimension tables.

    Mirrors the filtered NLP vocabulary (nlp_vocabulary.py:37-76): cap the
    concept count, prefer standard concepts, deterministic order
    (priority, concept_id) so first-wins dedup is reproducible.
    """
    capped = (
        concepts.filter(F.col("standard_concept").isin("S", "C"))
        .orderBy("concept_id")
        .limit(max_concepts)
        .select("concept_id", "concept_name", "domain_id")
    )
    joined = (
        synonyms.join(F.broadcast(capped), "concept_id")
        .select("concept_id", "concept_synonym_name", "domain_id")
        .orderBy("concept_id", "concept_synonym_name")
        .collect()
    )
    return [
        (r.concept_synonym_name.lower(), (r.concept_synonym_name, r.domain_id, r.concept_id))
        for r in joined
    ]

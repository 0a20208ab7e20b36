"""Explicit StructType schemas for every stage table.

The reference declares its schemas twice (SQLAlchemy models + Pydantic);
nothing is inferred (SURVEY §1.3).  We do the same: every stage reads and
writes one of these StructTypes — never ``inferSchema`` — so checkpointed
stage tables are stable across resumes and Spark versions.

Stage flow: transcripts → mentions → candidates → facts → nodes/edges.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input (BASELINE.json input_hint): one row per conversation turn.
TRANSCRIPTS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

# OMOP concept dimension (reference: backend/app/models/vocabulary.py:11-72).
CONCEPTS = T.StructType([
    T.StructField("concept_id", T.LongType(), False),
    T.StructField("concept_name", T.StringType(), False),
    T.StructField("concept_code", T.StringType(), True),
    T.StructField("vocabulary_id", T.StringType(), True),
    T.StructField("domain_id", T.StringType(), True),
    T.StructField("concept_class_id", T.StringType(), True),
    T.StructField("standard_concept", T.StringType(), True),
])

# Synonym dimension (vocabulary.py:75-103).
CONCEPT_SYNONYMS = T.StructType([
    T.StructField("concept_id", T.LongType(), False),
    T.StructField("concept_synonym_name", T.StringType(), False),
    T.StructField("language_concept_id", T.LongType(), True),
])

# Alias edges for canonicalization (vocabulary.py:105-130).
CONCEPT_RELATIONSHIPS = T.StructType([
    T.StructField("concept_id_1", T.LongType(), False),
    T.StructField("concept_id_2", T.LongType(), False),
    T.StructField("relationship_id", T.StringType(), False),
])

# One extracted mention struct (reference contract: services/nlp.py:13-48).
MENTION_STRUCT = T.StructType([
    T.StructField("mention_text", T.StringType(), False),
    T.StructField("start_offset", T.IntegerType(), False),
    T.StructField("end_offset", T.IntegerType(), False),
    T.StructField("lexical_variant", T.StringType(), False),
    T.StructField("section", T.StringType(), True),
    T.StructField("assertion", T.StringType(), False),
    T.StructField("temporality", T.StringType(), False),
    T.StructField("experiencer", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("domain_hint", T.StringType(), True),
    T.StructField("omop_concept_id", T.LongType(), True),
])

# Exploded mentions stage table (models/mention.py:11-85 + provenance keys).
# Row order is unspecified: partitioning decides it, and within a batch
# extract.factorized_batch_assemble groups rows by distinct text, not input
# order.  Consumers that need an order sort by (conv_id, turn_idx,
# start_offset).
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
    + MENTION_STRUCT.fields
)

# Mention→concept candidates (models/mention.py:88-120, specs/mapping.md:20-34).
CANDIDATES = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("start_offset", T.IntegerType(), False),
    T.StructField("end_offset", T.IntegerType(), False),
    T.StructField("mention_text", T.StringType(), False),
    T.StructField("omop_concept_id", T.LongType(), False),
    T.StructField("concept_name", T.StringType(), True),
    T.StructField("concept_code", T.StringType(), True),
    T.StructField("vocabulary_id", T.StringType(), True),
    T.StructField("domain_id", T.StringType(), True),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("method", T.StringType(), False),
    T.StructField("rank", T.IntegerType(), False),
])

# Canonical clinical facts (models/clinical_fact.py:14-113).
FACTS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("omop_concept_id", T.LongType(), False),
    T.StructField("concept_name", T.StringType(), True),
    T.StructField("domain", T.StringType(), False),
    T.StructField("assertion", T.StringType(), False),
    T.StructField("temporality", T.StringType(), False),
    T.StructField("experiencer", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("evidence_count", T.LongType(), False),
    T.StructField("first_turn_idx", T.IntegerType(), False),
    T.StructField("first_start_offset", T.IntegerType(), False),
])

# Knowledge-graph node/edge tables (models/knowledge_graph.py:11-120).
NODES = T.StructType([
    T.StructField("node_id", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("node_type", T.StringType(), False),
    T.StructField("omop_concept_id", T.LongType(), True),
    T.StructField("label", T.StringType(), True),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
])

EDGES = T.StructType([
    T.StructField("edge_id", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("source_node_id", T.StringType(), False),
    T.StructField("target_node_id", T.StringType(), False),
    T.StructField("edge_type", T.StringType(), False),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
])

# Emitted (subj, pred, obj) triples — the parity artifact (SURVEY §2.11).
TRIPLES = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("omop_concept_id", T.LongType(), False),
    T.StructField("assertion", T.StringType(), False),
])

# Per-partition lineage/metrics rows (north rule).
METRICS = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("rows", T.LongType(), False),
    T.StructField("convs", T.LongType(), False),
    T.StructField("min_turn_idx", T.IntegerType(), True),
    T.StructField("max_turn_idx", T.IntegerType(), True),
])

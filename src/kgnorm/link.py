"""Entity linking: mentions → ranked concept candidates.

Reproduces the reference's two linking paths as one declarative plan:

* **direct bypass** (jobs/document_processing.py:169-206): a mention whose
  dictionary entry carried ``omop_concept_id > 0`` becomes its own rank-1
  candidate (score 1.0, method ``direct``, vocabulary ``Direct``,
  ``concept_name`` = the original mention text);
* **tiered SQL mapping** (services/mapping_sql.py:86-193) for the rest,
  re-expressed as an anti-join cascade over *distinct normalized mention
  terms* (dedup-before-join: the distinct-term side is tiny relative to
  the mention stream, so every tier is a broadcast join against the
  concept dimension and the expensive tiers only run for terms the cheap
  tiers left short of ``limit``):

  - tier 1: exact match on ``lower(concept_name)`` → score 1.0, exact
  - tier 2: exact match on ``lower(concept_synonym_name)`` → 0.95, exact
  - tier 3 (``len(q) >= 3``): prefix match on concept_name →
    ``min(0.9, len(q)/len(name) + 0.3)``, fuzzy
  - tier 4 (multi-word ``q`` whose longest word has ``len >= 4``):
    concept_name contains that word and token-set Jaccard ≥ 0.3 →
    score = Jaccard, fuzzy (mapping.py:152-175)

  Candidates dedup on concept_id keeping the lowest tier, then rank 1..5
  by ``(tier, concept_id)``.  (The reference ranks by insertion order with
  nondeterministic within-tier DB order; ``concept_id`` is our
  deterministic stand-in — top-1-per-mention parity is unaffected except
  where the reference itself is nondeterministic.)

Scale notes: the concept/synonym dimensions are broadcast (≤150k-concept
NLP subset, SURVEY §4); the only shuffles are the distinct() on terms and
the final rank window, both keyed on the term — hot mention terms
("hypertension") are exactly one row after distinct, so no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MENTION_KEY = ["conv_id", "turn_idx", "start_offset", "end_offset"]
LIMIT = 5  # candidates per mention (document_processing.py:212)

_KNOWN_DOMAINS = ["condition", "drug", "measurement", "procedure", "observation", "device"]


def normalize_term(col):
    """Spark-native normalize_text (mapping.py:128-150).

    lowercase → collapse whitespace → trim → strip edge punctuation.
    """
    c = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.regexp_replace(c, r"^[^\w]+|[^\w]+$", "")


def domain_enum(col):
    """Domain string → closed lowercase domain (mapping_sql.py:55-65)."""
    low = F.lower(col)
    return F.when(low.isin(_KNOWN_DOMAINS), low).otherwise(F.lit("observation"))


# mention attributes carried through the candidate rows so the fact stage
# never re-joins candidates back to the 10^12-row mention table (the join
# key is 4 columns of the same row — a pure projection suffices)
ATTR_COLS = ["assertion", "temporality", "experiencer", "confidence"]


def direct_candidates(mentions: DataFrame) -> DataFrame:
    """Rank-1 candidates for dictionary-linked mentions (document_processing.py:188-206)."""
    m = mentions.filter(F.col("omop_concept_id").isNotNull() & (F.col("omop_concept_id") > 0))
    return m.select(
        *MENTION_KEY,
        "mention_text",
        F.col("omop_concept_id"),
        F.col("mention_text").alias("concept_name"),
        F.col("omop_concept_id").cast("string").alias("concept_code"),
        F.lit("Direct").alias("vocabulary_id"),
        F.coalesce(F.lower(F.col("domain_hint")), F.lit("observation")).alias("domain_id"),
        F.lit(1.0).alias("score"),
        F.lit("direct").alias("method"),
        F.lit(1).alias("rank"),
        *ATTR_COLS,
    )


def _concept_dim(concepts: DataFrame) -> DataFrame:
    """Concept dimension with precomputed normalized columns."""
    return concepts.select(
        "concept_id",
        "concept_name",
        "vocabulary_id",
        F.col("domain_id").alias("concept_domain"),
        F.lower(F.col("concept_name")).alias("cn_lower"),
        F.length("concept_name").alias("cn_len"),
        F.array_distinct(F.split(normalize_term(F.col("concept_name")), " ")).alias("cn_tokens"),
    )


def map_terms(terms: DataFrame, concepts: DataFrame, synonyms: DataFrame, limit: int = LIMIT) -> DataFrame:
    """Map distinct normalized terms to ranked concept candidates.

    ``terms``: single-column DataFrame ``term`` of distinct normalized
    mention texts.  Returns ``(term, concept_id, concept_name,
    vocabulary_id, domain_id, score, method, rank)`` with rank ≤ limit.
    """
    dim = F.broadcast(_concept_dim(concepts))
    syn = F.broadcast(
        synonyms.select("concept_id", F.lower(F.col("concept_synonym_name")).alias("syn_lower"))
    )
    t = terms.select(
        F.col("term"),
        F.length("term").alias("q_len"),
        F.array_distinct(F.split(F.col("term"), " ")).alias("q_tokens"),
    )

    # tier 1 — exact concept-name match (mapping_sql.py:106-121)
    t1 = (
        t.join(dim, t.term == dim.cn_lower)
        .select("term", "concept_id", "concept_name", "vocabulary_id", "concept_domain",
                F.lit(1.0).alias("score"), F.lit("exact").alias("method"), F.lit(1).alias("tier"))
    )

    # tier 2 — exact synonym match (mapping_sql.py:123-141)
    t2 = (
        t.join(syn, t.term == syn.syn_lower)
        .join(dim, "concept_id")
        .select("term", "concept_id", "concept_name", "vocabulary_id", "concept_domain",
                F.lit(0.95).alias("score"), F.lit("exact").alias("method"), F.lit(2).alias("tier"))
    )

    cheap = t1.unionByName(t2)

    # Anti-join cascade: only terms still short of `limit` run the
    # expensive non-equi tiers (mapping_sql.py's cumulative
    # `if len(candidates) < limit` early exit, SURVEY §4).
    counts = cheap.groupBy("term").agg(F.count_distinct("concept_id").alias("n_cheap"))
    need_more = t.join(counts, "term", "left").filter(
        F.coalesce(F.col("n_cheap"), F.lit(0)) < limit
    ).drop("n_cheap")

    # tier 3 — prefix match (mapping_sql.py:143-163)
    t3 = (
        need_more.filter(F.col("q_len") >= 3)
        .join(dim, dim.cn_lower.startswith(need_more.term))
        .select(
            "term", "concept_id", "concept_name", "vocabulary_id", "concept_domain",
            F.least(F.lit(0.9), F.col("q_len") / F.col("cn_len") + F.lit(0.3)).alias("score"),
            F.lit("fuzzy").alias("method"), F.lit(3).alias("tier"),
        )
    )

    # tier 4 — longest-keyword containment + token-set Jaccard ≥ 0.3
    # (mapping_sql.py:165-191; similarity: mapping.py:152-175).
    # main word = first-longest token (Python max() semantics).
    multi = need_more.filter(F.size("q_tokens") >= 2).withColumn(
        "main_word",
        F.expr(
            "aggregate(q_tokens, cast(null as string),"
            " (acc, x) -> if(acc is null or length(x) > length(acc), x, acc))"
        ),
    ).filter(F.length("main_word") >= 4)
    t4 = (
        multi.join(dim, F.col("cn_lower").contains(F.col("main_word")))
        .withColumn(
            "score",
            F.size(F.array_intersect("q_tokens", "cn_tokens"))
            / F.size(F.array_union("q_tokens", "cn_tokens")),
        )
        .filter(F.col("score") >= 0.3)
        .select("term", "concept_id", "concept_name", "vocabulary_id", "concept_domain",
                F.col("score").cast("double"), F.lit("fuzzy").alias("method"), F.lit(4).alias("tier"))
    )

    unioned = cheap.unionByName(t3).unionByName(t4)

    # dedup per concept keeping lowest tier, then rank (seen_ids +
    # insertion-order rank in the reference).
    w_dedup = Window.partitionBy("term", "concept_id").orderBy("tier")
    w_rank = Window.partitionBy("term").orderBy("tier", "concept_id")
    return (
        unioned.withColumn("_dup", F.row_number().over(w_dedup)).filter(F.col("_dup") == 1)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= limit)
        .select(
            "term", "concept_id", "concept_name", "vocabulary_id",
            domain_enum(F.col("concept_domain")).alias("domain_id"),
            "score", "method", "rank",
        )
    )


def link_mentions(
    mentions: DataFrame,
    concepts: DataFrame,
    synonyms: DataFrame,
    assume_all_direct: bool = False,
) -> DataFrame:
    """Full linking stage: mentions → CANDIDATES-schema DataFrame.

    ``assume_all_direct``: the caller asserts every dictionary entry carries
    a concept id (``job.fact_inputs`` decides it from the ontology
    object, zero Spark jobs) so the cascade subtree can be skipped.
    AQE materializes each cascade exchange as a separate job, so even an
    EMPTY cascade costs ~10 scheduling rounds — but probing with
    ``isEmpty()`` would itself run a full pass over the mention stream,
    which is worse at scale.
    """
    if assume_all_direct:
        return direct_candidates(mentions)

    unlinked = mentions.filter(
        F.col("omop_concept_id").isNull() | (F.col("omop_concept_id") <= 0)
    ).withColumn("term", normalize_term(F.col("mention_text")))

    terms = unlinked.select("term").distinct()
    mapped_terms = map_terms(terms, concepts, synonyms)

    # no explicit broadcast hint: the term side is ontology-bounded and AQE
    # converts the join to broadcast at runtime; an explicit hint forces an
    # eager driver-side materialization of the cascade subtree, which costs
    # more than the shuffle it saves (measured: 9.6s vs 3.8s at 1M mentions)
    mapped = (
        unlinked.join(mapped_terms, "term")
        .select(
            *MENTION_KEY,
            "mention_text",
            F.col("concept_id").alias("omop_concept_id"),
            "concept_name",
            F.col("concept_id").cast("string").alias("concept_code"),
            "vocabulary_id",
            "domain_id",
            "score",
            "method",
            "rank",
            *ATTR_COLS,
        )
    )
    return direct_candidates(mentions).unionByName(mapped)


def top_candidates(candidates: DataFrame) -> DataFrame:
    """Top-ranked candidate per mention (document_processing.py:238-251)."""
    return candidates.filter(F.col("rank") == 1)

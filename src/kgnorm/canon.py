"""Cross-vocabulary canonicalization via connected components.

The reference maps a source concept to its standard concept through a
single hop of ``concept_relationship.relationship_id = 'Maps to'``
(vocabulary_mapping.py:75-84, 302-352).  At 10^12-turn scale alias chains
can be multi-hop, so the north rule requires **iterative hash-min label
propagation (connected components) over a salted alias edge DataFrame**;
on reference-shaped (single-hop) data it converges in one iteration to
the same answer, which keeps it parity-safe.

Algorithm (driver-side loop over DataFrames):

1. undirected alias edges from {'Maps to', 'Mapped from'} rows;
2. labels(v) = v initially; each round every vertex takes
   ``min(label(v), min over neighbors of label(n))`` — two shuffles per
   round (large-to-small then small-to-large), with AQE handling skew;
   a hot concept with many aliases concentrates on one key, so the
   neighbor-min aggregation is pre-salted: a first partial ``groupBy``
   on ``(dst, salt)`` then a final ``groupBy(dst)`` (SURVEY §4);
3. stop when no label changed: the round's eager checkpoint counts its
   changed rows through an ``Observation``, so no extra job asks;
4. canonical representative per component = the component's preferred
   member: a 'Maps to' **target** that is never itself a 'Maps to'
   source (i.e. a chain terminal), tie-broken by min concept_id;
   components without such a terminal use the min concept_id.

``localCheckpoint`` truncates the iterative lineage each round so plans
don't grow exponentially.  The closure is plain Spark in the caller's
session: no conf of its own, no session of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from kgnorm.facts import FACT_KEY, ORD_TURN, log1m

SALT = 16
MAX_ITER = 25


def alias_edges(relationships: DataFrame) -> DataFrame:
    """Undirected alias edge list from relationship rows."""
    maps = relationships.filter(F.col("relationship_id").isin("Maps to", "Mapped from"))
    fwd = maps.select(F.col("concept_id_1").alias("src"), F.col("concept_id_2").alias("dst"))
    rev = maps.select(F.col("concept_id_2").alias("src"), F.col("concept_id_1").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """Hash-min label propagation. Returns (concept_id, component_id).

    ``edges`` must be the symmetric (undirected) edge list with columns
    ``src, dst``.  Isolated vertices are absent (their component is
    themselves, callers coalesce).
    """
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("concept_id"))
        .union(edges.select("dst"))
        .distinct()
        .withColumn("label", F.col("concept_id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(MAX_ITER):
        changed = Observation()
        # propagate each vertex's label to its neighbors, take the min.
        # two-level aggregation: partial min on (dst, salt) absorbs hot
        # vertices before the final per-dst min.
        prop = (
            edges.join(labels.withColumnRenamed("concept_id", "src"), "src")
            .select(F.col("dst").alias("concept_id"), "label")
            .withColumn("_salt", F.pmod(F.hash("label"), F.lit(SALT)))
            .groupBy("concept_id", "_salt").agg(F.min("label").alias("label"))
            .groupBy("concept_id").agg(F.min("label").alias("nbr_label"))
        )
        new_full = (
            labels.join(prop, "concept_id", "left")
            .select(
                "concept_id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                # convergence flag counted by the checkpoint job itself,
                # instead of re-joining old vs new labels or a second job
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias("_chg"),
            )
            .observe(changed, F.count_if("_chg").alias("n"))
            .localCheckpoint(eager=True)
        )
        labels = new_full.select("concept_id", "label")
        if changed.get["n"] == 0:
            break

    return labels.select("concept_id", F.col("label").alias("component_id"))


def canonical_mapping(relationships: DataFrame) -> DataFrame:
    """(concept_id → canonical_concept_id) for every aliased concept.

    Canonical = per component, the chain-terminal 'Maps to' target
    (appears as concept_id_2 of a 'Maps to' row and never as
    concept_id_1), min id on ties; else the component min id: one
    aggregation over the 'Maps to' endpoints, then one per component.

    It runs at the session's shuffle partitions: the alias graph is
    ontology-bounded and AQE coalesces its shuffles.  On the fixture
    ontology an edge-count-sized override ran the same jobs, stages,
    tasks and rows as none, at 8 and at 64 session partitions.  The
    mapping is checkpointed eagerly, so a branch thread materializes it,
    and downstream broadcasts read its rows instead of replanning.
    """
    comps = connected_components(alias_edges(relationships))

    maps_to = relationships.filter(F.col("relationship_id") == "Maps to")
    terminals = (
        maps_to.select(F.col("concept_id_2").alias("concept_id"), F.lit(True).alias("terminal"))
        .unionByName(maps_to.select(F.col("concept_id_1").alias("concept_id"),
                                    F.lit(False).alias("terminal")))
        .groupBy("concept_id").agg(F.min("terminal").alias("terminal"))
    )
    canonical = (
        comps.join(terminals, "concept_id", "left")
        .groupBy("component_id")
        .agg(F.coalesce(F.min(F.when(F.col("terminal"), F.col("concept_id"))),
                        F.min("concept_id")).alias("canonical_concept_id"))
    )
    return (
        comps.join(canonical, "component_id")
        .select("concept_id", "canonical_concept_id")
        .filter(F.col("concept_id") != F.col("canonical_concept_id"))
        .localCheckpoint(eager=True)
    )


def canonicalize_facts(facts: DataFrame, relationships: DataFrame) -> DataFrame:
    """Rewrite fact concept ids onto canonical concepts and re-merge:
    ``apply_mapping`` over ``canonical_mapping(relationships)``."""
    return apply_mapping(facts, canonical_mapping(relationships))


def apply_mapping(facts: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite fact concept ids through a ``canonical_mapping`` and re-merge.

    A broadcast join (the alias mapping is ontology-sized, i.e. tiny
    relative to facts), then the same 5-part-key noisy-OR re-aggregation
    as the base fact build, because two facts can collapse onto one
    canonical concept.

    r6 (guide §2.3 "shuffle fewer bytes"): only facts whose concept id
    PARTICIPATES in the alias mapping — as a rewritten source or as a
    rewrite target another fact can land on — can ever share a post-
    rewrite fact key.  ``facts`` is unique on the 5-part fact key (it is
    a ``build_facts``/``merge_facts`` output — the documented
    precondition), so every other fact is a singleton group whose
    aggregate is computable scalar-wise with the arithmetically
    IDENTICAL expressions (``sum(log(x))`` of one row is ``log(x)``;
    ``min_by``/``min``/``sum`` of one row are the row) — bit-exact, no
    shuffle.  The re-aggregation exchange then carries only the affected
    rows, which are ontology-bounded in share, not turn-bounded.
    """
    cid_type = dict(mapping.dtypes)["canonical_concept_id"]
    # effects table: source ids (rewritten) + target ids (mergeable-into);
    # the two sets are disjoint (a canonical target never rewrites)
    effects = mapping.unionByName(
        mapping.select(F.col("canonical_concept_id").alias("concept_id"))
        .distinct()
        .withColumn("canonical_concept_id", F.lit(None).cast(cid_type))
    )
    joined = facts.join(
        F.broadcast(effects), facts.omop_concept_id == effects.concept_id, "left"
    )
    untouched = joined.filter(F.col("concept_id").isNull()).drop(
        "concept_id", "canonical_concept_id"
    )
    touched = (
        joined.filter(F.col("concept_id").isNotNull())
        .withColumn("omop_concept_id", F.coalesce("canonical_concept_id", "omop_concept_id"))
        .drop("concept_id", "canonical_concept_id")
    )
    # the stored first-evidence position; no ORD_START term, as in the
    # kg_canonical oracle
    first = f"first_turn_idx * {ORD_TURN}L + first_start_offset"
    re_agg = (
        touched.groupBy(*FACT_KEY)
        .agg(
            F.expr(f"min_by(concept_name, {first})").alias("concept_name"),
            F.expr(f"min_by(domain, {first})").alias("domain"),
            (1.0 - F.exp(F.sum(log1m(F.col("confidence"))))).alias("confidence"),
            F.sum("evidence_count").alias("evidence_count"),
            F.min("first_turn_idx").alias("first_turn_idx"),
            F.min("first_start_offset").alias("first_start_offset"),
        )
    )
    passthrough = untouched.select(
        *FACT_KEY,
        "concept_name", "domain",
        (1.0 - F.exp(log1m(F.col("confidence")))).alias("confidence"),
        "evidence_count", "first_turn_idx", "first_start_offset",
    )
    return re_agg.unionByName(passthrough)

"""Connected-components canonicalization tests (SURVEY §2.4 cross-vocab row)."""

from pyspark.sql import functions as F

from kgnorm import canon, schemas


def _rels(spark, rows):
    return spark.createDataFrame(
        [{"concept_id_1": a, "concept_id_2": b, "relationship_id": r} for a, b, r in rows],
        schema=schemas.CONCEPT_RELATIONSHIPS,
    )


def test_single_hop_matches_reference_semantics(spark):
    # reference does single-hop 'Maps to' (vocabulary_mapping.py:302-352);
    # CC must converge to the same answer on single-hop data.
    rels = _rels(spark, [(100, 1, "Maps to"), (200, 2, "Maps to")])
    got = {r.concept_id: r.canonical_concept_id for r in canon.canonical_mapping(rels).collect()}
    assert got == {100: 1, 200: 2}


def test_two_hop_chain_converges_to_terminal(spark):
    rels = _rels(spark, [(300, 200, "Maps to"), (200, 1, "Maps to")])
    got = {r.concept_id: r.canonical_concept_id for r in canon.canonical_mapping(rels).collect()}
    # terminal of the chain is 1 (never a 'Maps to' source)
    assert got == {300: 1, 200: 1}


def test_mapped_from_is_undirected_alias(spark):
    rels = _rels(spark, [(1, 400, "Mapped from")])  # standard 1 'mapped from' source 400
    comps = canon.connected_components(canon.alias_edges(rels)).collect()
    assert len({r.component_id for r in comps}) == 1


def test_hot_concept_many_aliases(spark):
    rels = _rels(spark, [(1000 + i, 5, "Maps to") for i in range(50)])
    got = {r.concept_id: r.canonical_concept_id for r in canon.canonical_mapping(rels).collect()}
    assert all(v == 5 for v in got.values())
    assert len(got) == 50


def test_canonicalize_facts_merges(spark):
    rels = _rels(spark, [(100, 1, "Maps to")])
    facts = spark.createDataFrame(
        [
            ("C1", 100, "Alias name", "condition", "present", "current", "patient", 0.6, 1, 0, 0),
            ("C1", 1, "Standard name", "condition", "present", "current", "patient", 0.8, 1, 0, 5),
        ],
        "conv_id string, omop_concept_id long, concept_name string, domain string,"
        " assertion string, temporality string, experiencer string, confidence double,"
        " evidence_count long, first_turn_idx int, first_start_offset int",
    )
    got = canon.canonicalize_facts(facts, rels).collect()
    assert len(got) == 1
    f = got[0]
    assert f.omop_concept_id == 1
    assert f.evidence_count == 2
    assert abs(f.confidence - (1 - 0.4 * 0.2)) < 1e-9


def test_canonicalize_facts_split_equals_monolithic_reagg(spark):
    """r6: canonicalize_facts routes only mapping-affected facts through
    the 5-key re-aggregation (untouched facts take the single-row scalar
    transform).  The split must be BIT-EXACT against the monolithic
    formulation on a mix of: rewritten facts, facts sitting on a rewrite
    target, and fully untouched facts."""
    rels = _rels(spark, [(100, 1, "Maps to"), (300, 2, "Maps to")])
    cols = (
        "conv_id string, omop_concept_id long, concept_name string, domain string,"
        " assertion string, temporality string, experiencer string, confidence double,"
        " evidence_count long, first_turn_idx int, first_start_offset int"
    )
    facts = spark.createDataFrame(
        [
            # rewritten (100 -> 1) and merged with a fact already on 1
            ("C1", 100, "Alias", "condition", "present", "current", "patient", 0.6, 2, 3, 10),
            ("C1", 1, "Std", "condition", "present", "current", "patient", 0.8, 1, 0, 5),
            # rewritten with NO partner on the target
            ("C2", 300, "Alias2", "drug", "absent", "historical", "patient", 0.7, 1, 1, 0),
            # sits on a target id but nothing rewrites onto it in this conv
            ("C3", 2, "Std2", "drug", "present", "current", "patient", 0.9, 3, 2, 7),
            # fully untouched
            ("C1", 555, "Other", "measurement", "possible", "current", "family", 0.4, 1, 4, 2),
        ],
        cols,
    )

    def monolithic(facts, rels):
        mapping = F.broadcast(canon.canonical_mapping(rels))
        rewritten = (
            facts.join(mapping, facts.omop_concept_id == mapping.concept_id, "left")
            .withColumn("omop_concept_id",
                        F.coalesce("canonical_concept_id", "omop_concept_id"))
            .drop("concept_id", "canonical_concept_id")
        )
        return rewritten.groupBy(
            "conv_id", "omop_concept_id", "assertion", "temporality", "experiencer"
        ).agg(
            F.expr("min_by(concept_name, first_turn_idx * 100000000L + first_start_offset)").alias("concept_name"),
            F.expr("min_by(domain, first_turn_idx * 100000000L + first_start_offset)").alias("domain"),
            (1.0 - F.exp(F.sum(F.log(F.greatest(1.0 - F.col("confidence"), F.lit(1e-15)))))).alias("confidence"),
            F.sum("evidence_count").alias("evidence_count"),
            F.min("first_turn_idx").alias("first_turn_idx"),
            F.min("first_start_offset").alias("first_start_offset"),
        )

    got = sorted(map(tuple, canon.canonicalize_facts(facts, rels).collect()))
    want = sorted(map(tuple, monolithic(facts, rels).collect()))
    assert got == want  # bit-exact, including the noisy-OR doubles
    # and the untouched fact must actually be there, untouched
    untouched = [r for r in got if r[1] == 555]
    assert len(untouched) == 1 and untouched[0][8] == 1


def test_four_hop_chain_converges_to_terminal(spark):
    rels = _rels(spark, [(500, 400, "Maps to"), (400, 300, "Maps to"),
                         (300, 200, "Maps to"), (200, 1, "Maps to")])
    got = {r.concept_id: r.canonical_concept_id for r in canon.canonical_mapping(rels).collect()}
    assert got == {500: 1, 400: 1, 300: 1, 200: 1}


def test_no_alias_rows_gives_empty_mapping(spark):
    assert canon.canonical_mapping(_rels(spark, [])).collect() == []

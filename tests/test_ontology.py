"""Ontology dimension DataFrames: pinned schemas, local-relation scans."""

import pytest

from kgnorm import ontology, schemas


@pytest.mark.parametrize("build, schema, rows", [
    (ontology.concepts_df, schemas.CONCEPTS, "concepts"),
    (ontology.synonyms_df, schemas.CONCEPT_SYNONYMS, "synonyms"),
    (ontology.relationships_df, schemas.CONCEPT_RELATIONSHIPS, "relationships"),
])
def test_dimension_frames(spark, ontology_bundle, capsys, build, schema, rows):
    df = build(spark, ontology_bundle)
    assert df.schema == schema
    got = sorted(map(tuple, df.collect()), key=repr)
    want = sorted((tuple(r[f] for f in schema.fieldNames())
                   for r in getattr(ontology_bundle, rows)), key=repr)
    assert got == want and got
    df.explain()
    # a driver-local scan: no Python workers boot to read these rows
    assert "LocalTableScan" in capsys.readouterr().out

"""Exact expected triples for a kgbench input, computed single-node.

The 10 note templates are extracted once with the pure-Python rule engine
(``rules.extract_mentions``) and projected to ``(pred, obj)`` edges with the
same domain→predicate map as the end-to-end parity test.  The expected
``(subj, pred, obj)`` set of a run is then the join of those edges with the
conversation→template map that ``gen.conv_templates`` rebuilds from the
seed.  Nothing here touches Spark.
"""

from __future__ import annotations

import pyarrow.dataset as ds

from kgnorm import ac, ontology, rules

# domain → predicate, as in tests/test_pipeline_e2e.py
EDGE = {
    "condition": "has_condition",
    "drug": "takes_drug",
    "measurement": "has_measurement",
    "procedure": "has_procedure",
    "observation": "has_observation",
    "device": "has_observation",
}


def _edges(text: str, automaton) -> set[tuple[str, str]]:
    out = set()
    for m in rules.extract_mentions(text, automaton):
        if not m.omop_concept_id or m.omop_concept_id <= 0:
            continue
        domain = (m.domain_hint or "observation").lower()
        out.add((EDGE.get(domain, "has_observation"), f"concept:{m.omop_concept_id}"))
    return out


def template_edges(templates: list[str], marker: str | None = None) -> list[set[tuple[str, str]]]:
    """``(pred, obj)`` edges per template.  With ``marker``, also checks
    that appending it leaves every template's edges unchanged (the
    distinct-text workload relies on it)."""
    automaton = ac.build_automaton(ontology.load_fixture_ontology().dictionary)
    edges = [_edges(t, automaton) for t in templates]
    if marker is not None:
        for t, e in zip(templates, edges):
            if _edges(t + marker, automaton) != e:
                raise ValueError(f"marker {marker!r} changes the extraction of a template")
    return edges


def expected_triples(convs: dict[str, set[int]], edges: list[set[tuple[str, str]]]) -> set[tuple]:
    return {(c, p, o) for c, tpls in convs.items() for t in tpls for p, o in edges[t]}


def read_triples(path: str) -> set[tuple]:
    # the default ignore list would skip Spark's "_bucket=" partition dirs
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_SUCCESS", "_temporary"]
                   ).to_table(columns=["subj", "pred", "obj"])
    return set(zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj"))))


def diff(path: str, expected: set[tuple]) -> tuple[int, int]:
    """(missing, extra) triple counts of the table at ``path``."""
    got = read_triples(path)
    return len(expected - got), len(got - expected)

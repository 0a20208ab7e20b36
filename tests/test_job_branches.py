"""run_pipeline's concurrent branches: deterministic outputs, failure
propagation, and session-conf isolation of the alias closure."""

import os
import threading

import pytest

from kgnorm import canon, graph, job, synth
from kgnorm.checkpoints import StageStore

STAGES = ["mentions", "candidates", "facts", "graph_base", "nodes", "edges",
          "triples", "canonical_facts", "canonical_triples", "metrics"]


def _rows(spark, wh, stage):
    return sorted(map(repr, spark.read.parquet(os.path.join(wh, stage)).collect()))


def test_fresh_runs_give_identical_stage_tables(spark, tmp_path):
    transcripts = synth.synth_transcripts(spark, 240)
    whs = [str(tmp_path / f"wh{i}") for i in range(2)]
    for wh in whs:
        job.run_pipeline(spark, transcripts, store=StageStore(wh), canonicalize=True)
    for stage in STAGES:
        first = _rows(spark, whs[0], stage)
        assert first, stage
        assert first == _rows(spark, whs[1], stage), stage


def test_resume_reads_canonical_facts_without_the_closure(spark, tmp_path, monkeypatch):
    transcripts = synth.golden_transcripts(spark)
    store = StageStore(str(tmp_path / "wh"))
    first = job.run_pipeline(spark, transcripts, store=store, canonicalize=True)
    want = sorted(map(repr, first["canonical_triples"].collect()))

    def closure(*args):
        raise AssertionError("the closure ran on resume")

    monkeypatch.setattr(job, "_alias_closure", closure)
    again = job.run_pipeline(spark, transcripts, store=store, resume=True, canonicalize=True)
    assert sorted(map(repr, again["canonical_triples"].collect())) == want


def test_branch_failure_raises_and_leaves_no_thread(spark, tmp_path, monkeypatch):
    def broken(*args, **kwargs):
        raise RuntimeError("edges branch failed")

    monkeypatch.setattr(graph, "build_edges", broken)
    wh = tmp_path / "wh"
    with pytest.raises(RuntimeError, match="edges branch failed"):
        job.run_pipeline(spark, synth.golden_transcripts(spark),
                         store=StageStore(str(wh)), canonicalize=True)
    assert not (wh / "edges" / "_SUCCESS").exists()
    # the branches that did not fail still committed
    assert (wh / "nodes" / "_SUCCESS").exists()
    assert (wh / "canonical_triples" / "_SUCCESS").exists()
    alive = [t.name for t in threading.enumerate() if t.name.startswith(job.BRANCH_THREAD)]
    assert alive == []


def test_closure_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    seen = []
    cc_loop = canon.connected_components

    def watched(edges, *args):
        # inside the closure's override: the loop's session has its own
        # value, the caller's session must still read its own
        seen.append((edges.sparkSession.conf.get(key), spark.conf.get(key)))
        return cc_loop(edges, *args)

    monkeypatch.setattr(canon, "connected_components", watched)
    spark.conf.set(key, "5")
    try:
        job.run_pipeline(spark, synth.golden_transcripts(spark),
                         store=StageStore(str(tmp_path / "wh")), canonicalize=True)
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, prev)
    assert seen == [("8", "5")]

"""run_pipeline's concurrent branches: deterministic outputs, failure
propagation, a resume that skips the alias closure, and branch threads
that see the caller's session."""

import os
import threading

import pytest
from pyspark.sql import SparkSession

from kgnorm import canon, graph, job, metrics, synth
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

    monkeypatch.setattr(canon, "canonical_mapping", closure)
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


def test_branch_threads_see_the_callers_session(spark, tmp_path, monkeypatch):
    seen = []
    span_check = metrics.mention_span_check

    def watched(*args):
        seen.append(SparkSession.getActiveSession() is spark)
        return span_check(*args)

    monkeypatch.setattr(metrics, "mention_span_check", watched)
    job.run_pipeline(spark, synth.golden_transcripts(spark), store=StageStore(str(tmp_path / "wh")))
    assert seen == [True]

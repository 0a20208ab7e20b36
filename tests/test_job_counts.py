"""Job-count ratchet: the Spark jobs, stages and tasks the batch job, a
resume, an append delta and the alias closure launch on fixed inputs.

Wall time on a shared host drifts by 20-30% within minutes; these counts
do not, so they pin the fixed per-job cost that the perf work cuts.  Each
ceiling is the count at the change that last lowered it.  Ceilings only
go down: a change that needs more jobs says why in its change notes.
Task counts are pinned too, because the test session fixes parallelism
(``local[4]``, 4 shuffle partitions).
"""

import uuid

import pytest
from pyspark.sql import functions as F

from kgnorm import canon, job, ontology, synth
from kgnorm.checkpoints import StageStore

# run → (jobs, stages, tasks)
CEILINGS = {
    "pipeline": (62, 62, 102),
    "resume": (22, 22, 36),
    "append_delta": (13, 13, 47),
    "canonical_mapping": (31, 31, 45),
}


def spark_work(spark, fn) -> tuple[int, int, int]:
    """``(jobs, stages, tasks)`` that ``fn()`` runs, counted in a fresh job
    group.  Branch threads inherit the group through
    ``inheritable_thread_target``; a stage reused from an earlier job is
    skipped, so only stages that ran a task count."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # the status tracker is filled from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    done = [info.numCompletedTasks for info in map(tracker.getStageInfo, stage_ids)
            if info is not None and info.numCompletedTasks]
    return len(jobs), len(done), sum(done)


@pytest.fixture(scope="module")
def counts(spark, tmp_path_factory):
    out = {}
    turns = synth.synth_transcripts(spark, 240)
    store = StageStore(str(tmp_path_factory.mktemp("wh")))
    out["pipeline"] = spark_work(spark, lambda: job.run_pipeline(
        spark, turns, store=store, canonicalize=True))
    out["resume"] = spark_work(spark, lambda: job.run_pipeline(
        spark, turns, store=store, resume=True, canonicalize=True))

    appended = str(tmp_path_factory.mktemp("append"))
    job.run_append(spark, turns.filter(F.col("turn_idx") < 5), appended,
                   n_buckets=8)["mentions"].unpersist()
    out["append_delta"] = spark_work(spark, lambda: job.run_append(
        spark, turns.filter(F.col("turn_idx") >= 5), appended,
        n_buckets=8)["mentions"].unpersist())

    ont = ontology.load_fixture_ontology()
    out["canonical_mapping"] = spark_work(spark, lambda: canon.canonical_mapping(
        ontology.relationships_df(spark, ont), n_rel=len(ont.relationships)))
    print("job counts (jobs, stages, tasks):", out)
    return out


@pytest.mark.parametrize("run", sorted(CEILINGS))
def test_spark_work_within_ceiling(counts, run):
    got = counts[run]
    assert got[0] > 0, run
    assert all(n <= cap for n, cap in zip(got, CEILINGS[run])), \
        f"{run}: (jobs, stages, tasks) {got} above the ceiling {CEILINGS[run]}"

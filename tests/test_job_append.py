"""--append CLI mode: sequential incremental appends must converge to
the same facts a single full batch run produces."""

import inspect
import os
import sys

import pytest
from pyspark.sql import functions as F

from kgnorm import facts as facts_mod, job, synth


def _expected_facts(spark, transcripts, ontology_bundle):
    return facts_mod.build_facts(job.fact_inputs(spark, transcripts, ontology_bundle)[2])


def _canon(df):
    return sorted(
        (r.conv_id, r.omop_concept_id, r.assertion, r.temporality,
         r.experiencer, r.concept_name, r.domain, round(r.confidence, 6),
         r.evidence_count, r.first_turn_idx, r.first_start_offset)
        for r in df.collect()
    )


def _bucket_files(table_dir):
    """Parquet file names under each ``_bucket=`` directory of a table."""
    return {
        d: [f for f in os.listdir(os.path.join(table_dir, d)) if f.endswith(".parquet")]
        for d in os.listdir(table_dir) if d.startswith("_bucket=")
    }


def test_two_appends_equal_one_batch(spark, tmp_path, ontology_bundle):
    from kgnorm import graph

    out_dir = str(tmp_path / "wh")
    all_t = synth.synth_transcripts(spark, 400)
    first = all_t.filter(F.col("turn_idx") < 5)
    second = all_t.filter(F.col("turn_idx") >= 5)

    r1 = job.run_append(spark, first, out_dir, n_buckets=8)
    n1 = r1["facts"].count()
    r2 = job.run_append(spark, second, out_dir, n_buckets=8)

    expected = _expected_facts(spark, all_t, ontology_bundle)
    assert _canon(r2["facts"]) == _canon(expected)
    assert r2["facts"].count() >= n1
    # the incrementally-maintained triples projection equals the batch one
    got_triples = sorted(
        (t.conv_id, t.subj, t.pred, t.obj, t.assertion)
        for t in r2["triples"].collect())
    exp_triples = sorted(
        (t.conv_id, t.subj, t.pred, t.obj, t.assertion)
        for t in graph.build_triples(expected).collect())
    assert got_triples == exp_triples
    for table in ("facts_bucketed", "triples_bucketed"):
        files = _bucket_files(os.path.join(out_dir, table))
        assert files and all(len(f) == 1 for f in files.values()), files
        # part-<task>-...: the buckets were written by more than one task
        assert len({f[0].split("-")[1] for f in files.values()}) > 1, files


def test_bucketed_tables_list_on_the_driver(spark):
    """A read of a table with the default bucket count lists its
    directories on the driver instead of launching a listing job."""
    n_buckets = inspect.signature(job.run_append).parameters["n_buckets"].default
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert int(threshold) >= n_buckets


@pytest.mark.parametrize("flag", ["--resume", "--canonicalize"])
def test_append_rejects_batch_only_flags(monkeypatch, tmp_path, flag):
    """--append ignores --resume and --canonicalize, so the CLI refuses
    them, before any session starts."""
    from kgnorm import session

    def no_session(*args, **kwargs):
        raise AssertionError("a session started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["kgnorm.job", "--append", flag, "--output", str(tmp_path)])
    with pytest.raises(SystemExit) as exit_:
        job.main()
    assert exit_.value.code == 2


def test_local_tables_written_without_checksum_files(spark, tmp_path):
    """Bucketed tables and directory stages go through the raw local file
    system: no ``.crc`` sidecar per file, and the rows read back whole
    through the session's own (checksummed) file system."""
    from kgnorm.checkpoints import StageStore

    df = spark.range(40).select(F.col("id").cast("int").alias("conv_id"),
                                (F.col("id") % 8).cast("int").alias("_bucket"))
    bucketed = str(tmp_path / "bucketed")
    facts_mod.write_bucketed(df, bucketed, 8)
    store = StageStore(str(tmp_path / "stages"))
    stage = store.get_or_compute(spark, "ids", lambda: df)

    written = [f for _, _, fs in os.walk(tmp_path) for f in fs]
    assert not [f for f in written if f.endswith(".crc")], written
    assert len(_bucket_files(bucketed)) == 8
    assert sorted(r.conv_id for r in spark.read.parquet(bucketed).collect()) == list(range(40))
    assert stage.count() == 40 and store.exists("ids")

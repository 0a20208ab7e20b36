"""Fact canonicalization tests (reference: fact_builder*.py; SURVEY §2.5)."""

import math

import pytest
from pyspark.sql import functions as F

from kgnorm import facts as facts_mod


def _fact_inputs(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, start_offset int, end_offset int,"
        " assertion string, temporality string, experiencer string, confidence double,"
        " omop_concept_id long, concept_name string, domain_id string",
    )


def test_noisy_or_merge(spark):
    fi = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "present", "current", "patient", 0.8, 1, "Cough", "condition"),
        ("C1", 1, 0, 5, "present", "current", "patient", 0.6, 1, "Cough", "condition"),
    ])
    got = facts_mod.build_facts(fi).collect()
    assert len(got) == 1
    f = got[0]
    assert f.confidence == pytest.approx(1 - (1 - 0.8) * (1 - 0.6))
    assert f.evidence_count == 2
    assert f.first_turn_idx == 0


def test_dedup_key_splits_on_assertion(spark):
    fi = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "present", "current", "patient", 0.8, 1, "Cough", "condition"),
        ("C1", 1, 0, 5, "absent", "current", "patient", 0.6, 1, "Cough", "condition"),
    ])
    got = facts_mod.build_facts(fi).collect()
    assert len(got) == 2  # absent and present never merge


def test_negation_preserved(spark):
    fi = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "absent", "current", "patient", 0.9, 7, "Pneumonia", "condition"),
    ])
    all_facts = facts_mod.build_facts(fi)
    assert all_facts.count() == 1
    assert facts_mod.positive_facts(all_facts).count() == 0
    assert all_facts.filter(F.col("assertion") == "absent").count() == 1


def test_perfect_confidence_does_not_nan(spark):
    fi = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "present", "current", "patient", 1.0, 1, "Cough", "condition"),
        ("C1", 1, 0, 5, "present", "current", "patient", 0.5, 1, "Cough", "condition"),
    ])
    f = facts_mod.build_facts(fi).collect()[0]
    assert not math.isnan(f.confidence)
    assert f.confidence == pytest.approx(1.0)


def test_first_evidence_wins_name(spark):
    fi = _fact_inputs(spark, [
        ("C1", 2, 0, 5, "present", "current", "patient", 0.5, 1, "LATER", "condition"),
        ("C1", 0, 3, 8, "present", "current", "patient", 0.5, 1, "FIRST", "condition"),
    ])
    f = facts_mod.build_facts(fi).collect()[0]
    assert f.concept_name == "FIRST"
    assert f.first_turn_idx == 0 and f.first_start_offset == 3


# ---------------------------------------------------------------------------
# incremental MERGE upsert (append-only stream → facts)
# ---------------------------------------------------------------------------

def _many_inputs(spark, n_convs=6, turns=8):
    """Deterministic multi-conv corpus: overlapping concepts, varied
    confidences, several evidences per fact key."""
    rows = []
    for c in range(n_convs):
        for t in range(turns):
            cid = (c + t) % 4 + 1
            rows.append((
                f"C{c}", t, (t * 7) % 40, (t * 7) % 40 + 5,
                "present" if t % 3 else "absent", "current", "patient",
                round(0.3 + 0.1 * ((c + 2 * t) % 7), 2),
                cid, f"Concept {cid}", "condition",
            ))
    return _fact_inputs(spark, rows)


def _canon(df):
    return sorted(
        (r.conv_id, r.omop_concept_id, r.assertion, r.temporality, r.experiencer,
         r.concept_name, r.domain, round(r.confidence, 6), r.evidence_count,
         r.first_turn_idx, r.first_start_offset)
        for r in df.collect()
    )


@pytest.mark.parametrize("split", [1, 3, 5, 7])
def test_merge_equals_full_rerun(spark, split):
    """Stream-appended turns: merge(build(old), new) == build(all) on
    every column (confidence compared at the universal 6-dp rounding),
    at several split points — near-empty old, balanced, near-empty new."""
    all_inputs = _many_inputs(spark)
    old = all_inputs.filter(F.col("turn_idx") < split)
    new = all_inputs.filter(F.col("turn_idx") >= split)
    merged = facts_mod.merge_facts(facts_mod.build_facts(old), new)
    assert _canon(merged) == _canon(facts_mod.build_facts(all_inputs))


def test_merge_untouched_and_new_facts_bit_identical(spark):
    """Facts with no delta evidence keep their stored confidence
    bit-for-bit; delta-only facts equal a fresh build bit-for-bit."""
    old = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "present", "current", "patient", 0.8, 1, "Cough", "condition"),
        ("C1", 1, 0, 5, "present", "current", "patient", 0.6, 1, "Cough", "condition"),
    ])
    new = _fact_inputs(spark, [
        ("C2", 9, 0, 5, "present", "current", "patient", 0.7, 2, "Fever", "condition"),
    ])
    before = facts_mod.build_facts(old)
    stored = {r.omop_concept_id: r.confidence for r in before.collect()}
    out = {r.omop_concept_id: r for r in
           facts_mod.merge_facts(before, new).collect()}
    assert out[1].confidence == stored[1]          # untouched: no recompute
    fresh = facts_mod.build_facts(new).collect()[0]
    assert out[2].confidence == fresh.confidence   # insert branch


def test_merge_matched_key_noisy_or(spark):
    old = _fact_inputs(spark, [
        ("C1", 0, 0, 5, "present", "current", "patient", 0.8, 1, "Cough", "condition"),
    ])
    new = _fact_inputs(spark, [
        ("C1", 5, 2, 7, "present", "current", "patient", 0.6, 1, "cough dup", "condition"),
    ])
    f = facts_mod.merge_facts(facts_mod.build_facts(old), new).collect()[0]
    assert f.confidence == pytest.approx(1 - (1 - 0.8) * (1 - 0.6))
    assert f.evidence_count == 2
    assert f.concept_name == "Cough"       # earliest evidence wins
    assert f.first_turn_idx == 0


def test_upsert_parquet_partition_scoped(spark, tmp_path):
    """The parquet MERGE fallback: only buckets holding delta
    conversations are rewritten; the merged table equals a full rerun."""
    import os

    facts_dir = str(tmp_path / "facts")
    all_inputs = _many_inputs(spark)
    old = all_inputs.filter(F.col("turn_idx") < 5)
    new = all_inputs.filter((F.col("turn_idx") >= 5) & (F.col("conv_id") == "C0"))
    facts_mod.upsert_facts_parquet(spark, facts_dir, old, n_buckets=8)
    # record per-file mtimes, then upsert a delta touching ONLY C0's bucket
    def snapshot():
        out = {}
        for root, _, files in os.walk(facts_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out
    before = snapshot()
    facts_mod.upsert_facts_parquet(spark, facts_dir, new, n_buckets=8)
    after = snapshot()
    hot = facts_mod.build_facts(new).select(
        facts_mod.bucket_col(8).alias("b")).distinct().collect()
    hot_dirs = {f"_bucket={r.b}" for r in hot}
    untouched = [p for p in before
                 if not any(h in p for h in hot_dirs)]
    assert untouched, "test needs at least one untouched bucket"
    for p in untouched:
        assert p in after and after[p] == before[p], f"untouched bucket rewritten: {p}"
    got = spark.read.parquet(facts_dir).drop("_bucket")
    expected = facts_mod.build_facts(
        all_inputs.filter((F.col("turn_idx") < 5) | (F.col("conv_id") == "C0")))
    assert _canon(got) == _canon(expected)


def test_upsert_interrupt_between_merge_and_commit(spark, tmp_path, monkeypatch):
    """r4 verdict #4: a crash after the merge is fully staged but before
    the bucket swap must leave the PREVIOUS facts table fully readable;
    the staged commit then completes idempotently on recovery."""
    import os

    facts_dir = str(tmp_path / "facts")
    all_inputs = _many_inputs(spark)
    old = all_inputs.filter(F.col("turn_idx") < 5)
    new = all_inputs.filter(F.col("turn_idx") >= 5)
    facts_mod.upsert_facts_parquet(spark, facts_dir, old, n_buckets=8)
    before = _canon(spark.read.parquet(facts_dir).drop("_bucket"))

    real = facts_mod.recover_staged_upsert
    calls = {"n": 0}

    def crashing(spark_, d):
        calls["n"] += 1
        if calls["n"] == 2:   # the commit call — staging fully written
            raise RuntimeError("simulated crash before commit")
        return real(spark_, d)

    monkeypatch.setattr(facts_mod, "recover_staged_upsert", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        facts_mod.upsert_facts_parquet(spark, facts_dir, new, n_buckets=8)
    monkeypatch.setattr(facts_mod, "recover_staged_upsert", real)

    # live table untouched and fully readable
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == before
    # the staged merge is complete (its _SUCCESS commit marker exists)
    assert os.path.exists(str(tmp_path / "facts__staging" / "_SUCCESS"))

    # recovery (runs automatically at the start of the next upsert, or
    # standalone) swaps the staged buckets in — table == full rerun
    facts_mod.recover_staged_upsert(spark, facts_dir)
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == \
        _canon(facts_mod.build_facts(all_inputs))
    assert not os.path.exists(str(tmp_path / "facts__staging"))
    # idempotent: a second recovery is a no-op
    facts_mod.recover_staged_upsert(spark, facts_dir)
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == \
        _canon(facts_mod.build_facts(all_inputs))


def test_upsert_recovery_completes_partial_swap(spark, tmp_path, monkeypatch):
    """Crash DURING the bucket swap: some staged buckets already moved,
    the rest still in staging under the _SUCCESS marker.  Recovery must
    complete the remaining swaps idempotently — the final table equals
    the full rerun."""
    import os
    import shutil

    facts_dir = str(tmp_path / "facts")
    all_inputs = _many_inputs(spark)
    old = all_inputs.filter(F.col("turn_idx") < 5)
    new = all_inputs.filter(F.col("turn_idx") >= 5)
    facts_mod.upsert_facts_parquet(spark, facts_dir, old, n_buckets=8)

    # stage the merge without committing (crash before swap)
    real = facts_mod.recover_staged_upsert
    calls = {"n": 0}

    def crashing(spark_, d):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash before commit")
        return real(spark_, d)

    monkeypatch.setattr(facts_mod, "recover_staged_upsert", crashing)
    with pytest.raises(RuntimeError):
        facts_mod.upsert_facts_parquet(spark, facts_dir, new, n_buckets=8)
    monkeypatch.setattr(facts_mod, "recover_staged_upsert", real)

    # simulate a crash MID-swap: move one staged bucket in by hand
    staging = str(tmp_path / "facts__staging")
    staged = sorted(e for e in os.listdir(staging) if e.startswith("_bucket="))
    assert len(staged) >= 2, "test needs >=2 staged buckets"
    first = staged[0]
    shutil.rmtree(os.path.join(facts_dir, first), ignore_errors=True)
    os.rename(os.path.join(staging, first), os.path.join(facts_dir, first))

    facts_mod.recover_staged_upsert(spark, facts_dir)
    assert not os.path.exists(staging)
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == \
        _canon(facts_mod.build_facts(all_inputs))


def test_upsert_empty_delta_is_noop(spark, tmp_path):
    """An append carrying no fact inputs (e.g. a micro-batch of turns
    with no extractable mentions) must leave the stored table
    byte-identical — no bucket is rewritten, no staging remnant."""
    import os

    facts_dir = str(tmp_path / "facts")
    all_inputs = _many_inputs(spark)
    first = all_inputs.filter(F.col("turn_idx") < 5)
    # the upsert returns the sorted buckets of the delta's conversations
    touched = facts_mod.upsert_facts_parquet(spark, facts_dir, first, n_buckets=8)
    assert touched == sorted(
        {r.b for r in first.select(facts_mod.bucket_col(8).alias("b")).collect()})
    before = _canon(spark.read.parquet(facts_dir).drop("_bucket"))
    assert facts_mod.upsert_facts_parquet(
        spark, facts_dir, all_inputs.filter(F.lit(False)), n_buckets=8) == []
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == before
    assert not os.path.exists(str(tmp_path / "facts__staging"))


def test_upsert_incomplete_staging_discarded(spark, tmp_path):
    """A staging remnant WITHOUT the _SUCCESS marker (crash mid-write)
    is discarded, never swapped into the live table."""
    import os

    facts_dir = str(tmp_path / "facts")
    all_inputs = _many_inputs(spark)
    facts_mod.upsert_facts_parquet(
        spark, facts_dir, all_inputs.filter(F.col("turn_idx") < 5), n_buckets=8)
    before = _canon(spark.read.parquet(facts_dir).drop("_bucket"))

    staging = str(tmp_path / "facts__staging")
    os.makedirs(os.path.join(staging, "_bucket=0"))
    with open(os.path.join(staging, "_bucket=0", "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    facts_mod.recover_staged_upsert(spark, facts_dir)
    assert not os.path.exists(staging)
    assert _canon(spark.read.parquet(facts_dir).drop("_bucket")) == before


def test_merge_null_key_attributes(spark):
    """NULL fact-key attributes must merge like the batch groupBy
    (null-safe equality), not stay unmatched like SQL join NULLs."""
    old = _fact_inputs(spark, [
        ("C1", 0, 0, 5, None, "current", "patient", 0.8, 1, "Cough", "condition"),
    ])
    new = _fact_inputs(spark, [
        ("C1", 4, 0, 5, None, "current", "patient", 0.6, 1, "Cough", "condition"),
    ])
    merged = facts_mod.merge_facts(facts_mod.build_facts(old), new).collect()
    assert len(merged) == 1
    assert merged[0].evidence_count == 2
    assert merged[0].confidence == pytest.approx(1 - 0.2 * 0.4)


def test_merge_matches_batch_packed_ord_quirk(spark):
    """Offsets >= 10^4: the packed ord key ranks (turn=0, start=20000)
    AFTER (turn=1, start=0) — the batch quirk; the merge cross-side
    comparison must reproduce it, not lexicographic (turn, start)."""
    old = _fact_inputs(spark, [
        ("C1", 0, 20000, 20005, "present", "current", "patient", 0.5, 1, "OLD", "condition"),
    ])
    new = _fact_inputs(spark, [
        ("C1", 1, 0, 5, "present", "current", "patient", 0.5, 1, "NEW", "condition"),
    ])
    all_inputs = old.unionByName(new)
    batch = facts_mod.build_facts(all_inputs).collect()[0]
    merged = facts_mod.merge_facts(facts_mod.build_facts(old), new).collect()[0]
    # packed: 0*1e8 + 20000*1e4 = 2.0e8 > 1*1e8 → the turn-1 mention wins
    assert batch.concept_name == "NEW"
    assert merged.concept_name == batch.concept_name
    assert merged.first_start_offset == batch.first_start_offset
    assert merged.first_turn_idx == batch.first_turn_idx == 0  # min(turn) is separate


def test_merge_multi_evidence_ord_reconstruction_gap(spark):
    """Documented merge_facts gap #2 (r4 ADVICE): with MULTIPLE
    evidences on a side and start_offset >= 10^4, the stored
    (first_turn_idx, first_start_offset) pair can come from DIFFERENT
    mentions — turn 0's huge-start mention loses the packed ord to turn
    1, so the reconstruction pairs min-turn 0 with ord-winner start 5,
    an ord (50000) no mention had.  A delta mention whose true packed
    ord (60010) sits between the phantom and the real minimum
    (100050009) then wins the batch pick but loses the merge pick.
    This pins the divergence as cosmetic-only: key, confidence and
    evidence_count still match the batch rebuild exactly."""
    old = _fact_inputs(spark, [
        ("C1", 0, 30000, 30005, "present", "current", "patient", 0.5, 1, "A-HUGE-START", "condition"),
        ("C1", 1, 5, 9, "present", "current", "patient", 0.5, 1, "B-ORD-WINNER", "condition"),
    ])
    new = _fact_inputs(spark, [
        ("C1", 0, 6, 10, "present", "current", "patient", 0.5, 1, "N-BETWEEN", "condition"),
    ])
    batch = facts_mod.build_facts(old.unionByName(new)).collect()[0]
    merged = facts_mod.merge_facts(facts_mod.build_facts(old), new).collect()[0]
    # packed ords: A = 300030005, B = 100050009, N = 60010 → batch
    # winner is N; the merge's phantom e-side ord 0*1e8 + 5*1e4 = 50000
    # undercuts N's 60000 → merge keeps the stored side
    assert batch.concept_name == "N-BETWEEN"
    assert merged.concept_name == "B-ORD-WINNER"     # the documented gap
    # everything non-cosmetic is exact
    assert merged.evidence_count == batch.evidence_count == 3
    assert round(merged.confidence, 6) == round(batch.confidence, 6)
    assert merged.first_turn_idx == batch.first_turn_idx == 0


def test_ord_value_matches_column_key(spark):
    df = _fact_inputs(spark, [
        ("C1", 3, 17, 42, "present", "current", "patient", 0.5, 1, "X", "condition"),
    ]).withColumn("_ord", facts_mod._ord_key())
    assert df.collect()[0]._ord == facts_mod.ord_value(3, 17, 42)

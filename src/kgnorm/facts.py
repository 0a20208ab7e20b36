"""Fact canonicalization: mentions + top candidates → deduplicated facts.

The reference builds one ClinicalFact per mention's top candidate and
merges duplicates on the 5-part key ``(patient_id, omop_concept_id,
assertion, temporality, experiencer)`` with noisy-OR confidence
``1 - (1-a)(1-b)`` (fact_builder.py:208-250, executed row-at-a-time in
fact_builder_db.py:56-204).

Spark-first: the per-row lookup/merge loop becomes ONE distributed
hash aggregation.  Noisy-OR over any number of evidences is
order-independent, so it is safe as a partial+final agg; we compute it in
log space::

    merged = 1 - exp(sum(log(1 - c)))

with ``1 - c`` floored at 1e-15 so a perfect-confidence evidence doesn't
send ``log`` to null (Spark's ``log`` returns null for non-positive
input, unlike CPython which the reference relies on).

The conversation (``conv_id``) plays the reference's ``patient_id`` role
(SURVEY §1.1: transcripts replace documents).

Attributes that the reference resolves by "first processed wins"
(concept_name, domain — insertion order in a mutable DB row) are made
deterministic here with ``min_by`` over the mention's position
``(turn_idx, start_offset, end_offset)``; triple parity is unaffected
because the dedup key doesn't include them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from kgnorm import schemas

FACT_KEY = ["conv_id", "omop_concept_id", "assertion", "temporality", "experiencer"]

# packed mention-position key multipliers — shared by the batch agg, the
# incremental merge, the streaming state kernel AND the SQL oracles
# (turn*1e8 + start*1e4 + end); offsets ≥ 10^4 bleed into the next
# field, a documented quirk every consumer reproduces identically
ORD_TURN = 100_000_000
ORD_START = 10_000


def ord_value(turn_idx: int, start_offset: int, end_offset: int) -> int:
    """Pure-Python twin of :func:`_ord_key` (streaming state kernel)."""
    return turn_idx * ORD_TURN + start_offset * ORD_START + end_offset


def _ord_key():
    """Numeric mention-position key for deterministic first-evidence-wins picks;
    fits in a bigint for any realistic turn/offset ranges."""
    return (
        F.col("turn_idx").cast("long") * F.lit(ORD_TURN)
        + F.col("start_offset").cast("long") * F.lit(ORD_START)
        + F.col("end_offset").cast("long")
    )


def mention_facts_input(mentions: DataFrame, top_candidates: DataFrame) -> DataFrame:
    """FactInput rows: each mention's top candidate (rank 1) plus the
    mention's context attributes.

    Mentions without any candidate are skipped (document_processing.py:249-251).
    The candidate rows already CARRY the mention attributes
    (kgnorm.link.ATTR_COLS), so this is a pure projection — no join back
    to the mention table (which at target scale is 10^12 × ~5 rows).
    ``mentions`` is unused; the two-argument form stays for the callers
    that pass it (bench.py).
    """
    return top_candidates.select(
        "conv_id", "turn_idx", "start_offset", "end_offset",
        "omop_concept_id", "concept_name", "domain_id",
        "assertion", "temporality", "experiencer", "confidence",
    )


def log1m(confidence):
    """``log(1 - confidence)`` with ``1 - confidence`` floored at 1e-15:
    the noisy-OR term every fact merge sums (see the module docstring)."""
    return F.log(F.greatest(1.0 - confidence, F.lit(1e-15)))


def build_facts(fact_inputs: DataFrame) -> DataFrame:
    """Aggregate FactInput rows into canonical facts (noisy-OR merge).

    Shuffle plan: plain ``groupBy`` — Spark's partial (map-side)
    aggregation collapses each fact's evidences BEFORE the exchange.
    Because upstream extraction already co-partitions a conversation's
    mentions, the partial agg fully combines duplicates, so the exchange
    carries ~facts-many narrow rows instead of ~mentions-many wide ones.
    Measured at 12M turns / 60M mentions (local[32]): 30.2s for
    facts→triples vs 66.6s for the alternative single-exchange plan
    (explicit repartition(conv_id) whose hash(conv) partitioning lets the
    agg and the graph window reuse one exchange — fewer exchanges but
    2.2× more shuffled bytes).
    """
    return (
        fact_inputs
        .withColumn("_ord", _ord_key())
        .groupBy(*FACT_KEY)
        .agg(
            F.expr("min_by(concept_name, _ord)").alias("concept_name"),
            F.expr("min_by(domain_id, _ord)").alias("domain"),
            (1.0 - F.exp(F.sum(log1m(F.col("confidence"))))).alias("confidence"),
            F.count(F.lit(1)).alias("evidence_count"),
            F.min("turn_idx").alias("first_turn_idx"),
            F.expr("min_by(start_offset, _ord)").alias("first_start_offset"),
        )
        .select(
            "conv_id", "omop_concept_id", "concept_name", "domain",
            "assertion", "temporality", "experiencer", "confidence",
            "evidence_count", "first_turn_idx", "first_start_offset",
        )
    )


def _is_facts_shaped(df: DataFrame) -> bool:
    """True when df is a build_facts output (already aggregated) rather
    than raw FactInput rows."""
    return "evidence_count" in df.columns


def merge_facts(existing: DataFrame, new_inputs: DataFrame) -> DataFrame:
    """MERGE-shaped incremental noisy-OR re-aggregation — the batch
    upsert for stream-appended turns (kgnorm/streaming.py scopes the
    sink; this closes the append-only 10^12-turn loop).

    ``existing`` is a previously-built facts table (``build_facts``
    output); ``new_inputs`` are FactInput rows for NEWLY-ARRIVED turns
    only — or an ALREADY-AGGREGATED delta (build_facts output, detected
    by its evidence_count column) for callers that computed it anyway.  Noisy-OR is associative and commutative, so merging the
    stored fact with the delta's aggregate equals re-aggregating from
    scratch:  ``1 - (1-c_old)(1-c_delta)``, computed in log space like
    ``build_facts``.  Confidence can wobble in the last ulps (the stored
    ``confidence`` re-enters log space through ``1 - c``), which the
    universal 6-dp consumer rounding absorbs; every other column is
    exactly the full-rerun value.  Cross-side first-evidence comparison
    uses the batch agg's OWN packed ord key (turn·ORD_TURN +
    start·ORD_START), reconstructed from the stored row, with two
    documented gaps vs a full rebuild (both confined to the COSMETIC
    columns concept_name / domain / first_start_offset — the dedup key,
    confidence and evidence_count are never affected):

    * the batch ``min_by`` additionally ranks end_offset, unknowable
      from the stored row — exact packed ties prefer the existing side;
    * the reconstruction pairs ``first_turn_idx`` (an INDEPENDENT min in
      ``build_facts``) with ``first_start_offset`` (the ord-winner's
      start).  With multiple evidences on a side these can come from
      different mentions once ``start_offset·ORD_START`` overflows into
      the turn field (start_offset ≥ 10^4, i.e. a >10k-char turn), so
      the reconstructed ord is one no single mention had and the
      cross-side winner can diverge from the batch pick.  For turns
      under 10k characters the ord minimum is always attained at
      (min turn, its min start) and the reconstruction is exact.

    NULL fact-key attributes merge like the batch
    groupBy (null-safe key equality), not like SQL join NULLs.

    Spark plan = the MERGE INTO pattern: aggregate the (small) delta,
    then ONE shuffle join on the fact key.  On Iceberg this maps 1:1 to
    ``MERGE INTO facts USING delta ON <FACT_KEY> WHEN MATCHED THEN
    UPDATE ... WHEN NOT MATCHED THEN INSERT``; for plain parquet use
    ``upsert_facts_parquet`` (partition-scoped rewrite).
    """
    delta = new_inputs if _is_facts_shaped(new_inputs) else build_facts(new_inputs)
    e, n = existing.alias("e"), delta.alias("n")
    # null-safe key equality: build_facts' groupBy treats NULL key
    # attributes as equal, so the merge join must too — a plain
    # on=FACT_KEY join would leave NULL-keyed facts unmatched and
    # duplicate them instead of merging
    cond = None
    for k in FACT_KEY:
        c = F.col(f"e.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else cond & c
    joined = e.join(n, cond, "full")

    e_has = F.col("e.evidence_count").isNotNull()
    n_has = F.col("n.evidence_count").isNotNull()

    # side whose first evidence comes earliest in document order — the
    # SAME packed ord the batch agg minimizes (minus the unstored
    # end_offset term), so merge picks exactly like build_facts even
    # where the packed key's ≥10^4-offset quirk reorders spans
    def _side_ord(side: str):
        return (
            F.col(f"{side}.first_turn_idx").cast("long") * F.lit(ORD_TURN)
            + F.col(f"{side}.first_start_offset").cast("long") * F.lit(ORD_START)
        )

    e_first = e_has & (~n_has | (_side_ord("e") <= _side_ord("n")))

    def _first(col: str):
        return F.when(e_first, F.col(f"e.{col}")).otherwise(F.col(f"n.{col}"))

    def _log1m(side: str):
        return F.when(
            F.col(f"{side}.evidence_count").isNotNull(),
            log1m(F.col(f"{side}.confidence")),
        ).otherwise(F.lit(0.0))

    conf = (
        F.when(~n_has, F.col("e.confidence"))       # untouched fact: bit-identical
        .when(~e_has, F.col("n.confidence"))        # brand-new fact: bit-identical
        .otherwise(1.0 - F.exp(_log1m("e") + _log1m("n")))
    )
    return joined.select(
        *[F.coalesce(F.col(f"e.{k}"), F.col(f"n.{k}")).alias(k) for k in FACT_KEY],
        _first("concept_name").alias("concept_name"),
        _first("domain").alias("domain"),
        conf.alias("confidence"),
        (F.coalesce(F.col("e.evidence_count"), F.lit(0))
         + F.coalesce(F.col("n.evidence_count"), F.lit(0))).alias("evidence_count"),
        # least() skips nulls — min(turn) across whichever sides exist
        F.least(F.col("e.first_turn_idx"), F.col("n.first_turn_idx"))
        .alias("first_turn_idx"),
        _first("first_start_offset").alias("first_start_offset"),
    )


def bucket_col(n_buckets: int):
    """Stable conv_id bucketing for the parquet facts layout."""
    return F.pmod(F.hash("conv_id"), F.lit(n_buckets))


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for ``path_str`` resolved through the session's
    Hadoop conf — works for any warehouse scheme (file://, hdfs://,
    s3a://), unlike driver-local ``os.path`` probes which always say
    "missing" on a remote URI and would silently turn every append into
    a delta-only overwrite (r4 ADVICE)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _facts_table_exists(spark, facts_dir: str) -> bool:
    """Table presence = any ``_bucket=`` partition directory (dynamic /
    staged commits don't maintain a root ``_SUCCESS``)."""
    fs, hpath = _hadoop_fs(spark, facts_dir)
    if not fs.exists(hpath):
        return False
    return any(
        st.getPath().getName().startswith("_bucket=")
        for st in fs.listStatus(hpath)
    )


def _staging_dir(facts_dir: str) -> str:
    return facts_dir.rstrip("/") + "__staging"


def recover_staged_upsert(spark, facts_dir: str) -> None:
    """Complete (or discard) an interrupted ``upsert_facts_parquet``.

    Commit protocol: the merged hot buckets are FULLY written to the
    sibling ``<facts_dir>__staging`` (Spark's ``_SUCCESS`` marks the
    write complete), then each staged ``_bucket=`` directory is swapped
    into the live table (delete old dir + rename staged dir — both
    metadata-only on HDFS-like stores).  This function makes the
    protocol crash-safe end-to-end:

    * crash BEFORE ``_SUCCESS``: the staging remnant is deleted — the
      live table was never touched, the caller re-runs the append;
    * crash DURING the swap: already-swapped buckets are gone from
      staging, the rest (still marked by ``_SUCCESS``) are swapped in
      now — the swap loop is idempotent.

    (Iceberg's ``MERGE INTO`` gets the same guarantee from its snapshot
    commit; this is the plain-parquet equivalent, same shape as
    ``kgnorm.checkpoints.StageStore``'s staged CTAS-then-rename.)
    """
    fs, staging = _hadoop_fs(spark, _staging_dir(facts_dir))
    if not fs.exists(staging):
        return
    jvm = spark._jvm
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(staging, "_SUCCESS")):
        fs.delete(staging, True)   # incomplete write — live table intact
        return
    dest_root = jvm.org.apache.hadoop.fs.Path(facts_dir)
    fs.mkdirs(dest_root)
    for st in fs.listStatus(staging):
        name = st.getPath().getName()
        if not name.startswith("_bucket="):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(dest_root, name)
        if fs.exists(dest):
            fs.delete(dest, True)
        if not fs.rename(st.getPath(), dest):
            raise IOError(f"rename {st.getPath()} -> {dest} failed")
    fs.delete(staging, True)


def upsert_facts_parquet(
    spark, facts_dir: str, new_inputs: DataFrame, n_buckets: int = 64
) -> list[int]:
    """Parquet fallback for the Iceberg MERGE: the facts table lives
    partitioned by ``_bucket = pmod(hash(conv_id), n_buckets)``; an
    upsert re-aggregates ONLY the buckets containing delta conversations
    and rewrites just those directories — at 10^9 facts an append
    touching 1% of conversations rewrites ~1% of the table, never the
    whole thing.

    Returns the delta's bucket ids, sorted (the buckets rewritten).  The
    delta is aggregated once and stays persisted for the call; its
    bucket ids (at most ``n_buckets`` ints) are collected to the driver,
    and the existing table is read with a static ``_bucket IN (...)``
    filter, so only the touched bucket directories are scanned.  An
    empty delta returns ``[]`` before any write.  The rewritten buckets
    are spread over the session's cores (:func:`write_bucketed`).

    Crash safety (r4 verdict #4): the merged hot buckets are staged to a
    sibling directory and swapped in per-bucket (see
    :func:`recover_staged_upsert` for the full protocol) — an interrupt
    anywhere before the swap leaves the previous facts table fully
    readable, and a half-finished swap completes on the next call.
    Staging to a sibling also severs the read-from/overwrite cycle
    without materializing the merge on the driver-local checkpoint dir.

    First call (no table yet) writes the delta's buckets directly.
    """
    recover_staged_upsert(spark, facts_dir)
    delta = build_facts(new_inputs).withColumn("_bucket", bucket_col(n_buckets)).persist()
    try:
        touched = sorted(r[0] for r in delta.select("_bucket").distinct().collect())
        if not touched:
            return []
        if not _facts_table_exists(spark, facts_dir):
            write_bucketed(delta, facts_dir, len(touched))
            return touched
        existing = read_bucketed(spark, facts_dir, schemas.FACTS)
        # pass the ALREADY-AGGREGATED delta — merge_facts would otherwise
        # re-run build_facts(new_inputs) and its whole upstream lineage
        merged = merge_facts(
            existing.filter(F.col("_bucket").isin(touched)).drop("_bucket"),
            delta.drop("_bucket"),
        ).withColumn("_bucket", bucket_col(n_buckets))
        staging = _staging_dir(facts_dir)
        fs, spath = _hadoop_fs(spark, staging)
        fs.delete(spath, True)
        # static overwrite of the (fresh) staging dir — a session-wide
        # dynamic partitionOverwriteMode would skip the root _SUCCESS
        # marker the commit protocol keys on
        with _partition_overwrite(spark, "static"):
            write_bucketed(merged, staging, len(touched))
        recover_staged_upsert(spark, facts_dir)   # commit: swap staged buckets in
        return touched
    finally:
        delta.unpersist()


def read_bucketed(spark, path: str, schema: StructType) -> DataFrame:
    """A ``_bucket``-partitioned table (facts or triples) read with its
    known schema: no job reads parquet footers to infer it."""
    return spark.read.schema(
        StructType(schema.fields + [StructField("_bucket", IntegerType())])
    ).parquet(path)


def write_bucketed(df: DataFrame, path: str, n_touched: int) -> None:
    """Overwrite ``path`` partitioned by ``df``'s ``n_touched`` distinct
    ``_bucket`` values, one file per bucket, the buckets spread over the
    session's cores.  The explicit partition count keeps AQE from
    coalescing a small write into one task.  A local table is written
    through the raw local file system (``session.RAW_LOCAL_FS``)."""
    from kgnorm.session import RAW_LOCAL_FS

    tasks = min(n_touched, df.sparkSession.sparkContext.defaultParallelism)
    (df.repartition(tasks, "_bucket")
     .write.options(**RAW_LOCAL_FS).mode("overwrite").partitionBy("_bucket").parquet(path))


def _partition_overwrite(spark, mode: str):
    from kgnorm.session import conf_override

    return conf_override(spark, "spark.sql.sources.partitionOverwriteMode", mode)


def positive_facts(facts: DataFrame) -> DataFrame:
    """Positive-event projection: ABSENT facts filtered.

    The facts table itself always preserves negated findings
    (fact_builder.py:252-264 — the negation-preservation invariant);
    this projection is only for positive-event exports
    (specs/omop_export.md:48-58).
    """
    return facts.filter(F.col("assertion") != "absent")

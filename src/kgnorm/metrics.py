"""Per-partition lineage/metrics rows and pipeline invariant checks.

The north rule requires the materialized graph to carry per-partition
lineage and metrics rows; the reference's analogue is its graph stats
and pipeline stage counters (graph_builder_db.py:284-332,
extraction_pipeline.py:737-758), which we re-express as small
aggregations that run as part of the job and land in a ``metrics``
table.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window, functions as F

from kgnorm import schemas


def _lineage(df: DataFrame, stage: str, key: str, key_col) -> DataFrame:
    """Rows, distinct conversations and the turn range of ``df`` per
    ``key_col``, as ``(stage, <key>, rows, convs, min_turn_idx,
    max_turn_idx)`` rows."""
    cols = df.columns
    conv = F.col("conv_id") if "conv_id" in cols else F.lit("")
    turn = F.col("turn_idx") if "turn_idx" in cols else F.lit(None).cast("int")
    return (
        df.select(key_col.alias(key), conv.alias("conv_id"), turn.alias("turn_idx"))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("conv_id").alias("convs"),
            F.min("turn_idx").alias("min_turn_idx"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .select(
            F.lit(stage).alias("stage"),
            key, "rows", "convs", "min_turn_idx", "max_turn_idx",
        )
    )


def stage_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row/conversation counts for a stage output.

    ``partition_id`` is the physical partition the row lived in when the
    stage materialized — the lineage hook for debugging skew and for
    verifying a resumed run covered every partition.
    """
    return _lineage(df, stage, "partition_id", F.spark_partition_id())


def logical_lineage(df: DataFrame, stage: str, bucket,
                    n_buckets: int = 64) -> DataFrame:
    """Deterministic per-bucket lineage/metrics rows.

    ``stage_metrics`` describes the PHYSICAL partitions of one
    concrete run (`spark_partition_id`), which is the right lineage for
    debugging that run's skew — but it is not stable across reruns,
    AQE decisions, or cluster sizes.  This variant buckets on a
    DETERMINISTIC expression over the data itself, so a resumed or
    re-partitioned run produces byte-identical lineage rows and
    coverage can be verified independently of physical layout
    (the north rule's per-partition lineage + metrics contract).

    ``bucket`` is a Column expression (e.g.
    ``F.pmod(F.xxhash64("conv_id"), F.lit(64))`` in production; any
    deterministic integer expression works and oracle replication just
    mirrors it).
    """
    return _lineage(df, stage, "bucket", F.pmod(bucket, F.lit(n_buckets)).cast("int"))


def domain_counts(facts: DataFrame) -> DataFrame:
    """Graph-stats analogue: fact counts per conversation and domain."""
    return facts.groupBy("conv_id", "domain").agg(F.count(F.lit(1)).alias("n_facts"))


# ---------------------------------------------------------------------------
# quality-metrics trending (reference quality_metrics.py:193-534)
# ---------------------------------------------------------------------------

_ENTITY_DOMAINS = ["condition", "drug", "measurement", "procedure", "observation"]


def per_doc_metrics(mentions: DataFrame) -> DataFrame:
    """Per-conversation ProcessingMetrics analogue
    (quality_metrics.py:57-94): mention counts, per-entity-type counts,
    confidence stats, mapping found/failed — one groupBy, map-side
    partial agg."""
    domain = F.lower(F.coalesce(F.col("domain_hint"), F.lit("observation")))
    aggs = [
        F.count(F.lit(1)).alias("mentions_extracted"),
        F.round(F.avg("confidence"), 6).alias("avg_confidence"),
        F.sum(F.when(F.col("confidence") < 0.5, 1).otherwise(0)).alias("low_confidence_count"),
        F.sum(F.when(F.col("omop_concept_id") > 0, 1).otherwise(0)).alias("mappings_found"),
        F.sum(F.when(F.col("omop_concept_id") > 0, 0).otherwise(1)).alias("mappings_failed"),
    ]
    for d in _ENTITY_DOMAINS:
        aggs.append(F.sum(F.when(domain == d, 1).otherwise(0)).alias(f"{d}s_extracted"))
    return mentions.groupBy("conv_id").agg(*aggs)


def aggregated_quality(per_doc: DataFrame) -> DataFrame:
    """One-row AggregatedMetrics analogue (quality_metrics.py:246-348):
    totals, per-entity sums, confidence-bucket distribution, mapping
    success rate, and the reference's INDEX-based percentiles of the
    per-doc mention load (sorted[n//2], sorted[int(n*.95)] when n>20,
    sorted[int(n*.99)] when n>100, else max — :329-332).

    Scale note: the index percentiles need a global sort of the PER-DOC
    table (one row per conversation — 10⁶ rows per 10⁹ turns), ranked
    with one window; at larger scales substitute percentile_approx and
    accept interpolated semantics.
    """
    conf = F.col("avg_confidence")
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("document_count"),
        F.sum("mentions_extracted").alias("total_mentions"),
        F.round(F.avg("mentions_extracted"), 6).alias("avg_mentions_per_doc"),
        F.round(F.avg(F.when(conf > 0, conf)), 6).alias("avg_confidence"),
        F.sum(F.when(conf < 0.5, 1).otherwise(0)).alias("conf_0_05"),
        F.sum(F.when((conf >= 0.5) & (conf < 0.7), 1).otherwise(0)).alias("conf_05_07"),
        F.sum(F.when((conf >= 0.7) & (conf < 0.9), 1).otherwise(0)).alias("conf_07_09"),
        F.sum(F.when(conf >= 0.9, 1).otherwise(0)).alias("conf_09_10"),
        F.sum("mappings_found").alias("mappings_succeeded"),
        (F.sum("mappings_found") + F.sum("mappings_failed")).alias("mappings_attempted"),
        F.max("mentions_extracted").alias("max_mentions"),
        *[F.sum(f"{d}s_extracted").alias(f"total_{d}s") for d in _ENTITY_DOMAINS],
    ).withColumn(
        "mapping_success_rate",
        F.round(F.col("mappings_succeeded") / F.col("mappings_attempted"), 6),
    )
    # Exact index-percentiles WITHOUT a global per-doc sort: the selected
    # value depends only on m (the reference's conv_id tie-break orders
    # equal-m rows among themselves, never changing the m at any index),
    # so the k-th order statistic over 10^9 docs reduces to a cumulative
    # count over the groupBy(m) histogram — the only globally-ordered
    # window runs over #distinct-mention-counts rows (tiny), not #docs.
    # (r2 verdict item: the old row_number() over Window.orderBy(m,
    # conv_id) funneled the whole per-doc table through one task.)
    counts = per_doc.groupBy(F.col("mentions_extracted").alias("m")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wm = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("c").over(wm))
    picked = (
        cum.crossJoin(F.broadcast(stats.select("document_count")))
        .select(
            "m", "c", "cum",
            (F.floor(F.col("document_count") / 2) + 1).alias("i50"),
            F.when(F.col("document_count") > 20,
                   F.floor(F.col("document_count") * 0.95) + 1).alias("i95"),
            F.when(F.col("document_count") > 100,
                   F.floor(F.col("document_count") * 0.99) + 1).alias("i99"),
        )
        # index i falls inside m's run iff cum - c < i <= cum
        .agg(
            F.max(F.when((F.col("i50") > F.col("cum") - F.col("c"))
                         & (F.col("i50") <= F.col("cum")), F.col("m")))
            .alias("p50_mentions"),
            F.max(F.when((F.col("i95") > F.col("cum") - F.col("c"))
                         & (F.col("i95") <= F.col("cum")), F.col("m")))
            .alias("p95_mentions_idx"),
            F.max(F.when((F.col("i99") > F.col("cum") - F.col("c"))
                         & (F.col("i99") <= F.col("cum")), F.col("m")))
            .alias("p99_mentions_idx"),
        )
    )
    return stats.crossJoin(F.broadcast(picked)).select(
        "document_count", "total_mentions", "avg_mentions_per_doc",
        "avg_confidence", "conf_0_05", "conf_05_07", "conf_07_09", "conf_09_10",
        "mappings_succeeded", "mappings_attempted", "mapping_success_rate",
        *[f"total_{d}s" for d in _ENTITY_DOMAINS],
        "p50_mentions",
        F.coalesce("p95_mentions_idx", "max_mentions").alias("p95_mentions"),
        F.coalesce("p99_mentions_idx", "max_mentions").alias("p99_mentions"),
        F.col("max_mentions"),
    )


def rolling_trend(per_doc: DataFrame, value_col: str, window_size: int = 10,
                  method: str = "auto") -> DataFrame:
    """Rolling-average trend over conversations ordered by conv_id
    (quality_metrics.py:494-525 exposes raw last-N points; the rolling
    mean is the dashboard's smoothing step).

    Scale-safe exact plan (r3 verdict item #1 — the old
    ``Window.orderBy("conv_id")`` with no partitionBy funneled the whole
    per-doc table through ONE task).  The global order is realized with
    the range-partition + offset trick, fully lazy:

    1. ``repartitionByRange(conv_id)`` — order-preserving partitions,
       materialized ONCE (eager localCheckpoint): the range sampler's
       seed includes the rdd id, so two independent materializations of
       the exchange could pick different boundaries; both consumers
       below must read the same pid→rows mapping, so it is pinned
       rather than left to exchange-reuse;
    2. per-partition (count, value-sum) -> cumulative offsets — the
       only globally-ordered window left runs over #shuffle-partitions
       rows (bounded by config), not #conversations;
    3. global row number rn = offset + per-partition ``row_number``.

    Two formulations share that numbering (``method``):

    * ``"explode"`` — each row contributes to the ``window_size``
      rolling windows ending at rn .. rn+w-1: explode + groupBy(window
      end) computes (sum, count) per window with map-side partial
      aggregation; phantom windows past the last row drop out in the
      inner join.  Row cost is ``window_size`` × input — right for the
      dashboard's small windows (default 10).
    * ``"prefix"`` — global prefix sums (partition value-offset + a
      running per-partition sum sharing the row-number window's sort);
      rolling sum(rn) = prefix[rn] − prefix[rn−w] via one self-join on
      the rn offset.  Row cost is 2 × input regardless of
      ``window_size`` — the w ≫ 100 path.

    ``"auto"`` picks explode for window_size ≤ 100, prefix above.  Both
    are exact (byte-identical to the single-window plan, and to each
    other — tests/test_quality_metrics.py property-pins it) for integer
    metrics — the driver query's ``mentions_extracted``; float metrics
    could differ in summation order below the 6-dp rounding.
    """
    if method == "auto":
        method = "explode" if window_size <= 100 else "prefix"
    if method not in ("explode", "prefix"):
        raise ValueError(f"unknown rolling_trend method: {method!r}")
    # EXPLICIT partition count (a bare repartitionByRange would let AQE
    # coalesce the exchange) + eager checkpoint so the two consumers
    # below (counts, row-number) observe the identical pid→rows mapping
    # by construction, not by exchange-reuse luck
    n_parts = int(per_doc.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    d = (
        per_doc.select("conv_id", F.col(value_col).alias("value"))
        .repartitionByRange(n_parts, "conv_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = d.groupBy("pid").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("value").alias("_v"))
    off_w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("_c").over(off_w), F.lit(0)).alias("_off"),
        F.coalesce(F.sum("_v").over(off_w), F.lit(0)).alias("_voff"),
    )
    rn_w = Window.partitionBy("pid").orderBy("conv_id")
    numbered = (
        d.join(F.broadcast(offsets), "pid")
        .withColumn("rn", F.col("_off") + F.row_number().over(rn_w))
    )
    if method == "explode":
        sums = (
            numbered.select(
                "value",
                F.explode(
                    F.sequence(F.col("rn"), F.col("rn") + F.lit(window_size - 1))
                ).alias("target"),
            )
            .groupBy("target")
            .agg(F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n"))
        )
        return numbered.join(sums, numbered.rn == sums.target).select(
            "conv_id",
            "value",
            F.round(F.col("_s") / F.col("_n"), 6).alias("rolling_avg"),
        )
    # prefix path: the running sum shares rn_w's partitioning+sort, so
    # it rides the row-number window's single exchange
    cum_w = rn_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prefixed = numbered.withColumn(
        "_prefix", F.col("_voff") + F.sum("value").over(cum_w))
    prev = prefixed.select(
        F.col("rn").alias("_prn"), F.col("_prefix").alias("_pprefix"))
    return (
        prefixed.join(prev, prefixed.rn - window_size == prev._prn, "left")
        .select(
            "conv_id",
            "value",
            F.round(
                (F.col("_prefix") - F.coalesce(F.col("_pprefix"), F.lit(0)))
                / F.least(F.col("rn"), F.lit(window_size)), 6
            ).alias("rolling_avg"),
        )
    )


def accuracy_prf(validation: DataFrame) -> DataFrame:
    """Precision/recall/F1 per entity type + 'all'
    (quality_metrics.py:350-387): validation rows carry
    (entity_type, predicted: bool, actual: bool)."""
    base = validation.select("entity_type", "predicted", "actual")
    both = base.unionByName(base.select(F.lit("all").alias("entity_type"), "predicted", "actual"))
    agg = both.groupBy("entity_type").agg(
        F.count(F.lit(1)).alias("total_samples"),
        F.sum(F.when(F.col("predicted") & F.col("actual"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("predicted") & ~F.col("actual"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("predicted") & F.col("actual"), 1).otherwise(0)).alias("fn"),
    )
    # f1 from the RAW p/r, each rounded independently at the end
    # (quality_metrics.py:374-386)
    raw = agg.select(
        "entity_type", "total_samples", "tp", "fp", "fn",
        F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp")))
        .otherwise(F.lit(0.0)).alias("p_raw"),
        F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
        .otherwise(F.lit(0.0)).alias("r_raw"),
    )
    return raw.select(
        "entity_type", "total_samples", "tp", "fp", "fn",
        F.round("p_raw", 4).alias("precision"),
        F.round("r_raw", 4).alias("recall"),
        F.round(
            F.when(F.col("p_raw") + F.col("r_raw") > 0,
                   2 * F.col("p_raw") * F.col("r_raw") / (F.col("p_raw") + F.col("r_raw")))
            .otherwise(F.lit(0.0)), 4).alias("f1_score"),
    )


def mention_span_check(transcripts: DataFrame, mentions: DataFrame) -> int:
    """Per-turn text-equality invariant (north rule).

    Every mention's ``[start_offset, end_offset)`` slice of the ORIGINAL
    turn text must equal its ``mention_text`` — proving the pipeline
    never mutated ``text`` and offsets stay valid under the stable
    ``(conv_id, turn_idx)`` ordering.  Returns the number of violations
    (0 == invariant holds).

    ``job.run_pipeline`` starts it in a branch as soon as the mentions
    checkpoint is read back, so it runs alongside linking and facts;
    ``job.main --append`` runs it after ``run_append``.
    """
    joined = mentions.join(transcripts.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    bad = joined.filter(
        F.expr("substring(text, start_offset + 1, end_offset - start_offset)") != F.col("mention_text")
    )
    return bad.count()


class TurnOrder(NamedTuple):
    turns: int
    duplicate_keys: int


def turn_order_check(transcripts: DataFrame) -> TurnOrder:
    """Stable turn ordering: (conv_id, turn_idx) must be unique.

    One query returns the turn count with the duplicate-key count, so a
    caller needs no second scan to count its input.

    ``job.run_pipeline`` runs it in a branch while ``mentions`` is
    extracted and written, and commits that stage only once it passes
    (``job.unique_turns``); ``job.main --append`` runs it before
    ``run_append`` writes anything.
    """
    row = (
        transcripts.groupBy("conv_id", "turn_idx")
        .count()
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("turns"),
            F.count_if(F.col("count") > 1).alias("duplicate_keys"),
        )
        .first()
    )
    return TurnOrder(row.turns, row.duplicate_keys)

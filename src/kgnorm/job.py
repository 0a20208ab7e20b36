"""End-to-end pipeline orchestration (the spark-submit entry point).

One Spark application replaces the reference's API→Redis→RQ-worker→
Postgres round-trip loop (jobs/document_processing.py:92-310, SURVEY §3.1).
Stages whose inputs are ready run as concurrent Spark jobs, each branch
submitted from its own driver thread (Spark's scheduling within an
application); the arrows are the only ordering::

    ontology ──→ alias closure ──────────────────────────╮  (--canonicalize)
       ↓ dictionary, concepts                             │
    transcripts ──→ turn-order check ─╮                   │
      → extract   (REBALANCE(conv_id), or a shuffle-free --partitions cap,
                   + broadcast-AC Arrow UDF)
      → mentions  (written alongside the check,           │
          │        committed once it passes)              │
          ├──→ span check                                 │
          ├──→ candidates  (link: direct path + tiered cascade)
          ↓ all-direct: the candidates' plan over mentions;
          ↓ otherwise the candidates stage                │
      → facts     (5-part-key noisy-OR hash agg)          │
          ├──→ canonical_facts ←──────────────────────────╯
          │      → canonical_triples
          └──→ graph_base  (one window for nodes/edges/triples)
                 ├──→ nodes
                 ├──→ edges
                 └──→ triples → metrics  (per-partition lineage rows;
                                          the triples count is observed
                                          on this write)

The alias closure (Maps-to hash-min connected components, kgnorm.canon)
reads only the ontology, so it runs while extraction does, in a session
of its own (see ``_alias_closure``).  No stage is committed before the
turn-order check passes: ``mentions`` is written without its
``_SUCCESS`` marker, which is created once the check passes, and only
then does the stage return (``StageStore.get_or_compute``'s gate).

``fact_inputs`` is the one extract→link→FactInput wiring; each caller
passes it how to materialize a stage.  Each batch stage checkpoints
through the StageStore ``run_pipeline`` requires; ``--resume`` skips
stages whose outputs already exist.  Run it on a cluster as::

    spark-submit --py-files kgnorm.zip -m kgnorm.job \
        --input <transcripts path/table> --output <warehouse dir> [--resume]
"""

from __future__ import annotations

import argparse
import json
import time
from concurrent.futures import Future, ThreadPoolExecutor
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from kgnorm import canon, extract, facts as facts_mod, graph, link, metrics, ontology, schemas, synth
from kgnorm.checkpoints import StageStore

BRANCH_THREAD = "kgnorm-branch"
# closure, turn-order check, span check, candidates, canonical, nodes,
# edges, triples, metrics: one thread each, so a branch waiting on another's
# result never holds the thread that one needs
MAX_BRANCHES = 9


def fact_inputs(spark: SparkSession, transcripts: DataFrame, ont: ontology.Ontology,
                stage=lambda name, build: build(), num_partitions: int | None = None,
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(mentions, candidates, fact_inputs)`` of ``transcripts``: the
    last is each mention's top candidate as FactInput rows.

    ``stage(name, build)`` is called for ``"mentions"``, then
    ``"candidates"``, and returns the frame later steps read (a
    checkpoint, a persisted frame; by default ``build()``).  Linking
    skips the cascade when every dictionary entry carries a concept id;
    candidates are then a filter and a projection of mentions, so the
    FactInput rows take that plan over the mentions stage and nothing
    here reads what the candidates stage returns.  Otherwise they read
    the candidates stage, so the cascade runs once.
    """
    dictionary = ontology.broadcast_dictionary(spark, ont)
    mentions = stage("mentions", lambda: extract.extract_mentions_df(
        transcripts, dictionary, num_partitions))
    direct = ontology.all_entries_linked(ont)
    concepts, synonyms = ontology.concepts_df(spark, ont), ontology.synonyms_df(spark, ont)

    def linked() -> DataFrame:
        return link.link_mentions(mentions, concepts, synonyms, assume_all_direct=direct)

    candidates = stage("candidates", linked)
    return mentions, candidates, facts_mod.mention_facts_input(
        mentions, link.top_candidates(linked() if direct else candidates))


class Checks(NamedTuple):
    """The batch job's invariant counts: ``run_pipeline(...)["checks"]``."""
    turns: int              # input rows, from the turn-order check
    span_violations: int    # metrics.mention_span_check
    triples: int            # rows of the triples stage, from its metrics rows


def unique_turns(order: metrics.TurnOrder) -> int:
    """The turn count of a turn-order check; ``ValueError`` when a
    ``(conv_id, turn_idx)`` key repeats."""
    if order.duplicate_keys:
        raise ValueError(f"{order.duplicate_keys} duplicate (conv_id, turn_idx) keys")
    return order.turns


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    store: StageStore,
    resume: bool = False,
    canonicalize: bool = False,
    num_partitions: int | None = None,
) -> dict:
    """Run extract→link→facts→graph; returns every stage DataFrame, and
    the job's ``Checks`` under ``"checks"``.

    Stages checkpoint to ``store`` and (with ``resume=True``) skip
    recomputation.  ``canonicalize`` adds the CC-based alias-merged fact
    and triple outputs alongside the parity (reference-faithful) ones.

    Branches that do not depend on each other (see the module docstring)
    run as concurrent Spark jobs from driver threads.  The turn-order
    check is one of them: a repeated ``(conv_id, turn_idx)`` raises
    ``ValueError`` before any stage is committed.  A branch's exception
    is raised here once every branch has ended.
    """
    ont = ontology.load_fixture_ontology()
    direct = ontology.all_entries_linked(ont)

    def checkpointed(name: str, compute, gate=None) -> DataFrame:
        return store.get_or_compute(spark, name, compute, resume=resume, gate=gate)

    branches: dict[str, Future] = {}
    with ThreadPoolExecutor(max_workers=MAX_BRANCHES, thread_name_prefix=BRANCH_THREAD) as pool:

        def branch(name: str, fn, *args) -> Future:
            # each task gets its own copy of the caller's local properties
            # (job group, scheduler pool): Spark keeps a running query's
            # execution id there, so two threads must not share one copy
            branches[name] = pool.submit(inheritable_thread_target(spark)(fn), *args)
            return branches[name]

        closure = None
        if canonicalize and not (resume and store.exists("canonical_facts", spark)):
            closure = branch("closure", _alias_closure, spark, ont)
        order = branch("turn_order", metrics.turn_order_check, transcripts)

        def stage(name: str, build) -> DataFrame | Future:
            if name == "mentions":
                mentions = checkpointed(name, build, gate=lambda: unique_turns(order.result()))
                branch("span", metrics.mention_span_check, transcripts, mentions)
                return mentions
            candidates = branch(name, checkpointed, name, build)
            # all-direct: fact_inputs reads the candidates' plan, not this
            # stage, so facts need not wait for its write
            return candidates if direct else candidates.result()

        mentions, _, fi = fact_inputs(spark, transcripts, ont, stage, num_partitions)
        facts = checkpointed("facts", lambda: facts_mod.build_facts(fi))

        if canonicalize:
            def canonical() -> tuple[DataFrame, DataFrame]:
                canonical_facts = checkpointed(
                    "canonical_facts", lambda: canon.apply_mapping(facts, closure.result())
                )
                return canonical_facts, checkpointed(
                    "canonical_triples", lambda: graph.build_triples(canonical_facts)
                )

            branch("canonical", canonical)

        # one shared window for nodes/edges/triples (see graph.first_facts)
        graph_base = checkpointed("graph_base", lambda: graph.first_facts(facts))
        for name, build in (("nodes", graph.build_nodes), ("edges", graph.build_edges),
                            ("triples", graph.build_triples)):
            branch(name, checkpointed, name,
                   lambda build=build: build(graph_base, prepared=True))

        triples = branches["triples"]

        def lineage() -> tuple[DataFrame, int]:
            # the triples count rides on this write: its triples rows
            # count every row of the stage
            counted = Observation()
            all_metrics = (
                metrics.stage_metrics(mentions, "mentions")
                .unionByName(metrics.stage_metrics(facts, "facts"))
                .unionByName(metrics.stage_metrics(triples.result(), "triples"))
                .observe(counted, F.sum(F.when(F.col("stage") == "triples", F.col("rows")))
                         .alias("rows"))
            )
            store.write(all_metrics, "metrics")
            return (store.read(spark, "metrics", all_metrics.schema),
                    counted.get["rows"] or 0)

        branch("metrics", lineage)

    # every thread has ended; read each result so a branch's failure raises
    done = {name: f.result() for name, f in branches.items()}
    out = {
        "mentions": mentions,
        "candidates": done["candidates"],
        "facts": facts,
        "nodes": done["nodes"],
        "edges": done["edges"],
        "triples": done["triples"],
        "metrics": done["metrics"][0],
        "checks": Checks(done["turn_order"].turns, done["span"], done["metrics"][1]),
    }
    if canonicalize:
        out["canonical_facts"], out["canonical_triples"] = done["canonical"]
    return out


def _alias_closure(spark: SparkSession, ont: ontology.Ontology) -> DataFrame:
    """The ontology's alias mapping (``canon.canonical_mapping``), built in
    its own session: the closure overrides ``spark.sql.shuffle.partitions``
    for its loop, and stages planned meanwhile in ``spark`` must keep the
    caller's value.  The mapping is checkpointed, so joining it into
    ``spark``'s plans reads its rows and replans nothing."""
    relationships = ontology.relationships_df(spark.newSession(), ont)
    return canon.canonical_mapping(relationships, n_rel=len(ont.relationships))


def run_append(
    spark: SparkSession,
    new_transcripts: DataFrame,
    output: str,
    num_partitions: int | None = None,
    n_buckets: int = 64,
) -> dict[str, DataFrame]:
    """Incremental append (the 10^12-turn operating mode): extract+link
    ONLY the newly-arrived turns, then MERGE their facts into the
    bucketed facts table at ``<output>/facts_bucketed`` — created on
    the first call, partition-scoped rewrites after
    (facts.upsert_facts_parquet) — and re-project the triples for the
    touched buckets only into ``<output>/triples_bucketed``.  Cost is
    proportional to the delta, never the stored table; both merged
    tables equal a full batch rerun over all turns ever appended
    (tests/test_job_append.py pins it).

    The upsert returns the delta's bucket ids; the triples refresh reads
    just those ``_bucket`` directories (static partition pruning) and
    writes them spread over the session's cores
    (facts.write_bucketed), one file per bucket.  A delta with no facts
    rewrites nothing.  Both tables are read with their known schemas.

    Returns ``{"mentions", "facts", "triples"}``: the delta's mentions
    and the whole merged facts and triples tables (without ``_bucket``).
    ``out["mentions"]`` is returned PERSISTED (the facts upsert and the
    caller's span check both read it; candidates stay lazy); callers
    must ``unpersist()`` it when done — a long-lived session issuing
    sequential appends would otherwise accumulate cached mention
    partitions (the CLI does this after its span check).
    """
    import os

    mentions, _, fi = fact_inputs(
        spark, new_transcripts, ontology.load_fixture_ontology(),
        lambda name, build: build().persist() if name == "mentions" else build(),
        num_partitions)

    facts_dir = os.path.join(output, "facts_bucketed")
    touched = facts_mod.upsert_facts_parquet(spark, facts_dir, fi, n_buckets=n_buckets)
    bucketed = facts_mod.read_bucketed(spark, facts_dir, schemas.FACTS)

    # triples projection maintained incrementally too: rebuild ONLY the
    # buckets the delta touched (bucket = f(conv_id) and the graph
    # window is conv-scoped, so per-bucket projection is exact) and
    # dynamically overwrite those partitions
    triples_dir = os.path.join(output, "triples_bucketed")
    if touched:
        # no read/overwrite cycle here: the plan reads facts_bucketed and
        # writes triples_bucketed
        triples = (
            graph.build_triples(bucketed.filter(F.col("_bucket").isin(touched)).drop("_bucket"))
            .withColumn("_bucket", facts_mod.bucket_col(n_buckets))
        )
        with facts_mod._partition_overwrite(spark, "dynamic"):
            facts_mod.write_bucketed(triples, triples_dir, len(touched))

    return {
        "mentions": mentions,
        "facts": bucketed.drop("_bucket"),
        "triples": facts_mod.read_bucketed(spark, triples_dir, schemas.TRIPLES).drop("_bucket"),
    }


def main() -> None:
    from kgnorm.session import get_spark

    p = argparse.ArgumentParser(description="kgnorm KG-construction pipeline")
    p.add_argument("--input", help="transcripts parquet path (default: synthesize)")
    p.add_argument("--synth-turns", type=int, default=10_000, help="rows to synthesize when no --input")
    p.add_argument("--output", required=True, help="warehouse directory for stage tables")
    p.add_argument("--resume", action="store_true", help="skip stages whose outputs exist")
    p.add_argument("--canonicalize", action="store_true", help="also emit alias-merged outputs")
    p.add_argument("--append", action="store_true",
                   help="treat the input as NEWLY-ARRIVED turns and MERGE their "
                        "facts into <output>/facts_bucketed instead of rebuilding")
    p.add_argument("--partitions", type=int, default=None,
                   help="cap on extraction parallelism, applied with coalesce: "
                        "never raises the input's partition count, and also "
                        "limits the input scan's tasks")
    args = p.parse_args()
    if args.append and (args.resume or args.canonicalize):
        p.error("--append takes neither --resume nor --canonicalize")

    spark = get_spark("kgnorm-job")
    t0 = time.time()
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = synth.synth_transcripts(spark, args.synth_turns)

    if args.append:
        # before any write; the same query counts the input
        n_turns = unique_turns(metrics.turn_order_check(transcripts))
        out = run_append(spark, transcripts, args.output,
                         num_partitions=args.partitions)
        violations = metrics.mention_span_check(transcripts, out["mentions"])
        out["mentions"].unpersist()   # last consumer of the cached delta
        elapsed = time.time() - t0
        print(json.dumps({
            "turns_appended": n_turns,
            "facts_total": out["facts"].count(),
            "triples_total": out["triples"].count(),
            "span_violations": violations,
            "sec": round(elapsed, 2),
            "turns_per_sec": round(n_turns / elapsed, 1),
        }))
        spark.stop()
        return

    checks = run_pipeline(
        spark, transcripts, store=StageStore(args.output), resume=args.resume,
        canonicalize=args.canonicalize, num_partitions=args.partitions,
    )["checks"]
    elapsed = time.time() - t0
    print(json.dumps({
        "turns": checks.turns,
        "triples": checks.triples,
        "span_violations": checks.span_violations,
        "sec": round(elapsed, 2),
        "turns_per_sec": round(checks.turns / elapsed, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

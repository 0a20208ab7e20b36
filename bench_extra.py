"""Extra benchmarks: per-stage isolation + plan capture (guide §1).

``bench.py`` is the frozen driver contract; this file exists so the
optimization rounds can (a) time one pipeline stage at a time with the
noop sink (so we measure the computation, not the sink or a count's
column pruning), and (b) dump ``.explain("formatted")`` for every stage
to ``plans/<tag>/<stage>_<suffix>.txt`` for the plan-diff evidence
(the four text kernels are captured on their default partition choice,
and again with AQE off as ``<kernel>_aqe_off``).

Usage::

    python bench_extra.py --turns 10000000 --reps 3 \
        --stages extract,facts,graph,canon
    python bench_extra.py --plans plans/r06 --suffix before

Environment mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "src"))

from pyspark.sql import functions as F  # noqa: E402

from kgnorm import advanced, canon, ensemble, facts as facts_mod, graph, job, ontology, patterns, synth  # noqa: E402
from kgnorm.extract import extract_mentions_df  # noqa: E402
from kgnorm.session import conf_override, get_spark  # noqa: E402


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=1_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--stages", default="extract,link,facts,graph,canon")
    ap.add_argument("--plans", default=None, help="directory to write explain() files to")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--unique-texts", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4))
    os.environ.setdefault("KGNORM_DRIVER_MEM", "48g")
    spark = get_spark("kgnorm-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    ont = ontology.load_fixture_ontology()
    relationships = ontology.relationships_df(spark, ont)
    transcripts = synth.synth_transcripts(spark, args.turns,
                                          unique_texts=args.unique_texts)

    def fact_inputs(stage=lambda name, build: build()):
        return job.fact_inputs(spark, transcripts, ont, stage, num_partitions=cpus * 2)

    # ------------------------------------------------------------------
    # plan capture mode
    # ------------------------------------------------------------------
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

        def write_plan(name, df):
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh, contextlib.redirect_stdout(fh):
                df.explain("formatted")
            print("wrote", path)

        # the four text kernels on their default partition choice
        dictionary = ontology.broadcast_dictionary(spark, ont)
        kernels = {
            "extract": lambda: extract_mentions_df(transcripts, dictionary),
            "advanced": lambda: advanced.enhanced_mentions_df(transcripts, dictionary),
            "ensemble": lambda: ensemble.ensemble_mentions_df(transcripts, dictionary),
            "patterns": lambda: patterns.pattern_entities_df(transcripts),
        }
        for name, build in kernels.items():
            write_plan(name, build())
        with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
            for name, build in kernels.items():
                write_plan(f"{name}_aqe_off", build())
        f_ = facts_mod.build_facts(fact_inputs()[2])
        plans = {
            "facts": f_,
            "graph_first_facts": graph.first_facts(f_),
            "graph_triples": graph.build_triples(f_),
            "graph_nodes": graph.build_nodes(f_),
            "canon": graph.build_triples(canon.canonicalize_facts(f_, relationships)),
        }
        sys.path.insert(0, REPO)
        import __spark_entry__ as entrymod

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        q = entrymod.queries()
        plans["flagship_kg_triples"] = q["kg_triples"](spark, sf_dir)
        for name, df in plans.items():
            write_plan(name, df)
        spark.stop()
        return

    # ------------------------------------------------------------------
    # per-stage noop timing (each stage persisted and materialized by its
    # own noop write, so each timing covers exactly one stage's
    # computation)
    # ------------------------------------------------------------------
    stages = args.stages.split(",")
    out: dict[str, list[float]] = collections.defaultdict(list)
    sc = spark.sparkContext

    # warm python workers / codegen once
    sc.setJobDescription("warmup")
    fact_inputs()[0].limit(10_000).write.format("noop").mode("overwrite").save()

    for rep in range(args.reps):
        def timed(name, build):
            df = build().persist()
            stage = {"mentions": "extract", "candidates": "link"}[name]
            sc.setJobDescription(f"{stage} rep{rep}")
            out[stage].append(noop(df))
            return df

        m, c, fi = fact_inputs(timed)
        f_ = facts_mod.build_facts(fi).persist()
        sc.setJobDescription(f"facts rep{rep}")
        out["facts"].append(noop(f_))
        if "graph" in stages:
            sc.setJobDescription(f"graph rep{rep}")
            gb = graph.first_facts(f_).persist()
            t = noop(gb)
            t += noop(graph.build_nodes(gb, prepared=True))
            t += noop(graph.build_edges(gb, prepared=True))
            gb.unpersist()
            out["graph"].append(round(t, 3))
        if "canon" in stages:
            sc.setJobDescription(f"canon rep{rep}")
            out["canon"].append(noop(
                graph.build_triples(canon.canonicalize_facts(f_, relationships))))
        f_.unpersist()
        c.unpersist()
        m.unpersist()

    print(json.dumps({
        "turns": args.turns, "cpus": cpus, "reps": args.reps,
        "unique_texts": args.unique_texts,
        "stage_sec": {k: v for k, v in out.items() if k in stages},
        "stage_min": {k: min(v) for k, v in out.items() if k in stages},
    }))
    spark.stop()


if __name__ == "__main__":
    main()

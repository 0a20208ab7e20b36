"""One kgbench process: set up Spark and run the job's own entry point.

Started fresh by ``run.py`` for every batch op or append sequence, so each
pays the JVM start a ``python -m kgnorm.job`` user pays.
``kgnorm.session.get_spark`` is wrapped from outside to split set-up time (process start → session returned) from
job time (batch: session returned → the job calls ``spark.stop()``).

Modes:

* ``batch``  — ``kgnorm.job.main`` with ``--input … --output … --canonicalize``;
* ``append`` — one session; ``kgnorm.job.run_append`` once on the base
  turns (untimed; it creates the bucketed facts table), then once per
  delta, each call timed.  After each call the CLI's span check runs
  untimed;
* ``setup``  — only ``get_spark`` then ``stop``, an extra set-up sample.

With ``--trace 1`` the layer wrappers of ``layers.py`` are installed and
the event log is turned on; the per-layer numbers land in the result.
The result is one JSON object written to ``--result``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--t0", type=float, required=True, help="process spawn time (epoch s)")
    p.add_argument("--mode", choices=["batch", "append", "setup"], required=True)
    p.add_argument("--input", help="batch: transcripts parquet")
    p.add_argument("--base", help="append: base turns parquet (untimed)")
    p.add_argument("--delta", action="append", default=[], help="append: one timed delta")
    p.add_argument("--output", help="job warehouse directory")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--events", help="event log directory (trace)")
    p.add_argument("--distinct-ratio", type=float, default=0.0)
    p.add_argument("--result", required=True)
    args = p.parse_args()

    sys.path.insert(0, os.path.join(ROOT, "src"))
    import kgnorm.session as session
    from kgnorm import job, metrics
    from layers import DEFAULT_GROUP, Tracer, layer_metrics, read_event_logs

    # The shuffle goes where KGNORM_LOCAL_DIR points (run.py: inside the
    # checkout, the only place the benchmark may write).  get_spark still
    # evaluates its /dev/shm default, which creates that directory, so the
    # default is stubbed; it changes nothing else in the session.
    session._local_dir = lambda: os.environ["KGNORM_LOCAL_DIR"]
    tracer = Tracer() if args.trace else None
    conf = {"spark.ui.showConsoleProgress": "false"}
    if tracer:
        tracer.install()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    result: dict = {"setup_s": None, "session_s": None, "ops": [], "error": None}
    clock: dict[str, float] = {}
    get_spark = session.get_spark

    def timed_get_spark(app_name="kgnorm", master=None, shuffle_partitions=None, extra_conf=None):
        t = time.time()
        spark = get_spark(app_name, master, shuffle_partitions, {**(extra_conf or {}), **conf})
        clock["start"] = now = time.time()
        result["setup_s"], result["session_s"] = now - args.t0, now - t
        if tracer:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", DEFAULT_GROUP)
        stop = spark.stop

        def timed_stop():
            clock["end"] = time.time()
            stop()

        spark.stop = timed_stop
        return spark

    session.get_spark = timed_get_spark

    def batch() -> dict:
        sys.argv = ["kgnorm.job", "--input", args.input, "--output", args.output,
                    "--canonicalize"]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            job.main()
        report = json.loads(out.getvalue().strip().splitlines()[-1])
        if tracer:
            # the job's final counts run between its span check and stop()
            checked = [t1 for _, name, _, t1 in tracer.spans if name == "mention_span_check"]
            tracer.spans.append(("checks", "final_counts", checked[-1], clock["end"]))
        return {"wall_s": clock["end"] - clock["start"],
                "span_violations": report["span_violations"]}

    def append(spark, path: str) -> dict:
        turns = spark.read.parquet(path)
        t0 = time.time()
        out = job.run_append(spark, turns, args.output)
        wall = time.time() - t0
        # the CLI's span check, outside the timed region
        violations = metrics.mention_span_check(turns, out["mentions"])
        out["mentions"].unpersist()
        return {"wall_s": wall, "span_violations": violations, "t0": t0}

    try:
        since = 0.0
        if args.mode == "setup":
            session.get_spark("kgnorm-job").stop()
        elif args.mode == "batch":
            result["ops"].append(batch())
        else:
            spark = session.get_spark("kgnorm-append")
            append(spark, args.base)
            result["ops"] = [append(spark, d) for d in args.delta]
            since = result["ops"][0]["t0"]
            spark.stop()
        if tracer:
            result["layers"] = layer_metrics(
                tracer, read_event_logs(args.events, since), since, args.output,
                args.distinct_ratio, result["session_s"])
    except Exception:
        result["error"] = traceback.format_exc()
    with open(args.result, "w") as f:
        json.dump(result, f)
    sys.exit(1 if result["error"] else 0)


if __name__ == "__main__":
    main()

"""Per-SQL-execution timeline of one ``kgnorm.job`` run, from its event log.

    PYTHONPATH=src python tools/job_timeline.py --turns 20000 > timeline.txt
    PYTHONPATH=src python tools/job_timeline.py --append --turns 6000 > append.txt

Runs ``python -m kgnorm.job --synth-turns N --canonicalize`` in a child
process with the Spark event log on (passed through
``PYSPARK_SUBMIT_ARGS``, so the job's code is untouched), then parses the
log with the stdlib: one line per SQL execution with its start (seconds
after the first one started), duration, Spark job count and what it wrote or
scanned.  Jobs outside any SQL execution are listed too.  Overlapping
start/end ranges are executions that ran concurrently.

``--append`` instead runs ``kgnorm.job.run_append`` in one session on N
synthesized distinct-text turns split by ``turn_idx`` into a base table
(turns 0-1 of each conversation) and two deltas (turns 2-4, then 5-7),
each call under its own job group, and prints every job of each call:
start, duration, the task count of each stage it ran, and what it did.

``--events DIR`` parses an existing event log directory instead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the write command's first argument is its output directory
_WRITE = re.compile(r"Arguments: file:(/[^,\s]+), (?:true|false), ")
_GROUP = "spark.jobGroup.id"

# the --append child: slices written first, then one run_append per slice
_APPEND_CHILD = """
import sys
from pyspark.sql import functions as F
from kgnorm import job, synth
from kgnorm.session import get_spark

turns, work = int(sys.argv[1]), sys.argv[2]
spark = get_spark("kgnorm-append")
sc = spark.sparkContext
sc.setLocalProperty("spark.jobGroup.id", "input")
t = synth.synth_transcripts(spark, turns, unique_texts=True)
slices = {"base": t.turn_idx < 2, "delta1": t.turn_idx.between(2, 4), "delta2": t.turn_idx >= 5}
for name, cond in slices.items():
    t.filter(cond).write.parquet(f"{work}/{name}")
for name in slices:
    sc.setLocalProperty("spark.jobGroup.id", "input")
    delta = spark.read.parquet(f"{work}/{name}")
    sc.setLocalProperty("spark.jobGroup.id", name)
    job.run_append(spark, delta, f"{work}/out")["mentions"].unpersist()
spark.stop()
"""


def run_job(turns: int, work: str, append: bool) -> str:
    events = os.path.join(work, "events")
    os.makedirs(events)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.join(ROOT, "src")
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    if append:
        cmd = [sys.executable, "-c", _APPEND_CHILD, str(turns), work]
    else:
        cmd = [sys.executable, "-m", "kgnorm.job", "--synth-turns", str(turns),
               "--output", os.path.join(work, "out"), "--canonicalize"]
    report = subprocess.run(cmd, env=env, check=True, capture_output=True, text=True).stdout
    if report.strip():
        print(report.strip().splitlines()[-1], file=sys.stderr)
    return events


def _label(description: str, plan: str) -> str:
    """The action (``parquet``, ``count``, ``localCheckpoint`` ...) and,
    for a write, the directory written."""
    action = description.split(" at ")[0]
    m = _WRITE.search(plan)
    return f"{action} -> {os.path.basename(m.group(1))}" if m else action


def read_log(log_path: str) -> tuple[dict, dict]:
    """SQL executions and jobs of one event log, by id."""
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    with open(log_path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                execs[e["executionId"]] = {
                    "start": e["time"], "end": None, "jobs": 0,
                    "label": _label(e.get("description", ""),
                                    e.get("physicalPlanDescription", "")),
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                execs[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                stages = e.get("Stage Infos") or [{}]
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": None,
                    "exec": int(ex) if ex is not None else None,
                    "group": props.get(_GROUP),
                    "description": props.get("spark.job.description") or "",
                    "stages": e.get("Stage IDs", []),
                    "label": stages[-1].get("Stage Name", "?")}
                if ex is not None and int(ex) in execs:
                    execs[int(ex)]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
    for j in jobs.values():
        # stages skipped (their shuffle output reused) never complete
        j["tasks"] = [stage_tasks[s] for s in sorted(j["stages"]) if s in stage_tasks]
    return execs, jobs


def timeline(execs: dict, jobs: dict) -> list[str]:
    t0 = min([j["start"] for j in jobs.values()] + [ex["start"] for ex in execs.values()])
    end = max(j["end"] or j["start"] for j in jobs.values())
    out = [f"{'exec':>4} {'start_s':>8} {'dur_s':>7} {'jobs':>4}  what"]
    for ex_id, ex in sorted(execs.items(), key=lambda kv: kv[1]["start"]):
        if ex["jobs"] == 0:
            continue
        dur = ((ex["end"] or ex["start"]) - ex["start"]) / 1e3
        out.append(f"{ex_id:>4} {(ex['start'] - t0) / 1e3:>8.2f} {dur:>7.2f} "
                   f"{ex['jobs']:>4}  {ex['label']}")
    loose = sorted((j for j in jobs.values() if j["exec"] not in execs),
                   key=lambda j: j["start"])
    for j in loose:
        out.append(f"{'-':>4} {(j['start'] - t0) / 1e3:>8.2f} "
                   f"{((j['end'] or j['start']) - j['start']) / 1e3:>7.2f} {1:>4}  "
                   f"{j['label'].split(' at ')[0]} (job outside any SQL execution)")
    with_jobs = sum(1 for ex in execs.values() if ex["jobs"])
    out.append(f"total: {len(jobs)} jobs ({len(jobs) - len(loose)} in {with_jobs} SQL "
               f"executions, {len(loose)} outside any); first start to last job end "
               f"{(end - t0) / 1e3:.2f} s")
    return out


def append_timeline(execs: dict, jobs: dict) -> list[str]:
    """Every job of each ``run_append`` call (job group), in start order."""
    out = []
    for group in ("base", "delta1", "delta2"):
        mine = sorted((j for j in jobs.values() if j["group"] == group),
                      key=lambda j: j["start"])
        if not mine:
            continue
        t0 = mine[0]["start"]
        end = max(j["end"] or j["start"] for j in mine)
        out.append(f"== {group}: {len(mine)} jobs, first start to last job end "
                   f"{(end - t0) / 1e3:.2f} s")
        out.append(f"{'start_s':>8} {'dur_s':>7} {'exec':>4} {'tasks':>10}  what")
        for j in mine:
            if j["exec"] in execs:
                what = execs[j["exec"]]["label"]
            else:
                what = (j["description"].split("<br/>")[0]
                        or j["label"].split(" at ")[0]) + " (outside any SQL execution)"
            out.append(f"{(j['start'] - t0) / 1e3:>8.2f} "
                       f"{((j['end'] or j['start']) - j['start']) / 1e3:>7.2f} "
                       f"{j['exec'] if j['exec'] is not None else '-':>4} "
                       f"{','.join(map(str, j['tasks'])) or '-':>10}  {what}")
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--turns", type=int, default=20_000)
    p.add_argument("--append", action="store_true",
                   help="time run_append on a base table and two deltas")
    p.add_argument("--events", help="parse this event log directory; run nothing")
    args = p.parse_args()
    with tempfile.TemporaryDirectory(prefix="kgnorm-timeline-") as work:
        events = args.events or run_job(args.turns, work, args.append)
        logs = [p for p in glob.glob(os.path.join(events, "*"))
                if not p.endswith(".inprogress")]
        for path in logs:
            report = append_timeline if args.append else timeline
            print("\n".join(report(*read_log(path))))


if __name__ == "__main__":
    main()

"""Per-SQL-execution timeline of one ``kgnorm.job`` run, from its event log.

    PYTHONPATH=src python tools/job_timeline.py --turns 20000 > timeline.txt

Runs ``python -m kgnorm.job --synth-turns N --canonicalize`` in a child
process with the Spark event log on (passed through
``PYSPARK_SUBMIT_ARGS``, so the job's code is untouched), then parses the
log with the stdlib: one line per SQL execution with its start (seconds
after the first one started), duration, Spark job count and what it wrote or
scanned.  Jobs outside any SQL execution are listed too.  Overlapping
start/end ranges are executions that ran concurrently.

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


def run_job(turns: int, work: str) -> str:
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
    report = subprocess.run(
        [sys.executable, "-m", "kgnorm.job", "--synth-turns", str(turns),
         "--output", os.path.join(work, "out"), "--canonicalize"],
        env=env, check=True, capture_output=True, text=True).stdout
    print(report.strip().splitlines()[-1], file=sys.stderr)
    return events


def _label(description: str, plan: str) -> str:
    """The action (``parquet``, ``count``, ``localCheckpoint`` ...) and,
    for a write, the directory written."""
    action = description.split(" at ")[0]
    m = _WRITE.search(plan)
    return f"{action} -> {os.path.basename(m.group(1))}" if m else action


def timeline(log_path: str) -> list[str]:
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
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
                ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
                stages = e.get("Stage Infos") or [{}]
                jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                     "exec": int(ex) if ex is not None else None,
                                     "label": stages[-1].get("Stage Name", "?")}
                if ex is not None and int(ex) in execs:
                    execs[int(ex)]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
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


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--turns", type=int, default=20_000)
    p.add_argument("--events", help="parse this event log directory; run nothing")
    args = p.parse_args()
    with tempfile.TemporaryDirectory(prefix="kgnorm-timeline-") as work:
        events = args.events or run_job(args.turns, work)
        logs = [p for p in glob.glob(os.path.join(events, "*"))
                if not p.endswith(".inprogress")]
        for path in logs:
            print("\n".join(timeline(path)))


if __name__ == "__main__":
    main()

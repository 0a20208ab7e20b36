"""Per-layer numbers for a traced kgbench op.

Two sources, both public:

* spans — wrappers around the pipeline's public layer entry points set the
  Spark job group to the layer's name and record the wall time spent
  inside the call;
* the Spark event log (``spark.eventLog.enabled``, JSON lines) — parsed
  with the stdlib into task metrics per job group and SQL metrics per plan
  node.

Layers are named after the modules: ``extract`` (the ``mentions`` stage),
``link`` (``candidates``), ``facts``, ``graph`` (``graph_base``, ``nodes``,
``edges``, ``triples``), ``canon`` (``canonical_*``), ``checks`` (the
``metrics.*`` checks, the metrics table and the job's final counts),
``upsert`` and ``triples_refresh`` (the append path) and ``setup``.
Jobs that run outside any wrapped call fall into ``checks``: in
``kgnorm.job.main`` those are the final counts.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import pyarrow.parquet as pq

STAGE_LAYER = {
    "mentions": "extract",
    "candidates": "link",
    "facts": "facts",
    "graph_base": "graph",
    "nodes": "graph",
    "edges": "graph",
    "triples": "graph",
    "canonical_facts": "canon",
    "canonical_triples": "canon",
    "metrics": "checks",
}
STAGE_LAYERS = ["extract", "link", "facts", "graph", "canon", "checks"]
DEFAULT_GROUP = "checks"

_GROUP = "spark.jobGroup.id"
_MB = 1e6


class Tracer:
    """Records ``(layer, name, t0, t1)`` spans."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, str, float, float]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        sc = session.sparkContext if session else None
        prev = sc.getLocalProperty(_GROUP) if sc else None
        if sc:
            sc.setLocalProperty(_GROUP, layer)
            sc.setLocalProperty("spark.job.description", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, name, t0, time.time()))
            if sc:
                sc.setLocalProperty(_GROUP, prev)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, layer_of) -> None:
        """Replace ``owner.attr`` by a spanned call.  ``layer_of(args)``
        names the layer, or returns None to call through untraced."""
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            layer = layer_of(args)
            if layer is None:
                return inner(*args, **kwargs)
            with self.span(layer, attr):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public layer entry points the job calls."""
        from kgnorm import facts, job, metrics, ontology
        from kgnorm.checkpoints import StageStore

        self.wrap(StageStore, "get_or_compute", lambda a: STAGE_LAYER[a[2]])
        # the metrics table is written outside get_or_compute
        self.wrap(StageStore, "write", lambda a: "checks" if a[2] == "metrics" else None)
        self.wrap(metrics, "turn_order_check", lambda a: "checks")
        self.wrap(metrics, "mention_span_check", lambda a: "checks")
        self.wrap(facts, "upsert_facts_parquet", lambda a: "upsert")
        self.wrap(job, "run_append", lambda a: "triples_refresh")
        self.wrap(ontology, "load_fixture_ontology", lambda a: "setup")
        self.wrap(ontology, "broadcast_dictionary", lambda a: "setup")

    def wall(self, layer: str, since: float) -> float:
        return sum(t1 - t0 for lay, _, t0, t1 in self.spans if lay == layer and t0 >= since)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id → (node name, metric name, metric type), recursively."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _metric_seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


class EventLog:
    """Task and SQL metrics of one application's event log, by job group.
    Jobs, tasks and SQL executions that start before ``since`` (epoch s)
    are left out."""

    def __init__(self, path: str, since: float = 0.0) -> None:
        self.since_ms = since * 1e3
        self.skipped_exec: set[int] = set()
        self.jobs: dict[str, int] = {}                 # group → job count
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.acc: dict[int, tuple[str, str, str]] = {}
        self.tasks: dict[int, list[dict]] = {}         # stage → task records
        self.task_acc: dict[int, float] = {}           # acc id → summed task updates
        self.driver_acc: dict[tuple[int, int], float] = {}  # (exec, acc) → value
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if e["Submission Time"] < self.since_ms:
                return
            props = e.get("Properties") or {}
            group = props.get(_GROUP) or DEFAULT_GROUP
            self.jobs[group] = self.jobs.get(group, 0) + 1
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                self.exec_group.setdefault(int(ex), group)
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stage_group[e["Stage Info"]["Stage ID"]] = props.get(_GROUP) or DEFAULT_GROUP
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            if info["Launch Time"] < self.since_ms:
                return
            self.tasks.setdefault(e["Stage ID"], []).append({
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "cpu_ns": m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
            for a in info.get("Accumulables", []):
                self.task_acc[a["ID"]] = self.task_acc.get(a["ID"], 0.0) + _num(a.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") and e["time"] < self.since_ms:
            self.skipped_exec.add(e["executionId"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], self.acc)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.acc[m["accumulatorId"]] = ("", m["name"], m["metricType"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            if e["executionId"] in self.skipped_exec:
                return
            for acc_id, value in e.get("accumUpdates", []):
                self.driver_acc[(e["executionId"], acc_id)] = _num(value)

    def group_tasks(self, group: str) -> dict[int, list[dict]]:
        return {s: t for s, t in self.tasks.items() if self.stage_group.get(s) == group}

    def node_metric(self, node_prefix: str, name: str) -> float:
        """Summed task updates of metric ``name`` on plan nodes whose name
        starts with ``node_prefix``, in seconds for timings."""
        total = 0.0
        for acc_id, (node, metric, kind) in self.acc.items():
            if node.startswith(node_prefix) and metric == name:
                v = self.task_acc.get(acc_id, 0.0)
                total += _metric_seconds(v, kind) if "iming" in kind else v
        return total

    def written_files(self, group: str) -> float:
        return sum(
            v for (ex, acc_id), v in self.driver_acc.items()
            if self.exec_group.get(ex) == group
            and self.acc.get(acc_id, ("", "", ""))[1] == "number of written files"
        )


def read_event_logs(events_dir: str, since: float) -> list[EventLog]:
    """Every finished application log in ``events_dir``."""
    return [EventLog(p, since) for p in glob.glob(os.path.join(events_dir, "*"))
            if not p.endswith(".inprogress")]


def _skew(tasks_by_stage: dict[int, list[dict]]) -> float:
    """max/median task time in the stage with the most task time."""
    if not tasks_by_stage:
        return 0.0
    tasks = max(tasks_by_stage.values(), key=lambda ts: sum(t["dur_ms"] for t in ts))
    durs = [max(t["dur_ms"], 1) for t in tasks]
    return max(durs) / statistics.median(durs)


def layer_task_metrics(logs: list[EventLog], layer: str) -> dict[str, float]:
    stages: dict[tuple[int, int], list[dict]] = {}
    jobs = 0
    for i, log in enumerate(logs):
        jobs += log.jobs.get(layer, 0)
        for s, ts in log.group_tasks(layer).items():
            stages[(i, s)] = ts
    tasks = [t for ts in stages.values() for t in ts]
    return {
        "jobs": jobs,
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / _MB,
        "spill_mb": sum(t["spill"] for t in tasks) / _MB,
        "bytes_written_mb": sum(t["bytes_written"] for t in tasks) / _MB,
        "task_skew": _skew(stages),
    }


def stage_files(output: str) -> dict[str, tuple[int, int, int]]:
    """stage → (rows, bytes, data files) of each checkpoint directory."""
    out = {}
    for stage in STAGE_LAYER:
        files = glob.glob(os.path.join(output, stage, "**", "*.parquet"), recursive=True)
        if files:
            out[stage] = (
                sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                sum(os.path.getsize(f) for f in files),
                len(files),
            )
    return out


def layer_metrics(tracer: Tracer, logs: list[EventLog], since: float,
                  output: str, distinct_text_ratio: float,
                  session_s: float) -> dict[str, float]:
    """Every per-layer metric of the traced op; spans, like the logs, are
    counted from ``since`` on (the timed region)."""
    stages = stage_files(output)
    out: dict[str, float] = {}
    for layer in STAGE_LAYERS:
        tm = layer_task_metrics(logs, layer)
        out[f"{layer}.wall_s"] = tracer.wall(layer, since)
        for k in ("cpu_s", "gc_s", "jobs", "shuffle_write_mb", "spill_mb", "task_skew"):
            out[f"{layer}.{k}"] = tm[k]
        out[f"{layer}.rows_out"] = sum(
            rows for s, (rows, _, _) in stages.items() if STAGE_LAYER[s] == layer)

    def py(name: str) -> float:
        return sum(log.node_metric("MapInPandas", name) for log in logs)

    out["extract.python_s"] = py("time to run Python workers")
    out["extract.python_boot_s"] = py("time to start Python workers")
    out["extract.arrow_mb_sent"] = py("data sent to Python workers") / _MB
    out["extract.distinct_text_ratio"] = distinct_text_ratio
    out["checkpoints.write_mb"] = sum(b for _, b, _ in stages.values()) / _MB
    out["checkpoints.files"] = sum(n for _, _, n in stages.values())
    out["setup.session_s"] = session_s
    out["setup.ontology_s"] = tracer.wall("setup", since)
    up = layer_task_metrics(logs, "upsert")
    out["upsert.wall_s"] = tracer.wall("upsert", since)
    out["upsert.jobs"] = up["jobs"]
    out["upsert.write_mb"] = up["bytes_written_mb"]
    out["upsert.files_rewritten"] = sum(log.written_files("upsert") for log in logs)
    out["triples_refresh.wall_s"] = tracer.wall("triples_refresh", since) - out["upsert.wall_s"]
    return out

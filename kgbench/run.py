"""kgbench: time the real ``kgnorm.job`` entry point.

    python3 kgbench/run.py --workload batch_memo --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The benchmark

1. generates the workload's turns from ``--seed`` (``gen.py``) and writes
   them as transcripts parquet under ``.kgbench_work/`` — the program sees
   only that parquet;
2. computes the expected triples single-node (``oracle.py``);
3. starts ``SETUP_PROBES`` set-up-only processes, then fresh ``worker.py``
   processes, one op sequence each, until ``--seconds`` have passed (at
   least one), measuring each process tree's CPU time and peak memory from
   here;
4. compares every op's triples with the oracle, outside the timed region;
5. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics (``layers.py``) of one traced worker with ``--trace 1``.

Workloads:

* ``batch_memo``     — ``kgnorm.job --canonicalize`` over turns whose texts
  are the 10 note templates (the extraction memo stays hot);
* ``batch_distinct`` — the same job, every text made distinct by a marker
  (not in ``BENCHMARK.json``; see README.md);
* ``append``         — ``kgnorm.job.run_append``: a base table, then
  ``APPEND_DELTAS`` disjoint deltas of new turns with distinct texts, each
  timed.

All scratch files, the Spark shuffle directory included, stay under
``.kgbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER = os.path.join(HERE, "worker.py")

BATCH_TURNS = 20_000
APPEND_BASE_TURNS = 1_000
APPEND_DELTA_TURNS = 2_500
APPEND_DELTAS = 2
# A cold kgnorm.job process costs 40-70 s here almost whatever the input
# size, and a regression-check run must stay near a minute, so an untraced
# run makes one worker and adds set-up-only processes (~10 s each) for more
# set-up samples: setup_s is the median over all of them.
SETUP_PROBES = 1
DRIVER_MEM = "3g"         # get_spark's 20g default does not fit a small box
REAP_TIMEOUT_S = 60

WORKLOADS = {
    "batch_memo": {"mode": "batch", "distinct": False},
    "batch_distinct": {"mode": "batch", "distinct": True},
    # new turns carry new text, so every delta's extraction misses the memo
    "append": {"mode": "append", "distinct": True},
}


def fail(msg: str, code: int = 2) -> None:
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _procs() -> dict[int, tuple[int, int]]:
    """pid → (ppid, RSS in kB) of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
            # kernel threads have no VmRSS
            out[int(name)] = (int(fields["PPid"]), int(fields.get("VmRSS", "0 kB").split()[0]))
        except (OSError, KeyError, ValueError):
            continue
    return out


def descendants() -> dict[int, int]:
    """pid → RSS in kB of every process below this one."""
    procs = _procs()
    below, frontier = {}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, rss) in procs.items():
            if ppid == parent and pid not in below:
                below[pid] = rss
                frontier.append(pid)
    return below


def spark_jvms() -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                        pids.append(int(name))
            except OSError:
                pass
    return pids


def become_subreaper() -> None:
    """Orphans of our workers (the Spark JVM and its Python daemon outlive
    the worker briefly) re-parent to us, so we can wait for them and
    their CPU time lands in our RUSAGE_CHILDREN."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail("prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_all(timeout: float) -> None:
    """Wait for every descendant to end; kill what is left after ``timeout``."""
    deadline = time.time() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.time() > deadline:
                for p in descendants():
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


def dir_bytes(path: str) -> int:
    total = 0
    for parent, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(parent, name)).st_size
            except OSError:   # a shuffle file removed while we walk
                pass
    return total


def run_process(cmd: list[str], env: dict, log_path: str) -> dict:
    """Run one worker and everything it starts to the end.  Returns its
    exit code, the tree's CPU seconds and its peak memory in MB: the largest
    sum, over polls until the worker exits, of the RSS of the processes alive
    in the tree plus the size of the Spark shuffle directory, which by
    default sits on tmpfs and so takes RAM.  Summing each process's own peak
    instead would overcount the Python workers Spark forks and retires."""
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    peak = 0
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd + ["--t0", repr(time.time())], stdout=log,
                                stderr=subprocess.STDOUT, env=env, cwd=ROOT)
        while proc.poll() is None:
            rss = sum(descendants().values()) * 1024
            peak = max(peak, rss + dir_bytes(env["KGNORM_LOCAL_DIR"]))
            time.sleep(0.25)
    reap_all(REAP_TIMEOUT_S)
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime)
    return {"code": proc.returncode, "cpu_s": cpu, "peak_rss_mb": peak / 1e6}


# ---------------------------------------------------------------------------
# inputs and checks
# ---------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, scale: float, work: str) -> dict:
    """Write the workload's parquet inputs; return their paths and the
    expected triples of every op's output."""
    import gen
    import oracle
    from kgnorm import synth

    spec = WORKLOADS[workload]
    templates = synth.note_templates()
    edges = oracle.template_edges(templates, gen.marker(seed) if spec["distinct"] else None)
    if spec["mode"] == "batch":
        n = max(100, int(BATCH_TURNS * scale))
        turns = gen.make_turns(seed, n, len(templates))
        path = os.path.join(work, "input", "transcripts")
        gen.write_transcripts(path, turns, templates, spec["distinct"])
        return {
            "input": path,
            "turns": n,
            "distinct_ratio": (n if spec["distinct"] else len({t[3] for t in turns})) / n,
            "expected": oracle.expected_triples(gen.conv_templates(turns), edges),
        }
    base = max(100, int(APPEND_BASE_TURNS * scale))
    delta = max(50, int(APPEND_DELTA_TURNS * scale))
    turns = gen.make_turns(seed, base + APPEND_DELTAS * delta, len(templates))
    cuts = [0, base] + [base + (k + 1) * delta for k in range(APPEND_DELTAS)]
    paths = []
    for k in range(len(cuts) - 1):
        paths.append(os.path.join(work, "input", f"slice{k}"))
        gen.write_transcripts(paths[-1], turns[cuts[k]:cuts[k + 1]], templates,
                              spec["distinct"], cuts[k])
    return {
        "base": paths[0],
        "deltas": paths[1:],
        "turns": APPEND_DELTAS * delta,
        "distinct_ratio": 1.0 if spec["distinct"] else len({t[3] for t in turns}) / len(turns),
        "expected": oracle.expected_triples(gen.conv_templates(turns), edges),
    }


def output_triples(workload: str, output: str) -> str:
    if WORKLOADS[workload]["mode"] == "batch":
        return os.path.join(output, "triples")
    return os.path.join(output, "triples_bucketed")


def op_failures(workload: str, result: dict, output: str, expected: set, n_ops: int) -> int:
    """Failed ops of one worker: an op fails if it raised, if it saw span
    violations, or if the output triples differ from the oracle."""
    import oracle

    ops = result.get("ops", [])
    failed = n_ops - len(ops) + sum(op["span_violations"] > 0 for op in ops)
    if len(ops) == n_ops:
        try:
            missing, extra = oracle.diff(output_triples(workload, output), expected)
        except Exception as exc:   # unreadable output counts as wrong output
            print(f"kgbench: reading triples failed: {exc!r}", file=sys.stderr)
            missing, extra = 1, 0
        if missing or extra:
            print(f"kgbench: triples differ from the oracle: {missing} missing, "
                  f"{extra} extra", file=sys.stderr)
            # a wrong final table condemns every op that built it
            failed = n_ops
    return failed


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def bench_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "KGNORM_DRIVER_MEM": os.environ.get("KGNORM_DRIVER_MEM", DRIVER_MEM),
        "KGNORM_LOCAL_DIR": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # keep the JVM's temp files (and its perf-data file) in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


class Run:
    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.spec = WORKLOADS[args.workload]
        self.env = bench_env(work)
        self.log = os.path.join(work, "worker.log")
        self.n = 0

    def worker(self, inputs: dict, trace: bool) -> dict:
        """One fresh worker process = one batch op or one append sequence."""
        self.n += 1
        tag = f"op{self.n}"
        output = os.path.join(self.work, tag, "out")
        result_path = os.path.join(self.work, tag, "result.json")
        events = os.path.join(self.work, tag, "events")
        os.makedirs(events)
        cmd = [sys.executable, WORKER, "--mode", self.spec["mode"], "--output", output,
               "--result", result_path, "--trace", str(int(trace)), "--events", events,
               "--distinct-ratio", repr(inputs["distinct_ratio"])]
        if self.spec["mode"] == "batch":
            cmd += ["--input", inputs["input"]]
        else:
            cmd += ["--base", inputs["base"]]
            for d in inputs["deltas"]:
                cmd += ["--delta", d]
        proc = run_process(cmd, self.env, self.log)
        try:
            with open(result_path) as f:
                result = json.load(f)
        except (OSError, ValueError):
            with open(self.log, errors="replace") as f:
                tail = f.read()[-4000:]
            result = {"ops": [], "error": f"worker exited {proc['code']} without a result:\n{tail}"}
        if result.get("error"):
            print(f"kgbench: worker failed:\n{result['error']}", file=sys.stderr)
        n_ops = 1 if self.spec["mode"] == "batch" else len(inputs["deltas"])
        failed = op_failures(self.args.workload, result, output, inputs["expected"], n_ops)
        if trace and "layers" not in result:
            failed = n_ops   # a traced op that cannot report its layers is not a result
        result.update(proc, n_ops=n_ops, failed=failed)
        shutil.rmtree(os.path.join(self.work, tag), ignore_errors=True)
        shutil.rmtree(self.env["KGNORM_LOCAL_DIR"], ignore_errors=True)
        return result

    def setup_probe(self) -> float | None:
        result_path = os.path.join(self.work, "setup.json")
        run_process([sys.executable, WORKER, "--mode", "setup", "--result", result_path],
                    self.env, self.log)
        try:
            with open(result_path) as f:
                return json.load(f)["setup_s"]
        except (OSError, ValueError, KeyError):
            return None


def job_seconds(worker: dict) -> float | None:
    """A worker's timed job seconds: the batch job, or the delta sum."""
    walls = [op["wall_s"] for op in worker.get("ops", [])]
    return sum(walls) if walls and len(walls) == worker["n_ops"] else None


def end_to_end(workers: list[dict], setups: list[float], turns: int) -> dict:
    ok = [w for w in workers if job_seconds(w) is not None]
    walls = [op["wall_s"] for w in ok for op in w["ops"]]
    job_s = statistics.median(job_seconds(w) for w in ok) if ok else 0.0
    return {
        "setup_s": (statistics.median(setups) if setups else 0.0, "s"),
        "job_s": (job_s, "s"),
        "turns_per_s": (turns / job_s if job_s else 0.0, "turns/s"),
        "cpu_s": (statistics.median(w["cpu_s"] for w in workers), "s"),
        "peak_rss_mb": (statistics.median(w["peak_rss_mb"] for w in workers), "MB"),
        "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
    }


def per_layer(traced: dict, units: dict[str, str]) -> dict:
    # the tracing overhead is trace.job_s against the untraced runs' job_s
    layers = {**(traced.get("layers") or {}), "trace.job_s": job_seconds(traced) or 0.0}
    return {name: (float(layers.get(name, 0.0)), unit) for name, unit in units.items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="start new ops until this many seconds have been measured")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "kgnorm", "job.py")):
        fail(f"no kgnorm sources under {ROOT}/src; run from a checkout of the repository")
    sys.path.insert(0, os.path.join(ROOT, "src"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    # a second Spark JVM on the box skews every timing several-fold
    wait_until = time.time() + 60
    while spark_jvms():
        if time.time() > wait_until:
            fail(f"another Spark JVM is running (pids {spark_jvms()}); refusing to start", 3)
        time.sleep(1)
    become_subreaper()

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        run = Run(args, work)
        inputs = make_inputs(args.workload, args.seed, args.scale, work)
        if args.trace:
            workers = [run.worker(inputs, trace=True)]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            metrics = per_layer(workers[0], units)
        else:
            setups = [run.setup_probe() for _ in range(SETUP_PROBES)]
            workers = []
            start = time.time()
            while not workers or time.time() - start < args.seconds:
                workers.append(run.worker(inputs, trace=False))
            setups += [w.get("setup_s") for w in workers]
            metrics = end_to_end(workers, [s for s in setups if s], inputs["turns"])
        attempted = sum(w["n_ops"] for w in workers)
        failed = sum(w["failed"] for w in workers)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

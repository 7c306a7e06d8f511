"""Shared machinery of the benchmark: the run's work directory and
environment, the Spark session, timing statistics, peak memory, the run
stamp, and the tracer that turns spans plus Spark's event log into
per-layer numbers.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
directory it is started from.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

WORK_ROOT = ".perfbench_work"
PACKAGE = "data_management_service_run_etl_imputations_spark"
# The host is shared, and the hypervisor takes CPU time from the vCPUs
# (steal, in /proc/stat) when the neighbours are busy. A Spark op waits on
# all its threads, so one stolen vCPU stalls it: on 4 vCPUs its latency grew
# as quiet * (1 + stolen vCPU-s per op second), a least-squares slope of
# 4.25 on the steal share against nproc = 4. ``adjusted_s`` inverts that.


# --- environment -----------------------------------------------------------


def prepare_env(root: str, workload: str) -> str:
    """Create this run's work directory and point every scratch location of
    Python, Spark and the JVM at it. Must run before pyspark starts the JVM
    (the environment is inherited by it and by the Python workers)."""
    work = os.path.abspath(os.path.join(root, WORK_ROOT, f"{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # the engine's default driver heap is 8g; these inputs need far less,
    # and a capped heap keeps the JVM's resident size from wandering
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


# --- statistics ------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples above it, with its
    value and the sample count (None when there are fewer than 11)."""
    n = len(xs)
    if n < 11:
        return {"pct": None, "value": None, "n": n}
    pct = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return {"pct": pct, "value": s[min(n - 1, math.ceil(pct / 100 * n) - 1)], "n": n}


# --- run facts -------------------------------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver Python process plus the JVM, from
    ``VmHWM`` in ``/proc`` (sum of the two peaks)."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def stolen_s() -> float:
    """vCPU-seconds the hypervisor has taken from all CPUs since boot (the
    steal column of ``/proc/stat``); 0 where it is not reported."""
    try:
        with open("/proc/stat") as f:
            vals = f.readline().split()
        return int(vals[8]) / _CLK_TCK if len(vals) > 8 else 0.0
    except (OSError, ValueError):
        return 0.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and the Python workers it forks), reaped children included. Unlike wall
    time it does not grow while the hypervisor runs other tenants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        # after the command: state ppid ... utime(12) stime cutime cstime
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / _CLK_TCK


def tree_hash(root: str) -> str:
    """Content hash of the engine package: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def stamp(spark, root: str, load_start: float) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "package_hash": tree_hash(root),
        "load_1m_start": round(load_start, 2),
        "load_1m_end": round(os.getloadavg()[0], 2),
    }


# --- timing ----------------------------------------------------------------


def timed(fn, *args):
    """``fn(*args)`` and a span of its wall time and the CPU steal during it."""
    w0, s0 = time.perf_counter(), stolen_s()
    out = fn(*args)
    return out, {"wall_s": time.perf_counter() - w0, "stolen_s": stolen_s() - s0}


def adjusted_s(span: dict) -> float:
    """A span's latency with the CPU steal during it taken out."""
    wall = span["wall_s"]
    return wall / (1 + span["stolen_s"] / wall)


# --- tracing ---------------------------------------------------------------


class Tracer:
    """Spans kept in memory: one per client op (with its own Spark job
    group) and one per wrapped layer call inside it. With ``enabled``
    false only the op timing remains, and no job group is set."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._n_ops = 0

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """Time one client call; yields the span dict (``wall_s`` is set on
        exit)."""
        self._n_ops += 1
        group = f"pb-{self._n_ops}"
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, f"{kind}:{name or kind}")
        span = self._open(kind, name or kind, group)
        try:
            yield span
        finally:
            self._close(span)
            if self.enabled:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    @contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        span = self._open("layer", name, None)
        try:
            yield
        finally:
            self._close(span)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a layer span
        around each call (traced runs only)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.layer(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def _open(self, kind, name, group) -> dict:
        span = {
            "cpu0": tree_cpu_s() if group else None,
            "stolen0": stolen_s() if group else None,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "kind": kind,
            "name": name,
            "group": group,
            "t0": time.time(),
            "p0": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["wall_s"] = time.perf_counter() - span["p0"]
        if span["group"]:
            span["cpu_s"] = tree_cpu_s() - span["cpu0"]
            span["stolen_s"] = stolen_s() - span["stolen0"]
        span["t1"] = span["t0"] + span["wall_s"]
        self._stack.pop()

    def ops(self, kind: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["kind"] != "layer" and (kind is None or s["kind"] == kind)
        ]


# --- event log folding -----------------------------------------------------

def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(work: str) -> dict:
    """Jobs, stages, task totals and the SQL metrics of Python nodes from
    every event log of this run."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}
    py_acc: dict[int, str] = {}
    scan_acc: dict[int, int] = {}
    acc_values: dict[int, float] = {}
    exec_nodes: dict[int, set] = {}

    def walk(plan, exec_id):
        name = plan.get("nodeName", "")
        exec_nodes.setdefault(exec_id, set()).add(name)
        metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
        # a node that exchanges data with Python workers: UDFs, pandas
        # maps, the Python DataSource scan
        if "data returned from Python workers" in metrics:
            py_acc[metrics["data returned from Python workers"]] = "bytes"
            if "number of output rows" in metrics:
                py_acc[metrics["number of output rows"]] = "rows"
        if name.startswith("Scan") and "number of files read" in metrics:
            scan_acc[metrics["number of files read"]] = exec_id
        for c in plan.get("children", []):
            walk(c, exec_id)

    for path in sorted(glob.glob(os.path.join(work, "eventlog", "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                        "exec_id": int(props["spark.sql.execution.id"])
                        if props.get("spark.sql.execution.id") else None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stage_tasks.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0, "input_bytes": 0,
                        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    })
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        upd = acc.get("Update")
                        if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                            acc_values[acc["ID"]] = acc_values.get(acc["ID"], 0) + float(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    walk(ev["sparkPlanInfo"], ev["executionId"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in ev.get("accumUpdates", []):
                        acc_values[acc_id] = acc_values.get(acc_id, 0) + float(val)
    return {
        "jobs": jobs, "stage_tasks": stage_tasks, "py_acc": py_acc, "scan_acc": scan_acc,
        "acc_values": acc_values, "exec_nodes": exec_nodes,
    }


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def fold_ops(tracer: Tracer, log: dict) -> dict:
    """Attach Spark work to each op span (by job group) and check the
    accounting: every job of an op lies inside its span, so the union of
    its job intervals plus ``driver_only_ms`` equals the span's wall
    time."""
    by_group: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    execs_of: dict[str, set] = {}
    worst = 0.0
    for span in tracer.ops():
        jobs = by_group.get(span["group"], [])
        t0, t1 = span["t0"], span["t1"]
        ivs = [(j["start"], j["end"] if j["end"] is not None else t1) for j in jobs]
        union_s = _union_s(ivs)
        clipped = _union_s([(max(a, t0), min(b, t1)) for a, b in ivs if min(b, t1) > max(a, t0)])
        worst = max(worst, (union_s - clipped) * 1000.0)
        s = dict.fromkeys(SPARK_KEYS, 0.0)
        s["jobs"] = len(jobs)
        for j in jobs:
            s["stages"] += len(j["stages"])
            for sid in j["stages"]:
                st = log["stage_tasks"].get(sid)
                if not st:
                    continue  # skipped stage: its output was reused
                s["tasks"] += st["tasks"]
                s["executor_run_ms"] += st["run_ms"]
                s["executor_cpu_ms"] += st["cpu_ms"]
                for k in ("gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                    s[k] += st[k]
        # a stage reading no shuffle scans the input: on the Python
        # DataSource path it runs one task per data file
        s["scan_tasks"] = sum(
            log["stage_tasks"][sid]["tasks"]
            for j in jobs for sid in j["stages"]
            if sid in log["stage_tasks"] and not log["stage_tasks"][sid]["shuffle_read_bytes"]
        )
        s["driver_only_ms"] = (span["wall_s"] - clipped) * 1000.0
        s["job_union_ms"] = clipped * 1000.0
        span["spark"] = s
        execs_of[span["group"]] = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
    py = {"rows": 0.0, "bytes": 0.0}
    for acc_id, what in log["py_acc"].items():
        py[what] += log["acc_values"].get(acc_id, 0.0)
    files_read = {}
    for acc_id, ex in log["scan_acc"].items():
        files_read[ex] = files_read.get(ex, 0) + log["acc_values"].get(acc_id, 0.0)
    for span in tracer.ops():
        ex = execs_of.get(span["group"], set())
        nodes = set().union(*(log["exec_nodes"].get(e, set()) for e in ex)) if ex else set()
        span["native_scan"] = any(n.startswith("Scan parquet") for n in nodes)
        span["python_scan"] = any(n.startswith("BatchScan") for n in nodes)
        span["files_read"] = sum(files_read.get(e, 0.0) for e in ex)
    return {"pyworker": py, "accounting_max_residual_ms": worst}


def spark_means(spans: list[dict]) -> dict:
    """Per-op means of the Spark counters over ``spans``."""
    if not spans:
        return {f"spark.{k}": 0.0 for k in SPARK_KEYS} | {"driver_only_ms": 0.0}
    out = {f"spark.{k}": statistics.fmean(s["spark"][k] for s in spans) for k in SPARK_KEYS}
    out["driver_only_ms"] = statistics.fmean(s["spark"]["driver_only_ms"] for s in spans)
    return out


def layer_ms(tracer: Tracer, name: str, within: list[dict]) -> tuple[float, list[dict]]:
    """Total milliseconds of the layer spans called ``name`` under the op
    spans ``within``, and those spans."""
    ids = {s["id"] for s in within}
    parent = {s["id"]: s["parent"] for s in tracer.spans}

    def under(s):
        p = s["parent"]
        while p is not None:
            if p in ids:
                return True
            p = parent[p]
        return False

    hits = [s for s in tracer.spans if s["kind"] == "layer" and s["name"] == name and under(s)]
    return sum(s["wall_s"] for s in hits) * 1000.0, hits


def jobs_in(log: dict, spans: list[dict]) -> int:
    """Jobs submitted inside any of the given (layer) spans."""
    n = 0
    for j in log["jobs"].values():
        if any(s["t0"] - 0.001 <= j["start"] <= s["t1"] + 0.001 for s in spans):
            n += 1
    return n


def dir_bytes(path: str, predicate=lambda p: True) -> tuple[int, int]:
    """(file count, total bytes) under ``path`` for files matching
    ``predicate``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if predicate(p):
                n += 1
                size += os.path.getsize(p)
    return n, size


# --- teardown --------------------------------------------------------------


def shutdown(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)

"""Layer measurements taken from outside the engine.

- ``Tracer``: in-memory spans (name, start, end, parent, pass id)
  recorded around the benchmark's own calls into each layer, with
  per-layer self time.
- ``read_event_log``: per job group counters from Spark's own event log
  (jobs, stages, tasks, executor time, scan/shuffle/spill bytes, task
  skew, Python-node SQL metrics, scanned rows).
- ``catalyst_profile``: QueryPlanningTracker phase times and the count
  of window operators planned over a single partition.
- ``RssSampler``: peak resident memory of this process tree from /proc;
  ``process_tree``/``wait_exited`` let the run wait for that tree to end.
- ``cache_footprint``: live RDD storage entries and bytes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    """Spans kept in memory and written out once, at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int, detail: str = ""):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "pass": pass_id, "detail": detail, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[tuple[int, str], float]:
        """(pass, span name) -> summed self time: each span's duration
        minus the part of it covered by its children."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[tuple[int, str], float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[(s["pass"], s["name"])] += s["end"] - s["start"] - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- Spark event log ------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_TIME = "time to run Python workers"
_ROWS = "number of output rows"


def _is_python_node(name: str) -> bool:
    return any(k in name for k in ("Python", "Pandas", "InArrow"))


def _metric_ids(node: dict, name: str) -> list[int]:
    return [m["accumulatorId"] for m in node.get("metrics", ()) if m["name"] == name]


def _rows_in(node: dict) -> list[int]:
    """Output-row metric of the nearest descendant that has one: the
    rows that enter ``node``."""
    for child in node.get("children", ()):
        ids = _metric_ids(child, _ROWS)
        if ids and not child["nodeName"].startswith(("WholeStageCodegen", "InputAdapter")):
            return ids
        ids = _rows_in(child)
        if ids:
            return ids
    return []


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _plan_metric_ids(plan: dict, ids: dict[str, set[int]]) -> None:
    for node in _walk(plan):
        name = node["nodeName"]
        if _is_python_node(name):
            ids["py_sent"].update(_metric_ids(node, _PY_SENT))
            ids["py_recv"].update(_metric_ids(node, _PY_RECV))
            ids["py_time"].update(_metric_ids(node, _PY_TIME))
            ids["py_rows_out"].update(_metric_ids(node, _ROWS))
            ids["py_rows_in"].update(_rows_in(node))
        elif name.startswith("Scan "):
            ids["scan_rows"].update(_metric_ids(node, _ROWS))


def _skew(durations: list[float]) -> float:
    """max over median task time; stages under 50 ms of max task time
    or with one task read as 1 (their ratio is scheduling noise)."""
    if len(durations) < 2 or max(durations) < 50:
        return 1.0
    return max(durations) / max(statistics.median(durations), 1.0)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Job group -> counters. Stage and task counters cover the stages
    of the group's jobs; SQL metrics cover the group's SQL executions."""
    job_group: dict[int, str] = {}
    job_times: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    tasks: dict[int, list[dict]] = defaultdict(list)
    accum: dict[int, float] = defaultdict(float)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                job = e["Job ID"]
                job_group[job] = group
                job_times[job] = [e["Submission Time"], e["Submission Time"]]
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, job)
                xid = props.get("spark.sql.execution.id")
                if xid is not None and group:
                    exec_group.setdefault(int(xid), group)
            elif kind == "SparkListenerJobEnd":
                job_times[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                tasks[e["Stage ID"]].append(m)
                for a in info.get("Accumulables", ()):
                    if a.get("Metadata") == "sql":  # SQL metric updates are logged as text
                        accum[a["ID"]] += float(a["Update"])
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]].append(e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, value in e["accumUpdates"]:
                    accum[aid] += value

    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job, group in job_group.items():
        g = out[group]
        g["jobs"] += 1
        g["job_s"] += (job_times[job][1] - job_times[job][0]) / 1000.0
    for sid, metrics in tasks.items():
        group = job_group.get(stage_job.get(sid, -1), "")
        g = out[group]
        g["stages"] += 1
        g["tasks"] += len(metrics)
        runs = [m.get("Executor Run Time", 0) for m in metrics]
        g["executor_run_s"] += sum(runs) / 1000.0
        g["executor_cpu_s"] += sum(m.get("Executor CPU Time", 0) for m in metrics) / 1e9
        g["gc_s"] += sum(m.get("JVM GC Time", 0) for m in metrics) / 1000.0
        g["scan_mb"] += sum(m.get("Input Metrics", {}).get("Bytes Read", 0) for m in metrics) / MB
        g["shuffle_read_mb"] += sum(
            m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            for m in metrics
        ) / MB
        g["shuffle_write_mb"] += sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in metrics
        ) / MB
        g["spill_mb"] += sum(m.get("Disk Bytes Spilled", 0) for m in metrics) / MB
        g["task_skew"] = max(g["task_skew"], _skew(runs))
    for xid, infos in plans.items():
        group = exec_group.get(xid)
        if group is None:
            continue
        ids: dict[str, set[int]] = defaultdict(set)
        for plan in infos:
            _plan_metric_ids(plan, ids)
        g = out[group]
        g["python_rows_in"] += sum(accum[i] for i in ids["py_rows_in"])
        g["python_rows_out"] += sum(accum[i] for i in ids["py_rows_out"])
        g["python_bytes_sent"] += sum(accum[i] for i in ids["py_sent"])
        g["python_bytes_received"] += sum(accum[i] for i in ids["py_recv"])
        g["python_worker_s"] += sum(accum[i] for i in ids["py_time"]) / 1000.0
        g["scan_rows"] += sum(accum[i] for i in ids["scan_rows"])
    return {k: dict(v) for k, v in out.items()}


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


# --- Catalyst --------------------------------------------------------------

def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _single_partition_windows(node) -> int:
    n = int(node.nodeName() == "Window" and node.partitionSpec().isEmpty())
    return n + sum(_single_partition_windows(c) for c in _children(node))


def catalyst_profile(df) -> dict[str, float]:
    """Plan ``df`` through its own QueryExecution and read the planning
    tracker: analysis, optimization and planning seconds, plus the
    window operators whose partition spec is empty (Spark moves all
    their rows to one partition)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    out["single_partition_windows"] = float(_single_partition_windows(plan))
    return out


def cache_footprint(spark) -> tuple[int, float]:
    """(cached RDD entries, their memory + disk MB) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    live = [i for i in infos if i.numCachedPartitions() > 0]
    return len(live), sum(i.memSize() + i.diskSize() for i in live) / MB


# --- memory ---------------------------------------------------------------

def process_tree(root: int) -> dict[int, int]:
    """pid -> resident KiB, for ``root`` and all its descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
        rss[int(entry)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_exited(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` runs any more; returns the ones still
    running at the timeout."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _running(p)]
    return left


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``interval_s``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self._paused.is_set():
                self.peak_kb = max(self.peak_kb, sum(process_tree(os.getpid()).values()))
            self._stop.wait(self.interval_s)

    @contextmanager
    def paused(self):
        """No samples meanwhile."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

"""Measurement from outside the engine: process-tree memory, on-disk
bytes, Spark job accounting per job group, and event-log counters.

Nothing here touches engine code. Job groups are set by the benchmark
around each call (the engine sets none of its own), the status tracker
counts the jobs, stages and tasks of a group, and the event log that the
traced run turns on through ``PYSPARK_SUBMIT_ARGS`` is parsed after the
session stops.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager

# physical operators that cross the JVM/Python boundary
_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|\w*EvalPythonUDTF|FlatMapGroupsIn\w+|"
    r"FlatMapCoGroupsIn\w+|MapIn(?:Pandas|Arrow)|PythonMapInArrow|"
    r"AggregateInPandas|WindowInPandas)\b"
)


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each shared page split among
    its sharers. Forked Python workers share most pages with their daemon,
    so a sum of plain RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process tree, sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(pss_bytes(p) for p in tree_pids(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def manifest_bytes(manifest: dict) -> dict[str, int]:
    """On-disk bytes of each table the manifest names (all segments)."""
    out = {}
    for table, paths in manifest["paths"].items():
        paths = [paths] if isinstance(paths, str) else list(paths or [])
        out[table] = sum(dir_bytes(p) for p in paths)
    return out


def python_nodes(df) -> int:
    """Python-UDF operators in the executed physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PYTHON_NODE.findall(plan))


class JobGroups:
    """Sets ``<workload>:<op>:<i>`` job groups and reads their counts.

    Disabled (untraced runs), ``group`` sets nothing, so the timed code of
    both modes differs only by the job-group calls."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled

    @contextmanager
    def group(self, op: str, i: int):
        name = f"{self.workload}:{op}:{i}"
        if self.enabled:
            self.sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> dict[str, int]:
        """jobs, stages that ran and tasks completed, from the status tracker."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si and si.numCompletedTasks and s not in stages:
                    stages.add(s)
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written, bytes spilled, executor run
    seconds, tasks and rows read by scans, summed over the group's tasks."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                c = out.setdefault(g, {"shuffle_write_bytes": 0, "spill_bytes": 0,
                                       "executor_run_s": 0.0, "tasks": 0,
                                       "scan_rows": 0})
                c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                c["executor_run_s"] += m["Executor Run Time"] / 1000.0
                c["tasks"] += 1
                c["scan_rows"] += m["Input Metrics"]["Records Read"]
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM and wait for it and
    every other process this one started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_for_children(timeout_s)


def wait_for_children(timeout_s: float) -> None:
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in tree_pids(me) if p != me and not _is_zombie(p)]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            return
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def wait_for_stale_jvms(root: str, timeout_s: float = 60.0) -> None:
    """Wait until no JVM started from ``root`` by an earlier run is left,
    then flush dirty pages, so its teardown does not overlap this run."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        stale = []
        for name in os.listdir("/proc"):
            if not name.isdigit() or int(name) == me:
                continue
            try:
                if os.readlink(f"/proc/{name}/cwd") != root:
                    continue
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                        stale.append(name)
            except OSError:
                continue
        if not stale:
            break
        time.sleep(0.5)
    os.sync()

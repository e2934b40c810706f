"""Spans around the calls into each layer, pass-level Spark counters, and
the run's environment.

Untraced, a call runs as the CLI runs it: lazily, forced only by its sink,
and the probe adds nothing. Traced (``SPARK_GRAFT_UI=true``), every call
gets its own job group; the probe times building the DataFrame (eager
checkpoint jobs included), building its executed plan, and forcing it
(cache then count, or the call's sink), so each span holds only that
layer's work. A call made while another is being built first forces its
DataFrame inputs under the outer call's job group: what the outer call
built lazily stays the outer call's work. Job, stage and task counts come
from ``statusTracker`` and shuffle bytes and GC time from the UI's
``/api/v1`` endpoint, read once per pass after the listener bus drains.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import platform
import time
import urllib.request
from collections import Counter, defaultdict

from pyspark.sql import DataFrame

SPAN_METRICS = ("build_s", "plan_s", "exec_s", "jobs", "shuffle_bytes")
PASS_METRICS = ("spark.jobs", "spark.stages", "spark.tasks",
                "spark.shuffle_bytes", "spark.gc_s",
                "spark.persisted_rdds_leaked")


def _frames(out) -> list[DataFrame]:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, dict):
        return [v for v in out.values() if isinstance(v, DataFrame)]
    return []


class Probe:
    """Records the spans of every pass of one run."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.sc = spark.sparkContext
        self.passes: list[dict[str, float]] = []
        self._pass: dict[str, float] = {}
        self._groups: dict[str, str] = {}
        self._cached: list[DataFrame] = []
        self._stack: list[list] = []
        self._baseline_rdds = 0
        self._made: Counter = Counter()
        self.calls_per_pass: list[Counter] = []   # invocations per call

    # -- one pass ----------------------------------------------------------

    def begin_pass(self) -> None:
        self._made = Counter()
        self._pass = defaultdict(float)
        self._groups = {}
        self._cached = []
        self._baseline_rdds = self.persistent_rdds()

    def call(self, name: str, fn, *args, sink=None, **kwargs):
        """Run ``fn(*args, **kwargs)`` as the call ``name``; ``sink``
        consumes its output the way the CLI does (a parquet or CSV
        write)."""
        self._made[name] += 1
        if not self.traced:
            out = fn(*args, **kwargs)
            if sink is not None:
                sink(out)
            return out
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            # inputs the outer call built lazily are its own work: force
            # them under its job group, so this span starts from them
            inputs = [df for a in (*args, *kwargs.values())
                      for df in _frames(a)]
            for df in inputs:
                df.cache()
            for df in inputs:
                df.count()
            self._cached += inputs
        group = f"{name}#{len(self.passes)}#{len(self._groups)}"
        self._groups[group] = name
        frame = [group, 0.0]            # [job group, nested calls' seconds]
        self._stack.append(frame)
        self.sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            t1 = time.perf_counter()
            frames = _frames(out)
            for df in frames:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            for df in frames:
                df.cache()
            self._cached += frames
            if sink is not None:
                sink(out)
            else:
                for df in frames:
                    df.count()
            t3 = time.perf_counter()
        finally:
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent[0], self._groups[parent[0]])
        # self time: a call made while building another is its own span
        self._pass[f"{name}.build_s"] += t1 - t0 - frame[1]
        self._pass[f"{name}.plan_s"] += t2 - t1
        self._pass[f"{name}.exec_s"] += t3 - t2
        if parent is not None:
            parent[1] += t3 - t0
        return out

    def end_pass(self, wall_s: float) -> None:
        """Close the pass: counters, leaked persisted RDDs, then drop the
        probe's own caches and everything cached during the pass."""
        p = self._pass
        p["pass.wall_s"] = wall_s
        if self.traced:
            self._collect_counters(p)
            for df in self._cached:
                df.unpersist(blocking=True)
            p["spark.persisted_rdds_leaked"] = (self.persistent_rdds()
                                                - self._baseline_rdds)
        self.spark.catalog.clearCache()
        self.sc._jvm.System.gc()
        self.passes.append(dict(p))
        self.calls_per_pass.append(self._made)

    # -- counters ------------------------------------------------------------

    def persistent_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def _drain_listeners(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:               # private API: fall back to a pause
            time.sleep(0.5)

    def _rest_stages(self) -> dict[int, dict]:
        app = self.sc.applicationId
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{app}/stages"
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        out: dict[int, dict] = {}
        for s in stages:
            agg = out.setdefault(s["stageId"], {"shuffle": 0, "gc_ms": 0})
            agg["shuffle"] += s.get("shuffleWriteBytes", 0)
            agg["gc_ms"] += s.get("jvmGcTime", 0)
        return out

    def _collect_counters(self, p: dict) -> None:
        self._drain_listeners()
        tracker = self.sc.statusTracker()
        rest = self._rest_stages()
        for group, name in self._groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            p[f"{name}.jobs"] += len(jobs)
            p["spark.jobs"] += len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue            # skipped: shuffle output reused
                    p["spark.stages"] += 1
                    p["spark.tasks"] += st.numCompletedTasks
                    r = rest.get(sid, {"shuffle": 0, "gc_ms": 0})
                    p[f"{name}.shuffle_bytes"] += r["shuffle"]
                    p["spark.shuffle_bytes"] += r["shuffle"]
                    p["spark.gc_s"] += r["gc_ms"] / 1000.0


# ---------------------------------------------------------------------------
# environment and memory
# ---------------------------------------------------------------------------


def environment(spark, seed: int, sizes: dict) -> dict:
    """What the run ran on. ``suspect_cpus_ignored`` flags a master that
    is not ``local[nproc]``."""
    sc = spark.sparkContext
    nproc = len(os.sched_getaffinity(0))
    master = sc.master
    return {
        "master": master, "default_parallelism": sc.defaultParallelism,
        "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(), "seed": seed, "sizes": sizes,
        "suspect_cpus_ignored": master != f"local[{nproc}]",
    }


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass                                # the process already exited
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo += children.get(cur, [])
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus every process
    under it (the Python worker daemon and its workers), from ``/proc``."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return sum(_status_kb(p, "VmHWM") for p in _descendants(jvm_pid)) / 1024

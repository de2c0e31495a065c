"""Spans and per-layer counters for the traced run.

Spans (name, start, end, parent, op id) are kept in memory and written out
when the run ends. They are recorded around calls into each layer from the
benchmark's side: the patches replace a function where its caller looks it
up, and restore it afterwards. Spark-side numbers come from the job group
the harness sets per op, read back through the status tracker and the
status store; JVM numbers come from the management beans.
"""

from __future__ import annotations

import functools
import json
import re
import time
import weakref
from contextlib import contextmanager

from duckpgq_extension_spark import api
from duckpgq_extension_spark.operators import corpus
from duckpgq_extension_spark.operators import paths as pathops

# (owner, attribute, span name); the owner is where the caller looks the
# name up: `api` binds the parser and compiler entry points at import,
# `corpus` binds `materialize` at import, everything else goes through
# the `operators.paths` module attribute.
PATCHES = [
    (api.PGQSession, "sql", "api.sql"),
    (api, "parse_graph_table_body", "parser.parse"),
    (api, "compile_match", "compiler.compile"),
    (pathops, "materialize", "paths.materialize"),
    (corpus, "pathops_materialize", "paths.materialize"),
    (pathops, "checkpoint_with_count", "paths.checkpoint_with_count"),
    (pathops, "bfs_distances", "paths.kernel"),
    (pathops, "bfs_all_paths", "paths.kernel"),
    (pathops, "bidirectional_length", "paths.kernel"),
    (pathops, "cheapest_path_distances", "paths.kernel"),
    (pathops, "reachability", "paths.kernel"),
]

_JOIN_LINE = re.compile(r"^[\s:+|\-]*Join ", re.M)


class Recorder:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._saved: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for owner, attr, name in PATCHES:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def per_op(self, op_id: int) -> dict:
        """Total and self time (s) and call count per span name for one op."""
        idx = [i for i, s in enumerate(self.spans) if s[4] == op_id]
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i][3]
            if p in child:
                child[p] += self.spans[i][2] - self.spans[i][1]
        out: dict = {}
        for i in idx:
            name, t0, t1 = self.spans[i][:3]
            agg = out.setdefault(name, {"total": 0.0, "self": 0.0, "calls": 0})
            agg["total"] += t1 - t0
            agg["self"] += (t1 - t0) - child[i]
            agg["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


def plan(df) -> None:
    """Plan the DataFrame: what the action would do first, forced here so
    the DataFrame's own tracker records every Catalyst phase."""
    df._jdf.queryExecution().executedPlan()


def catalyst(df) -> dict:
    """The phase times the tracker recorded in `plan`, plus the Join nodes
    of the optimized plan."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() if opt.isDefined() else 0
    out["joins"] = len(_JOIN_LINE.findall(qe.optimizedPlan().toString()))
    return out


class SparkStats:
    """Jobs, stages, tasks and executor time of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        return out


class AdjacencyCacheWatch:
    """New adjacency-cache entries, read from `operators.paths` from the
    outside: entries the watch has not seen before are misses."""

    def __init__(self, spark):
        self.key = id(spark)
        self.seen: weakref.WeakSet = weakref.WeakSet()
        self.new_entries()

    def new_entries(self) -> int:
        n = 0
        for store in (pathops._PREP_CACHE, pathops._PERSIST_CACHE):
            hit = store.get(self.key)
            for entry in hit[1] if hit else ():
                frame = entry[-1]
                if frame not in self.seen:
                    self.seen.add(frame)
                    n += 1
        return n


def empty_job_ms(spark, n: int = 21) -> float:
    """Median wall of a one-task JVM-only job on the warm session."""
    import statistics

    jdf = spark.range(0, 1, 1, 1)._jdf
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        jdf.rdd().count()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def storage_used_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0

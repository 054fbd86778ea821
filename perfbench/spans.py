"""Spans around the benchmark's calls into each layer, with Spark's own
status-store numbers attached.

A span records name, start, end, parent and run id.  When tracing is
on, each span runs its jobs under its own job group, and after it ends
the span collects, for those jobs:

* from ``AppStatusStore`` (stage data): run time, CPU, GC, shuffle read
  and write bytes, spill, input bytes and records, tasks and stages;
* from ``SQLAppStatusStore`` (the plan graph of each SQL execution):
  every node's name, description and metrics.

Jobs inside ``cli.main`` and ``CheckpointedValidation`` are attributed
to a *site*: the first frame of ``schema_validator_spark`` on the
Python stack when a ``collect`` or ``DataFrameWriter.parquet`` starts
(PySpark itself records a Python call site only for some actions).  The
benchmark wraps those two pyspark methods while tracing; the package
stays uninstrumented.  A site's wall time is the time of that action.

Spans stay in memory until ``dump`` writes them at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

_PKG_DIR = os.sep + "schema_validator_spark" + os.sep
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE_FIELDS = ("run_s", "cpu_s", "gc_s", "input_bytes", "input_records",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "tasks", "stages")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("1,024", "3.5 KiB",
    "12 ms", or "total (min, med, max ...)\\n3.5 KiB (...)") -> number;
    sizes in bytes, times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    sites: dict[str, dict] = field(default_factory=dict)  # site -> {s, groups}
    stage: dict[str, float] = field(default_factory=dict)
    nodes: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """``enabled=False`` keeps only the wall-clock spans (no job groups,
    no status-store reads), which is how untraced calls run."""

    def __init__(self, spark, run_id: str, *, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[type, str, object]] = []
        self._sql_seen = 0
        self._exec_jobs: list[tuple[int, set[int]]] = []

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self._set_group(s, f"{self.run_id}/{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self._set_group(None, parent.groups[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect(s)

    def _set_group(self, span: Span | None, group: str) -> None:
        self.sc.setJobGroup(group, group)
        if span is not None:
            span.groups.append(group)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_seconds(self, s: Span) -> float:
        return s.seconds - sum(c.seconds for c in self.children(s))

    # -- status stores ----------------------------------------------------

    def _job_ids(self, groups) -> set[int]:
        st = self.sc.statusTracker()
        return {j for g in groups for j in st.getJobIdsForGroup(g)}

    def _collect(self, s: Span) -> None:
        jobs = self._job_ids(s.groups)
        s.jobs = len(jobs)
        s.stage = self.stage_totals(jobs)
        s.nodes = self.plan_nodes(jobs)
        for site in s.sites.values():
            site_jobs = self._job_ids(site["groups"])
            site["jobs"] = len(site_jobs)
            site["nodes"] = self.plan_nodes(site_jobs)

    def stage_totals(self, job_ids: set[int]) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        d3, d4, d5 = (getattr(store, f"stageData$default${k}")() for k in (3, 4, 5))
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        seen: set[int] = set()
        for j in sorted(job_ids):
            sids = store.job(j).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, d3, d4, d5)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["run_s"] += sd.executorRunTime() / 1e3
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["input_bytes"] += sd.inputBytes()
                    out["input_records"] += sd.inputRecords()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["tasks"] += sd.numTasks()
                    out["stages"] += 1
        return out

    def plan_nodes(self, job_ids: set[int]) -> list[dict]:
        """Plan-graph nodes of the SQL executions that ran these jobs."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        if n > self._sql_seen:
            new = sql.executionsList(self._sql_seen, n - self._sql_seen)
            for i in range(new.size()):
                e = new.apply(i)
                self._exec_jobs.append((e.executionId(), _job_keys(e)))
            self._sql_seen = n
        out = []
        for exec_id, ejobs in self._exec_jobs:
            if not ejobs & job_ids:
                continue
            graph = sql.planGraph(exec_id)
            values = sql.executionMetrics(exec_id)
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = {}
                ms = node.metrics()
                for m in range(ms.size()):
                    mm = ms.apply(m)
                    v = values.get(mm.accumulatorId())
                    if v.isDefined():
                        metrics[mm.name()] = parse_metric(v.get())
                out.append({"exec": exec_id, "name": node.name(),
                            "desc": node.desc(), "metrics": metrics})
        return out

    # -- call sites inside the package -------------------------------------

    def install_sites(self) -> None:
        """Wrap ``DataFrame.collect`` and ``DataFrameWriter.parquet`` so a
        call made from inside the package runs under a site job group."""
        if not self.enabled:
            return
        df = self.spark.range(1)
        for cls, meth in ((type(df), "collect"), (type(df.write), "parquet")):
            orig = getattr(cls, meth)
            self._patched.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, meth))

    def uninstall_sites(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()

    def _wrap(self, orig, action: str):
        tracer = self

        def wrapped(obj, *args, **kwargs):
            span = tracer._stack[-1] if tracer._stack else None
            site = _package_site(action, args[0] if args else kwargs.get("path"))
            if span is None or site is None:
                return orig(obj, *args, **kwargs)
            entry = span.sites.setdefault(site, {"s": 0.0, "calls": 0, "groups": []})
            group = f"{span.groups[0]}|{site}|{entry['calls']}"
            entry["groups"].append(group)
            entry["calls"] += 1
            tracer.sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                return orig(obj, *args, **kwargs)
            finally:
                entry["s"] += time.perf_counter() - t0
                tracer.sc.setJobGroup(span.groups[0], span.groups[0])

        return wrapped

    # -- output -------------------------------------------------------------

    def dump(self, path: str, run: dict) -> None:
        """One JSON line for the run (``run``: its conditions and
        results), then one per span."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"run_id": self.run_id, **run}) + "\n")
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": s.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self.self_seconds(s), "jobs": s.jobs,
                    "stage": s.stage,
                    "sites": {k: {"s": v["s"], "calls": v["calls"],
                                  "jobs": v.get("jobs", 0)}
                              for k, v in s.sites.items()},
                    "nodes": [{"name": n["name"], "metrics": n["metrics"]}
                              for n in s.nodes],
                }) + "\n")


def _job_keys(execution) -> set[int]:
    keys = execution.jobs().keys().toList()
    return {int(keys.apply(i)) for i in range(keys.size())}


def _package_site(action: str, path) -> str | None:
    """'<module>.<function>:<action>' for the innermost caller inside the
    package; a parquet write names its target directory's last part."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if _PKG_DIR in fn:
            mod = os.path.splitext(fn.rsplit(_PKG_DIR, 1)[1])[0].replace(os.sep, ".")
            where = f"{mod}.{f.f_code.co_name}:{action}"
            if action == "parquet" and path:
                where += ":" + os.path.basename(str(path).rstrip("/"))
            return where
        f = f.f_back
    return None


def scans_of(nodes: list[dict], path: str) -> int:
    """Number of parquet scan nodes reading ``path``."""
    p = os.path.abspath(path).rstrip("/")
    return sum(
        1 for n in nodes
        if n["name"].startswith("Scan parquet")
        and (p + "]" in n["desc"] or p + "," in n["desc"])
    )


def node_metric(nodes: list[dict], name_prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if n["name"].startswith(name_prefix))

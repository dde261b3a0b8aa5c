"""Spans around the repo's layers, with Spark work attributed to them.

A span records its name, layer, start, end and parent. While a span is
open its id is the thread's Spark job group, so every job (and every
stage and task of that job) started inside it can be found afterwards
with ``statusTracker().getJobIdsForGroup``. Stage counters come from the
in-process status store and Python-worker and file-write counters from
the SQL status store; both work with ``spark.ui.enabled=false``.

Spans are held in memory and written out once, by :meth:`Tracer.dump`.
With tracing off nothing is wrapped and :meth:`Tracer.span` records
nothing, so the untraced run executes the repo's own functions.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import re
import statistics
import sys
import time
from contextlib import contextmanager

PKG = "airflow_crypto_etl_spark"

# (module, layer) whose public functions get a span each.
WRAPPED = (
    (f"{PKG}.sources.tables", "sources"),
    (f"{PKG}.plans.medallion", "plans.medallion"),
    (f"{PKG}.plans.warehouse", "plans.warehouse"),
    (f"{PKG}.sinks.writers", "sinks"),
    (f"{PKG}.checks", "checks"),
)
# Single functions wrapped outside those modules.
WRAPPED_FUNCS = ((f"{PKG}.operators.dedup", "release_caches", "cache"),)

STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("task_run_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_rows", "inputRecords", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)
_PY_NODE = re.compile(r"Python|Pandas|Arrow|UDTF")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")
_SEP = "\x01"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^\x01]*),(\d+),[^,)]*\)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"1,234"``, ``"12.5 KiB"`` or
    the ``"total (min, med, max ...)\\n12.5 KiB (...)"`` form."""
    m = _NUM.search(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self._sql_seen = 0

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{next(self._ids)}", "name": name, "layer": layer,
               "parent": parent["id"] if parent else None, "start": time.time(), **attrs}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"], False)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the layer functions in every loaded module of the package
        that bound them (``from .sources.tables import load_table`` makes
        a second reference the wrapper must replace too)."""
        import importlib

        targets = []
        for mod_name, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            for fname, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == mod_name and not fname.startswith("_"):
                    targets.append((fname, fn, layer))
        for mod_name, fname, layer in WRAPPED_FUNCS:
            targets.append((fname, getattr(importlib.import_module(mod_name), fname), layer))
        mods = [m for k, m in list(sys.modules.items()) if m is not None and k.startswith(PKG)]
        for fname, fn, layer in targets:
            traced = self._wrap(fn, f"{fn.__module__.removeprefix(PKG + '.')}.{fname}", layer)
            for m in mods:
                if vars(m).get(fname) is fn:
                    setattr(m, fname, traced)
                    self._patches.append((m, fname, fn))
        # SQL counters start from here: earlier executions belong to
        # untraced passes and the warm-up.
        self._sql_seen = self._sql_store().executionsCount()
        self.enabled = True

    def uninstall(self) -> None:
        for m, fname, fn in reversed(self._patches):
            setattr(m, fname, fn)
        self._patches.clear()
        self.enabled = False

    # -- Spark counters ------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def jobs_since(self, mark: int) -> tuple[int, int, int]:
        """Jobs with an id above ``mark``, traced or not: (newest job id,
        jobs, stages they completed). The status store lists jobs newest
        first, so only the new ones are read."""
        jobs = self.sc._jsc.sc().statusStore().jobsList(self.sc._jvm.java.util.ArrayList())
        newest, n, stages = mark, 0, 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break
            newest = max(newest, job.jobId())
            n += 1
            stages += job.numCompletedStages()
        return newest, n, stages

    def attribute(self, spans: list[dict]) -> dict:
        """Attach jobs and stage counters to each span (by job group) and
        return op-level totals, including the SQL-store counters of every
        execution that finished since the last call."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        no_status, no_q = jvm.java.util.ArrayList(), self.sc._gateway.new_array(jvm.double, 0)
        tracker = self.sc.statusTracker()
        totals = {k: 0.0 for k, _, _ in STAGE_FIELDS}
        totals.update(jobs=0, stages=0, stage_intervals=[])
        seen_stages: set[int] = set()
        for rec in spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["id"]))
            rec["stages"] = 0
            for k, _, _ in STAGE_FIELDS:
                rec[k] = 0.0
            for jid in rec["jobs"]:
                ids = store.job(jid).stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    attempts = store.stageData(sid, False, no_status, False, no_q)
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if st.numCompleteTasks() == 0:
                            continue  # skipped: its output came from an earlier stage
                        rec["stages"] += 1
                        for key, getter, scale in STAGE_FIELDS:
                            rec[key] += getattr(st, getter)() * scale
                        sub, done = st.submissionTime(), st.completionTime()
                        if sub.isDefined() and done.isDefined():
                            totals["stage_intervals"].append(
                                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            totals["jobs"] += len(rec["jobs"])
            totals["stages"] += rec["stages"]
            for k, _, _ in STAGE_FIELDS:
                totals[k] += rec[k]
        totals.update(self._sql_counters())
        return totals

    def _sql_counters(self) -> dict:
        sql = self._sql_store()
        n = sql.executionsCount()
        out = {"python_rows": 0.0, "python_bytes": 0.0, "files_written": 0.0, "bytes_written": 0.0}
        if n <= self._sql_seen:
            return out
        execs = sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            # One py4j call per map: keys are boxed Longs that a Python
            # int lookup would miss.
            values = dict(
                kv.split(" -> ", 1) for kv in sql.executionMetrics(eid).mkString(_SEP).split(_SEP) if kv
            )
            nodes = sql.planGraph(eid).allNodes()

            def metrics(node):
                got = {}
                for m in _PLAN_METRIC.finditer(node.metrics().mkString(_SEP)):
                    if m.group(2) in values:
                        got[m.group(1)] = parse_metric(values[m.group(2)])
                return got

            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if _PY_NODE.search(name):
                    got = metrics(node)
                    if "data sent to Python workers" in got:
                        out["python_bytes"] += got["data sent to Python workers"]
                        out["python_rows"] += got.get("number of output rows", 0.0)
                elif "InsertIntoHadoopFsRelationCommand" in name:
                    got = metrics(node)
                    out["files_written"] += got.get("number of written files", 0.0)
                    out["bytes_written"] += got.get("written output", 0.0)
        return out

    def storage_mb(self) -> float:
        """Memory and disk held by cached DataFrames (broadcast blocks,
        which the executor's storage memory also holds, excluded)."""
        rdds = self.sc._jsc.sc().statusStore().rddList(True)
        return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())) / 2**20

    # -- output --------------------------------------------------------

    def self_times(self) -> None:
        children: dict[str, list] = {}
        for s in self.spans:
            if s["parent"]:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - union_s(children.get(s["id"], []))

    def dump(self, path: str, extra: dict) -> None:
        self.self_times()
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


def subtree_ids(spans: list[dict], pred) -> set[str]:
    """Ids of spans matching ``pred`` and of all their descendants."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [s["id"] for s in spans if pred(s)]
    while todo:
        sid = todo.pop()
        if sid not in out:
            out.add(sid)
            todo.extend(kids.get(sid, []))
    return out


def outer_duration(spans: list[dict], pred) -> float:
    """Summed duration of matching spans not nested in another match."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if not pred(s):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not pred(p):
            p = by_id.get(p["parent"])
        if p is None:
            total += s["end"] - s["start"]
    return total


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default

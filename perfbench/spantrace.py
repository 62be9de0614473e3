"""Per-layer tracing from outside the package.

``Tracer.install(package)`` replaces every public module-level function
and every public method of a module's classes with a wrapper that opens
a span, so each public call into a layer is timed without editing the
package. A span sets a unique Spark job group on entry and restores the
caller's on exit, so the jobs a call launches are exactly the jobs of
its group. On exit the span reads those jobs' intervals and stage
counters from the driver's status store (this works with the UI
disabled). Spans stay in memory; ``layer_metrics`` folds them into the
per-layer figures at the end of a run.

A call from inside a layer into the same module does not open a new
span: a span is one call INTO a layer.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import threading
import time

from stats import self_times, union_length

LAYERS = ("core.session", "sources.rest_lake", "pipeline",
          "operators.validate", "lakehouse.merge", "lakehouse.read",
          "lakehouse.maintenance", "streaming.cdf", "plans.transform",
          "plans.queries", "operators.corpus", "other")
LAYER_FIELDS = ("calls", "self_s", "jobs_s", "driver_s", "tasks",
                "shuffle_bytes", "spill_bytes", "task_skew")

_LH_MAINT = {"compact", "expire_snapshots", "vacuum", "run_maintenance",
             "maintenance_plan", "analyze_table", "dv_debt"}
_LH_READ_PREFIX = ("read_", "snapshot_", "pruned_", "current_version",
                   "history", "describe_table", "table_schema")
_CORPUS = {"dedup", "similarity", "pq", "sketches", "fuzzy"}


def layer_of(module: str, func: str) -> str:
    """Package-relative module name + function name → layer key."""
    parts = module.split(".")
    head = parts[0]
    if module == "core.session":
        return "core.session"
    if module in ("sources.rest_lake", "sources.http_transport",
                  "sources.oauth", "sources.incremental"):
        return "sources.rest_lake"
    if head in ("pipeline", "schema_registry", "functions"):
        return "pipeline"
    if module == "operators.validate":
        return "operators.validate"
    if module.startswith("sources.lakehouse"):
        if func in _LH_MAINT:
            return "lakehouse.maintenance"
        if func.startswith(_LH_READ_PREFIX):
            return "lakehouse.read"
        return "lakehouse.merge"
    if head == "streaming":
        return "streaming.cdf"
    if module in ("plans.transform", "orchestration"):
        return "plans.transform"
    if head == "plans":
        return "plans.queries"
    if head == "operators" and parts[-1] in _CORPUS:
        return "operators.corpus"
    return "other"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._seq = 0
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_module(self) -> str | None:
        st = self._stack()
        return st[-1]["module"] if st else None

    def span(self, name: str, layer: str, module: str = ""):
        return _Span(self, name, layer, module)

    # ----------------------------------------------------- installation
    def install(self, package) -> None:
        prefix = package.__name__ + "."
        mods = [package] + [importlib.import_module(m.name) for m in
                            pkgutil.walk_packages(package.__path__, prefix)]
        wrapped: dict[int, tuple] = {}  # id(original) -> (original, wrapper)
        for mod in mods:
            rel = mod.__name__[len(prefix):] if mod is not package else ""
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    w = self._wrap(obj, rel, attr)
                    wrapped[id(obj)] = (obj, w)
                    self._set(mod, attr, w)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for m_name, m in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m):
                            self._set(obj, m_name, self._wrap(m, rel, m_name))
        # names re-exported with ``from x import f`` point at the same
        # function objects: patch those references too
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, attr, hit[1])

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def _set(self, owner, attr, value) -> None:
        self._originals.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, module: str, name: str):
        layer = layer_of(module, name)
        span_name = f"{module}.{name}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.current_module() == module:
                return fn(*args, **kwargs)
            with self.span(span_name, layer, module):
                return fn(*args, **kwargs)
        return wrapper

    # -------------------------------------------------------- reporting
    def dump(self, path: str) -> str:
        """Write every span as one JSON line (times relative to the
        first span) and return the path."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in s.items() if k not in ("wall_start", "module")}
                rec["start"], rec["end"] = s["start"] - t0, s["end"] - t0
                rec["self_s"] = selfs[s["id"]]
                f.write(json.dumps(rec) + "\n")
        return path

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        """Per-layer totals divided by the number of timed ops (ratios
        are not divided). Only spans of timed ops count, except for
        ``core.session``, whose single call happens in set-up."""
        spans = [s for s in self.spans if s["op"] is not None
                 or s["layer"] == "core.session"]
        selfs = self_times(spans)
        agg = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        skews: dict[str, list[float]] = {layer: [] for layer in LAYERS}
        for s in spans:
            a = agg[s["layer"]]
            a["calls"] += 1
            a["self_s"] += selfs[s["id"]]
            a["jobs_s"] += s["jobs_s"]
            a["driver_s"] += max(0.0, selfs[s["id"]] - s["jobs_s"])
            a["tasks"] += s["tasks"]
            a["shuffle_bytes"] += s["shuffle_bytes"]
            a["spill_bytes"] += s["spill_bytes"]
            if s["task_skew"]:
                skews[s["layer"]].append(s["task_skew"])
        out: dict[str, float] = {}
        per = max(n_ops, 1)
        for layer, a in agg.items():
            for f in LAYER_FIELDS:
                if f == "task_skew":
                    v = max(skews[layer]) if skews[layer] else 0.0
                elif layer == "core.session":
                    v = a[f]
                else:
                    v = a[f] / per
                out[f"{layer}.{f}"] = v
        return out

    def coverage(self, windows: list[tuple[float, float]]) -> float:
        """Share of the timed op windows covered by top-level spans."""
        total = sum(b - a for a, b in windows)
        tops = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] is None and s["op"] is not None]
        covered = sum(union_length(tops, a, b) for a, b in windows)
        return covered / total if total else 0.0


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, module: str):
        self.t = tracer
        self.rec = {"name": name, "layer": layer, "module": module}

    def __enter__(self):
        from pyspark import SparkContext
        t = self.t
        with t._lock:
            t._seq += 1
            sid = t._seq
        st = t._stack()
        rec = self.rec
        rec.update(id=sid, parent=st[-1]["id"] if st else None, op=t.op,
                   group=None, failed=False)
        self.sc = SparkContext._active_spark_context
        if self.sc is not None:
            self.prev = {k: self.sc.getLocalProperty(k) for k in
                         ("spark.jobGroup.id", "spark.job.description",
                          "spark.job.interruptOnCancel")}
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], rec["name"])
        st.append(rec)
        rec["start"] = time.perf_counter()
        rec["wall_start"] = time.time()
        return rec

    def __exit__(self, exc_type, exc, tb):
        rec = self.rec
        rec["end"] = time.perf_counter()
        rec["failed"] = exc_type is not None
        self.t._stack().pop()
        if self.sc is not None:
            for k, v in self.prev.items():
                self.sc.setLocalProperty(k, v)
        rec.update(job_stats(self.sc, rec["group"], rec["wall_start"],
                             rec["wall_start"] + rec["end"] - rec["start"]))
        self.t.spans.append(rec)
        return False


def job_stats(sc, group: str | None, lo: float, hi: float) -> dict:
    """Counters of the jobs in ``group`` from the status store:
    ``jobs_s`` is the union of their intervals clipped to the span's
    wall-clock window, ``task_skew`` is max ÷ median task run time in
    the slowest stage."""
    out = {"jobs": 0, "jobs_s": 0.0, "tasks": 0, "shuffle_bytes": 0,
           "spill_bytes": 0, "task_skew": 0.0, "job_ids": []}
    if sc is None or group is None:
        return out
    ids = list(sc.statusTracker().getJobIdsForGroup(group))
    if not ids:
        return out
    store = sc._jsc.sc().statusStore()
    intervals, slowest = [], None
    for jid in ids:
        jd = store.job(int(jid))
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined():
            end = comp.get().getTime() / 1000.0 if comp.isDefined() else hi
            intervals.append((sub.get().getTime() / 1000.0, end))
        stage_ids = jd.stageIds()
        for i in range(stage_ids.length()):
            try:
                sd = store.lastStageAttempt(int(stage_ids.apply(i)))
            except Exception:  # evicted or never submitted
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.numCompleteTasks() > 1 and (
                    slowest is None or sd.executorRunTime() > slowest[2]):
                slowest = (sd.stageId(), sd.attemptId(), sd.executorRunTime())
    out["jobs"] = len(ids)
    out["job_ids"] = sorted(int(j) for j in ids)
    out["jobs_s"] = union_length(intervals, lo, hi)
    if slowest is not None:
        out["task_skew"] = _task_skew(sc, store, slowest[0], slowest[1])
    return out


def _task_skew(sc, store, stage_id: int, attempt: int) -> float:
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    dist = store.taskSummary(stage_id, attempt, qs)
    if not dist.isDefined():
        return 0.0
    run = dist.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 0.0

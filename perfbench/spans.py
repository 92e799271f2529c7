"""Span tracer for the benchmark's traced run.

Spans are recorded by wrappers the benchmark installs around the public
functions of each engine module (a "layer"); nothing inside the engine
changes. Each span carries name, layer, start, end, parent span and the
request id current when it opened, and all spans stay in memory until
the run ends.

Every span also sets a Spark job group (``pb<span id>``), so the jobs a
span launches — while it is the innermost span — can be tied back to it
from the in-process status store after the run. The status store is
populated with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "garden_net_backend_spark"

# the package modules the workloads call, in the order they are reported
LAYERS = [
    "session",
    "sources.readers",
    "plans.network_build",
    "operators.interval",
    "operators.graph",
    "plans.materialize",
    "plans.search",
    "plans.serving",
    "plans.feature_metrics",
    "operators.chas",
    "streaming.uploads",
    "operators.dedup",
    "operators.similarity",
    "streaming.ingest",
]

PER_LAYER_KEYS = ["calls", "self_s", "jobs", "stages", "tasks", "exec_cpu_s", "shuffle_mb"]


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    args: tuple = field(default=(), repr=False)


class Tracer:
    """Records spans around wrapped layer functions.

    ``install()`` replaces each public function defined in a layer
    module with a wrapper, both on the defining module and on every
    package module that imported it by name; ``uninstall()`` puts the
    originals back. A wrapper keeps the function's module and qualified
    name, so a wrapped function shipped to a Python worker is pickled by
    reference and runs unwrapped there.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.request: str | None = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None

    # --- span bookkeeping ------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc
        if sc is None:
            from pyspark import SparkContext

            sc = self._sc = SparkContext._active_spark_context
            if sc is None:
                return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb{span.sid}", f"{span.layer}.{span.name}")

    def _enter(self, layer: str, name: str, args: tuple) -> Span:
        st = self._stack()
        span = Span(len(self.spans), layer, name, st[-1].sid if st else None,
                    self.request, time.perf_counter(), args=args)
        self.spans.append(span)
        st.append(span)
        self._set_group(span)
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_group(st[-1] if st else None)

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._enter(layer, fn.__name__, args)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(span)

        return wrapper

    # --- installation ----------------------------------------------------

    def install(self) -> "Tracer":
        originals: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    w = self.wrap(layer, obj)
                    originals[id(obj)] = w
                    self._patch(mod, name, w)
        # rebind names other package modules imported with ``from x import f``
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and getattr(mod, name) is not w:
                    self._patch(mod, name, w)
        return self

    def _patch(self, owner, name: str, new) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._patched):
            setattr(owner, name, old)
        self._patched.clear()
        self._set_group(None)

    # --- reductions ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the durations of its child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def request_spans(self, request: str) -> list[Span]:
        return [s for s in self.spans if s.request == request]


def _opt(o):
    """scala Option -> python value or None."""
    return o.get() if o.isDefined() else None


def spark_work(sc) -> tuple[dict[str, dict], dict[int, dict]]:
    """Read jobs and completed stages from the in-process status store.

    Returns ``(by_group, stages)``: per job group the job ids and the
    stage ids first run by those jobs; per stage id its task count,
    executor CPU seconds, shuffle bytes and input records. Waits for the
    listener bus to drain first, so the last jobs are present.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    stage_owner: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        job_group[jid] = _opt(j.jobGroup())
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = int(sids.apply(k))
            if sid not in stage_owner or jid < stage_owner[sid]:
                stage_owner[sid] = jid
    stages: dict[int, dict] = {}
    sl = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
    for i in range(sl.size()):
        s = sl.apply(i)
        if str(s.status().toString()) != "COMPLETE":
            continue
        sid = int(s.stageId())
        if sid in stages:  # a retried stage: keep the first attempt
            continue
        stages[sid] = {
            "job": stage_owner.get(sid),
            "tasks": int(s.numTasks()),
            "cpu_s": int(s.executorCpuTime()) / 1e9,
            "shuffle_bytes": int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
            "input_records": int(s.inputRecords()),
        }
    by_group: dict[str, dict] = {}
    for jid, g in job_group.items():
        by_group.setdefault(g, {"jobs": [], "stages": []})["jobs"].append(jid)
    for sid, st in stages.items():
        g = job_group.get(st["job"])
        by_group.setdefault(g, {"jobs": [], "stages": []})["stages"].append(sid)
    return by_group, stages


def layer_metrics(tracer: Tracer, sc) -> tuple[dict[str, float], dict]:
    """Per-layer ``calls``, ``self_s``, ``jobs``, ``stages``, ``tasks``,
    ``exec_cpu_s`` and ``shuffle_mb``; the second value is the raw
    status-store view for request-level ratios."""
    by_group, stages = spark_work(sc)
    selft = tracer.self_times()
    out = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in PER_LAYER_KEYS}
    for s in tracer.spans:
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_s"] += selft[s.sid]
        work = by_group.get(f"pb{s.sid}")
        if work is None:
            continue
        out[f"{s.layer}.jobs"] += len(work["jobs"])
        out[f"{s.layer}.stages"] += len(work["stages"])
        for sid in work["stages"]:
            st = stages[sid]
            out[f"{s.layer}.tasks"] += st["tasks"]
            out[f"{s.layer}.exec_cpu_s"] += st["cpu_s"]
            out[f"{s.layer}.shuffle_mb"] += st["shuffle_bytes"] / 1e6
    for layer in LAYERS:
        for k in ("calls", "jobs", "stages", "tasks"):
            out[f"{layer}.{k}"] = int(out[f"{layer}.{k}"])
    return out, {"by_group": by_group, "stages": stages}


def input_records_for(spans: list[Span], raw: dict) -> int:
    """Stage input records of the jobs launched by the given spans."""
    n = 0
    for s in spans:
        work = raw["by_group"].get(f"pb{s.sid}")
        if work:
            n += sum(raw["stages"][sid]["input_records"] for sid in work["stages"])
    return n

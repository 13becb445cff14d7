"""Spans around calls into the library's layers, and Spark event-log
attribution of jobs, tasks, shuffle and spill to those spans.

Used only by traced runs (``--trace 1``).  ``Tracer.install`` wraps the
public functions and methods of each layer module in place, in every
namespace that binds them (most names arrive through ``from … import``),
and ``Tracer.uninstall`` puts the originals back.  A span sets the Spark
job description of its thread to its own id, so the event log names the
span that submitted each job and stage.  Code that runs inside Python
workers (UDF kernels, the SQL TVF's search, the Vamana graph build) is
not wrapped: its cost shows as task time under the span that ran the job.

The library submits some writes from two-thread pools.
``ThreadPoolExecutor.submit`` is wrapped too, so work a span hands to a
pool thread stays under that span: the thread inherits the span as its
parent and the job description that names it.
"""

from __future__ import annotations

import concurrent.futures
import functools
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import stats

PACKAGE = "tiledb_vector_search_spark"

# layer name -> module (relative to the package) whose public functions
# and class methods are wrapped.  Layer = module name.
LIBRARY_LAYERS = [
    "indexes.flat",
    "indexes.ivf_flat",
    "indexes.ivf_pq",
    "indexes.vamana",
    "indexes.base",
    "indexes.overlay",
    "ml.kmeans",
    "operators.knn",
    "operators.routing",
    "operators.topk",
    "storage",
    "driver_io",
    "sql.tvf",
    "operators.retrieval",
    "operators.dedup",
    "functions.text",
    "session",
]
# the benchmark's own work inside a run: input generation, truth, checks
HARNESS = "harness"
LAYERS = LIBRARY_LAYERS + [HARNESS]

# layers whose work runs only inside Python workers or only builds lazy
# Column expressions on the driver: their calls are counted, but their
# execution cost lands as task time under whichever span runs the job
WORKER_SIDE = {
    "sql.tvf": "the ann_search UDTF searches inside Python workers",
    "functions.text": "builds Column expressions; execution runs in the "
    "jobs of the calling operators.dedup / operators.retrieval span",
}

DESC_KEY = "spark.job.description"
DESC_PREFIX = "perfbench#"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: str | None  # the benchmark operation this span belongs to
    t0: float  # epoch seconds
    t1: float = 0.0
    failed: bool = False


@dataclass
class Tracer:
    """Span recorder; one per run.  Spans stay in memory until the run ends."""

    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0  # time spent inside the tracer's own bookkeeping
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patches: list = field(default_factory=list)
    _next_id: int = 0

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        return getattr(self._local, "inherited", None)

    def _set_desc(self, span: Span | None) -> None:
        sc = self.spark_context
        if sc is not None:
            sc.setLocalProperty(DESC_KEY, None if span is None else f"{DESC_PREFIX}{span.id}")

    def begin(self, layer: str, name: str, op: str | None = None) -> Span:
        c0 = time.perf_counter()
        parent = self.current()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = Span(
            sid,
            parent.id if parent else None,
            layer,
            name,
            op if op is not None else (parent.op if parent else None),
            time.time(),
        )
        self._stack().append(sp)
        self._set_desc(sp)
        with self._lock:
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - c0
        return sp

    def end(self, sp: Span, failed: bool = False) -> None:
        c0 = time.perf_counter()
        sp.t1 = time.time()
        sp.failed = failed
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self._set_desc(self.current())
        with self._lock:
            self.overhead_s += time.perf_counter() - c0

    def span(self, layer: str, name: str, op: str | None = None):
        return _SpanContext(self, layer, name, op)

    # -- patching ------------------------------------------------------------

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.begin(layer, name)
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                tracer.end(sp, failed=not ok)

        return wrapper

    def install(self) -> None:
        """Wrap every public function and class method of each layer module,
        in every loaded module that binds it."""
        import importlib

        originals: dict[int, object] = {}  # id(original) -> wrapper
        for layer in LIBRARY_LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    originals[id(obj)] = self._wrap(obj, layer, attr)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    self._patch_class(obj, layer)
        # rebind the wrapped functions wherever a module holds them
        for mname, m in list(sys.modules.items()):
            if m is None or not (mname.startswith(PACKAGE) or mname.startswith("perfbench")):
                continue
            for attr, obj in list(vars(m).items()):
                w = originals.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._patches.append((m, attr, obj))
                    setattr(m, attr, w)
        self.install_pool_inheritance()

    def install_pool_inheritance(self) -> None:
        """Make work submitted to a ``ThreadPoolExecutor`` run under the
        submitting thread's current span."""
        orig_submit = concurrent.futures.ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            if parent is None:
                return orig_submit(pool, fn, *args, **kwargs)

            def run(*a, **k):
                tracer._local.inherited = parent
                tracer._set_desc(parent)
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.inherited = None
                    tracer._set_desc(None)

            return orig_submit(pool, run, *args, **kwargs)

        self._patches.append((concurrent.futures.ThreadPoolExecutor, "submit", orig_submit))
        concurrent.futures.ThreadPoolExecutor.submit = submit

    def _patch_class(self, cls, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{cls.__name__}.{attr}"
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, layer, name))
            elif isinstance(raw, staticmethod):
                new = staticmethod(self._wrap(raw.__func__, layer, name))
            elif inspect.isfunction(raw):
                new = self._wrap(raw, layer, name)
            else:
                continue
            self._patches.append((cls, attr, raw))
            setattr(cls, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class _SpanContext:
    def __init__(self, tracer: Tracer, layer: str, name: str, op: str | None):
        self.tracer, self.layer, self.name, self.op = tracer, layer, name, op

    def __enter__(self) -> Span:
        self.sp = self.tracer.begin(self.layer, self.name, self.op)
        return self.sp

    def __exit__(self, et, ev, tb):
        self.tracer.end(self.sp, failed=et is not None)
        return False


# -- event log ------------------------------------------------------------------

_ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.recordsRead": "records_read",
}


def parse_event_log(evdir: str) -> dict:
    """{'jobs': {id: {...}}, 'stages': {id: {...}}} from every event-log
    file under ``evdir``; each job and stage carries the description its
    submitting thread set."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = []
    for root, _dirs, files in os.walk(evdir):
        paths += [os.path.join(root, f) for f in files if not f.startswith(".")]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "desc": props.get(DESC_KEY),
                    }
                elif e == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                elif e == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, _new_stage())["desc"] = props.get(DESC_KEY)
                elif e == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    ti = ev.get("Task Info") or {}
                    st["tasks"] += 1
                    st["task_s"] += max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    for a in ti.get("Accumulables") or []:
                        key = _ACC.get(a.get("Name", ""))
                        if key is None:
                            continue
                        try:
                            st[key] += int(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"desc": None, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "gc_ms": 0, "records_read": 0}


def span_of(desc: str | None) -> int | None:
    if desc and desc.startswith(DESC_PREFIX):
        try:
            return int(desc[len(DESC_PREFIX):])
        except ValueError:
            return None
    return None


def layer_table(spans: list[Span], events: dict) -> dict:
    """Per-layer calls, self time, failures, and the Spark work attributed
    to the layer's spans, plus per-op aggregates for the ratios.

    A span's layer work is the jobs and stages whose description names
    it.  ``calls`` counts every span of the layer, nested ones included."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    def zero() -> dict:
        return {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0, "task_s": 0.0,
                "shuffle_bytes": 0, "spill_bytes": 0, "failed": 0, "records_read": 0}

    table = {layer: zero() for layer in LAYERS}
    for s in spans:
        row = table.setdefault(s.layer, zero())
        row["calls"] += 1
        row["failed"] += int(s.failed)
        kids = [(c.t0, c.t1) for c in children.get(s.id, [])]
        row["self_s"] += stats.self_time(s.t0, s.t1, kids)
    names: dict[str, list] = {}
    for s in spans:
        n = names.setdefault(f"{s.layer}:{s.name}", [0, 0.0])
        n[0] += 1
        n[1] += s.t1 - s.t0
    ops: dict[str, dict] = {}
    job_total = job_named = 0.0
    for j in events["jobs"].values():
        dur = max(0.0, (j["end"] or j["start"]) - j["start"])
        job_total += dur
        sp = by_id.get(span_of(j["desc"]))
        if sp is None:
            continue
        job_named += dur
        table[sp.layer]["jobs"] += 1
        if sp.op:
            ops.setdefault(sp.op, _new_op())["jobs"] += 1
    gc_ms = 0
    for st in events["stages"].values():
        gc_ms += st["gc_ms"]
        sp = by_id.get(span_of(st["desc"]))
        if sp is None:
            continue
        row = table[sp.layer]
        for key in ("tasks", "task_s", "shuffle_bytes", "spill_bytes", "records_read"):
            row[key] += st[key]
        if sp.op:
            o = ops.setdefault(sp.op, _new_op())
            for key in ("task_s", "shuffle_bytes", "records_read"):
                o[key] += st[key]
            o.setdefault("layers_task_s", {}).setdefault(sp.layer, 0.0)
            o["layers_task_s"][sp.layer] += st["task_s"]
    return {
        "layers": table,
        "ops": ops,
        "span_names": names,
        "job_s_total": job_total,
        "job_s_under_span": job_named,
        "gc_s": gc_ms / 1000.0,
    }


def _new_op() -> dict:
    return {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0, "records_read": 0}


def job_intervals(events: dict) -> list[tuple[float, float]]:
    return [
        (j["start"], j["end"] if j["end"] is not None else j["start"])
        for j in events["jobs"].values()
    ]


def driver_share(op_spans: list[Span], jobs: list[tuple[float, float]]) -> float:
    """Share of the ops' wall time during which no Spark job ran."""
    wall = covered = 0.0
    for s in op_spans:
        wall += s.t1 - s.t0
        clipped = [(max(a, s.t0), min(b, s.t1)) for a, b in jobs if b > s.t0 and a < s.t1]
        covered += stats.union_length(clipped)
    return (wall - covered) / wall if wall > 0 else 0.0

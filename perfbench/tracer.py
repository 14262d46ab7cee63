"""Per-layer tracing from outside the program.

The tracer replaces each layer's public entry points (listed in
``ENTRY_POINTS``) with a wrapper that records a span (name, layer, start,
end, parent) and runs the call under a Spark job group named for the layer.
When the call is the outermost one of its layer and returns the layer's
output (``OUTPUTS``), the wrapper caches and counts that DataFrame there, so
the layer's lazy work runs in the layer's own job group instead of in
whichever later action happens to pull it.  Task metrics are then read per job group
from Spark's status store.

Only the benchmark's own files change; the program sees the same functions
under the same names.
"""

from __future__ import annotations

import importlib
import operator
import sys
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

PKG = "folkscope_spark"

# layer -> (module, its entry points the pipeline calls)
ENTRY_POINTS: dict[str, tuple[str, list[str]]] = {
    "generate": ("generate", [
        "template_table", "pairs_from_pages", "build_prompts", "resume_filter",
        "generate_assertions", "explode_assertions",
    ]),
    "score": ("score", ["score_assertions", "threshold"]),
    "parse": ("parse", ["parse_assertions"]),
    "patterns": ("patterns", [
        "count_anchored_patterns", "finish_patterns", "merge_pattern_sets",
        "length_cdf", "adaptive_schedule",
    ]),
    "match": ("match", ["match_patterns", "merge_eventualities"]),
    "canonicalize": ("canonicalize", ["canonicalize_surface_forms"]),
    "conceptualize": ("conceptualize", [
        "max_instance_tokens", "probase_topk", "conceptualization_vocabulary",
        "collect_topk_map", "conceptualize", "conceptualize_text",
        "aggregate_concepts",
    ]),
    "materialize": ("materialize", ["build_triples", "write_triples"]),
    "snapshots": ("snapshots", [
        "SnapshotStore.stage", "SnapshotStore.commit", "SnapshotStore.read",
    ]),
}

# Entry points whose DataFrame is a layer's output: forced where it is
# returned (True: its rows are the layer's rows_out).  Intermediate results
# (prompts, the top-K table) stay lazy and run inside the layer output that
# consumes them, and a result the pipeline never evaluates
# (aggregate_concepts) is left alone: forcing either would add work the
# untraced run does not do.
OUTPUTS = {
    "explode_assertions": True,
    "score_assertions": True,
    "parse_assertions": True,
    "count_anchored_patterns": True,
    "match_patterns": True,
    "merge_eventualities": False,
    "canonicalize_surface_forms": True,
    "conceptualize": True,
    "conceptualize_text": False,
    "build_triples": True,
}

# layers with no entry point of their own: session spans the benchmark's
# get_spark call; pipeline is run_pipeline's self time (everything it does
# between calls into the other layers)
LAYERS = ["session", "pipeline", *ENTRY_POINTS]


def rebind(original, replacement) -> list:
    """Point every name in the program's loaded modules (and class
    attributes) that is bound to ``original`` at ``replacement``, so both
    ``module.fn`` and ``from module import fn`` callers see it.  Returns the
    undo list for :func:`restore`."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        owners = [mod] + [
            v for v in vars(mod).values()
            if isinstance(v, type) and v.__module__ == name
        ]
        for owner in owners:
            for key, val in list(vars(owner).items()):
                if val is original:
                    setattr(owner, key, replacement)
                    undo.append((owner, key, original))
    return undo


def restore(undo: list) -> None:
    for owner, key, original in reversed(undo):
        setattr(owner, key, original)


def resolve(module: str, qualname: str):
    obj = importlib.import_module(f"{PKG}.{module}")
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


class _Entry:
    """Callable stand-in for one entry point.  If a Spark closure ever
    captures it, it pickles as a lookup of the original by name, so an
    executor gets the plain, untraced function."""

    def __init__(self, tracer, layer, module, qualname, fn):
        self.tracer, self.layer, self.fn = tracer, layer, fn
        self.module, self.qualname = module, qualname
        self.__name__ = qualname.rsplit(".", 1)[-1]
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self, args, kwargs)

    def __get__(self, obj, cls=None):
        # bound like a method when installed on a class
        if obj is None:
            return self
        return lambda *a, **kw: self(obj, *a, **kw)

    def __reduce__(self):
        return (operator.attrgetter(self.qualname),
                (importlib.import_module(f"{PKG}.{self.module}"),))


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {layer: 0 for layer in LAYERS}
        self.cached: list[DataFrame] = []
        self._stack: list[dict] = []
        self._undo: list = []
        self.sc = None

    # ------------------------------------------------------------ spans

    def begin(self, name: str, layer: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "start": self.clock(), "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        # a new job group only where the layer changes: nested calls within
        # one layer stay in the outer call's group
        if self.sc is not None and (parent is None or parent["layer"] != layer):
            self.sc.setJobGroup(layer, layer)
        return span

    def end(self, span: dict) -> None:
        span["end"] = self.clock()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None and parent is not None and parent["layer"] != span["layer"]:
            self.sc.setJobGroup(parent["layer"], parent["layer"])

    def call(self, entry: _Entry, args, kwargs):
        outer = not self._stack or self._stack[-1]["layer"] != entry.layer
        span = self.begin(entry.qualname, entry.layer)
        try:
            out = entry.fn(*args, **kwargs)
            if isinstance(out, DataFrame) and outer and entry.qualname in OUTPUTS:
                out = out.persist()
                self.cached.append(out)
                n = out.count()
                if OUTPUTS[entry.qualname]:
                    self.rows[entry.layer] += n
            if entry.qualname == "SnapshotStore.commit":
                self.rows["snapshots"] += int(args[0].manifest(args[1])["rows"])
            return out
        finally:
            self.end(span)

    # ------------------------------------------------------------ install

    def install(self, sc) -> None:
        self.sc = sc
        for layer, (module, names) in ENTRY_POINTS.items():
            for qualname in names:
                fn = resolve(module, qualname)
                self._undo += rebind(fn, _Entry(self, layer, module, qualname, fn))

    def uninstall(self) -> None:
        restore(self._undo)
        self._undo = []
        for df in self.cached:
            df.unpersist()
        self.cached = []

    # ------------------------------------------------------------ results

    def layer_walls(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover, summed over the layer's spans."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def span_seconds(self, qualname: str) -> float:
        """Wall of the outermost spans named ``qualname``."""
        by_id = {s["id"]: s for s in self.spans}
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == qualname
            and (s["parent"] is None or by_id[s["parent"]]["name"] != qualname)
        )


def group_task_metrics(sc, groups: list[str | None]) -> dict:
    """Task metrics per job group from the status store.  A stage that
    several jobs share runs once, in the lowest-numbered job that lists it;
    it is booked to that job's group.  Skipped stages are ignored."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted(
        (jid, g) for g in groups for jid in tracker.getJobIdsForGroup(g)
    )
    keys = ("task_s", "task_cpu_s", "shuffle_write_mb", "spill_mb",
            "failed_tasks", "stages")
    out = {g: dict.fromkeys(keys, 0.0) for g in groups}
    seen: set[int] = set()
    for jid, g in jobs:
        info = tracker.getJobInfo(jid)
        for sid in sorted(info.stageIds) if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted
                continue
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            m = out[g]
            m["task_s"] += st.executorRunTime() / 1e3
            m["task_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            m["failed_tasks"] += st.numFailedTasks()
            m["stages"] += 1
    return out

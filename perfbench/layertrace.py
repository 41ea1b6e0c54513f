"""Per-layer tracing of a kgspark pass, from outside the program.

A *layer* is a kgspark module. ``Tracer.install`` replaces every public
function of each layer module, under every name kgspark binds it to, and
``checkpoint.Checkpointer.stage`` with a wrapper that opens a span. It
sets the Spark job group to the layer of the innermost open span, so
every job the driver submits carries a label.

Job-attribution rule. kgspark DataFrames are lazy: a layer usually
returns a plan, and the jobs run later, when some caller triggers an
action. Every DataFrame a layer call returns is recorded with that
layer (first producer wins; ``localCheckpoint`` passes the label on to
its result). An action (``localCheckpoint``, ``count``, ``collect``,
``first``, ``head``, ``take``, ``toPandas``, ``DataFrameWriter.parquet``)
on a recorded DataFrame runs inside a span of its producer, so its jobs
and time are charged there. An action on any other DataFrame (for
example one a caller derived with ``select``) is charged to the innermost
open span, or to no layer when none is open.

Span self time is the span's duration minus its child spans. The Spark
side comes from the event log: ``fold_event_log`` groups the traced
pass's jobs and tasks by job group.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import pkgutil
import time
from collections import defaultdict

from pyspark.sql import DataFrame, DataFrameWriter

try:  # Spark 4 splits DataFrame into an API class and the classic engine
    from pyspark.sql.classic.dataframe import DataFrame as _EngineDataFrame
except ImportError:
    _EngineDataFrame = DataFrame

LAYERS = ("extract", "link", "encode", "typesys", "errorsgen", "scoring",
          "rank", "patybred", "correct", "checkpoint", "pipeline")
HOT_SPOTS = ("patybred.enumerate_paths", "patybred.fit_models",
             "patybred.score_facts", "link.connected_components",
             "correct.correct_errors_patybred")
PASS_PROP = "perfbench.pass"
GROUP_PROP = "spark.jobGroup.id"
_ACTIONS = ((_EngineDataFrame, ("localCheckpoint", "count", "collect",
                               "first", "head", "take", "toPandas")),
            (DataFrameWriter, ("parquet",)))
MB = 1024.0 * 1024.0


def _layer_functions(mod):
    for name, fn in vars(mod).items():
        if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                and not name.startswith("_")
                and not name.endswith(("_sql", "_ctes"))
                and not hasattr(fn, "evalType")):  # pandas UDFs run in workers
            yield name, fn


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.stack: list[list] = []  # [layer, func, segment_start, start]
        self.calls: dict[str, int] = defaultdict(int)
        self.segments: dict[str, list] = defaultdict(list)  # layer self time
        self.func_wall: dict[str, float] = defaultdict(float)
        self.producer: dict[int, tuple[str, str]] = {}
        self._keep: list = []  # pins recorded DataFrames so ids stay unique
        self._group: str | None = None
        self._in_action = False
        self._saved: list[tuple[object, str, object]] = []
        self.checkpoint_calls = 0

    # ------------------------------------------------------------ spans

    def _set_group(self, layer):
        if layer != self._group:
            self.sc.setLocalProperty(GROUP_PROP, layer)
            self._group = layer

    def _enter(self, layer, func):
        now = time.perf_counter()
        if self.stack:
            top = self.stack[-1]
            self.segments[top[0]].append((top[2], now))
        self.stack.append([layer, func, now, now])
        self.calls[layer] += 1
        self._set_group(layer)

    def _exit(self):
        now = time.perf_counter()
        layer, func, seg_start, start = self.stack.pop()
        self.segments[layer].append((seg_start, now))
        self.func_wall[f"{layer}.{func}"] += now - start
        if self.stack:
            self.stack[-1][2] = now
            self._set_group(self.stack[-1][0])
        else:
            self._set_group(None)

    def _record(self, value, origin):
        if isinstance(value, DataFrame):
            if id(value) not in self.producer:
                self.producer[id(value)] = origin
                self._keep.append(value)
        elif isinstance(value, (tuple, list)):
            for v in value:
                self._record(v, origin)

    def _wrap_layer(self, layer, name, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer._enter(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._exit()
            tracer._record(out, (layer, name))
            return out
        return traced

    def _wrap_action(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(this, *args, **kwargs):
            if name == "localCheckpoint":
                tracer.checkpoint_calls += 1
            if tracer._in_action:
                return fn(this, *args, **kwargs)
            df = this._df if isinstance(this, DataFrameWriter) else this
            origin = tracer.producer.get(id(df))
            tracer._in_action = True
            try:
                if origin is None:
                    return fn(this, *args, **kwargs)
                tracer._enter(*origin)
                try:
                    out = fn(this, *args, **kwargs)
                finally:
                    tracer._exit()
                if name == "localCheckpoint":
                    tracer._record(out, origin)
                return out
            finally:
                tracer._in_action = False
        return traced

    # ------------------------------------------------------ install/undo

    def _patch(self, owner, name, new):
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self):
        # Every kgspark module is imported first, so no module binds a
        # wrapper at import time; then each layer function is replaced
        # under every name kgspark binds it to (``from x import f`` too).
        import kgspark

        mods = [importlib.import_module(f"kgspark.{m.name}")
                for m in pkgutil.iter_modules(kgspark.__path__)]
        wrapped = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"kgspark.{layer}")
            for name, fn in _layer_functions(mod):
                wrapped[fn] = self._wrap_layer(layer, name, fn)
        for mod in mods:
            for name, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrapped:
                    self._patch(mod, name, wrapped[value])
        ck = importlib.import_module("kgspark.checkpoint").Checkpointer
        self._patch(ck, "stage",
                    self._wrap_layer("checkpoint", "stage", ck.stage))
        for owner, names in _ACTIONS:
            for name in names:
                self._patch(owner, name,
                            self._wrap_action(name, getattr(owner, name)))

    def uninstall(self):
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)
        self._set_group(None)
        self._keep.clear()
        self.producer.clear()


# ------------------------------------------------------------- event log


def fold_event_log(log_dir: str, pass_id: str) -> dict:
    """Per-job-group Spark totals of the jobs tagged ``pass_id``.

    Returns ``{"groups": {group: {...}}, "jobs": [(start_s, end_s)],
    "output_mb": float}``; group ``None`` holds unlabelled jobs."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, list] = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    output = 0.0
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                kind = line[10:40]
                if "TaskEnd" in kind:
                    ev = json.loads(line)
                    grp = stage_group.get(ev["Stage ID"], "-")
                    if grp == "-":
                        continue
                    tm = ev.get("Task Metrics") or {}
                    g = groups[grp]
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    g["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics", {})
                                              .get("Shuffle Bytes Written", 0)) / MB
                    g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    output += (tm.get("Output Metrics", {})
                               .get("Bytes Written", 0)) / MB
                elif "JobStart" in kind:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    if props.get(PASS_PROP) != pass_id:
                        continue
                    grp = props.get(GROUP_PROP)
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                    groups[grp]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif "JobEnd" in kind:
                    ev = json.loads(line)
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
    return {"groups": groups, "output_mb": output,
            "jobs": [tuple(j) for j in jobs.values() if j[1] is not None]}


def _covered(seg, intervals):
    """Length of ``seg`` covered by the union of sorted ``intervals``."""
    lo, hi = seg
    total, cur = 0.0, lo
    for a, b in intervals:
        if b <= cur:
            continue
        if a >= hi:
            break
        a = max(a, cur)
        b = min(b, hi)
        total += b - a
        cur = b
    return total


def layer_metrics(tracer: Tracer, folded: dict, clock_offset: float) -> dict:
    """``L.*`` metrics for every layer; ``clock_offset`` maps the
    tracer's perf_counter to epoch seconds (the event log's clock)."""
    jobs = sorted(folded["jobs"])
    out = {}
    for layer in LAYERS:
        segs = [(a + clock_offset, b + clock_offset)
                for a, b in tracer.segments.get(layer, [])]
        wall = sum(b - a for a, b in segs)
        busy = sum(_covered(s, jobs) for s in segs)
        g = folded["groups"].get(layer, {})
        out.update({
            f"{layer}.calls": tracer.calls.get(layer, 0),
            f"{layer}.wall_s": wall,
            f"{layer}.jobs": int(g.get("jobs", 0)),
            f"{layer}.task_s": g.get("task_s", 0.0),
            f"{layer}.shuffle_write_mb": g.get("shuffle_write_mb", 0.0),
            f"{layer}.spill_mb": g.get("spill_mb", 0.0),
            f"{layer}.gc_s": g.get("gc_s", 0.0),
            f"{layer}.gap_s": max(0.0, wall - busy),
        })
    for spot in HOT_SPOTS:
        out[f"{spot}.wall_s"] = tracer.func_wall.get(spot, 0.0)
    return out

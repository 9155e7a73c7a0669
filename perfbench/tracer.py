"""Spans around the engine's public functions, recorded from outside.

``Tracer.install`` replaces the public functions of the traced modules
with wrappers that open a span per call; ``uninstall`` restores them.
Nothing in the engine is edited.

Spark is lazy, so most layer functions only build a plan and return in
milliseconds; the work runs later, inside whatever eager call
materializes that plan. To give the layer its work back, every
DataFrame a wrapped function returns is tagged with the layer's name.
When an eager boundary (``checkpoint_fresh``, ``DataFrame.count`` /
``collect``, the parquet sink) runs a tagged plan, it opens a
*deferred* span named after that layer and runs inside it, so a
``checkpoint_fresh`` of a ``gradient_state`` plan is a child of
``bigclam.gradient_state``.

Spans are joined with the Spark stages that completed during them,
read from the status store (works with the UI disabled).
"""

from __future__ import annotations

import bisect
import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# Public functions wrapped per module. ``checkpoint_fresh`` is also
# bound by name inside ``bigclam`` and ``bigclam_long``, so those
# aliases are replaced too.
LAYERS = {
    "sources.edgelist": ("edgelist", ["read_edge_list"]),
    "operators.graph": ("graph", ["symmetrize", "ego_conductance", "local_min_seeds"]),
    "operators.bigclam": (
        "bigclam",
        [
            "seed_membership",
            "init_factors",
            "sum_f",
            "sum_f_and_sq",
            "edge_llh_term",
            "edge_fv_relation",
            "gradient_state",
            "line_search_updates",
            "apply_updates",
            "bigclam_fit",
            "extract_communities",
            "invert_communities",
            "bigclam_pipeline",
        ],
    ),
    "operators.bigclam_long": (
        "bigclam_long",
        [
            "init_factors_long",
            "sum_f_long",
            "edge_stats_long",
            "loglikelihood_long",
            "gradient_long",
            "line_search_updates_long",
            "apply_updates_long",
            "bigclam_fit_long",
            "fold_in_long",
        ],
    ),
}
CHECKPOINT = "checkpointing.checkpoint_fresh"
CHECKPOINT_ALIASES = ["functions.checkpointing", "operators.bigclam", "operators.bigclam_long"]
SINK = "bigclam.sink_write"
PACKAGE = "bigclam_apachespark_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    deferred: bool = False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id] if c.end > s.start]
        )
        out[s.id] = (s.end - s.start) - covered
    return out


class StageLog:
    """Completed Spark stages, polled from the status store. The store
    keeps only the most recent stages, so callers poll after each
    top-level span; stages are deduplicated by (stage, attempt)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm, self._gw, self._jsc = sc._jvm, sc._gateway, spark._jsc
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self.stages: dict[tuple[int, int], dict] = {}

    def poll(self) -> None:
        store = self._jsc.sc().statusStore()
        stage_list = store.stageList(None, False, False, self._gw.new_array(self._jvm.double, 0), None)
        for st in json.loads(self._mapper.writeValueAsString(stage_list)):
            if st.get("completionTime") is None or st["status"] not in ("COMPLETE", "FAILED"):
                continue
            self.stages[(st["stageId"], st["attemptId"])] = {
                "stage": st["stageId"],
                "attempt": st["attemptId"],
                "status": st["status"],
                "completion": st["completionTime"] / 1000.0,
                "tasks": st["numTasks"],
                "failed_tasks": st["numFailedTasks"],
                "executor_run_s": st["executorRunTime"] / 1000.0,
                "shuffle_read_bytes": st["shuffleReadBytes"],
                "shuffle_write_bytes": st["shuffleWriteBytes"],
                "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                "name": st["name"],
            }

    def sorted(self) -> list[dict]:
        return sorted(self.stages.values(), key=lambda s: s["completion"])


STAGE_FIELDS = ("tasks", "failed_tasks", "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def join_stages(spans: list[Span], stages: list[dict]) -> dict[int, dict]:
    """Per span, the sums of the stage metrics of every stage that
    completed inside it (``stages`` sorted by completion time)."""
    times = [s["completion"] for s in stages]
    out = {}
    for sp in spans:
        lo = bisect.bisect_left(times, sp.start)
        hi = bisect.bisect_right(times, sp.end)
        agg = {f: 0 for f in STAGE_FIELDS}
        agg["stages"] = hi - lo
        for st in stages[lo:hi]:
            for f in STAGE_FIELDS:
                agg[f] += st[f]
        out[sp.id] = agg
    return out


class Tracer:
    def __init__(self, run_id: str, clock=time.time):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._tags: dict[int, tuple[str, object]] = {}
        self._ckpt_of: dict[int, tuple[str, object]] = {}
        self._patches: list[tuple[object, str, object]] = []
        self.outputs: dict[str, object] = {}  # last value each layer returned
        self.on_close = None  # called with every span that closes

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, deferred: bool = False):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, self.clock(), deferred=deferred)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.on_close is not None:
                self.on_close(sp)

    def tag(self, obj, layer: str) -> None:
        if hasattr(obj, "_jdf"):
            self._tags[id(obj)] = (layer, obj)

    def tag_of(self, obj) -> str | None:
        hit = self._tags.get(id(obj))
        return hit[0] if hit is not None and hit[1] is obj else None

    @contextmanager
    def eager(self, name: str, df):
        """Span ``name`` around an eager call; when ``df`` is a tagged
        layer output, inside a deferred span of that layer."""
        layer = self.tag_of(df)
        if layer is None:
            with self.span(name):
                yield
            return
        with self.span(layer, deferred=True), self.span(name):
            yield

    def layer_seconds(self, name: str) -> float:
        return union_length([(s.start, s.end) for s in self.spans if s.name == name])

    # -- wrappers ------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _layer_wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.tag(out, name)
            self.outputs[name] = out
            return out

        return wrapper

    def _checkpoint_wrapper(self, fn):
        @functools.wraps(fn)
        def wrapper(df):
            with self.eager(CHECKPOINT, df):
                out = fn(df)
            self.counters[CHECKPOINT + ".calls"] += 1
            layer = self.tag_of(df)
            if layer is not None:
                self._ckpt_of[id(out)] = (layer, out)
            return out

        return wrapper

    def _action_wrapper(self, fn, name: str):
        """``DataFrame.count`` / ``collect``: spans only for tagged plans;
        a count of a checkpointed layer output adds to ``<layer>.rows``."""

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            if self.tag_of(df) is None:
                out = fn(df, *args, **kwargs)
            else:
                with self.eager(name, df):
                    out = fn(df, *args, **kwargs)
            hit = self._ckpt_of.get(id(df))
            if name == "spark.count" and hit is not None and hit[1] is df:
                self.counters[hit[0] + ".rows"] += out
            return out

        return wrapper

    def _sink_wrapper(self, fn):
        @functools.wraps(fn)
        def wrapper(writer, *args, **kwargs):
            with self.eager(SINK, writer._df):
                return fn(writer, *args, **kwargs)

        return wrapper

    def install(self, spark) -> None:
        import importlib

        for mod_name, (short, names) in LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for fname in names:
                self._patch(mod, fname, self._layer_wrapper(getattr(mod, fname), f"{short}.{fname}"))
        ckpt_mod = importlib.import_module(f"{PACKAGE}.functions.checkpointing")
        ckpt = self._checkpoint_wrapper(ckpt_mod.checkpoint_fresh)
        for mod_name in CHECKPOINT_ALIASES:
            self._patch(importlib.import_module(f"{PACKAGE}.{mod_name}"), "checkpoint_fresh", ckpt)
        df_cls = type(spark.range(1))
        self._patch(df_cls, "count", self._action_wrapper(df_cls.count, "spark.count"))
        self._patch(df_cls, "collect", self._action_wrapper(df_cls.collect, "spark.collect"))
        writer_cls = type(spark.range(1).write)
        self._patch(writer_cls, "parquet", self._sink_wrapper(writer_cls.parquet))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------

    def dump(self, path: str, stages: list[dict], cores: int, extra: dict) -> None:
        joined = join_stages(self.spans, stages)
        selfs = self_times(self.spans)
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["self_s"] = selfs[sp.id]
            row.update(joined[sp.id])
            rows.append(row)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "cores": cores, "spans": rows, "stages": stages, **extra}, fh)

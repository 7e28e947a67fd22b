"""Traced-run tooling: spans around the program's public calls, one Spark
job group per span, and a parser for Spark's event log.

Spans are recorded from the benchmark's side only.  ``Tracer.install``
swaps each public function named in ``TARGETS`` (and the ``TableStore``
methods) for a wrapper, in its defining module and in every
``docs2kg_spark`` module that imported it by name, and ``uninstall``
puts the originals back.  A wrapper records a span (name, layer, start,
end, parent) and sets the Spark job group to ``<layer>|<span id>`` for
the duration of the call, on the calling thread, so jobs submitted from
``run_pipeline``'s side threads are grouped too.  Spans live in memory
until the run ends.

Functions that return lazy DataFrames only plan; their work runs when a
table is written, so a ``TableStore.write``/``append_batch`` span is
attributed to the layer that produces that table (``TABLE_LAYER``).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "session",
    "pipeline",
    "segments",
    "mentions",
    "linking",
    "graph",
    "sinks",
    "incremental",
    "graphq",
)

# (module, attribute, layer): the public calls each wrapper covers
TARGETS = (
    ("docs2kg_spark.plans.pipeline", "run_pipeline", "pipeline"),
    ("docs2kg_spark.operators.segments", "segment_transcripts", "segments"),
    ("docs2kg_spark.operators.mentions", "extract_fused", "mentions"),
    ("docs2kg_spark.operators.linking", "build_canonical_map", "linking"),
    ("docs2kg_spark.operators.linking", "candidate_pairs", "linking"),
    ("docs2kg_spark.operators.linking", "verified_edges", "linking"),
    ("docs2kg_spark.operators.linking", "connected_components", "linking"),
    ("docs2kg_spark.operators.graph", "materialize_kg", "graph"),
    ("docs2kg_spark.operators.graph", "conversation_metadata_kg", "graph"),
    ("docs2kg_spark.streaming.incremental", "process_kg_batch", "incremental"),
    ("docs2kg_spark.streaming.incremental", "update_canonical_state", "incremental"),
    ("docs2kg_spark.streaming.incremental", "compact_kg", "incremental"),
    ("docs2kg_spark.operators.graphq", "k_hop", "graphq"),
    ("docs2kg_spark.operators.graphq", "degrees", "graphq"),
    ("docs2kg_spark.operators.graphq", "pagerank", "graphq"),
    ("docs2kg_spark.operators.graphq", "undirect", "graphq"),
)
STORE_METHODS = ("write", "append_batch", "read")

TABLE_LAYER = {
    "segments": "segments",
    "quarantine": "segments",
    "extraction": "mentions",
    "mentions": "mentions",
    "triples": "mentions",
    "canonical_map": "linking",
    "link_nodes": "linking",
    "link_bands": "linking",
    "link_edges": "linking",
    "canonical_state": "linking",
    "canonical_remaps": "linking",
    "kg_nodes": "graph",
    "kg_edges": "graph",
    "metadata_nodes": "graph",
    "metadata_edges": "graph",
    "kg_static_nodes": "graph",
    "kg_struct_edges": "graph",
    "conv_batches": "incremental",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    detail: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ()) if c.end > s.start and c.start < s.end]
        )
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder plus the wrapper installer (module doc)."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # --- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, detail: str = ""):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), name, layer, 0.0, parent=parent, detail=detail)
            self.spans.append(sp)
        top = not stack and self._root is None
        if top:
            self._root = sp.id
        stack.append(sp.id)
        prev_group = self._set_group(f"{layer}|{sp.id}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._set_group(prev_group)
            stack.pop()
            if top:
                self._root = None
            with self._lock:
                self.bookkeeping_s += (sp.start - t0) + (time.perf_counter() - sp.end)

    def _set_group(self, group: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    # --- wrappers ----------------------------------------------------------
    def _wrap(self, fn, name: str, layer_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            layer, detail = layer_of(args, kwargs)
            with tracer.span(name, layer, detail):
                return fn(*args, **kwargs)

        return wrapper

    def _replace_everywhere(self, orig, new) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("docs2kg_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            short = mod_name.rsplit(".", 1)[-1]
            new = self._wrap(orig, f"{short}.{attr}", lambda a, k, _l=layer: (_l, ""))
            self._replace_everywhere(orig, new)

        from docs2kg_spark.io.sinks import TableStore

        def table_layer(args, kwargs):
            name = args[2] if len(args) > 2 else kwargs.get("name", "")
            return TABLE_LAYER.get(name, "sinks"), name

        for meth in STORE_METHODS:
            orig = getattr(TableStore, meth)
            layer_of = table_layer if meth != "read" else (
                lambda a, k: ("sinks", a[1] if len(a) > 1 else k.get("name", ""))
            )
            self._patched.append((TableStore, meth, orig))
            setattr(TableStore, meth, self._wrap(orig, f"sinks.{meth}", layer_of))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# --- event log ---------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    output_rows: int = 0
    task_times: list[float] = field(default_factory=list)
    launches_ms: list[int] = field(default_factory=list)

    def merge(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "output_mb", "output_rows"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_times.extend(other.task_times)
        self.launches_ms.extend(other.launches_ms)

    def task_s_between(self, t0: float, t1: float) -> float:
        """Run time of the tasks launched within [t0, t1] (epoch seconds)."""
        return sum(
            run for run, at in zip(self.task_times, self.launches_ms) if t0 * 1000 <= at <= t1 * 1000
        )

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 when there are none)."""
        if not self.task_times:
            return 1.0
        med = statistics.median(self.task_times)
        return max(self.task_times) / med if med > 0 else 1.0


_MB = 1 << 20


def parse_event_log(path: str) -> dict[str | None, GroupStats]:
    """Per-job-group task metrics from one Spark event log (JSON lines).

    Stages map to the job group in the properties of the stage's
    submission (falling back to the job that listed the stage); jobs are
    counted per group at job start."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}

    def stats(group):
        return out.setdefault(group, GroupStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stats(group).jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if "spark.jobGroup.id" in props:
                    stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                g = stats(stage_group.get(ev["Stage ID"]))
                g.tasks += 1
                run_s = m.get("Executor Run Time", 0) / 1000.0
                g.task_s += run_s
                g.task_times.append(run_s)
                g.launches_ms.append((ev.get("Task Info") or {}).get("Launch Time", 0))
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
                om = m.get("Output Metrics") or {}
                g.output_mb += om.get("Bytes Written", 0) / _MB
                g.output_rows += om.get("Records Written", 0)
    return out


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress") and not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, logs[0])


def layer_of_group(group: str | None) -> str | None:
    """Job group ``<layer>|<span id>`` → layer (None for ungrouped jobs)."""
    if not group or "|" not in group:
        return None
    return group.split("|", 1)[0]

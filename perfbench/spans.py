"""Spans around calls into the program's layers, recorded from outside.

:class:`Tracer` replaces chosen public functions of the program's modules with
wrappers. Each call becomes a span (name, start, end, parent) whose Spark jobs
are tagged with a job group of its own, so the counters of a call are read
back after the pass, outside the timed region. Calls that one layer makes into
another (``update_cluster_labels`` into ``connected_components``) nest,
because the program imports those functions from their modules at call time.

Graph, dedup and similarity functions return DataFrames whose work runs only
at their first action, after the call has returned. So that a call's span
holds its work, such a call made by the benchmark itself (one no other span
encloses) has every DataFrame it returns materialized (``localCheckpoint``)
inside its span. The extra checkpoint is part of the tracing overhead. A
nested call's deferred work is charged to the span whose action runs it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "bigdatafraude_ml_graphx_spark"

# (layer, module, function) for every traced boundary. The layer is the span
# name prefix; the module is where callers look the function up.
BOUNDARIES = (
    ("session", "session", "get_spark"),
    ("catalog", "catalog", "load_table"),
    *(("graph", mod, fn) for mod, fn in (
        ("graph.degrees", "degrees"),
        ("graph.components", "connected_components"),
        ("graph.pagerank", "pagerank"),
        ("graph.pagerank", "personalized_pagerank"),
        ("graph.bfs", "shortest_paths"),
    )),
    *(("dedup", mod, fn) for mod, fn in (
        ("dedup.ngram", "ngram_jaccard_probe_pairs"),
        ("dedup.clusters", "update_cluster_labels"),
    )),
    *(("similarity", "similarity.ivf", fn) for fn in (
        "build_ivf_index", "assign_to_index", "ivf_topk",
    )),
    ("sources", "sources.io", "write_bucketed_table"),
)
COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_mb")
# Layers whose functions return DataFrames that the caller materializes.
DEFERRING = ("graph", "dedup", "similarity")

# Every per-layer metric a traced run reports (0 where a workload does not
# reach the layer).
PER_LAYER = (
    "session.get_spark.s",
    "catalog.load_table.s",
    *(f"queries.{c}" for c in ("build_s", "action_s", *COUNTERS)),
    *(f"sources.scan.{c}" for c in ("s", "files", "mb")),
    *(f"{layer}.{fn}.{c}"
      for layer, _, fn in BOUNDARIES if layer in DEFERRING
      for c in ("s", *COUNTERS)),
    "similarity.ivf_topk.scanned_frac",
    *(f"sources.{fn}.{c}" for fn in ("write_bucketed_table", "append") for c in ("s", "mb")),
    "trace.warm_pass_s",
)


@dataclass
class Span:
    name: str
    start: float
    parent: Span | None
    group: str
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    children: list[Span] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Wall time minus the union of the intervals its children cover."""
        covered, reach = 0.0, self.start
        for child in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(child.start, reach), min(child.end, self.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return self.wall - covered


def span_name(layer: str, fn: str, kwargs: dict) -> str:
    # An append into a standing table is the daily write path; a fresh
    # write is the build. Same function, two different costs.
    if fn == "write_bucketed_table" and kwargs.get("mode") == "append":
        return f"{layer}.append"
    return f"{layer}.{fn}"


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def materialized(out):
    """``out`` with every DataFrame in it (alone or in a tuple) checkpointed."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(materialized(x) for x in out)
    return out


class Tracer:
    """Installs the wrappers; collects spans per pass."""

    def __init__(self, warehouse: str):
        # Set once a session exists; spans opened before (the session
        # build itself) carry no job group.
        self.sc = None
        self.outer_group = ""
        # Where managed tables are written; a write's ``mb`` is the growth
        # of its table's directory.
        self.warehouse = warehouse
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    def install(self) -> None:
        """Replace each boundary function in every loaded program module that
        holds it: the defining module, packages that re-export it, and
        modules that imported it at load time (the query modules)."""
        importlib.import_module("__spark_entry__")  # loads every query module
        originals = [getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
                     for _, mod_name, fn_name in BOUNDARIES]
        program = [m for name, m in list(sys.modules.items())
                   if name == PKG or name.startswith(PKG + ".")]
        for (layer, _, fn_name), original in zip(BOUNDARIES, originals):
            wrapped = self._wrap(layer, fn_name, original)
            for module in program:
                if getattr(module, fn_name, None) is original:
                    setattr(module, fn_name, wrapped)

    def _wrap(self, layer: str, fn_name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = span_name(layer, fn_name, kwargs)
            table = None
            if fn_name == "write_bucketed_table":
                table = os.path.join(self.warehouse, args[1] if len(args) > 1 else kwargs["table"])
            # An append adds to what the table held; any other write
            # replaces it. Sizes are read outside the span.
            before = dir_mb(table) if table and name.endswith(".append") else 0.0
            with self.region(name) as span:
                out = fn(*args, **kwargs)
                if span.parent is None and layer in DEFERRING:
                    out = materialized(out)
            if table:
                span.counters["mb"] = dir_mb(table) - before
            return out

        return wrapper

    @contextlib.contextmanager
    def region(self, name: str):
        """A span around the enclosed block; nested regions and wrapped
        calls become its children."""
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        span = Span(name, 0.0, parent, f"span-{self._n}")
        if parent is not None:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        if self.sc is not None:
            self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1].group if self._stack else self.outer_group
                self.sc.setJobGroup(outer, outer)

    def take(self) -> list[Span]:
        """The spans recorded since the previous call."""
        spans, self.spans = self.spans, []
        return spans


def resolve(spans: list[Span], stats) -> None:
    """Fill each span's inclusive counters: its own job group plus those of
    every span nested in it."""
    for span in reversed(spans):  # children were appended after parents
        own = {**span.counters, **stats.group_totals(span.group)}
        for child in span.children:
            for k in COUNTERS:
                own[k] += child.counters[k]
        span.counters = own

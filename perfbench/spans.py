"""Span tracing for the traced run (``--trace 1``).

Spans are recorded only from the benchmark's side: :func:`install`
replaces the public functions of each ``transformers_spark`` module
listed in ``LAYERS`` with wrappers that open a span named after the
layer. Nothing in the package changes; the wrappers are removed by
:func:`uninstall`.

A span holds its name, layer, start and end, its parent and the op it
belongs to, plus the Spark job-id watermark at entry and exit. Spark
numbers job ids in submission order, so the jobs a span submitted are
exactly the ids in ``[wm_start, wm_end)``; this attributes jobs to ops
and spans without job groups (which the runner sets and never clears).
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

# layer -> (module, attribute) of each wrapped public call; a dotted
# attribute names a method on a class of that module.
LAYERS: dict[str, list[tuple[str, str]]] = {
    "windowing": [
        ("transformers_spark.windowing", "window_for"),
        ("transformers_spark.windowing", "CustomWindow"),
    ],
    "macros": [
        ("transformers_spark.macros", "render_macros"),
        ("transformers_spark.engine", "compile_assets"),
    ],
    "dialect": [
        ("transformers_spark.dialect", "transpile"),
        ("transformers_spark.dialect", "split_statements"),
        ("transformers_spark.dialect", "classify_statement"),
        ("transformers_spark.dialect", "table_references"),
    ],
    "engine": [("transformers_spark.engine", "Engine.transform")],
    "dml": [
        ("transformers_spark.dml", name)
        for name in (
            "execute_merge",
            "execute_update",
            "execute_delete",
            "parse_merge",
            "parse_update",
            "parse_delete",
        )
    ],
    "loaders": [
        ("transformers_spark.loaders", f"Writer.{name}")
        for name in (
            "append",
            "overwrite_table",
            "overwrite_partition",
            "overwrite_partitions",
            "overwrite_dynamic",
            "delete_insert",
            "delete_where",
            "update_where",
            "overwrite_from_plan_reading_destination",
        )
    ],
    # _restore_pending_backup is the recovery check every DML entry
    # runs; the three public entry points fire only after a crash.
    "recover": [
        ("transformers_spark.loaders", "adopt_interrupted_swap"),
        ("transformers_spark.loaders", "Writer.recover_orphan_stages"),
        ("transformers_spark.loaders", "Writer.recover_pending_backups"),
        ("transformers_spark.loaders", "Writer._restore_pending_backup"),
    ],
    "catalog": [
        ("transformers_spark.catalog", f"Catalog.{name}")
        for name in (
            "spark_name",
            "create_table",
            "drop_table",
            "create_view",
            "drop_view",
            "table_exists",
            "add_columns",
            "relax_columns",
            "get_table",
            "read",
            "partition_dates",
        )
    ],
    "stats": [
        ("transformers_spark.stats", "collect_job_stats"),
        ("transformers_spark.stats", "write_xcom"),
    ],
    "runner": [("transformers_spark.runner", "run_task")],
    "sources": [
        ("transformers_spark.sources.testdata", "load_table"),
        ("transformers_spark.sources.testdata", "register_tables"),
    ],
    "cache": [
        ("transformers_spark.cache", "track"),
        ("transformers_spark.cache", "release"),
    ],
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    start: float
    wm_start: int
    end: float = 0.0
    wm_end: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans on the thread that created it; calls on other
    threads pass through untraced (the client is single-threaded)."""

    def __init__(self, watermark: Callable[[], int] = lambda: 0,
                 clock: Callable[[], float] = time.perf_counter):
        self.watermark = watermark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self.op: int | None = None

    def open(self, name: str, layer: str) -> Span | None:
        if threading.get_ident() != self._thread:
            return None
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, layer, parent, self.op,
                    self.clock(), self.watermark())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.id)
        self._stack.append(span.id)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.wm_end = self.watermark()
        span.end = self.clock()
        self._stack.pop()

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__perfbench_original__ = fn
        return traced


def self_time(spans: list[Span], span: Span) -> float:
    """Duration minus the time covered by direct children (children of
    one span never overlap: they run on one thread, one after another)."""
    covered = sum(spans[c].end - spans[c].start for c in span.children)
    return (span.end - span.start) - covered


def self_jobs(spans: list[Span], span: Span) -> int:
    """Jobs submitted while no child span of ``span`` was open."""
    inner = sum(spans[c].wm_end - spans[c].wm_start for c in span.children)
    return (span.wm_end - span.wm_start) - inner


def _resolve(module: str, attr: str):
    mod = sys.modules.get(module) or __import__(module, fromlist=["_"])
    if "." in attr:
        cls_name, meth = attr.split(".")
        return getattr(mod, cls_name), meth
    return mod, attr


def install(tracer: Tracer, layers: dict[str, list[tuple[str, str]]] = LAYERS):
    """Wrap every listed call; returns the undo list for :func:`uninstall`.

    A module-level function is also replaced wherever another loaded
    ``transformers_spark`` module imported it, under any name, so calls
    made through those names are traced too."""
    undo: list[tuple[object, str, object]] = []
    for layer, targets in layers.items():
        for module, attr in targets:
            owner, name = _resolve(module, attr)
            original = owner.__dict__[name]
            label = f"{layer}.{attr.split('.')[-1]}"
            wrapped = tracer.wrap(original, label, layer)
            if isinstance(owner, type):
                undo.append((owner, name, original))
                setattr(owner, name, wrapped)
                continue
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("transformers_spark") or mod is None:
                    continue
                for alias, value in list(vars(mod).items()):
                    if value is original:
                        undo.append((mod, alias, original))
                        setattr(mod, alias, wrapped)
    return undo


def uninstall(undo) -> None:
    for owner, name, original in reversed(undo):
        setattr(owner, name, original)

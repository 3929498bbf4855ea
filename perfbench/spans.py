"""Spans around calls into the package's layers, recorded from outside.

:class:`Tracer` keeps spans in memory (name, start, end, parent, op
id) and writes them once, when the run ends.  :func:`install` wraps
the public entry points listed in :data:`ENTRY_POINTS` at runtime —
the package itself is not edited — and rebinds every module-level
reference to each wrapped function, so callers that did
``from module import f`` are traced too.  Only the Spark driver process is
affected: executors import the package afresh.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

PKG = "python_minerva_etl_spark"

# layer span name -> (module, [function or Class.method, ...])
ENTRY_POINTS = {
    "registry.load_table": ("registry", ["load_table"]),
    "plans.footer_stats": ("plans.footer_stats", [
        "parquet_minmax", "table_minmax", "table_max",
        "ts_midpoint_day"]),
    "ext.text": ("ext.text_arrow", [
        "text_counts_arrow", "c4_rules_kernel", "gopher_ngram_doc_stats",
        "dsir_select_arrow"]),
    "ext.dedup": ("ext.dedup", [
        "simhash64", "simhash_near_pairs", "simhash_near_neighbors",
        "exact_dedup"]),
    "sources.avro.read": ("sources.avro", ["read_avro"]),
    "storage.snaptable.merge": ("storage.snaptable", ["SnapTable.merge"]),
    "storage.snaptable.changes": ("storage.snaptable",
                                  ["SnapTable.changes"]),
    "storage.read": ("storage.snaptable", ["SnapTable.read"]),
    "operators.apply_changes": ("operators.materialization",
                                ["apply_changes_to_agg"]),
    "operators.argmax_resolve": ("operators.upsert", ["argmax_resolve"]),
}


def layer_of(span_name: str) -> str:
    """The layer a span belongs to: the first dotted component."""
    return span_name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder.  Spans nest by call order on the
    calling thread; ``op`` tags every span with the current op id."""

    def __init__(self):
        self.spans: list[tuple] = []  # (name, t0, t1, parent, op)
        self._stack: list[int] = []
        self.op: str | None = None
        # perf_counter -> epoch seconds, to line spans up with the
        # event log's millisecond wall-clock timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self, op: str) -> dict[str, float]:
        """Self time per span name for one op: each span's duration
        minus the part covered by its direct children."""
        out: dict[str, float] = {}
        child = {}
        for s in self.spans:
            if s[4] == op and s[3] >= 0:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        for i, s in enumerate(self.spans):
            if s[4] == op:
                out[s[0]] = (out.get(s[0], 0.0) + (s[2] - s[1])
                             - child.get(i, 0.0))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({
                    "name": name, "start": t0 + self.epoch_offset,
                    "end": t1 + self.epoch_offset, "parent": parent,
                    "op": op}) + "\n")


def _rebind(original, replacement) -> None:
    """Point every package module global that holds ``original`` at
    ``replacement``."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install(tracer: Tracer) -> list[tuple]:
    """Wrap every entry point; return what is needed to undo it."""
    undo = []
    for name, (mod_name, attrs) in ENTRY_POINTS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for attr in attrs:
            owner = mod
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(mod, cls_name)
            original = getattr(owner, attr)
            wrapped = tracer.wrap(name, original)
            setattr(owner, attr, wrapped)
            if owner is mod:
                _rebind(original, wrapped)
            undo.append((owner, attr, original, wrapped))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for owner, attr, original, wrapped in reversed(undo):
        setattr(owner, attr, original)
        if isinstance(owner, type(sys)):
            _rebind(wrapped, original)

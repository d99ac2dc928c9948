"""Spans recorded from outside the program.

In traced mode the benchmark replaces public entry points of the
package's modules with wrappers that record a span around each call:
name, start, end, parent span and operation id. Spans stay in memory;
the runner writes them as JSON when the run ends.

A function imported by name into another module (``from x import f``) is
bound in both namespaces, so a patch replaces every binding of the
original object in every loaded module of the package.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "data_pipelines_using_llm_spark"

#: (module, attribute, span name) of each traced entry point
TARGETS = (
    ("sources.tables", "load_table", "sources.load_table"),
    ("operators.quality", "quality_report", "quality.quality_report"),
    ("operators.cleaning", "clean", "cleaning.clean"),
    ("sinks.writers", "write_table", "sinks.write_table"),
    ("sinks.writers", "idempotent_upsert", "sinks.idempotent_upsert"),
    ("sinks.rollup", "incremental_rollup", "sinks.incremental_rollup"),
    ("operators.caching", "release_barriers", "caching.release_barriers"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict


class Tracer:
    """Collects spans; a span's parent is the innermost open span of the
    same thread, or, for calls made on another thread (streaming
    ``foreachBatch`` callbacks), the operation's root span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None
        self.op_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.op, attrs)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    @contextmanager
    def operation(self, op_id: str, name: str):
        self.op = op_id
        with self.span(name) as sp:
            self.op_root = sp.id
            try:
                yield sp
            finally:
                self.op_root = None
                self.op = None

    def wrap(self, name: str, fn, on_return=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(sp, args, kwargs)
                return out

        return traced


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the time its direct children
    cover (children may overlap, so their union is subtracted)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            cs, ce = max(c.start, s.start), min(c.end, s.end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; underscore/dot entries are
    metadata (``_SUCCESS``, ``.crc``, ledgers) and not counted."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _record_write(sp: Span, args, kwargs) -> None:
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    if path and os.path.isdir(path):
        sp.attrs["path"] = path
        sp.attrs["files"], sp.attrs["bytes"] = _dir_files(path)


def _record_load(sp: Span, args, kwargs) -> None:
    sf_dir = kwargs.get("sf_dir", args[1] if len(args) > 1 else None)
    name = kwargs.get("name", args[2] if len(args) > 2 else None)
    path = f"{sf_dir}/{name}.parquet"
    if os.path.exists(path):
        sp.attrs["bytes"] = os.path.getsize(path)


_ON_RETURN = {"sinks.write_table": _record_write, "sources.load_table": _record_load}


@contextmanager
def patched(tracer: Tracer):
    """Install the wrappers for the duration of the block, then restore
    every original binding."""
    originals = [getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
                 for mod_name, attr, _ in TARGETS]
    mods = [m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
    undo: list[tuple[object, str, object]] = []
    for (_, attr, span_name), orig in zip(TARGETS, originals):
        wrapper = tracer.wrap(span_name, orig, _ON_RETURN.get(span_name))
        for m in mods:
            if m.__dict__.get(attr) is orig:
                undo.append((m, attr, orig))
                setattr(m, attr, wrapper)
    try:
        yield
    finally:
        for m, attr, orig in undo:
            setattr(m, attr, orig)

"""In-memory span tracer that wraps the program's layer functions.

``Tracer.install`` replaces each listed function with a wrapper that
records a span (name, start, end, parent, op id) around every call. A
function is patched at every module attribute that holds it, because a
caller resolves the name in its own module: ``queries`` imports
``load_tables`` and ``skew_join`` by name, so patching only
``sources.tables.load_tables`` would miss its calls. ``uninstall`` puts
the originals back. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

from .collector import interval_union

PACKAGE = "spark_skew_join_spark"

# (module, function, span name). The span name's prefix is its layer.
LAYER_FUNCTIONS = (
    ("sources.tables", "load_tables", "sources.load_tables"),
    ("queries", "build_family", "queries.build_family"),
    ("queries", "release_family", "queries.release_family"),
    ("operators.skew_join", "skew_join", "skew_join.call"),
    ("sketch.cms", "cms_from_dataframe", "cms.build"),
    ("operators.dedup", "shingles", "dedup.shingles"),
    ("operators.dedup", "minhash_pairs", "dedup.minhash_pairs"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: str | None = None
        self._op_span: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new_span(self, name: str, start: float, parent: int | None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, start, parent, self._op))
        return sid

    def enter(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        sid = self._new_span(name, time.perf_counter(), parent)
        stack.append(sid)
        return sid

    def exit(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def begin_op(self, op: str) -> None:
        """Open the root span of one op; spans until ``end_op`` hang under it."""
        self._op = op
        self._op_span = None
        self._op_span = self.enter(f"harness.{op}")

    def end_op(self) -> None:
        if self._op_span is not None:
            self.exit(self._op_span)
        self._op, self._op_span = None, None

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sid = tracer.enter(name)

            def __exit__(self, *exc):
                tracer.exit(self.sid)

        return _Ctx()

    # -- patching --------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer.enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(sid)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        """Patch every module attribute that resolves to a listed function."""
        if self._patched:
            return
        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            original = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            wrapper = self._wrap(original, span_name)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is original:
                        self._patched.append((mod, key, original))
                        setattr(mod, key, wrapper)

    def uninstall(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    # -- analysis --------------------------------------------------------

    def self_times(self, op_ids: set[str] | None = None) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of its
        interval its child spans cover, summed by layer (the span name's
        prefix before the first dot)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if op_ids is not None and s.op not in op_ids:
                continue
            covered = interval_union(
                [
                    (max(c.start, s.start), min(c.end, s.end))
                    for c in children.get(s.sid, [])
                    if c.end > s.start and c.start < s.end
                ]
            )
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + s.dur - covered
        return out

    def totals(self, name: str, op_ids: set[str] | None = None) -> tuple[float, int]:
        """(summed duration, call count) of spans called ``name``,
        counting only outermost calls so recursion is not double counted."""
        by_id = {s.sid: s for s in self.spans}
        total, calls = 0.0, 0
        for s in self.spans:
            if s.name != name or (op_ids is not None and s.op not in op_ids):
                continue
            p = s.parent
            nested = False
            while p is not None:
                if by_id[p].name == name:
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                total += s.dur
                calls += 1
        return total, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

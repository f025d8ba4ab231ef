"""Spans around calls into the engine's layers, recorded from the
benchmark's own code.

``Tracer.span`` records one span (layer, start, end, parent, jobs the
engine scheduled inside it). ``Tracer.install`` wraps every public
function of the package modules that belong to a layer — and every
name another package module bound to such a function with
``from ... import`` — so calls made by the query builders are traced
without touching the package source. ``uninstall`` restores the
originals. Spans are kept in memory and summarised after the pass.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from stats import self_times

PACKAGE = "mapreduce_assignments_spark"

# operator modules the metric dictionary names one by one; any other
# operator module is reported as operators.other
NAMED_OPERATORS = (
    "graph", "dedup", "similarity", "text", "index",
    "relational", "text_quality", "temporal",
)


def layer_of(module: str, func: str) -> str | None:
    """Layer a package function belongs to, or None when it is not
    traced (query builders are traced by the harness itself; helper
    column functions run at every call site and would only add cost)."""
    if not module.startswith(PACKAGE + "."):
        return None
    parts = module[len(PACKAGE) + 1:].split(".")
    head = parts[0]
    if head == "session":
        return "session"
    if head == "sources":
        if parts[1:] == ["text_corpus"]:
            return "sources.text"
        if func in ("load_table", "ensure_min_parallelism"):
            return f"sources.{func}"
        return "sources.other"
    if head == "plans":
        return "plans"
    if head == "streaming":
        return "streaming"
    if head == "operators" and len(parts) > 1:
        op = parts[1]
        return f"operators.{op if op in NAMED_OPERATORS else 'other'}"
    return None


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    start: float
    end: float = 0.0
    jobs: int = 0


class Tracer:
    """Records spans; ``job_count`` returns the engine's running count
    of submitted jobs, read at span entry and exit.

    Each thread keeps its own span stack. A span opened on another
    thread with nothing open there (a ``foreachBatch`` callback, say)
    becomes a child of the span open on the thread that created the
    tracer, which is the one waiting for it."""

    def __init__(self, job_count=lambda: 0, clock=time.perf_counter):
        self.job_count = job_count
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, layer: str):
        stack = self._stack()
        top = stack or self._main_stack
        parent = top[-1].id if top else None
        s = Span(next(self._ids), parent, layer, self.clock())
        self.spans.append(s)
        stack.append(s)
        jobs0 = self.job_count()
        try:
            yield s
        finally:
            s.jobs = self.job_count() - jobs0
            s.end = self.clock()
            stack.pop()

    # -- patching ----------------------------------------------------

    def _wrap(self, fn, layer):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped_layer__ = layer
        return traced

    def install(self) -> int:
        """Wrap every public function (and public method of a public
        class) defined in a traced package module, everywhere the
        package binds it. Returns the number of bindings replaced."""
        modules = [
            m for name, m in sorted(sys.modules.items())
            if m is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
        ]
        wrappers: dict[int, object] = {}
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                if inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    self._install_methods(obj)
                    continue
                if not inspect.isfunction(obj) or obj.__name__.startswith("_"):
                    continue
                layer = layer_of(obj.__module__, obj.__name__)
                if layer is None or hasattr(obj, "__wrapped_layer__"):
                    continue
                if id(obj) not in wrappers:
                    wrappers[id(obj)] = self._wrap(obj, layer)
                self._patched.append((mod, attr, obj))
                setattr(mod, attr, wrappers[id(obj)])
        return len(self._patched)

    def _install_methods(self, cls) -> None:
        if cls.__name__.startswith("_"):
            return
        for attr, fn in list(vars(cls).items()):
            if not inspect.isfunction(fn) or attr.startswith("_"):
                continue
            layer = layer_of(cls.__module__, attr)
            if layer is None or hasattr(fn, "__wrapped_layer__"):
                continue
            self._patched.append((cls, attr, fn))
            setattr(cls, attr, self._wrap(fn, layer))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched = []

    # -- summaries ---------------------------------------------------

    def layer_totals(self):
        """{layer: {"self_s", "total_s", "calls", "jobs" (own, not
        children's), "total_jobs"}} over the recorded spans. total_s
        counts only outermost spans of a layer, so a layer calling
        itself is not double counted."""
        selfs = self_times(self.spans)
        by_id = {s.id: s for s in self.spans}
        child_jobs: dict[int, int] = {}
        for s in self.spans:
            if s.parent is not None:
                child_jobs[s.parent] = child_jobs.get(s.parent, 0) + s.jobs
        out: dict[str, dict] = {}
        for s in self.spans:
            rec = out.setdefault(
                s.layer,
                {"self_s": 0.0, "total_s": 0.0, "calls": 0, "jobs": 0, "total_jobs": 0},
            )
            rec["self_s"] += selfs[s.id]
            rec["calls"] += 1
            rec["jobs"] += s.jobs - child_jobs.get(s.id, 0)
            outer = True
            p = s.parent
            while p is not None:
                if by_id[p].layer == s.layer:
                    outer = False
                    break
                p = by_id[p].parent
            if outer:
                rec["total_s"] += s.end - s.start
                rec["total_jobs"] += s.jobs
        return out

"""In-memory span tracing, installed at run time around the engine's public
entry points.

Spans are recorded from the benchmark's own files: ``Tracer.patch`` swaps a
function or method for a timing wrapper, and ``Tracer.patch_everywhere``
also swaps every module-level alias of a function (plan modules bind
``load_table`` and friends with ``from ... import``, so patching only the
defining module would miss their calls). ``Tracer.unpatch`` restores every
original. Each span is ``(name, start, end, parent, op, thread)``; the
parent is the enclosing span on the same thread, so spans opened from
Spark's callback thread (``foreachBatch``) nest among themselves.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

NAME, START, END, PARENT, OP, THREAD = range(6)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, float] = {}
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, time.perf_counter(), None, parent, self.op,
                 threading.get_ident()]
            )
        stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx][END] = time.perf_counter()
            stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def inside(self, name: str) -> bool:
        """True when a span called ``name`` is open on this thread."""
        return any(self.spans[i][NAME] == name for i in self._stack())

    # -- patching ----------------------------------------------------------

    def wrap(self, fn, name: str, on_result=None):
        """Timing wrapper; ``on_result(args, kwargs, result)`` runs inside
        the span, for counters measured at the same boundary."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(args, kwargs, result)
                return result

        wrapper.__perfbench_original__ = fn
        return wrapper

    def replace(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Wrap ``owner.attr`` (a class method or module function)."""
        self.replace(owner, attr, self.wrap(getattr(owner, attr), name,
                                            on_result))

    def patch_everywhere(self, module, attr: str, name: str,
                         package: str) -> None:
        """Wrap ``module.attr`` and every alias of it held by an imported
        module of ``package``."""
        original = getattr(module, attr)
        wrapper = self.wrap(original, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self.replace(mod, key, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- output ------------------------------------------------------------

    def durations(self, name: str, parents: set[str] | None = None) -> list[float]:
        """Durations of closed spans called ``name``; with ``parents``,
        only those whose parent span has one of those names."""
        out = []
        for s in self.spans:
            if s[NAME] != name or s[END] is None:
                continue
            if parents is not None:
                if s[PARENT] is None or self.spans[s[PARENT]][NAME] not in parents:
                    continue
            out.append(s[END] - s[START])
        return out

    def self_times(self, name: str) -> list[float]:
        selfs = self_times(self.spans)
        return [selfs[i] for i, s in enumerate(self.spans)
                if s[NAME] == name and s[END] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op",
                               "thread"],
                    "spans": self.spans,
                    "counts": self.counts,
                },
                f,
            )


def self_times(spans: list[list]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[PARENT] is not None and s[END] is not None:
            children.setdefault(s[PARENT], []).append((s[START], s[END]))
    out = []
    for i, s in enumerate(spans):
        if s[END] is None:
            out.append(0.0)
            continue
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s[START]), min(hi, s[END])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s[END] - s[START]) - covered)
    return out

"""In-memory span recorder for the traced run.

Spans are recorded only from the benchmark's own code: around the calls it
makes into the program, and by temporarily replacing module attributes
with timing wrappers. A span is (id, parent id, group id, name, start ns,
end ns); the group id is the pass or kernel turn the span belongs to.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager

_now = time.perf_counter_ns


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._group = 0
        self._next = 0
        self.absent: list[str] = []
        self._restore: list = []

    def _open(self) -> tuple[int, int]:
        self._next += 1
        sid = self._next
        parent = self._stack[-1] if self._stack else 0
        self._stack.append(sid)
        return sid, parent

    def new_group(self) -> int:
        """A fresh pass/turn id for the spans that follow."""
        self._group += 1
        return self._group

    @contextmanager
    def span(self, name: str, group: int | None = None):
        """Record one span; a `group` sets the pass/turn id for it and
        everything recorded after it."""
        if group is not None:
            self._group = group
        sid, parent = self._open()
        t0 = _now()
        try:
            yield sid
        finally:
            t1 = _now()
            self._stack.pop()
            self.spans.append((sid, parent, self._group, name, t0, t1))

    def wrap(self, module: str, attr: str, name: str, observe=None) -> bool:
        """Replace `module.attr` (`attr` may be dotted, e.g. a method of a
        class) with a wrapper that records a span named
        `name` per call and passes the result to `observe`. A missing
        attribute is recorded in `absent` and skipped, so a benchmark of a
        tree without that function still runs. Undone by `unwrap_all`."""
        try:
            owner = importlib.import_module(module)
            *path, attr = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
        except (ImportError, AttributeError):
            name_ = f"{module}.{'.'.join([*path, attr])}"
            if name_ not in self.absent:
                self.absent.append(name_)
            return False
        spans, stack, now = self.spans, self._stack, _now

        def traced(*args, **kwargs):
            self._next += 1
            sid = self._next
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = now()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = now()
                stack.pop()
                spans.append((sid, parent, self._group, name, t0, t1))
            if observe is not None:
                observe(out)
            return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, fn))
        return True

    def unwrap_all(self) -> None:
        while self._restore:
            mod, attr, fn = self._restore.pop()
            setattr(mod, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"fields": ["id", "parent", "group", "name",
                                  "start_ns", "end_ns"],
                       "spans": self.spans, "absent": self.absent}, f)


def self_times(spans) -> dict[int, int]:
    """Self time of every span: its duration minus the part of its
    interval covered by its children (overlapping children counted once,
    children clipped to the parent)."""
    kids: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for sid, parent, _g, _n, t0, t1 in spans:
        if parent:
            kids[parent].append((t0, t1))
    out = {}
    for sid, _p, _g, _n, t0, t1 in spans:
        covered, cur_s, cur_e = 0, None, None
        for s, e in sorted(kids.get(sid, ())):
            s, e = max(s, t0), min(e, t1)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (t1 - t0) - covered
    return out


def self_time_by_name(spans) -> dict[str, int]:
    st = self_times(spans)
    out: dict[str, int] = defaultdict(int)
    for sp in spans:
        out[sp[3]] += st[sp[0]]
    return dict(out)

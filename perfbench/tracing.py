"""In-process span tracing for the traced benchmark run.

``Tracer.patch`` swaps a public function or method for a wrapper that
records a span around each call; ``uninstall`` restores the
originals. Nothing in the program is edited: the wrappers are bound
at run time, in the benchmark process, including the names a module
imported into its own namespace (``sync.engine.merge_parquet`` is a
different binding from ``sync.merge.merge_parquet``).

A span records name, start, end, parent span, thread and the
round/query id current when it opened. Parents are tracked per
thread; a span opened on a worker thread with no open span of its own
(the engine's concurrent accounts merge) gets the innermost open span
of the main thread as its parent. Spans stay in memory until the run
ends, when ``dump`` writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    thread: str
    ctx: object
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.context: object = None  # current round / query id
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main and stack is not main else None
        sp = Span(
            next(self._ids), name, time.perf_counter(),
            parent.id if parent else None, threading.current_thread().name,
            self.context, attrs=attrs,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def patch(
        self,
        owner: object,
        attr: str,
        name: str | Callable[..., str],
        before: Callable | None = None,
        after: Callable | None = None,
    ) -> None:
        """Record a span around every call of ``owner.attr``. ``name``
        may be a function of the call's arguments. ``before(*args)``
        runs outside the span and its result reaches
        ``after(span, state, result, *args)``, also outside the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            state = before(*args, **kwargs) if before else None
            with self.span(label) as sp:
                result = orig(*args, **kwargs)
            if after:
                after(sp, state, result, *args, **kwargs)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (clipped to the span)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out: dict[int, float] = {}
        for sp in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(
                (max(c.start, sp.start), min(c.end, sp.end)) for c in children[sp.id]
            ):
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
            out[sp.id] = sp.duration - covered
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, calls, total s, self s) per span name, by total."""
        own = self.self_times()
        rows: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for sp in self.spans:
            row = rows[sp.name]
            row[0] += 1
            row[1] += sp.duration
            row[2] += own[sp.id]
        return sorted(((n, *r) for n, r in rows.items()), key=lambda r: -r[2])

    def dump(self, path: str) -> None:
        """Every span, one JSON object a line."""
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda sp: sp.start):
                rec = {k: v for k, v in vars(sp).items() if k != "attrs"}
                f.write(json.dumps({**rec, **sp.attrs}, default=str) + "\n")


def parquet_files(table_dir: str) -> dict[str, dict[str, int]]:
    """Partition dir (relative) -> {parquet file name: size} of a table."""
    out: dict[str, dict[str, int]] = {}
    for root, _dirs, files in os.walk(table_dir):
        got = {f: os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")}
        if got:
            out[os.path.relpath(root, table_dir)] = got
    return out


def rewritten(table_dir: str, before: dict[str, dict[str, int]]) -> tuple[int, int, int]:
    """(partitions, bytes, rows) written since the ``before`` snapshot:
    partitions whose file set changed, with their new files' bytes and
    footer row counts."""
    import pyarrow.parquet as pq

    after = parquet_files(table_dir)
    parts = n_bytes = rows = 0
    for rel, files in after.items():
        if before.get(rel) == files:
            continue
        parts += 1
        n_bytes += sum(files.values())
        rows += sum(
            pq.ParquetFile(os.path.join(table_dir, rel, f)).metadata.num_rows for f in files
        )
    return parts, n_bytes, rows

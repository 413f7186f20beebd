"""In-memory spans around the engine's public entry points.

A span has a name, a start and an end (``time.perf_counter``), the span
that was open when it started (its parent), the run phase it belongs
to (``setup-0``, ``pass-3``, ...) and the range of Spark job ids that
were submitted while it was open. ``install`` rebinds each traced
function on its defining module and on every engine module that
imported it by name, at module or function scope; ``restore`` undoes
every rebinding, including ones made by modules imported while the
wrappers were installed.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ENGINE = "simplemapreduce_spark"

# (module, attribute, span name) of every traced entry point.
TRACED = (
    ("simplemapreduce_spark.session", "get_spark", "session.get_spark"),
    ("simplemapreduce_spark.catalog", "load_all", "catalog.load_all"),
    ("simplemapreduce_spark.sources.tables", "load_table", "sources.load_table"),
    ("simplemapreduce_spark.sources.text", "read_whole_files", "sources.read_whole_files"),
    ("simplemapreduce_spark.cache", "memo_persist", "cache.memo_persist"),
    ("simplemapreduce_spark.cache", "memo_local_checkpoint", "cache.memo_local_checkpoint"),
    ("simplemapreduce_spark.operators.map_reduce", "map_reduce", "operators.map_reduce"),
    ("simplemapreduce_spark.sinks", "write_key_value_text", "sinks.write_key_value_text"),
)
MEMO_SPANS = ("cache.memo_persist", "cache.memo_local_checkpoint")


@dataclass
class Span:
    id: int
    name: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    job_start: int | None = None
    job_end: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        if self.job_start is None or self.job_end is None:
            return 0
        return self.job_end - self.job_start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "init"
        self.job_counter: Callable[[], int | None] = lambda: None
        self._local = threading.local()
        self._lock = threading.Lock()
        # id(wrapper) -> (wrapper, original), for every wrapper ever made
        self._wrappers: dict[int, tuple[Callable, Callable]] = {}

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                phase=self.phase,
                parent=stack[-1] if stack else None,
                start=time.perf_counter(),
                job_start=self.job_counter(),
                attrs=attrs,
            )
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.job_end = self.job_counter()
            s.end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    # -- wrappers -------------------------------------------------------

    def _wrap(self, fn: Callable, name: str) -> Callable:
        if name in MEMO_SPANS:

            @functools.wraps(fn)
            def memo_wrapper(*args, **kwargs):
                from simplemapreduce_spark import cache

                before = {id(v) for v in cache._MEMO.values()}
                with self.span(name) as s:
                    out = fn(*args, **kwargs)
                    s.attrs["hit"] = id(out) in before
                return out

            wrapper = memo_wrapper
        else:

            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

        self._wrappers[id(wrapper)] = (wrapper, fn)
        return wrapper

    def install(self) -> None:
        """Wrap every traced entry point."""
        import importlib

        replace: dict[int, Callable] = {}
        for mod_name, attr, span_name in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            replace[id(orig)] = self._wrap(orig, span_name)
        for mod in _engine_modules():
            for attr, value in list(vars(mod).items()):
                wrapper = replace.get(id(value))
                if wrapper is not None:
                    setattr(mod, attr, wrapper)

    def restore(self) -> None:
        """Put every original back, also where a module imported a
        wrapper while it was installed."""
        for mod in _engine_modules():
            for attr, value in list(vars(mod).items()):
                pair = self._wrappers.get(id(value))
                if pair is not None and pair[0] is value:
                    setattr(mod, attr, pair[1])


def _engine_modules() -> list:
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None and (name == ENGINE or name.startswith(ENGINE + "."))
    ]


# ------------------------------------------------------------ span trees


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


def check_tree(spans: list[Span]) -> list[str]:
    """Problems with the span tree: a child outside its parent, a
    negative self time, an unfinished span."""
    by_id = {s.id: s for s in spans}
    kids = children_of(spans)
    problems = []
    for s in spans:
        if s.end < s.start:
            problems.append(f"span {s.id} {s.name} ends before it starts")
        if s.parent is not None:
            p = by_id[s.parent]
            if s.start < p.start or s.end > p.end:
                problems.append(f"span {s.id} {s.name} lies outside its parent {p.id} {p.name}")
        if self_time(s, kids.get(s.id, [])) < -1e-9:
            problems.append(f"span {s.id} {s.name} has negative self time")
    return problems

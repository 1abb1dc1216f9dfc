"""In-memory spans for the traced run, and the wrappers that open them.

A span has a name, a kind, start and end (``perf_counter`` seconds), a
parent and the pass it belongs to.  Spans are kept in a list and written
once, when the run ends.  While a span is open its id is the Spark job
group of the driver thread, so every job Spark runs -- eager jobs inside a
builder as well as the final action -- can be attributed to the innermost
span that submitted it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import operator
import pkgutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench"


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = -1

    @property
    def group_prefix(self) -> str:
        """Job-group prefix of the current pass; the span id follows it."""
        return f"{GROUP_PREFIX}:{self.pass_id}:"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"{self.group_prefix}{span.id}"
            )

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, kind, parent.id if parent else None,
                 self.pass_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time covered by its children.

    Children of one parent run one after another on the driver thread, so
    their durations add up without overlap.
    """
    out = {s.id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.duration
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name; the values sum to the root spans'
    wall time."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


def innermost(by_id: dict[int, Span], span_id: int | None,
              kinds: tuple[str, ...]) -> Span | None:
    """Nearest span of one of ``kinds`` at or above ``span_id``."""
    s = by_id.get(span_id) if span_id is not None else None
    while s is not None and s.kind not in kinds:
        s = by_id.get(s.parent) if s.parent is not None else None
    return s


class _Traced:
    """A public function or method wrapped in a span.

    It pickles as the original function, so a wrapper that a builder
    closes over never reaches a Python worker.
    """

    def __init__(self, tracer: Tracer, fn, name: str, kind: str):
        self.tracer, self.fn, self.name, self.kind = tracer, fn, name, kind
        self.__wrapped__ = fn
        self.__doc__ = fn.__doc__
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name, self.kind):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (operator.attrgetter(self.fn.__qualname__), (sys.modules[self.fn.__module__],))


#: package -> span kind; every public function defined in these modules
#: is wrapped in the traced run
LAYERS = {
    "vunnel_spark.pipelines": "pipelines",
    "vunnel_spark.operators": "operators",
    "vunnel_spark.sinks.writers": "sinks",
    "vunnel_spark.sources": "sources",
}


def _layer_modules() -> list[tuple[object, str]]:
    out = []
    for pkg, kind in LAYERS.items():
        mod = importlib.import_module(pkg)
        out.append((mod, kind))
        for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
            try:
                out.append((importlib.import_module(f"{pkg}.{info.name}"), kind))
            except ImportError:  # a source whose optional client is absent
                continue
    return out


def _public_functions(mod, kind: str):
    """(owner, attribute, function, span name) for every public function
    and public method of a public class defined in ``mod``."""
    short = mod.__name__.rsplit(".", 1)[-1]
    for name, val in vars(mod).items():
        if name.startswith("_") or getattr(val, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(val):
            yield mod, name, val, f"{kind}.{short}.{name}"
        elif inspect.isclass(val):
            for meth, fn in vars(val).items():
                if not meth.startswith("_") and inspect.isfunction(fn):
                    yield val, meth, fn, f"{kind}.{short}.{name}.{meth}"


def install_wrappers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the public functions and methods of the layer modules -- on the
    defining module or class, and on every loaded ``vunnel_spark`` module
    that imported a function by name.  Returns the undo list for
    ``remove_wrappers``."""
    undo = []
    functions: dict[int, _Traced] = {}
    for mod, kind in _layer_modules():
        for owner, attr, fn, name in _public_functions(mod, kind):
            w = _Traced(tracer, fn, name, kind)
            undo.append((owner, attr, fn))
            setattr(owner, attr, w)
            if owner is mod:
                functions[id(fn)] = w
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("vunnel_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            w = functions.get(id(val))
            if w is not None and w.fn is val:
                undo.append((mod, attr, val))
                setattr(mod, attr, w)
    return undo


def remove_wrappers(undo: list[tuple[object, str, object]]) -> None:
    for mod, attr, val in undo:
        setattr(mod, attr, val)

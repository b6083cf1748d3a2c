"""Span tracer for the traced run.

Spans are recorded around calls INTO the program's layers by wrapping the
public functions of its modules from the outside; the program itself is not
changed. Each span runs its calls under its own Spark job group, so every
Spark job is attributed to exactly one span (or to the harness phase that
was open when no span was), and the job/stage metrics of a span can be read
back from Spark's status store afterwards.
"""

from __future__ import annotations

import inspect
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"

# module-name prefix (relative to the package) -> layer
LAYER_OF_PREFIX = (
    ("sources.readers", "readers"),
    ("sources.writers", "writers"),
    ("operators.", "operators"),
    ("functions.", "functions"),
    ("stats.", "stats"),
    ("ml.", "ml"),
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    query: str | None
    group: str
    files_written: int = 0
    bytes_written: int = 0


class Tracer:
    """In-memory spans; the open-span stack gives each new span its parent."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self.query: str | None = None
        self._stack: list[int] = []
        self._next = 0

    def new_group(self) -> str:
        """A job group id no other span or phase uses."""
        self._next += 1
        return f"{self.prefix}{self._next}"

    @contextmanager
    def span(self, name: str, layer: str):
        group = self.new_group()
        sid = self._next
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(JOB_GROUP, group)
        self._stack.append(sid)
        sp = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.query, group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            self.spans.append(sp)


def _count_written(args: tuple, kwargs: dict) -> tuple[int, int]:
    """Data files and bytes under every path argument of a writer call."""
    files = nbytes = 0
    for a in (*args, *kwargs.values()):
        if not isinstance(a, str) or not os.path.exists(a):
            continue
        for root, _dirs, names in os.walk(a):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class _Traced:
    """Callable stand-in for a program function that records a span per call.

    Pickles as the original function, so a wrapped function captured by a
    UDF closure ships to Python workers unwrapped."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__
        self._layer = layer
        self._label = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._label, self._layer) as sp:
            out = self.__wrapped__(*args, **kwargs)
            if self._layer == "writers":
                sp.files_written, sp.bytes_written = _count_written(args, kwargs)
        return out

    def __reduce__(self):
        return (getattr, (sys.modules[self.__module__], self.__name__))


def _layer_of(modname: str, package: str) -> str | None:
    rel = modname[len(package) + 1:] if modname.startswith(package + ".") else None
    if rel is None:
        return None
    for prefix, layer in LAYER_OF_PREFIX:
        if rel == prefix or rel.startswith(prefix):
            return layer
    return None


class Installed:
    """The wrappers currently bound into the program's modules."""

    def __init__(self):
        self._restore: list[tuple[object, str, object]] = []
        self.wrapped: dict[str, str] = {}

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


def install(tracer: Tracer, package: str, entry_module) -> Installed:
    """Wrap every public function of the layer modules already imported,
    then rebind each name any program module imported with
    ``from x import f`` so that call sites bound at import time are traced
    too. ``entry_module``'s package-shipping hook is wrapped as layer
    ``entry``. Functions that are Spark UDF objects are left alone."""
    inst = Installed()
    mods = {n: m for n, m in list(sys.modules.items()) if m is not None and (n == package or n.startswith(package + "."))}
    wrappers: dict[int, _Traced] = {}
    for modname, mod in mods.items():
        layer = _layer_of(modname, package)
        if layer is None:
            continue
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != modname
                or hasattr(fn, "evalType")
            ):
                continue
            wrappers[id(fn)] = _Traced(fn, layer, tracer)
            inst.wrapped[f"{modname}.{attr}"] = layer
    hook = getattr(entry_module, "_ensure_pkg_on_workers", None)
    if hook is not None:
        wrappers[id(hook)] = _Traced(hook, "entry", tracer)
    for mod in (*mods.values(), entry_module):
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None and w.__wrapped__ is val:
                inst._restore.append((mod, attr, val))
                setattr(mod, attr, w)
    return inst

"""Span tracing for the traced run, installed from outside the program.

``install`` wraps, before ``__spark_entry__`` is imported:

- ``plans.pipeline``'s module-level ``build_fact_table``, ``build_views``,
  ``write_layer`` and ``step_report``;
- every public function defined in an ``operators`` module, wherever the
  package has bound it by name;
- the py4j client's command send.

``Tracer.span`` is used by the benchmark itself around each
``queries()[name]`` call and each execution. Spans are kept in memory as
``(name, start, end, parent, pass)`` and summarised when the run ends.
"""

from __future__ import annotations

import copy
import importlib
import pkgutil
import sys
import threading
import time
import types
from contextlib import contextmanager
from dataclasses import dataclass

PIPELINE_FUNCS = {
    "build_fact_table": "sources.observation_csv.build_fact_table",
    "build_views": "plans.pipeline.build_views",
    "write_layer": "sources.sinks.write_layer",
    "step_report": "functions.metrics.step_report",
}
PY4J = "py4j.send_command"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_no: int
    label: str = ""


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.pass_no = -1  # -1: set-up, 0: warm-up, 1..: timed passes
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, label: str = ""):
        stack = self._stack()
        idx = len(self.spans)
        s = Span(name, time.time(), 0.0, stack[-1] if stack else None, self.pass_no, label)
        self.spans.append(s)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            s.end = time.time()

    def dump(self) -> list[dict]:
        """Every span except the py4j sends, which are counted instead."""
        base = self.spans[0].start if self.spans else 0.0
        return [{"i": i, "name": s.name, "label": s.label, "start": round(s.start - base, 4),
                 "dur": round(s.end - s.start, 4), "parent": s.parent, "pass": s.pass_no}
                for i, s in enumerate(self.spans) if s.name != PY4J]

    def py4j_callers(self, pass_no: int) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            if s.name == PY4J and s.pass_no == pass_no:
                caller = "-" if s.parent is None else self.spans[s.parent].name
                out[caller] = out.get(caller, 0) + 1
        return out

    def windows(self, name: str, pass_no: int) -> list[tuple[int, int]]:
        return [(int(s.start * 1e3), int(s.end * 1e3) + 1) for s in self.spans
                if s.name == name and s.pass_no == pass_no]

    def self_times(self, pass_no: int) -> dict[str, float]:
        """Total self time per span name in one pass. A py4j span is a leaf
        that stays inside its caller's self time: the layer that issues a
        round-trip pays for it."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.name != PY4J:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.pass_no == pass_no:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def counts(self, pass_no: int) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            if s.pass_no == pass_no:
                out[s.name] = out.get(s.name, 0) + 1
        return out


class Traced:
    """Callable stand-in for a traced function. It pickles as the original,
    so closures shipped to Python workers never reference the benchmark."""

    def __init__(self, fn, name: str, tracer: Tracer):
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", name)
        self.__qualname__ = getattr(fn, "__qualname__", name)
        self.__module__ = getattr(fn, "__module__", None)
        self.__doc__ = getattr(fn, "__doc__", None)
        self._name = name
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        # copy.copy returns a function unchanged, and workers can import it
        return copy.copy, (self.__wrapped__,)


def install(tracer: Tracer, package: str) -> None:
    """Wrap the pipeline functions, the operators' public functions and the
    py4j command send. Call before importing ``__spark_entry__``."""
    ops_pkg = importlib.import_module(f"{package}.operators")
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        importlib.import_module(f"{package}.operators.{info.name}")
    pipeline = importlib.import_module(f"{package}.plans.pipeline")

    replace: dict[int, Traced] = {}
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(f"{package}.operators."):
            continue
        short = modname.rsplit(".", 1)[1]
        for attr, fn in vars(mod).items():
            if (isinstance(fn, types.FunctionType) and not attr.startswith("_")
                    and fn.__module__ == modname and not hasattr(fn, "evalType")):
                replace[id(fn)] = Traced(fn, f"operators.{short}", tracer)
    for attr, name in PIPELINE_FUNCS.items():
        fn = getattr(pipeline, attr)
        replace[id(fn)] = Traced(fn, name, tracer)
    for modname, mod in list(sys.modules.items()):
        if modname.startswith(package) and mod is not None:
            for attr, val in list(vars(mod).items()):
                wrapped = replace.get(id(val))
                if wrapped is not None and val is wrapped.__wrapped__:
                    setattr(mod, attr, wrapped)

    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        cls.send_command = _traced_send(cls.send_command, tracer)


def _traced_send(send, tracer: Tracer):
    def send_command(self, command, *args, **kwargs):
        with tracer.span(PY4J):
            return send(self, command, *args, **kwargs)

    return send_command

"""Spans recorded from the benchmark's side around the program's layers.

``install`` wraps, in place, every public function of the modules the
jobs reach (``LAYER_MODULES``) and the pyspark actions that run Spark
jobs (collect, count, writes, ...).  A wrapper records a span only while
the recorder is on, so the same process can alternate traced and
untraced calls.  While a span is open, every Spark job it starts carries
``<call>/<span id>`` as its job description, which is how the event log
is folded back onto spans.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time

LAYER_MODULES = [
    "sequali_spark.session",
    "sequali_spark.pipeline",
    "sequali_spark.operators.aggregates",
    "sequali_spark.runtime.lineage",
    "sequali_spark.operators.dedup",
    "sequali_spark.runtime.checkpoint",
]

_ACTIONS = {
    "pyspark.sql.classic.dataframe.DataFrame": ["collect", "count", "first", "head", "take", "toPandas", "show"],
    "pyspark.sql.readwriter.DataFrameWriter": ["save", "parquet", "json"],
}


class Recorder:
    """Spans of the calls of one process, kept in memory until written."""

    def __init__(self):
        self.on = False
        self.call = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.sc = None
        # the last DataFrame each wrapped function returned, for probes
        self.returned: dict[str, object] = {}

    def begin_call(self, call: int, traced: bool) -> None:
        self.on = traced
        self.call = call
        self.spans = []
        self._stack = []
        self._set_description(f"{call}/call")

    def end_call(self) -> list[dict]:
        self.on = False
        self._set_description(None)
        return self.spans

    def _set_description(self, desc):
        if self.sc is None:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
        if self.sc is not None:
            self.sc.setJobDescription(desc)

    def open(self, name: str, kind: str, attrs: dict) -> dict:
        span = {
            "id": self._next,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "kind": kind,
            "attrs": attrs,
            "t0": time.perf_counter(),
        }
        self._next += 1
        self._stack.append(span)
        self._set_description(f"{self.call}/{span['id']}")
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        self._stack.pop()
        self.spans.append(span)
        parent = self._stack[-1]["id"] if self._stack else "call"
        self._set_description(f"{self.call}/{parent}")

    def in_action(self) -> bool:
        return bool(self._stack) and self._stack[-1]["kind"] == "action"


def _wrap(rec: Recorder, fn, name: str, kind: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        # an action inside an action (first -> head -> take -> collect)
        # is one Spark action: only the outermost gets a span
        if not rec.on or (kind == "action" and rec.in_action()):
            return fn(*args, **kwargs)
        attrs = {}
        if kind == "action" and name.startswith("write.") and args[1:2]:
            attrs["path"] = str(args[1])
        span = rec.open(name, kind, attrs)
        try:
            out = fn(*args, **kwargs)
        finally:
            rec.close(span)
        if kind == "function":
            rec.returned[name] = out
        return out

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


def install(rec: Recorder) -> None:
    """Wrap the layers' public functions and the pyspark actions."""
    for modname in LAYER_MODULES:
        mod = importlib.import_module(modname)
        for attr, obj in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != modname
                or hasattr(obj, "__perfbench_wrapped__")
            ):
                continue
            setattr(mod, attr, _wrap(rec, obj, f"{modname.rsplit('.', 1)[-1]}.{attr}", "function"))
    for qual, methods in _ACTIONS.items():
        modname, clsname = qual.rsplit(".", 1)
        cls = getattr(importlib.import_module(modname), clsname)
        prefix = "write." if clsname == "DataFrameWriter" else "action."
        for m in methods:
            orig = getattr(cls, m)
            if not hasattr(orig, "__perfbench_wrapped__"):
                setattr(cls, m, _wrap(rec, orig, prefix + m, "action"))

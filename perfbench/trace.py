"""Span recorder that instruments the engine from the outside.

The engine carries no tracing of its own.  :func:`instrument` replaces
each public function of the traced layers with a wrapper, at every
module attribute that names it, so each caller resolves the wrapper:
``from x import f`` copies, module-global calls and call-time imports
alike.  A wrapper records a span only while the recorder is enabled.

A span is ``{name, start, end, parent, op, py4j}``: ``parent`` is the
index of the enclosing span, ``op`` the id of the benchmark op it
belongs to, ``py4j`` the number of py4j commands the driver sent while
it was open.  Spans stay in memory and are written as JSON at the end.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from contextlib import contextmanager

PKG = "data_pipeline_bigquery_spark"

# layer name -> packages/modules whose public functions are traced
LAYERS = {
    "plans": [f"{PKG}.plans"],
    "operators": [f"{PKG}.operators"],
    "extensions": [f"{PKG}.extensions"],
    "sources": [f"{PKG}.sources.snapshots"],
}


class Recorder:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: int | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._loaded: dict[int, object] = {}  # id -> DataFrame, kept alive
        self.load_calls = 0
        self.load_reuses = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "py4j": self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec["py4j"]

    def wrap(self, fn, name: str):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not rec.enabled:
                return fn(*args, **kwargs)
            with rec.span(name):
                return fn(*args, **kwargs)

        return traced

    def note_load(self, df) -> None:
        if not self.enabled:
            return
        self.load_calls += 1
        if id(df) in self._loaded:
            self.load_reuses += 1
        self._loaded[id(df)] = df

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _walk(name: str):
    mod = importlib.import_module(name)
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, name + "."):
            yield importlib.import_module(info.name)


def _rebind(orig, new) -> None:
    """Point every engine-module attribute bound to ``orig`` at ``new``."""
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def instrument(rec: Recorder, spark) -> None:
    """Install the wrappers and the py4j command counter."""
    from data_pipeline_bigquery_spark import catalog
    from data_pipeline_bigquery_spark.queries import registry_modules
    from data_pipeline_bigquery_spark.state.cursor import CursorStore

    registry_modules()  # import every query module so rebinding reaches it
    for layer, roots in LAYERS.items():
        for root in roots:
            for mod in _walk(root):
                for fname, fn in list(vars(mod).items()):
                    if (
                        fname.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                    ):
                        continue
                    _rebind(fn, rec.wrap(fn, f"{layer}.{fname}"))

    orig_load = catalog.load

    def load(spark_, sf_dir, name):
        df = orig_load(spark_, sf_dir, name)
        rec.note_load(df)
        return df

    _rebind(orig_load, rec.wrap(functools.wraps(orig_load)(load), "catalog.load"))
    for meth in ("max_cursor", "append"):
        setattr(CursorStore, meth, rec.wrap(getattr(CursorStore, meth), f"state.{meth}"))

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted_send(*args, **kwargs):
        if rec.enabled:
            rec.py4j_calls += 1
        return send(*args, **kwargs)

    client.send_command = counted_send


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group, from the public
    status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return len(jobs), stages, tasks

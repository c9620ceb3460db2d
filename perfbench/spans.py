"""Span recorder for the traced benchmark run.

Spans are recorded around the public functions of each layer by
rebinding module and class attributes inside the server process, so no
program file changes. A span is ``(id, parent, rid, name, start, end)``;
the parent comes from a per-thread stack and ``rid`` is the request id
the WSGI wrapper (or the maintenance tick) sets on its thread. Spans are
kept in memory and summarised when the run ends; ``dump`` writes them
as JSON lines for offline reading.

Layer of a span = the text before its first dot. A span's self time is
its duration minus its children's, and children run on the span's own
thread one at a time, so per-request self times add up exactly to the
request span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple] = []

    # ------------------------------------------------------------ record
    def set_rid(self, rid) -> None:
        """Tag this thread's next spans with ``rid``; a new rid starts
        an empty span stack, the same rid keeps the open spans."""
        if getattr(self._tls, "rid", None) != rid:
            self._tls.rid = rid
            self._tls.stack = []

    def begin(self, name: str) -> tuple:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = next(self._ids)
        frame = (sid, stack[-1] if stack else 0, getattr(self._tls, "rid", None),
                 name, time.perf_counter())
        stack.append(sid)
        return frame

    def end(self, frame: tuple) -> None:
        self._tls.stack.pop()
        with self._lock:
            self.spans.append(frame + (time.perf_counter(),))

    @contextlib.contextmanager
    def span(self, name: str):
        f = self.begin(name)
        try:
            yield
        finally:
            self.end(f)

    # ------------------------------------------------------------- patch
    def _wrapped(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            f = tracer.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.end(f)

        return wrapper

    def patch(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        setattr(owner, attr, self._wrapped(fn, name))
        self._patches.append((owner, attr, fn))

    def patch_functions(self, modules, layer: str, pred=lambda n: True) -> None:
        """Wrap every public plain function DEFINED in ``modules``, and
        rebind each copy a ``from x import f`` made in the package."""
        originals = {}
        for mod in modules:
            for n, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not n.startswith("_") and pred(n)):
                    originals[id(fn)] = (fn, self._wrapped(fn, f"{layer}.{n}"))
        for mod in [m for k, m in list(sys.modules.items())
                    if k.startswith("optiprism_spark") and m is not None]:
            for n, v in list(vars(mod).items()):
                hit = originals.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(mod, n, hit[1])
                    self._patches.append((mod, n, v))

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # ----------------------------------------------------------- summary
    def self_times(self) -> dict:
        """{rid: {span name: summed self seconds}}."""
        child = defaultdict(float)
        for sid, parent, rid, name, t0, t1 in self.spans:
            if parent:
                child[parent] += t1 - t0
        out: dict = defaultdict(lambda: defaultdict(float))
        for sid, parent, rid, name, t0, t1 in self.spans:
            out[rid][name] += (t1 - t0) - child[sid]
        return out

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, _, _, n, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("id", "parent", "rid", "name", "start", "end"), s))) + "\n")


def _package_modules(prefix: str):
    pkg = importlib.import_module(prefix)
    mods = [pkg]
    for info in pkgutil.iter_modules(pkg.__path__, prefix + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def instrument(tracer: Tracer) -> None:
    """Install spans at every layer boundary the benchmark reports."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from optiprism_spark import (api, ingest, rollup, schema, server,
                                 userday, wal)
    from optiprism_spark.streaming import audience

    # operators layer: operators/, queries/, suites/ and the registry
    ops = (_package_modules("optiprism_spark.operators")
           + _package_modules("optiprism_spark.queries")
           + _package_modules("optiprism_spark.suites")
           + [importlib.import_module("optiprism_spark.registry")])
    tracer.patch_functions(ops, "operators")
    tracer.patch_functions([rollup], "rollup")
    tracer.patch_functions([userday], "userday")
    tracer.patch_functions([api], "api", pred=lambda n: n.startswith("parse_"))
    tracer.patch_functions([schema], "schema",
                           pred=lambda n: n in ("load_table", "memo_parquet"))
    tracer.patch(ingest, "events_snapshot", "schema.events_snapshot")
    tracer.patch(server, "frame_to_response", "server.encode")
    tracer.patch(server, "parse_track", "ingest.parse")
    tracer.patch(server.App, "maintain", "server.maintain")
    tracer.patch(rollup.RollupStore, "update", "rollup.update")
    tracer.patch(userday.UserDayStore, "update", "userday.update")
    tracer.patch(audience.KmvDayStore, "update", "kmv.update")
    tracer.patch(wal.IngestWal, "append", "wal.append")
    tracer.patch(wal.IngestWal, "rewrite", "wal.rewrite")
    for m in ("collect", "count", "toPandas", "take", "first", "head",
              "isEmpty", "toLocalIterator"):
        tracer.patch(DataFrame, m, "session.exec")
    for m in ("save", "saveAsTable", "parquet", "insertInto"):
        tracer.patch(DataFrameWriter, m, "session.exec")

"""Spans around the warehouse's public entry points (traced runs only).

``Tracer.install()`` wraps, from outside the package:

- ``WarehouseOps.load_batch``;
- ``ManifestParquetSink.insert_if_absent`` (one span name per table)
  and ``ManifestParquetSink.compact``;
- ``operators.etl.refresh_quarterly_agg`` (``stream_etl`` looks it up
  at call time, so the wrapped function is the one that runs).

The benchmark opens its own spans around session start, the master
reads, the fact materialization, ``stream_etl`` and its drain, the
serve reads (``quarterly_sales_serve``, ``totals``) and each query's
builder call and action. A span records
name, layer, start, end, parent and cycle id; spans live in memory and
are written once, when the run ends. Spans opened on the streaming
callback thread (foreachBatch) take the main thread's innermost open
span as parent, so the drain's self time is what the stream engine
itself spent.

Spark is lazy: a plan's compute is charged to the action that forces
it. ``build_fact`` runs inside ``insert_if_absent('sales_fact')``, a
query builder's cost shows mostly in its action span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext

LAYERS = ["session", "sources", "streaming", "etl", "sinks", "star", "queries"]
LAZY_NOTE = (
    "Spark is lazy: each plan's compute is charged to the action that "
    "forces it (build_fact shows inside insert_if_absent, a query "
    "builder's work inside its action)."
)


def _parquet_sizes(root: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")}


class NoTracer:
    """Untraced runs: a span is an empty context manager."""

    cycle = None

    def span(self, name: str, layer: str):
        return nullcontext()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.cycle = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list = []
        # commits and new files/bytes in the measured phase
        self.files_written = 0
        self.bytes_written = 0
        self.commits = 0
        self._files: dict[str, dict[str, int]] = {}  # table dir -> parquet sizes
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        t_in = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif stack is not self._main_stack and self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        rec = {"name": name, "layer": layer, "start": time.perf_counter(),
               "end": None, "parent": parent, "cycle": self.cycle}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.overhead_s += (t_body - t_in) + (time.perf_counter() - rec["end"])

    # -- wrapping the package's entry points ---------------------------
    def _wrap(self, owner, attr: str, name_fn, layer: str, after=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name_fn(args, kwargs), layer):
                out = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(args, kwargs)
                with tracer._lock:
                    tracer.overhead_s += time.perf_counter() - t
            return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
            etl, sinks,
        )

        table_of = lambda a, k: a[1] if len(a) > 1 else k["name"]  # noqa: E731
        # commits made while uninstalled are not this tracer's to count
        for root in self._files:
            self._files[root] = _parquet_sizes(root)

        def count_new_files(args, kwargs):
            # files/bytes this commit (or compaction) added to its table
            root = os.path.join(args[0].root, table_of(args, kwargs))
            now = _parquet_sizes(root)
            old = self._files.get(root, {})
            new = [p for p in now if p not in old]
            self._files[root] = now
            if self.cycle is None:
                return  # set-up and checks: not part of the measured phase
            with self._lock:
                self.commits += 1
                self.files_written += len(new)
                self.bytes_written += sum(now[p] for p in new)

        self._wrap(etl.WarehouseOps, "load_batch",
                   lambda a, k: "etl.load_batch", "etl")
        self._wrap(etl, "refresh_quarterly_agg", lambda a, k: "etl.refresh", "etl")
        self._wrap(sinks.ManifestParquetSink, "insert_if_absent",
                   lambda a, k: f"sinks.insert_if_absent.{table_of(a, k)}",
                   "sinks", after=count_new_files)
        self._wrap(sinks.ManifestParquetSink, "compact",
                   lambda a, k: "sinks.compact", "sinks", after=count_new_files)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reporting ------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus its children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["end"] is not None and s["layer"] in out:
                out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"note": LAZY_NOTE, "spans": self.spans}, fh)

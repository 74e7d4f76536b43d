"""Span recorder for the traced run.

Wraps public functions of the program at runtime, from the benchmark's
side: each call becomes a span (name, thread, start, end, parent). The
parent is the innermost open span on the same thread, so work that the
replay loop hands to its ``cdc-prefetch`` thread shows up as root spans
of that thread rather than as children of whatever the main thread is
doing. Spans stay in memory until the run ends.

A function that returns a lazy DataFrame does its real work later,
inside the span of the action that runs it; only planning time lands in
its own span.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # off while the benchmark itself calls the wrapped functions
        self.enabled = True

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> dict:
        stack = self._stack()
        span = {"name": name, "thread": threading.current_thread().name,
                "parent": stack[-1] if stack else None,
                "start": time.perf_counter(), "end": None}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        return span

    def _close(self, span: dict) -> None:
        self._stack().pop()
        span["end"] = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        span = self._open(name)
        try:
            yield
        finally:
            self._close(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a recording wrapper."""
        fn = owner.__dict__[attr]
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


# (module, class, method, span name): the layer boundaries of the program
BOUNDARIES = (
    ("grate_spark.cdc.pipeline", "CdcPipeline", "replay", "pipeline.replay"),
    ("grate_spark.cdc.pipeline", "CdcPipeline", "apply_batch",
     "pipeline.apply_batch"),
    ("grate_spark.cdc.pipeline", "CdcPipeline", "flush_metrics",
     "pipeline.flush_metrics"),
    ("grate_spark.cdc.lake", "Transaction", "commit", "lake.commit"),
    ("grate_spark.cdc.lake", "Transaction", "merge_files", "lake.merge"),
    ("grate_spark.cdc.lake", "Transaction", "merge_replace_keys",
     "lake.merge"),
    ("grate_spark.cdc.lake", "Transaction", "append_rows", "lake.append"),
    ("grate_spark.cdc.lake", "Transaction", "compact", "lake.compact"),
    ("grate_spark.cdc.lake", "Transaction", "squash_markers", "lake.squash"),
    ("grate_spark.cdc.lake", "LakeCatalog", "manifest", "lake.metadata"),
    ("grate_spark.cdc.lake", "LakeCatalog", "checkpoint", "lake.metadata"),
    ("grate_spark.cdc.lake", "LakeCatalog", "lineage", "lake.metadata"),
    ("grate_spark.cdc.lake", "LakeCatalog", "read_key", "lake.read_key"),
    ("grate_spark.cdc.lake", "LakeCatalog", "changes", "lake.changes"),
    ("grate_spark.cdc.lake", "LakeCatalog", "read", "lake.read"),
)


def install(tracer: Tracer) -> None:
    import importlib

    for mod, cls, meth, name in BOUNDARIES:
        owner = getattr(importlib.import_module(mod), cls)
        tracer.wrap(owner, meth, name)

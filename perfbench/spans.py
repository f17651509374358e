"""Spans around the calls into each layer's public functions.

The engine has no tracing of its own, so the traced run patches the
layer entry points from the outside: every name in ``TRACED`` is
replaced, in every loaded module of the package that holds it, by a
wrapper that records a span while a root span (one benchmark op, one
read, or the set-up) is open. With tracing inactive the wrapper is a
plain call-through, so the untraced run pays one flag test per call.

Spans are kept in memory (id, parent, root op id, name, start, end) and
written out as JSON at run end. A span's self time is its duration minus
the union of its children's intervals; over one root's tree the self
times add up to the root's duration.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time

from sparkstats import union_length

PKG = "data_ingestion_framework_spark"

#: (module, attribute path) of every traced public function, named in
#: spans as "<module without the package prefix>.<attribute path>"
TRACED = [
    ("session", "get_spark"),
    ("plans.pipeline", "PipelineBuilder.run_medallion"),
    ("plans.pipeline", "PipelineBuilder._run_bronze"),
    ("plans.pipeline", "PipelineBuilder._run_silver"),
    ("sources.batch", "read_batch"),
    ("sources.tablestore", "ParquetTable.append"),
    ("sources.tablestore", "ParquetTable.overwrite"),
    ("sources.tablestore", "ParquetTable.overwrite_partitions"),
    ("sources.tablestore", "ParquetTable.read"),
    ("sources.tablestore", "ParquetTable.read_since"),
    ("sources.tablestore", "ParquetTable.history"),
    ("sources.tablestore", "ParquetTable.properties"),
    ("operators.scd", "scd2_apply"),
    ("operators.scd", "scd1_apply"),
    ("operators.dq", "apply_rules"),
    ("sinks.writers", "batch_write"),
    ("sinks.audit", "AuditLogger.log"),
    ("streaming.readers", "read_file_stream"),
    ("streaming.writers", "foreach_batch_scd_merge"),
    ("registry", "load"),
]

SPAN_NAMES = [f"{m}.{a}" for m, a in TRACED]


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._next_id = 0

    # -- recording ---------------------------------------------------------
    def _open(self, name: str, root: str | None = None) -> dict | None:
        with self._lock:
            if root is None and not self._stack:
                return None  # outside any root: not attributed
            parent = self._stack[-1] if self._stack else None
            span = {
                "id": self._next_id,
                "parent": parent["id"] if parent else None,
                "root": root if root is not None else parent["root"],
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
            self._next_id += 1
            self._stack.append(span)
            self.spans.append(span)
            return span

    def _close(self, span: dict) -> None:
        with self._lock:
            span["end"] = time.perf_counter()
            self._stack.remove(span)

    def root(self, kind: str, op_id: str):
        """Context manager for a root span (``kind`` is op, read or
        setup); a no-op while tracing is inactive."""
        return _Root(self, kind, op_id)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            if span is None:
                return fn(*args, **kwargs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        """Replace every ``TRACED`` function wherever the package looks
        it up: on its class for methods; for module functions, in every
        loaded package module that binds the same object (for example
        ``plans.pipeline.batch_write`` and each query module's ``load``)."""
        for mod_name, attr in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            name = f"{mod_name}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(name, orig))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapper)

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (clipped to the span)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = union_length(
                [
                    (max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in children.get(s["id"], [])
                ]
            )
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Root:
    def __init__(self, tracer: Tracer, kind: str, op_id: str):
        self.tracer, self.kind, self.op_id = tracer, kind, op_id
        self.span = None

    def __enter__(self):
        if self.tracer.active:
            self.span = self.tracer._open(f"bench.{self.kind}", root=self.op_id)
        return self

    def __exit__(self, *exc):
        if self.span is not None:
            self.tracer._close(self.span)
        return False

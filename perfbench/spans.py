"""Span tracer that wraps the engine's public entry points from outside.

A span records name, layer, start, end, parent and the id of the
operation (tool call, batch job) it belongs to. Spans stay in memory and
are written out once, at the end. Wrapping replaces module attributes
(and the tool registry entries) for the duration of a ``with`` block and
restores them afterwards; no engine file is edited.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import threading
import time
from contextlib import contextmanager

PKG = "secure_agent_api_vector_search_spark"

# (module, attribute, layer): the public entry points each layer is
# entered through. Functions called through their module's globals are
# caught even when the caller lives in the same module.
ENTRY_POINTS = (
    ("sources.tables", "load_documents", "sources"),
    ("sources.ingest_formats", "load_jsonl_documents", "sources"),
    ("embedder", "embed_text", "embedder"),
    ("embedder", "embed_udf", "embedder"),
    ("operators.lookup", "get_record_by_id", "operators.lookup"),
    ("operators.topk", "topk_similar", "operators.topk"),
    ("operators.topk", "find_similar_records", "operators.topk"),
    ("operators.topk", "join_back_documents", "operators.topk"),
    ("operators.ivf", "build_ivf", "operators.ivf"),
    ("operators.ivf", "_fit_centroids", "operators.ivf"),
    ("operators.ivf", "assign_lists", "operators.ivf"),
    ("operators.ivf", "write_ivf", "operators.ivf"),
    ("operators.ivf", "read_ivf", "operators.ivf"),
    ("operators.ivf", "ivf_search", "operators.ivf"),
    ("operators.ivf", "list_balance_stats", "operators.ivf"),
    ("operators.knn", "knn_join_ivf", "operators.knn"),
    ("pipelines", "run_backfill_job", "pipelines"),
    ("pipelines", "build_and_write_index", "pipelines"),
    ("pipelines", "curate_corpus", "pipelines"),
    ("operators.dedup", "dedup_normalized_keep_first", "operators.dedup"),
    ("operators.dedup", "minhash_near_dup_pairs", "operators.dedup"),
    ("operators.dedup", "minhash_candidate_pairs", "operators.dedup"),
    ("operators.components", "keep_first", "components"),
    ("operators.components", "connected_components", "components"),
    ("operators.textops", "doc_quality", "operators.textops"),
    ("operators.curation", "contamination_check", "operators.curation"),
    ("operators.curation", "dataset_split", "operators.curation"),
    ("operators.curation", "write_epoch_shards", "operators.curation"),
)
LAYERS = tuple(dict.fromkeys(
    ["gateway", "toolset"] + [layer for _, _, layer in ENTRY_POINTS] + ["spark"]
))


@dataclasses.dataclass
class Span:
    sid: int
    parent: int | None
    op: str | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.captured: dict[str, list] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        # parent and operation id for spans opened on threads with no
        # open span of their own: the gateway's request threads, while
        # one client thread runs calls one at a time
        self.remote_parent: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        parent = st[-1] if st else self.remote_parent
        s = Span(sid, parent.sid if parent else None,
                 op or (parent.op if parent else None), name, layer,
                 time.perf_counter())
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str, layer: str, capture: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if capture:
                tracer.captured.setdefault(name, []).append(out)
            return out

        return traced

    @contextmanager
    def installed(self):
        """Wrap every entry point, every tool of the tool registry and the
        Spark actions (collect, count, writes: layer ``spark``)."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        toolset = importlib.import_module(f"{PKG}.toolset")
        saved = []
        for cls, attr in ((DataFrame, "collect"), (DataFrame, "count"),
                          (DataFrameWriter, "save"), (DataFrameWriter, "parquet")):
            orig = getattr(cls, attr)
            saved.append((cls, attr, orig))
            setattr(cls, attr, self.wrap(orig, f"spark.{attr}", "spark"))
        for mod_name, attr, layer in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            capture = attr == "minhash_candidate_pairs"
            setattr(mod, attr, self.wrap(orig, f"{mod_name}.{attr}", layer, capture))
        saved_tools = dict(toolset._TOOLSETS)
        toolset._TOOLSETS.update({
            name: tuple(
                dataclasses.replace(t, fn=self.wrap(t.fn, f"toolset.{t.name}", "toolset"))
                for t in tools
            )
            for name, tools in saved_tools.items()
        })
        try:
            yield self
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)
            toolset._TOOLSETS.clear()
            toolset._TOOLSETS.update(saved_tools)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed by
        layer (seconds)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s.layer in out:
                out[s.layer] += max(0.0, s.dur - child.get(s.sid, 0.0))
        return out

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
             "layer": s.layer, "start_s": s.start - t0, "end_s": s.end - t0}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]

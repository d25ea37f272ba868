"""Agent tool-discovery surface (U4) — the engine-side equivalent of
the reference's toolbox client + toolset config.

Reference mapping: `agent/agent.py:6-17` loads the named toolset
`customer_data_tools` from the secure API and hands the discovered
tools to an LLM agent; `tools.yaml:12-44` declares each tool as
(name, description, typed parameters, statement). The LLM orchestration
itself (google-adk / gemini) is a declared non-goal (SURVEY §7) — what
IS rebuilt here is everything below it, the part that makes the API
"secure by construction":

- **discovery**: ``load_toolset("customer_data_tools")`` returns typed
  tool descriptors, including a JSON-Schema parameters block in the
  shape LLM tool-calling APIs consume;
- **typed invocation**: ``tool(spark, sf_dir, **params)`` validates
  names, types, and requiredness BEFORE any plan is built — callers can
  only run named tools with validated parameters, never raw SQL
  (README.md:67, U5). Unknown tool, unknown param, missing param, or a
  type mismatch each raise, mirroring the toolbox server's contract.

Tools are bound to the same engine paths the named-query catalog uses:
`find_similar_customer_records` → driver-side query embed + exact
cosine top-k (tools.yaml:13-27); `get_record_by_id` → typed point
lookup (tools.yaml:28-38).

Every tool serves from one memo per corpus directory (``_ANN_STORE``),
the engine's analog of the reference embedding its corpus once
(sql/04_embeddings.sql) and querying the stored vectors: the documents
DataFrame (read lazily, never persisted, so lookups keep their parquet
pushdown), the corpus vectors (embedded and persisted on the first
search) and the IVF index (built from those vectors on the first ANN
search). A search call embeds only its query. The memo is keyed on a
Hadoop-FileSystem fingerprint of the documents files, re-checked on
every call: a rewritten corpus drops and rebuilds it, and
``invalidate_ann_store`` drops it explicitly.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_PY_TYPES = {"string": str, "integer": int, "number": (int, float), "boolean": bool}


@dataclass(frozen=True)
class ToolParam:
    name: str
    type: str  # "string" | "integer" | "number" | "boolean"
    description: str = ""
    required: bool = True


@dataclass(frozen=True)
class Tool:
    name: str
    description: str
    parameters: tuple[ToolParam, ...]
    fn: Callable[..., DataFrame]

    def json_schema(self) -> dict:
        """The parameters block in LLM tool-calling shape."""
        return {
            "name": self.name,
            "description": self.description,
            "parameters": {
                "type": "object",
                "properties": {
                    p.name: {"type": p.type, "description": p.description}
                    for p in self.parameters
                },
                "required": [p.name for p in self.parameters if p.required],
            },
        }

    def validate(self, **params) -> None:
        """The BIND step alone: names, requiredness, JSON types — every
        zero-trust rejection raises TypeError HERE, before any plan is
        built. Separated from __call__ so transport layers (gateway.py)
        can map genuine bind failures to 400 while anything raised
        inside execution — including a server-side TypeError — stays a
        server fault."""
        declared = {p.name: p for p in self.parameters}
        unknown = set(params) - set(declared)
        if unknown:
            raise TypeError(f"{self.name}: unknown parameter(s) {sorted(unknown)}")
        missing = [p.name for p in self.parameters if p.required and p.name not in params]
        if missing:
            raise TypeError(f"{self.name}: missing required parameter(s) {missing}")
        for name, value in params.items():
            want = _PY_TYPES[declared[name].type]
            if isinstance(value, bool) and declared[name].type != "boolean":
                raise TypeError(f"{self.name}: {name} must be {declared[name].type}")
            if not isinstance(value, want):
                raise TypeError(
                    f"{self.name}: {name} must be {declared[name].type}, "
                    f"got {type(value).__name__}"
                )

    def __call__(self, spark: SparkSession, sf_dir: str, **params) -> DataFrame:
        self.validate(**params)
        return self.fn(spark, sf_dir, **params)


class _CorpusStore(NamedTuple):
    """What the tools memoize for one corpus dir, valid while its
    ``fingerprint`` is unchanged. Each level is built on first need:
    a lookup reads only ``docs``, a search adds ``vectors``, an ANN
    search adds ``index``. Exactly one persisted copy of the vectors
    exists: once the index is built, ``vectors`` reads (vec_id,
    embedding) from its persisted ``assigned`` frame."""

    fingerprint: str
    # the IvfIndex the ANN tool probes, None until the first ANN call;
    # kept at position 1 — external readers take it as _ANN_STORE[d][1]
    index: object | None
    docs: DataFrame
    vectors: DataFrame | None  # (vec_id, embedding)


_ANN_STORE: dict[str, _CorpusStore] = {}  # sf_dir → memo
_LOCKS: dict[str, threading.Lock] = {}  # sf_dir → guards its memo's builds


def _release(store: _CorpusStore) -> None:
    if store.vectors is not None:
        store.vectors.unpersist()
    if store.index is not None:
        store.index.assigned.unpersist()


def _corpus_store(
    spark: SparkSession, sf_dir: str, vectors: bool = False, index: bool = False
) -> _CorpusStore:
    """The memo for ``sf_dir``, (re)built up to the asked level under
    the corpus's lock, so concurrent first calls (the gateway serves
    each request on its own thread) build and persist once. The
    fingerprint is taken outside the lock; a changed corpus releases
    the old memo's persisted frames and starts a new one."""
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.embedder import embed_udf
    from secure_agent_api_vector_search_spark.operators.ivf import build_ivf
    from secure_agent_api_vector_search_spark.sources.fsutil import fs_fingerprint
    from secure_agent_api_vector_search_spark.sources.tables import load_documents

    fp = fs_fingerprint(spark, f"{sf_dir}/documents.parquet")
    with _LOCKS.setdefault(sf_dir, threading.Lock()):
        store = _ANN_STORE.get(sf_dir)
        if store is None or store.fingerprint != fp:
            if store is not None:
                _release(store)
            store = _CorpusStore(fp, None, load_documents(spark, sf_dir), None)
        if (vectors or index) and store.vectors is None:
            emb = store.docs.select(
                F.col("doc_id").alias("vec_id"),
                embed_udf(64)(F.col("text")).alias("embedding"),
            ).persist()
            emb.count()
            store = store._replace(vectors=emb)
        if index and store.index is None:
            ivf = build_ivf(store.vectors, n_lists=16, seed=42)
            ivf.assigned.persist().count()
            # assigned's buffers are loaded, so dropping the vectors
            # cache leaves it intact: one persisted copy from here on (a
            # search still holding the old frame re-embeds once, same values)
            store.vectors.unpersist()
            store = store._replace(
                index=ivf, vectors=ivf.assigned.select("vec_id", "embedding")
            )
        _ANN_STORE[sf_dir] = store
        return store


def invalidate_ann_store(sf_dir: str | None = None) -> None:
    """Explicit rebuild hook: drop everything memoized (documents,
    persisted vectors, IVF index) for one corpus dir, or for all."""
    keys = [sf_dir] if sf_dir is not None else list(_ANN_STORE)
    for k in keys:
        with _LOCKS.setdefault(k, threading.Lock()):
            store = _ANN_STORE.pop(k, None)
            if store is not None:
                _release(store)


def _find_similar(spark: SparkSession, sf_dir: str, query_text: str, limit: int) -> DataFrame:
    from secure_agent_api_vector_search_spark.embedder import embed_text
    from secure_agent_api_vector_search_spark.operators.topk import find_similar_records

    store = _corpus_store(spark, sf_dir, vectors=True)
    return find_similar_records(
        store.docs, store.vectors, embed_text(query_text, 64), k=limit
    )


def _find_similar_page(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    limit: int,
    after_score: float,
    after_id: int,
) -> DataFrame:
    """Keyset-paginated U1: the page strictly after the
    (after_score, after_id) cursor — page 1's last row, handed back by
    the caller. Same projection as find_similar_customer_records, so a
    client pages by swapping tools and threading the cursor."""
    from secure_agent_api_vector_search_spark.embedder import embed_text
    from secure_agent_api_vector_search_spark.operators.topk import (
        join_back_documents,
        topk_similar_after,
    )

    store = _corpus_store(spark, sf_dir, vectors=True)
    top = topk_similar_after(
        store.vectors,
        embed_text(query_text, 64),
        last_score=float(after_score),
        last_id=after_id,
        k=limit,
    )
    return join_back_documents(top, store.docs)


def _find_similar_ann(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    limit: int,
    nprobe: int,
) -> DataFrame:
    """U1 through the V5 ANN path — README.md:51's "high-speed
    similarity search" made literal: the corpus vectors live in an IVF
    store, the query probes only the ``nprobe`` nearest lists, and the
    projection is byte-identical to find_similar_customer_records
    (join_back_documents — the shared U1 contract). The index is part
    of the corpus memo: built on the first ANN call from the persisted
    vectors the exact tool scores (n_lists=16, seed=42), rebuilt when
    the documents' fingerprint changes, dropped by
    ``invalidate_ann_store``. ``nprobe`` is the recall/latency knob:
    clamped to [1, n_lists]; at n_lists the answer is exactly the exact
    tool's (the gate-pinned full-probe identity). The exact tool stays
    the reference-faithful default (V6: the reference's own index
    routes L2 under a cosine query and is unused by its planner — here
    the approximate path is explicit opt-in)."""
    from secure_agent_api_vector_search_spark.embedder import embed_text
    from secure_agent_api_vector_search_spark.operators.ivf import ivf_search
    from secure_agent_api_vector_search_spark.operators.topk import (
        join_back_documents,
    )

    store = _corpus_store(spark, sf_dir, index=True)
    n_lists = len(store.index.centroids)
    top = ivf_search(
        store.index,
        embed_text(query_text, 64),
        k=limit,
        nprobe=max(1, min(int(nprobe), n_lists)),
    )
    return join_back_documents(top, store.docs)


def _get_record(spark: SparkSession, sf_dir: str, record_id: str) -> DataFrame:
    """record_id is a STRING, matching the reference contract
    (tools.yaml:34-35 declares ``type: string`` — ids there are
    VARCHAR(25) like ``POL-10326103``). The testdata documents table
    keys on a bigint doc_id, so the string is cast internally with
    VARCHAR-equality semantics: only the CANONICAL decimal rendering of
    an id matches (``"42"`` — not ``"042"``, ``" 42 "``, ``"+42"``, or
    Unicode digits, all of which ``int()`` would silently normalize but
    a reference-side ``record_id = $1`` string compare would not). Any
    non-canonical id binds like any other unmatched VARCHAR value —
    0 rows, never an error and never interpolated SQL (U5)."""
    import re

    from secure_agent_api_vector_search_spark.operators.lookup import (
        LOOKUP_COLUMNS,
        get_record_by_id,
    )

    docs = _corpus_store(spark, sf_dir).docs
    # canonical decimal AND inside int64 — a 20+-digit numeral is valid
    # for the reference's VARCHAR(25) ids but can never equal a bigint
    # key, so it binds 0 rows instead of overflowing F.lit (U5: never
    # an error)
    if (
        re.fullmatch(r"0|[1-9][0-9]*", record_id) is None
        or int(record_id) > 0x7FFFFFFFFFFFFFFF
    ):
        return docs.select(*LOOKUP_COLUMNS).limit(0)
    return get_record_by_id(docs, int(record_id))


_TOOLSETS: dict[str, tuple[Tool, ...]] = {
    "customer_data_tools": (
        Tool(
            name="find_similar_customer_records",
            description="Semantic search over insurance policies and articles.",
            parameters=(
                # both parameters are REQUIRED, as in the reference: the
                # toolbox config (tools.yaml:18-21) declares them with no
                # optionality and the statement binds both $1 and $2
                ToolParam("query_text", "string", "natural-language search query"),
                ToolParam("limit", "integer", "max results"),
            ),
            fn=_find_similar,
        ),
        Tool(
            name="get_record_by_id",
            description="Retrieve a record by its unique ID.",
            # type STRING per tools.yaml:34-35 (reference ids are VARCHAR)
            parameters=(ToolParam("record_id", "string", "primary id"),),
            fn=_get_record,
        ),
    ),
}

# v2: the reference surface UNCHANGED (tools.yaml parity above) plus
# the keyset-pagination extension — a separate toolset so reference
# parity stays byte-literal while clients that want deep pagination
# opt in by name.
_TOOLSETS["customer_data_tools_v2"] = _TOOLSETS["customer_data_tools"] + (
    Tool(
        name="find_similar_customer_records_page",
        description="Next page of semantic search results, strictly after "
                    "the (after_score, after_id) cursor from the previous "
                    "page's last row.",
        parameters=(
            ToolParam("query_text", "string", "natural-language search query"),
            ToolParam("limit", "integer", "max results"),
            ToolParam("after_score", "number", "previous page's last similarity"),
            ToolParam("after_id", "integer", "previous page's last doc_id"),
        ),
        fn=_find_similar_page,
    ),
)


# v3: v2 plus the indexed search tool — the ANN path served with an
# explicit nprobe recall/latency knob; reference parity (v1) and the
# paged extension (v2) stay untouched, clients opt in by toolset name.
_TOOLSETS["customer_data_tools_v3"] = _TOOLSETS["customer_data_tools_v2"] + (
    Tool(
        name="find_similar_customer_records_ann",
        description="Semantic search through the IVF index: probes only "
                    "the nprobe nearest lists (recall/latency knob; at "
                    "n_lists it equals the exact tool's answer).",
        parameters=(
            ToolParam("query_text", "string", "natural-language search query"),
            ToolParam("limit", "integer", "max results"),
            ToolParam("nprobe", "integer", "lists to probe (1..n_lists)"),
        ),
        fn=_find_similar_ann,
    ),
)


def load_toolset(name: str) -> tuple[Tool, ...]:
    """Discovery: the engine-side ``ToolboxSyncClient.load_toolset``
    (agent/agent.py:8). Unknown toolset names raise — there is no way
    to reach undeclared functionality through this surface."""
    if name not in _TOOLSETS:
        raise KeyError(f"unknown toolset {name!r}; available: {sorted(_TOOLSETS)}")
    return _TOOLSETS[name]


def toolset_schemas(name: str) -> list[dict]:
    """JSON-Schema descriptors for every tool in a toolset — what an
    agent framework feeds to the model as its tool list."""
    return [t.json_schema() for t in load_toolset(name)]

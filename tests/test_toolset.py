"""U4 tool-discovery surface (toolset.py): discovery, JSON-Schema
shape, typed invocation, and the zero-trust rejections."""

from __future__ import annotations

import pytest

from secure_agent_api_vector_search_spark.toolset import (
    load_toolset,
    toolset_schemas,
)


def test_discovery_lists_reference_tools():
    tools = load_toolset("customer_data_tools")
    assert [t.name for t in tools] == [
        "find_similar_customer_records",
        "get_record_by_id",
    ]
    with pytest.raises(KeyError):
        load_toolset("no_such_toolset")


def test_schemas_are_llm_tool_shape():
    schemas = toolset_schemas("customer_data_tools")
    fs = schemas[0]
    assert fs["name"] == "find_similar_customer_records"
    assert fs["parameters"]["type"] == "object"
    assert set(fs["parameters"]["properties"]) == {"query_text", "limit"}
    # both declared required, matching tools.yaml:18-21 (no optionality
    # in the reference config; the statement binds $1 AND $2)
    assert fs["parameters"]["required"] == ["query_text", "limit"]
    assert schemas[1]["parameters"]["required"] == ["record_id"]
    # record_id is a STRING parameter (tools.yaml:34-35)
    assert schemas[1]["parameters"]["properties"]["record_id"]["type"] == "string"


def test_semantic_search_tool_end_to_end(spark, sf_dir):
    find, _ = load_toolset("customer_data_tools")
    rows = find(spark, sf_dir, query_text="fast hash join", limit=3).collect()
    assert 0 < len(rows) <= 3
    assert {"doc_id", "text", "similarity"} <= set(rows[0].asDict())
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_lookup_tool_end_to_end(spark, sf_dir):
    _, get = load_toolset("customer_data_tools")
    rows = get(spark, sf_dir, record_id="42").collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 42
    assert get(spark, sf_dir, record_id=str(10**12)).count() == 0
    # a hostile string binds as a value, never as SQL: 0 rows, no error
    # (the reference's VARCHAR id has the same injection-safe semantics)
    assert get(spark, sf_dir, record_id="42; DROP TABLE docs").count() == 0


def test_typed_invocation_rejections(spark, sf_dir):
    find, get = load_toolset("customer_data_tools")
    with pytest.raises(TypeError, match="missing required"):
        find(spark, sf_dir, limit=3)
    with pytest.raises(TypeError, match="missing required"):
        find(spark, sf_dir, query_text="x")  # limit is required, as in tools.yaml
    with pytest.raises(TypeError, match="unknown parameter"):
        find(spark, sf_dir, query_text="x", sql="DROP TABLE docs")
    with pytest.raises(TypeError, match="must be string"):
        get(spark, sf_dir, record_id=42)  # record_id is a string parameter
    with pytest.raises(TypeError, match="must be integer"):
        find(spark, sf_dir, query_text="x", limit=True)  # bool is not an int here


def test_record_id_requires_canonical_decimal_rendering(spark, sf_dir):
    """VARCHAR-equality semantics: '042', ' 42 ', '+42' must NOT match
    doc 42 (a reference-side string bind would not), only '42' does."""
    from secure_agent_api_vector_search_spark.toolset import load_toolset

    tool = {t.name: t for t in load_toolset("customer_data_tools")}["get_record_by_id"]
    assert tool(spark, sf_dir, record_id="42").count() == 1
    for bad in ("042", " 42 ", "+42", "4_2", ""):
        assert tool(spark, sf_dir, record_id=bad).count() == 0


def test_record_id_beyond_int64_binds_zero_rows_not_error(spark, sf_dir):
    """A canonical 20+-digit numeral is a legal VARCHAR(25) id but can
    never equal a bigint key — it must bind 0 rows, never raise (U5)."""
    from secure_agent_api_vector_search_spark.toolset import load_toolset

    tool = {t.name: t for t in load_toolset("customer_data_tools")}["get_record_by_id"]
    assert tool(spark, sf_dir, record_id="12345678901234567890").count() == 0
    assert tool(spark, sf_dir, record_id=str(2**63 - 1)).count() == 0  # max int64: valid, no match


def test_v2_toolset_pagination_walks_without_gaps(spark, sf_dir):
    """The v2 toolset keeps reference parity (same first two tools)
    and adds the cursor-paged search; walking two pages through the
    TOOL surface reconstructs the one-shot top-10 exactly."""
    tools = {t.name: t for t in load_toolset("customer_data_tools_v2")}
    assert set(tools) == {
        "find_similar_customer_records",
        "get_record_by_id",
        "find_similar_customer_records_page",
    }
    find = tools["find_similar_customer_records"]
    page = tools["find_similar_customer_records_page"]

    full = find(spark, sf_dir, query_text="spark join", limit=10).collect()
    page1 = full[:5]
    last = page1[-1]
    page2 = page(
        spark, sf_dir,
        query_text="spark join", limit=5,
        after_score=float(last["similarity"]), after_id=int(last["doc_id"]),
    ).collect()
    got = [(r["doc_id"], r["similarity"]) for r in page1 + page2]
    want = [(r["doc_id"], r["similarity"]) for r in full]
    assert got == want
    # zero-trust still holds on the new tool
    with pytest.raises(TypeError):
        page(spark, sf_dir, query_text="x", limit=5)  # missing cursor
    with pytest.raises(TypeError):
        page(spark, sf_dir, query_text="x", limit=5,
             after_score="high", after_id=3)  # wrong type


def _executed_nodes(df) -> list[str]:
    """Operator names of a collected DataFrame's executed plan, adaptive
    stages unwrapped. Like any executed-plan walk it stops at an
    InMemoryTableScan: a cached relation's build plan is not work this
    query runs."""
    out: list[str] = []

    def walk(p) -> None:
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(p.executedPlan())
            return
        out.append(name)
        if "QueryStage" in name:
            walk(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_warm_search_calls_embed_no_corpus_rows(spark, sf_dir):
    """Tools score the corpus vectors memoized on the first call: a
    warm call's executed plan runs no corpus embed. The exact and ANN
    tools run no ArrowEvalPython at all; the paged tool runs exactly one,
    its fold scorer (dim 64 > PAGED_UNROLL_MAX_DIM, see
    operators/topk.py)."""
    from secure_agent_api_vector_search_spark import toolset as T

    # start cold: a clearCache() elsewhere in the session would leave an
    # earlier memo's frames unpersisted
    T.invalidate_ann_store(sf_dir)
    calls = {
        "exact": (lambda: T._find_similar(spark, sf_dir, "insurance claim water", 5), 0),
        "ann": (lambda: T._find_similar_ann(spark, sf_dir, "insurance claim water", 5, 4), 0),
        "paged": (lambda: T._find_similar_page(spark, sf_dir, "insurance claim water", 5, 0.5, 0), 1),
    }
    for name, (call, want) in calls.items():
        call().collect()  # cold or warm: builds whatever is missing
        df = call()
        df.collect()
        assert _executed_nodes(df).count("ArrowEvalPython") == want, name


def _write_corpus(src: str, dst_dir, max_id: int | None = None, marker: str | None = None) -> None:
    """Rewrite ``dst_dir/documents.parquet`` from ``src``: optionally
    only ids below ``max_id``, and with doc 7's text replaced by
    ``marker``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    if max_id is not None:
        t = t.filter(pc.less(t["doc_id"], max_id))
    if marker is not None:
        texts = [marker if i == 7 else x for i, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())]
        t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(t, f"{dst_dir}/documents.parquet")


def _assert_serves_rewritten_corpus(spark, d: str, max_id: int, marker: str, tools=("exact", "ann", "paged", "lookup")) -> None:
    """Every tool answers from the rewritten corpus: the marker text
    makes doc 7 the top hit, and no id at or above ``max_id`` exists."""
    from secure_agent_api_vector_search_spark import toolset as T

    runs = {
        "exact": lambda: T._find_similar(spark, d, marker, 10),
        "ann": lambda: T._find_similar_ann(spark, d, marker, 10, 16),
        "paged": lambda: T._find_similar_page(spark, d, marker, 10, 2.0, -1),
    }
    for name in tools:
        if name == "lookup":
            assert [r["text"] for r in T._get_record(spark, d, "7").collect()] == [marker]
            assert T._get_record(spark, d, str(max_id)).count() == 0
            continue
        rows = runs[name]().collect()
        assert rows[0]["doc_id"] == 7 and rows[0]["text"] == marker, name
        assert all(r["doc_id"] < max_id for r in rows), name


def test_ann_store_invalidates_on_corpus_change(spark, sf_dir, tmp_path):
    """The corpus memo (documents, vectors, IVF index) is keyed on a
    content fingerprint: rewriting the parquet under the same dir must
    rebuild it — stale serving would return deleted rows and break the
    advertised nprobe=n_lists ≡ exact identity — and
    invalidate_ann_store is the explicit drop hook."""
    import os
    import shutil

    from secure_agent_api_vector_search_spark import toolset as T

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = f"{sf_dir}/documents.parquet"
    shutil.copy(src, corpus / "documents.parquet")
    d = str(corpus)

    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    idx1 = T._ANN_STORE[d][1]
    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    assert T._ANN_STORE[d][1] is idx1  # unchanged corpus → cache hit

    # rewrite the corpus file (same content, new mtime) → rebuild
    shutil.copy(src, corpus / "documents.parquet")
    os.utime(corpus / "documents.parquet")
    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    assert T._ANN_STORE[d][1] is not idx1

    # the ANN call memoized every level (documents, vectors, index);
    # rewrite with different rows and text → every tool serves them
    _write_corpus(src, corpus, max_id=200, marker="zebra quokka marmalade")
    _assert_serves_rewritten_corpus(spark, d, 200, "zebra quokka marmalade")

    T.invalidate_ann_store(d)
    assert d not in T._ANN_STORE
    T.invalidate_ann_store()  # idempotent full drop


def test_corpus_memo_invalidates_on_uri_corpus(spark, sf_dir, tmp_path):
    """The fingerprint goes through the Hadoop FileSystem API, so a
    scheme-qualified (``file://``) corpus dir invalidates on rewrite like
    a plain path does, for both the exact and the ANN tool."""
    from secure_agent_api_vector_search_spark import toolset as T

    corpus = tmp_path / "uri_corpus"
    corpus.mkdir()
    src = f"{sf_dir}/documents.parquet"
    d = f"file://{corpus}"
    _write_corpus(src, corpus, max_id=300, marker="otter lantern quince")
    _assert_serves_rewritten_corpus(spark, d, 300, "otter lantern quince", ("exact", "ann"))
    _write_corpus(src, corpus, max_id=150, marker="walrus pepper trombone")
    _assert_serves_rewritten_corpus(spark, d, 150, "walrus pepper trombone", ("exact", "ann"))
    T.invalidate_ann_store(d)


def test_cold_corpus_concurrent_calls_build_once(spark, sf_dir, tmp_path, monkeypatch):
    """The gateway serves each request on its own thread: four
    concurrent first calls on a cold corpus must embed and build the IVF
    index once, and leave exactly one more persisted RDD (the losing
    builds of an unlocked memo were never unpersisted)."""
    import shutil
    import sys
    import threading

    from secure_agent_api_vector_search_spark import embedder, toolset as T
    from secure_agent_api_vector_search_spark.operators import ivf

    corpus = tmp_path / "cold"
    corpus.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", corpus / "documents.parquet")
    d = str(corpus)
    builds = {"embed_udf": 0, "build_ivf": 0}

    def counting(mod, name):
        orig = getattr(mod, name)

        def wrapped(*a, **kw):
            builds[name] += 1
            return orig(*a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    counting(embedder, "embed_udf")
    counting(ivf, "build_ivf")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    start = threading.Barrier(4)
    results, errors = [], []

    def call() -> None:
        try:
            start.wait()
            rows = T._find_similar_ann(spark, d, "water damage", 5, 16).collect()
            results.append([(r["doc_id"], r["similarity"]) for r in rows])
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build often
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert builds == {"embed_udf": 1, "build_ivf": 1}
        assert len(results) == 4 and all(r == results[0] for r in results)
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert len(after - before) == 1 and before <= after
    finally:
        T.invalidate_ann_store(d)

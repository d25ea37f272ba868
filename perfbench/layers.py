"""Traced run: per-layer numbers.

The traced run profiles every layer through its public entry points on
the seeded inputs of all three workloads, so every per-layer metric is
present whichever workload was named. It then replays a short slice of
the named workload, untraced and traced in turn, which gives the tracing
overhead and the Spark runtime numbers (status store, JVM collector
beans) for that workload. Self time per layer comes from the spans of
both parts.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics

import numpy as np

import runtime
from spans import LAYERS, Tracer
from workloads import (
    ANN_NPROBE,
    ANN_TOOL,
    EXACT_TOOL,
    JOIN_K,
    JOIN_NPROBE,
    LIMIT,
    LOOKUP_TOOL,
    TOOLSET,
    AgentMix,
    Curate,
    IngestIndex,
    new_record,
    now,
)

AGENT_PASS_SESSIONS = 6
PASS_PAIRS = 1
PROBE_REPS = 3
ROW_CAP = 1000  # the gateway's default row cap


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _noop_write(df) -> float:
    t0 = now()
    df.write.format("noop").mode("overwrite").save()
    return now() - t0


def workload_pass(wl, spark, tracer: Tracer | None) -> tuple[float, int]:
    """One short, fixed slice of the workload with one client. Returns
    (wall seconds, operations)."""
    t0 = now()
    if isinstance(wl, AgentMix):
        rec = new_record()
        if tracer is not None:
            wl.post = _traced_post(wl.post, tracer)
        try:
            for i, (q, exact) in enumerate(wl.script.sessions[0][:AGENT_PASS_SESSIONS]):
                with _maybe_span(tracer, f"agent.session-{i}"):
                    wl.session(q, exact, rec)
        finally:
            wl.__dict__.pop("post", None)
        ops = len(rec["exact"]) + len(rec["ann"]) + len(rec["lookup"])
    elif isinstance(wl, IngestIndex):
        with _maybe_span(tracer, "ingest.cycle"):
            wl.cycle(spark, wl.raw, wl.queries, "pass", check=True)
        ops = 1
    else:
        with _maybe_span(tracer, "curate.rep"):
            wl.rep(spark, wl.dump, os.path.join(wl.dir, "out-pass"), check=True)
        ops = 1
    return now() - t0, ops


def _traced_post(post, tracer: Tracer):
    """The client's HTTP call as a ``gateway`` span; spans the gateway's
    request thread opens meanwhile become its children."""

    def traced(tool, params):
        with tracer.span("gateway.http", "gateway") as s:
            tracer.remote_parent = s
            try:
                return post(tool, params)
            finally:
                tracer.remote_parent = None

    return traced


def _maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name, "bench", op=name) if tracer else contextlib.nullcontext()


def spark_runtime(sc, jobs, wall_s: float, ops: int, cpus: int, gc_s: float) -> dict:
    st = runtime.stage_metrics(sc, jobs)
    ops = max(1, ops)
    return {
        "spark.jobs_per_call": len(jobs) / ops,
        "spark.tasks_per_call": sum(s["tasks"] for s in st) / ops,
        "spark.sched_wait_ms": float(np.mean([s["sched_wait_ms"] for s in st])) if st else 0.0,
        "spark.executor_busy_share": sum(s["run_ms"] for s in st) / 1000.0 / (wall_s * cpus),
        "spark.gc_s": gc_s / ops,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st) / ops,
    }


def agent_layers(wl: AgentMix, spark, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark import toolset as TS
    from secure_agent_api_vector_search_spark.embedder import embed_text, embed_udf
    from secure_agent_api_vector_search_spark.operators.ivf import ivf_search, list_balance_stats
    from secure_agent_api_vector_search_spark.operators.lookup import get_record_by_id
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar
    from secure_agent_api_vector_search_spark.sources.tables import load_documents

    sc = spark.sparkContext
    tools = {t.name: t for t in TS.load_toolset(TOOLSET)}
    calls = []
    for q, exact in wl.script.sessions[0][:3]:
        query = wl.script.pool[q]
        if exact:
            calls.append((EXACT_TOOL, {"query_text": query, "limit": LIMIT}))
        calls.append((ANN_TOOL, {"query_text": query, "limit": LIMIT, "nprobe": ANN_NPROBE}))
        top = np.lexsort((wl.ids, -wl.pool_scores[q]))[:2]
        calls += [(LOOKUP_TOOL, {"record_id": str(int(wl.ids[p]))}) for p in top]
    m: dict[str, list] = {k: [] for k in (
        "overhead", "bytes", "plan", "collect", "input_bytes", "rows_embedded", "lookup_scan")}
    post = _traced_post(wl.post, tracer)
    for i, (tool, params) in enumerate(calls):
        with tracer.span(f"call-{i}", "bench", op=f"call-{i}"):
            _status, data, http_s = post(tool, params)
        m["bytes"].append(len(data))
        jobs0 = set(runtime.job_ids(sc))
        with tracer.span("toolset.inprocess", "bench", op=f"inproc-{i}"):
            t0 = now()
            df = tools[tool].fn(spark, wl.sf_dir, **params).limit(ROW_CAP)
            t1 = now()
            [r.asDict(recursive=True) for r in df.collect()]
            t2 = now()
        st = runtime.stage_metrics(sc, sorted(set(runtime.job_ids(sc)) - jobs0))
        m["input_bytes"].append(sum(x["input_bytes"] for x in st))
        m["overhead"].append(http_s - (t2 - t0))
        nodes = runtime.plan_nodes(df)
        if tool == LOOKUP_TOOL:
            m["lookup_scan"].append(runtime.plan_sum(nodes, "Scan", "numOutputRows"))
        else:
            m["plan"].append(t1 - t0)
            m["collect"].append(t2 - t1)
        if tool == EXACT_TOOL:
            m["rows_embedded"].append(runtime.plan_sum(nodes, "ArrowEvalPython", "pythonNumRowsReceived"))

    docs = load_documents(spark, wl.sf_dir)
    lookup_ms = []
    for doc_id in wl.ids[:PROBE_REPS]:
        t0 = now()
        get_record_by_id(docs, int(doc_id)).collect()
        lookup_ms.append(1000 * (now() - t0))

    emb = docs.select(F.col("doc_id").alias("vec_id"), embed_udf(64)(F.col("text")).alias("embedding"))
    docs_per_s = len(wl.ids) / _noop_write(emb)
    emb = emb.persist()
    emb.count()
    score_ms, scored = [], []
    probe_ms, probed = [], []
    index = TS._ANN_STORE[wl.sf_dir][1]
    for query in wl.script.pool[:PROBE_REPS]:
        qv = embed_text(query, 64)
        t0 = now()
        df = topk_similar(emb, qv, k=LIMIT)
        rows = df.collect()
        score_ms.append(1000 * (now() - t0))
        scored.append(runtime.plan_sum(runtime.plan_nodes(df), "InMemoryTableScan", "numOutputRows")
                      / max(1, len(rows)))
        t0 = now()
        df = ivf_search(index, qv, k=LIMIT, nprobe=ANN_NPROBE)
        df.collect()
        probe_ms.append(1000 * (now() - t0))
        probed.append(runtime.plan_sum(runtime.plan_nodes(df), "InMemoryTableScan", "numOutputRows"))
    emb.unpersist()
    return {
        "gateway.overhead_ms": 1000 * _med(m["overhead"]),
        "gateway.response_bytes": _med(m["bytes"]),
        "toolset.plan_ms": 1000 * _med(m["plan"]),
        "toolset.collect_ms": 1000 * _med(m["collect"]),
        "sources.rows_scanned_per_lookup": _med(m["lookup_scan"]),
        "sources.bytes_read_per_call": float(np.mean(m["input_bytes"])),
        "embedder.query_embed_ms": 1000 * _med(tracer.durations("embedder.embed_text")),
        "embedder.rows_embedded_per_search": _med(m["rows_embedded"]),
        "embedder.docs_per_s": docs_per_s,
        "topk.score_ms": _med(score_ms),
        "topk.rows_scored_per_result": _med(scored),
        "lookup.exec_ms": _med(lookup_ms),
        "ivf.probe_ms": _med(probe_ms),
        "ivf.rows_scanned_per_probe": _med(probed),
        "ivf.list_skew": float(list_balance_stats(index)["skew"]),
    }


def ingest_layers(wl: IngestIndex, spark, tracer: Tracer, cpus: int) -> dict:
    from secure_agent_api_vector_search_spark.operators.ivf import assign_lists, read_ivf
    from secure_agent_api_vector_search_spark.operators.knn import knn_join_ivf

    sc = spark.sparkContext
    res = wl.cycle(spark, wl.raw, wl.queries, "layers", check=False)
    # a fresh join plan, so its shuffles run (and are counted) again
    index = read_ivf(spark, os.path.join(wl.dir, "index-layers"), id_col="doc_id")
    join_df = knn_join_ivf(index, spark.read.parquet(wl.queries), k=JOIN_K, nprobe=JOIN_NPROBE)
    jobs0 = set(runtime.job_ids(sc))
    join_df.collect()
    shuffle = runtime.stage_metrics(sc, sorted(set(runtime.job_ids(sc)) - jobs0))
    candidates = sum(m.get("numOutputRows", 0) for n, m in runtime.plan_nodes(join_df) if "Join" in n)
    emb = spark.read.parquet(res["emb_out"])
    return {
        "ivf.fit_s": tracer.durations("operators.ivf._fit_centroids")[-1],
        "ivf.assign_s": _noop_write(assign_lists(emb, index.centroids)),
        "knn.candidates_per_query": candidates / len(wl.q_ids),
        "knn.shuffle_bytes": float(sum(x["shuffle_write_bytes"] for x in shuffle)),
        "pipelines.backfill_write_s": tracer.durations("pipelines.run_backfill_job")[-1],
        "pipelines.bytes_written_per_input_byte":
            runtime.dir_bytes(res["emb_out"]) / os.path.getsize(wl.raw),
        "pipelines.index_write_s": tracer.durations("operators.ivf.write_ivf")[-1],
    }


def curate_layers(wl: Curate, spark, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.functions import text as X
    from secure_agent_api_vector_search_spark.operators import dedup as D
    from secure_agent_api_vector_search_spark.operators.components import keep_first
    from secure_agent_api_vector_search_spark.operators.curation import (
        contamination_check,
        dataset_split,
    )
    from secure_agent_api_vector_search_spark.operators.textops import doc_quality
    from secure_agent_api_vector_search_spark.sources.ingest_formats import load_jsonl_documents

    t0 = now()
    docs, quarantine = load_jsonl_documents(spark, wl.dump)
    docs = docs.persist()
    docs.count()
    quarantine.count()
    ingest_s = now() - t0
    quality_s = _noop_write(doc_quality(docs))
    exact_kept = D.dedup_normalized_keep_first(docs).persist()
    exact_kept.count()
    norm = exact_kept.select("doc_id", X.normalized_text("text").alias("text"))
    t0 = now()
    pairs = D.minhash_near_dup_pairs(norm).persist()
    n_pairs = pairs.count()
    pairs_s = now() - t0
    n_cand = tracer.captured["operators.dedup.minhash_candidate_pairs"][-1].count()
    t0 = now()
    deduped = keep_first(exact_kept, pairs.select("id_a", "id_b"), id_col="doc_id").persist()
    deduped.count()
    cc_s = now() - t0
    contamination_s = _noop_write(contamination_check(deduped).filter(F.col("hit_frac") > 0.5))
    split_s = _noop_write(dataset_split(deduped))
    for frame in (docs, exact_kept, pairs, deduped):
        frame.unpersist()
    return {
        "sources.ingest_s": ingest_s,
        "textops.quality_s": quality_s,
        "dedup.minhash_pairs_s": pairs_s,
        "dedup.candidate_pairs": float(n_cand),
        "dedup.verified_over_candidates": n_pairs / n_cand if n_cand else 1.0,
        "components.cc_s": cc_s,
        "curation.contamination_s": contamination_s,
        "curation.split_s": split_s,
    }


def traced_run(name: str, agent: AgentMix, ingest: IngestIndex, curate: Curate,
               spark, cpus: int, spans_path: str) -> dict:
    """All per-layer metrics (see module docstring). The layer profile
    runs first and so also warms every code path the passes use."""
    sc = spark.sparkContext
    own = {"agent_mix": agent, "ingest_index": ingest, "curate": curate}[name]
    agent.setup_round(spark, 0, keep=True)
    tracer = Tracer()
    with tracer.installed():
        out = agent_layers(agent, spark, tracer)
        out.update(ingest_layers(ingest, spark, tracer, cpus))
        out.update(curate_layers(curate, spark, tracer))

    # untraced and traced passes alternate, after one untimed pass (the
    # first pass runs markedly slower); Spark numbers come from the
    # traced ones
    workload_pass(own, spark, None)
    pass_tracer = Tracer()
    untraced_s = traced_s = 0.0
    ops = 0
    jobs: set[int] = set()
    gc_s = 0.0
    for _ in range(PASS_PAIRS):
        untraced_s += workload_pass(own, spark, None)[0]
        jobs0 = set(runtime.job_ids(sc))
        gc0 = runtime.jvm_gc_s(sc)
        with pass_tracer.installed():
            dt, n = workload_pass(own, spark, pass_tracer)
        gc_s += runtime.jvm_gc_s(sc) - gc0
        jobs |= set(runtime.job_ids(sc)) - jobs0
        traced_s += dt
        ops += n
    out.update(spark_runtime(sc, sorted(jobs), traced_s, ops, cpus, gc_s))
    out["trace.overhead_share"] = (traced_s - untraced_s) / untraced_s
    pass_self = pass_tracer.self_time_by_layer()
    whole = tracer.self_time_by_layer()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = whole[layer] + pass_self[layer]
    with open(spans_path, "w", encoding="utf-8") as f:
        json.dump({"workload": name, "pass_ops": ops, "pass_self_s": pass_self,
                   "pass": pass_tracer.to_json(), "layers": tracer.to_json()}, f)
    return out

"""The three workloads. Each drives the engine only through its public
surfaces, checks every answer against the oracle, and returns raw
measurements; ``run.py`` turns them into metrics.

- ``AgentMix``: closed loop of client threads running fixed agent
  session scripts against the HTTP ``ToolGateway``.
- ``IngestIndex``: ``run_backfill_job`` -> ``build_and_write_index`` ->
  ``read_ivf`` + ``knn_join_ivf`` of held-out query vectors.
- ``Curate``: ``curate_corpus`` on a raw JSONL dump with planted defects.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from oracle import (
    Embedder,
    check_ranked,
    check_scored,
    cosine_scores,
    normalize_text,
    recall_at_k,
)

TOOLSET = "customer_data_tools_v3"
EXACT_TOOL = "find_similar_customer_records"
ANN_TOOL = "find_similar_customer_records_ann"
LOOKUP_TOOL = "get_record_by_id"
LOOKUP_FIELDS = ("doc_id", "lang", "source", "n_chars", "text")
LIMIT = 10
ANN_NPROBE = 8
LOOKUPS_PER_SESSION = 2
AGENT_DOCS = 2000
MAX_CLIENTS = 2
SESSIONS_PER_CLIENT = 400
INGEST_DOCS = 3000
JOIN_QUERIES = 1000
JOIN_K = 10
JOIN_NPROBE = 4
CURATE_DOCS = 2000
CURATE_SHARDS = 8
WARM_DOCS = 150
WARM_QUERIES = 100
SETUP_ROUNDS = 3
WARM_SESSIONS_PER_CLIENT = 4


def now() -> float:
    return time.perf_counter()


class Checks:
    """Thread-safe tally of attempted and failed operations; the first
    few failure descriptions are kept for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def record(self, error: str | None) -> None:
        with self._lock:
            self.attempted += 1
            if error is not None:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(error)


def _pos_of(ids) -> dict:
    return {int(i): p for p, i in enumerate(ids)}


# ---- agent_mix -----------------------------------------------------------

class AgentMix:
    def __init__(self, seed: int, work: str, clients: int) -> None:
        self.corpus = gen.make_corpus(seed, AGENT_DOCS, stream=0)
        self.sf_dir = os.path.join(work, "agent")
        gen.write_parquet(gen.docs_table(self.corpus), os.path.join(self.sf_dir, "documents.parquet"))
        self.script = gen.make_agent_script(seed, clients, SESSIONS_PER_CLIENT)
        self.embedder = Embedder()
        self.E = self.embedder.embed_many(self.corpus.texts)
        self.ids = self.corpus.ids
        self.pos_of = _pos_of(self.ids)
        self.pool_scores = [cosine_scores(self.E, self.embedder.embed(q)) for q in self.script.pool]
        # warm-up queries come from outside the pool so set-up cannot
        # pre-fill anything the measured script later asks for
        self.warm_queries = [" ".join(t.split()[:5]) for t in self.corpus.texts[gen.N_EVAL:gen.N_EVAL + 64]]
        self.gateway = None
        self.checks = Checks()

    def properties(self) -> dict:
        return {**self.corpus.properties(), **self.script.properties(),
                "limit": LIMIT, "nprobe": ANN_NPROBE}

    # -- transport
    def post(self, tool: str, params: dict) -> tuple[int, bytes, float]:
        """One invocation; a transport failure reads as status 0."""
        host, port = self.gateway.address
        t0 = now()
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            conn.request("POST", f"/api/tool/{tool}/invoke", body=json.dumps(params).encode(),
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, data, now() - t0
        except (OSError, http.client.HTTPException):
            return 0, b"", now() - t0
        finally:
            conn.close()

    @staticmethod
    def _rows(status: int, data: bytes) -> tuple[list | None, str | None]:
        if status != 200:
            return None, f"HTTP {status}"
        try:
            return json.loads(data)["result"], None
        except (ValueError, KeyError) as exc:
            return None, f"bad body: {exc!r}"

    def discover(self) -> str | None:
        host, port = self.gateway.address
        conn = http.client.HTTPConnection(host, port, timeout=60)
        try:
            conn.request("GET", f"/api/toolset/{TOOLSET}")
            resp = conn.getresponse()
            body = json.loads(resp.read())
        finally:
            conn.close()
        if resp.status != 200:
            return f"discovery: HTTP {resp.status}"
        missing = {EXACT_TOOL, ANN_TOOL, LOOKUP_TOOL} - set(body.get("tools", {}))
        return f"discovery: missing tools {sorted(missing)}" if missing else None

    # -- checked calls
    def search(self, query: str, exact: bool, scores=None) -> tuple[float, list[int], float | None]:
        """One search call, checked. Returns (latency, ids, recall or None)."""
        if scores is None:
            scores = cosine_scores(self.E, self.embedder.embed(query))
        params = {"query_text": query, "limit": LIMIT}
        if not exact:
            params["nprobe"] = ANN_NPROBE
        status, data, dt = self.post(EXACT_TOOL if exact else ANN_TOOL, params)
        rows, err = self._rows(status, data)
        if rows is None:
            self.checks.record(f"search {query!r}: {err}")
            return dt, [], None
        ids = [int(r["doc_id"]) for r in rows]
        sims = [float(r["similarity"]) for r in rows]
        for r in rows:
            p = self.pos_of.get(int(r["doc_id"]))
            if p is not None and (r["text"] != self.corpus.texts[p] or r["source"] != self.corpus.sources[p]):
                err = f"search: row {r['doc_id']} payload differs from the corpus"
        if exact:
            err = err or check_ranked(ids, sims, scores, self.ids, LIMIT, self.pos_of)
            recall = None
        else:
            err = err or check_scored(ids, sims, scores, self.pos_of)
            if err is None and len(ids) != LIMIT:
                err = f"ann search: {len(ids)} rows for limit {LIMIT}"
            recall = recall_at_k(ids, scores, self.pos_of, LIMIT)
        self.checks.record(err and f"{'exact' if exact else 'ann'} {query!r}: {err}")
        return dt, ids, recall

    def lookup(self, doc_id: int) -> float:
        status, data, dt = self.post(LOOKUP_TOOL, {"record_id": str(doc_id)})
        rows, err = self._rows(status, data)
        if rows is None:
            self.checks.record(f"lookup {doc_id}: {err}")
            return dt
        p = self.pos_of.get(doc_id)
        if p is None:
            self.checks.record(f"lookup {doc_id}: id not in the corpus")
            return dt
        want = {"doc_id": doc_id, "lang": "en", "source": self.corpus.sources[p],
                "n_chars": len(self.corpus.texts[p]), "text": self.corpus.texts[p]}
        if len(rows) != 1:
            err = f"lookup {doc_id}: {len(rows)} rows"
        elif {k: rows[0].get(k) for k in LOOKUP_FIELDS} != want:
            err = f"lookup {doc_id}: row differs from the generator's"
        self.checks.record(err)
        return dt

    def session(self, q: int, exact: bool, rec: dict) -> None:
        t0 = now()
        dt, ids, recall = self.search(self.script.pool[q], exact, self.pool_scores[q])
        rec["exact" if exact else "ann"].append(dt)
        rec["ends"].append(now())
        if recall is not None:
            rec["recall"].append(recall)
        for doc_id in ids[:LOOKUPS_PER_SESSION]:
            rec["lookup"].append(self.lookup(doc_id))
            rec["ends"].append(now())
        rec["session"].append(now() - t0)
        rec["queries"].append(q)

    # -- phases
    def setup_round(self, spark, r: int, keep: bool) -> float:
        from secure_agent_api_vector_search_spark.gateway import ToolGateway
        from secure_agent_api_vector_search_spark.toolset import invalidate_ann_store

        t0 = now()
        self.gateway = ToolGateway(spark, self.sf_dir, toolsets=(TOOLSET,)).start()
        self.checks.record(self.discover())
        invalidate_ann_store(self.sf_dir)  # every round pays the IVF build
        q = self.warm_queries[r % len(self.warm_queries)]
        if r == 0:  # the exact tool builds nothing; warming it once is enough
            self.search(q, True)
        _, ids, _ = self.search(q, False)  # builds the IVF store
        self.lookup(ids[0] if ids else 0)
        dt = now() - t0
        if not keep:
            self.gateway.stop()
            self.gateway = None
        return dt

    def closed_loop(self, seconds: float, session) -> float:
        """Each client calls ``session(client, i)`` for i = 0, 1, ...,
        starting a new session only while ``seconds`` have not passed.
        Returns the wall time until the last session ended."""
        deadline = now() + seconds

        def client(c: int) -> None:
            i = 0
            while now() < deadline:
                session(c, i)
                i += 1

        t0 = now()
        run_threads([lambda c=c: client(c) for c in range(len(self.script.sessions))])
        return now() - t0

    def warm_up(self, sessions_per_client: int) -> float:
        """A fixed number of concurrent sessions on warm-up queries: the
        first seconds of load run markedly slower than the rest."""

        def client(c: int) -> None:
            for i in range(sessions_per_client):
                q = self.warm_queries[(8 + c + i * len(self.script.sessions)) % len(self.warm_queries)]
                _, ids, _ = self.search(q, i % 3 == 0)
                for doc_id in ids[:LOOKUPS_PER_SESSION]:
                    self.lookup(doc_id)

        t0 = now()
        run_threads([lambda c=c: client(c) for c in range(len(self.script.sessions))])
        return now() - t0

    def measure(self, seconds: float) -> tuple[dict, float]:
        rec = new_record()
        t0 = now()
        wall = self.closed_loop(
            seconds, lambda c, i: self.session(*self.script.sessions[c][i % SESSIONS_PER_CLIENT], rec))
        half = t0 + wall / 2
        rec["calls_per_s_by_half"] = [
            sum(1 for t in rec["ends"] if (t < half) == first) / (wall / 2) for first in (True, False)
        ]
        return rec, wall

    def stop(self) -> None:
        if self.gateway is not None:
            self.gateway.stop()
            self.gateway = None


def new_record() -> dict:
    return {"exact": [], "ann": [], "lookup": [], "session": [], "recall": [], "queries": [],
            "ends": []}


def run_threads(fns) -> None:
    """Run callables on threads and re-raise the first exception."""
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


# ---- ingest_index --------------------------------------------------------

class IngestIndex:
    def __init__(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "ingest")
        self.corpus = gen.make_corpus(seed, INGEST_DOCS, stream=1)
        self.raw = os.path.join(self.dir, "raw_docs.parquet")
        gen.write_parquet(gen.docs_table(self.corpus), self.raw)
        self.q_ids, self.q_vecs = gen.make_join_queries(seed, JOIN_QUERIES)
        self.queries = os.path.join(self.dir, "queries.parquet")
        gen.write_queries(self.q_ids, self.q_vecs, self.queries)
        warm = gen.make_corpus(seed, WARM_DOCS, stream=11)
        self.warm_raw = os.path.join(self.dir, "warm", "raw_docs.parquet")
        gen.write_parquet(gen.docs_table(warm), self.warm_raw)
        self.warm_queries = os.path.join(self.dir, "warm", "queries.parquet")
        gen.write_queries(self.q_ids[:WARM_QUERIES], self.q_vecs[:WARM_QUERIES], self.warm_queries)
        self.E = Embedder().embed_many(self.corpus.texts)
        self.pos_of = _pos_of(self.corpus.ids)
        norms = np.linalg.norm(self.E, axis=1)[None, :] * np.linalg.norm(self.q_vecs, axis=1)[:, None]
        self.S = np.divide(self.q_vecs @ self.E.T, norms, out=np.zeros((len(self.q_vecs), len(self.E))),
                           where=norms > 0)
        self.checks = Checks()

    def properties(self) -> dict:
        return {**self.corpus.properties(), "join_queries": JOIN_QUERIES, "k": JOIN_K,
                "nprobe": JOIN_NPROBE}

    def cycle(self, spark, raw: str, queries: str, tag: str, check: bool) -> dict:
        from secure_agent_api_vector_search_spark.operators.ivf import read_ivf
        from secure_agent_api_vector_search_spark.operators.knn import knn_join_ivf
        from secure_agent_api_vector_search_spark.pipelines import (
            build_and_write_index,
            run_backfill_job,
        )

        emb_out = os.path.join(self.dir, f"embedded-{tag}")
        idx = os.path.join(self.dir, f"index-{tag}")
        t0 = now()
        n = run_backfill_job(spark, raw, emb_out)
        t1 = now()
        n_lists = build_and_write_index(spark, emb_out, idx, id_col="doc_id")
        t2 = now()
        index = read_ivf(spark, idx, id_col="doc_id")
        rows = knn_join_ivf(index, spark.read.parquet(queries), k=JOIN_K, nprobe=JOIN_NPROBE).collect()
        t3 = now()
        out = {"backfill_s": t1 - t0, "index_s": t2 - t1, "join_s": t3 - t2, "cycle_s": t3 - t0,
               "n_lists": n_lists, "emb_out": emb_out}
        if check:
            out["recall"] = self.check(n, emb_out, rows)
        return out

    def check(self, n: int, emb_out: str, rows) -> float:
        c = self.checks
        c.record(None if n == len(self.corpus.texts) else f"backfill wrote {n} rows")
        t = pq.read_table(emb_out, columns=["doc_id", "embedding"])
        got = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        pos = np.array([self.pos_of[int(i)] for i in t.column("doc_id").to_pylist()])
        err = float(np.abs(got - self.E[pos]).max()) if len(pos) else 0.0
        c.record(None if err <= 1e-9 and len(pos) == n else f"backfill embeddings differ by {err}")
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["q_id"]), []).append(r)
        recalls = []
        for q in range(len(self.q_ids)):
            got_rows = sorted(by_q.get(q, []), key=lambda r: r["rank"])
            ids = [int(r["neighbor_id"]) for r in got_rows]
            sims = [float(r["similarity"]) for r in got_rows]
            e = None
            if [r["rank"] for r in got_rows] != list(range(1, len(got_rows) + 1)) or len(got_rows) > JOIN_K:
                e = f"query {q}: bad ranks"
            e = e or check_scored(ids, sims, self.S[q], self.pos_of)
            c.record(e and f"knn query {q}: {e}")
            recalls.append(recall_at_k(ids, self.S[q], self.pos_of, JOIN_K))
        return float(np.mean(recalls))


# ---- curate ----------------------------------------------------------------

class Curate:
    def __init__(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "curate")
        self.corpus = gen.make_corpus(seed, CURATE_DOCS, stream=2)
        self.dump = os.path.join(self.dir, "raw.jsonl")
        self.bad_ids = gen.write_jsonl(self.corpus, self.dump, seed)
        warm = gen.make_corpus(seed, WARM_DOCS, stream=12)
        self.warm_dump = os.path.join(self.dir, "warm", "raw.jsonl")
        gen.write_jsonl(warm, self.warm_dump, seed + 1)
        self.checks = Checks()
        self.ref_counts: dict | None = None

    def properties(self) -> dict:
        return {**self.corpus.properties(), "corrupt_lines": len(self.bad_ids), "shards": CURATE_SHARDS}

    def rep(self, spark, dump: str, out: str, check: bool) -> dict:
        from secure_agent_api_vector_search_spark.pipelines import curate_corpus

        t0 = now()
        counts = curate_corpus(spark, dump, out, n_shards=CURATE_SHARDS)
        res = {"rep_s": now() - t0, "counts": counts}
        if check:
            res["recall"] = self.check(counts, out)
        return res

    def check(self, counts: dict, out: str) -> float:
        c = self.checks
        if self.ref_counts is None:
            self.ref_counts = counts
        c.record(None if counts == self.ref_counts else f"stage counts changed: {counts} vs {self.ref_counts}")
        c.record(None if counts.get("ingested") == len(self.corpus.texts)
                 and counts.get("quarantined") == len(self.bad_ids)
                 else f"ingest counts {counts.get('ingested')}/{counts.get('quarantined')}")
        kept: list[tuple[int, str]] = []
        for part in ("train_shards", "val", "test", "eval_reserved"):
            path = os.path.join(out, part)
            if os.path.isdir(path):
                t = pq.read_table(path, columns=["doc_id", "text"])
                kept.extend(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        n_out = sum(counts.get(k, 0) for k in ("split_train", "split_val", "split_test", "eval_reserved"))
        c.record(None if len(kept) == n_out else f"{len(kept)} docs written, counts say {n_out}")
        norm = [normalize_text(t) for _, t in kept]
        c.record(None if len(set(norm)) == len(norm)
                 else f"{len(norm) - len(set(norm))} kept docs share a normalised text")
        kept_ids = {int(i) for i, _ in kept}
        leaked = [i for i in self.corpus.planted["eval_overlap"] if i in kept_ids]
        c.record(None if not leaked else f"eval-overlap docs kept: {leaked[:5]}")
        near = self.corpus.planted["near_dup"]
        return sum(i not in kept_ids for i in near) / len(near)

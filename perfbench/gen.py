"""Seeded input generator for every workload — numpy and pyarrow only, so
the inputs stay fixed whatever the engine does.

One seed gives byte-identical files. Documents are bags of words drawn
from a Zipf-distributed synthetic vocabulary with English stopwords
mixed in (the engine's quality score counts them). Planted categories
give every curation stage something to drop:

- ``exact_dup``: a copy of a base document, verbatim or case/punctuation
  changed (same normalised text);
- ``near_dup``: a copy with about 6% of its tokens replaced;
- ``short``: 3-8 tokens, below the token floor;
- ``low_quality``: long but without stopwords, below the quality floor;
- ``eval_overlap``: a long window of an eval document (doc_id < 20, the
  slice ``curate_corpus`` reserves) plus fresh tokens, so its 8-grams
  overlap the eval slice while it stays under the near-dup threshold.

Planted documents always get larger ids than their sources, so the
keep-smallest-id rule keeps the original.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import DIM, Embedder

VOCAB_SIZE = 4000
ZIPF_S = 1.1
STOP_SHARE = 0.4
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
N_EVAL = 20  # curate_corpus's default eval_max_id
N_SOURCES = 8
PLANT_SHARES = {"exact_dup": 0.03, "near_dup": 0.03, "short": 0.02, "low_quality": 0.02}
N_EVAL_OVERLAP = 10
QUERY_POOL = 1024
QUERY_ZIPF_S = 1.1
# sessions one measured agent_mix run completes (15 s, two clients, 4-core
# x86 box: 25-28); the script's repeat share is the one independent
# Zipf draws give over that many sessions
MEASURED_SESSIONS = 26
N_CORRUPT_LINES = 5

_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


@dataclass
class Corpus:
    ids: np.ndarray
    texts: list[str]
    sources: list[str]
    planted: dict[str, list[int]] = field(default_factory=dict)

    def properties(self) -> dict:
        return {
            "docs": len(self.texts),
            "dim": DIM,
            "vocab": VOCAB_SIZE,
            "zipf_s": ZIPF_S,
            "stop_share": STOP_SHARE,
            "planted": {k: len(v) for k, v in self.planted.items()},
        }


class _Words:
    """Zipf sampler over a seeded synthetic vocabulary."""

    def __init__(self, rng: np.random.Generator) -> None:
        words: list[str] = []
        seen = set(STOPWORDS)
        while len(words) < VOCAB_SIZE:
            n_syl = int(rng.integers(2, 5))
            w = "".join(
                _CONS[int(rng.integers(len(_CONS)))] + _VOWELS[int(rng.integers(len(_VOWELS)))]
                for _ in range(n_syl)
            )
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.vocab = np.array(words, dtype=object)
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.stops = np.array(STOPWORDS, dtype=object)

    def draw(self, rng: np.random.Generator, n: int, stop_share: float = STOP_SHARE) -> list[str]:
        idx = np.minimum(np.searchsorted(self.cdf, rng.random(n)), VOCAB_SIZE - 1)
        toks = self.vocab[idx]
        stop = rng.random(n) < stop_share
        toks[stop] = self.stops[rng.integers(0, len(self.stops), int(stop.sum()))]
        return list(toks)


def make_corpus(seed: int, n_docs: int, stream: int = 0) -> Corpus:
    """``n_docs`` documents: base documents first (ids 0..), then the
    planted ones in a seeded order. ``stream`` separates the corpora two
    workloads draw from one seed."""
    rng = np.random.default_rng([seed, stream, 1])
    words = _Words(rng)
    n_plant = {k: max(1, int(round(s * n_docs))) for k, s in PLANT_SHARES.items()}
    n_plant["eval_overlap"] = N_EVAL_OVERLAP
    n_base = n_docs - sum(n_plant.values())
    if n_base <= N_EVAL + 10:
        raise ValueError(f"corpus of {n_docs} docs leaves too few base docs")
    base = [
        words.draw(rng, int(rng.integers(150, 171) if i < N_EVAL else rng.integers(80, 161)))
        for i in range(n_base)
    ]
    planted: list[tuple[str, list[str]]] = []
    for _ in range(n_plant["exact_dup"]):
        src = list(base[int(rng.integers(N_EVAL, n_base))])
        if rng.random() < 0.5:
            src = [t.upper() if j % 7 == 0 else t for j, t in enumerate(src)] + ["!!!"]
        planted.append(("exact_dup", src))
    for _ in range(n_plant["near_dup"]):
        toks = list(base[int(rng.integers(N_EVAL, n_base))])
        n_sub = max(1, int(round(0.06 * len(toks))))
        for j, w in zip(rng.choice(len(toks), n_sub, replace=False), words.draw(rng, n_sub, 0.0)):
            toks[int(j)] = w
        planted.append(("near_dup", toks))
    for _ in range(n_plant["short"]):
        planted.append(("short", words.draw(rng, int(rng.integers(3, 9)))))
    for _ in range(n_plant["low_quality"]):
        planted.append(("low_quality", words.draw(rng, int(rng.integers(60, 101)), 0.0)))
    for i in range(n_plant["eval_overlap"]):
        ev = base[i % N_EVAL]
        start = int(rng.integers(0, len(ev) - 80 + 1))
        planted.append(("eval_overlap", ev[start:start + 80] + words.draw(rng, 40)))
    order = rng.permutation(len(planted))
    texts = [" ".join(t) for t in base]
    kinds: dict[str, list[int]] = {k: [] for k in n_plant}
    for j in order:
        kind, toks = planted[int(j)]
        kinds[kind].append(len(texts))
        texts.append(" ".join(toks))
    sources = [f"src{int(s)}" for s in rng.integers(0, N_SOURCES, len(texts))]
    return Corpus(np.arange(len(texts), dtype=np.int64), texts, sources, kinds)


def docs_table(c: Corpus) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(c.ids, pa.int64()),
        "text": pa.array(c.texts, pa.string()),
        "lang": pa.array(["en"] * len(c.texts), pa.string()),
        "source": pa.array(c.sources, pa.string()),
        "n_chars": pa.array([len(t) for t in c.texts], pa.int64()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_jsonl(c: Corpus, path: str, seed: int) -> list[int]:
    """The raw dump: one JSON object per line, with ``N_CORRUPT_LINES``
    truncated lines at seeded positions. Returns the truncated lines'
    would-be ids."""
    rng = np.random.default_rng([seed, 9])
    lines = [
        json.dumps({"doc_id": int(i), "text": t, "lang": "en", "source": s, "n_chars": len(t)})
        for i, t, s in zip(c.ids, c.texts, c.sources)
    ]
    bad_ids = [len(lines) + j for j in range(N_CORRUPT_LINES)]
    for bid, pos in zip(bad_ids, sorted(rng.choice(len(lines), N_CORRUPT_LINES, replace=False))):
        lines.insert(int(pos), json.dumps({"doc_id": bid, "text": "truncated line"})[:24])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return bad_ids


def zipf_repeat_share(pool: int, s: float, n: int) -> float:
    """Expected share of ``n`` independent Zipf(``s``) draws over ``pool``
    items that repeat an earlier draw: 1 - E[distinct] / n, with
    E[distinct] = sum_j 1 - (1 - p_j)^n."""
    p = 1.0 / np.arange(1, pool + 1) ** s
    p /= p.sum()
    return float(1.0 - (1.0 - (1.0 - p) ** n).sum() / n)


REPEAT_SHARE = zipf_repeat_share(QUERY_POOL, QUERY_ZIPF_S, MEASURED_SESSIONS)


@dataclass
class AgentScript:
    pool: list[str]
    # per client: (query index into pool, exact?) per session
    sessions: list[list[tuple[int, bool]]]

    def properties(self) -> dict:
        flat = [s for rnd in zip(*self.sessions) for s in rnd]
        seen: set[int] = set()
        repeats = 0
        for q, _ in flat:
            repeats += q in seen
            seen.add(q)
        return {
            "query_pool": len(self.pool),
            "query_zipf_s": QUERY_ZIPF_S,
            "repeat_share_target": REPEAT_SHARE,
            "clients": len(self.sessions),
            "sessions_per_client": len(self.sessions[0]) if self.sessions else 0,
            "exact_share": sum(e for _, e in flat) / max(1, len(flat)),
            "script_repeat_share": repeats / max(1, len(flat)),
        }


def make_agent_script(seed: int, clients: int, sessions_per_client: int) -> AgentScript:
    """A pool of short keyword queries and, per client, a fixed session
    list. Sessions are laid out in one global order (round robin over the
    clients); session ``j`` of it repeats an earlier query exactly when
    ``floor((j + 1) * REPEAT_SHARE) > floor(j * REPEAT_SHARE)``, so every
    prefix of the script has the same repeat share whatever the seed. A
    repeat is chosen Zipf over the queries in order of first use; any
    other session takes the next unused query. Each client's list has
    exactly one exact search in every block of three sessions."""
    rng = np.random.default_rng([seed, 2])
    words = _Words(np.random.default_rng([seed, 0, 1]))
    pool: list[str] = []
    while len(pool) < QUERY_POOL:
        q = " ".join(words.draw(rng, int(rng.integers(3, 7)), 0.0))
        if q not in pool:
            pool.append(q)
    total = clients * sessions_per_client
    zipf = 1.0 / np.arange(1, total + 1) ** QUERY_ZIPF_S
    order: list[int] = []
    fresh = 0
    for j in range(total):
        repeat = int((j + 1) * REPEAT_SHARE) > int(j * REPEAT_SHARE)
        if (repeat and fresh > 0) or fresh == len(pool):
            w = zipf[:fresh] / zipf[:fresh].sum()
            order.append(int(rng.choice(fresh, p=w)))
        else:
            order.append(fresh)
            fresh += 1
    sessions = []
    for c in range(clients):
        exact = np.zeros(sessions_per_client, dtype=bool)
        for b in range(0, sessions_per_client, 3):
            exact[b + int(rng.integers(0, min(3, sessions_per_client - b)))] = True
        sessions.append([(order[j * clients + c], bool(exact[j])) for j in range(sessions_per_client)])
    return AgentScript(pool, sessions)


def make_join_queries(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Held-out query vectors: documents drawn like the corpus but never
    written to it, embedded with the oracle embedder."""
    rng = np.random.default_rng([seed, 3])
    words = _Words(np.random.default_rng([seed, 1, 1]))
    emb = Embedder()
    texts = [" ".join(words.draw(rng, int(rng.integers(40, 121)))) for _ in range(n)]
    return np.arange(n, dtype=np.int64), emb.embed_many(texts)


def write_queries(ids: np.ndarray, vecs: np.ndarray, path: str) -> None:
    write_parquet(
        pa.table({
            "q_id": pa.array(ids, pa.int64()),
            "q_vec": pa.array(list(vecs), pa.list_(pa.float64())),
        }),
        path,
    )

"""The benchmark's own oracle: an independent numpy re-implementation of
the hashing embedder, exact cosine top-k, the curation text
normalisation, and the statistics rules the report uses.

Nothing here imports the engine, so a change to the engine cannot move
the yardstick it is checked against.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

DIM = 64
SIM_TOL = 1e-9


class Embedder:
    """Hash-bucket bag of words: token -> md5, first 8 bytes read
    little-endian, mod ``dim``; counts; L2-normalised. Token buckets are
    memoised per instance (the vocabulary is far smaller than the token
    stream)."""

    def __init__(self, dim: int = DIM) -> None:
        self.dim = dim
        self._bucket: dict[str, int] = {}

    def bucket(self, token: str) -> int:
        b = self._bucket.get(token)
        if b is None:
            h = hashlib.md5(token.encode("utf-8")).digest()
            b = self._bucket[token] = int.from_bytes(h[:8], "little") % self.dim
        return b

    def embed(self, text: str) -> np.ndarray:
        v = np.zeros(self.dim)
        for tok in text.lower().split():
            v[self.bucket(tok)] += 1.0
        n = math.sqrt(float((v * v).sum()))
        return v / n if n > 0 else v

    def embed_many(self, texts) -> np.ndarray:
        return np.stack([self.embed(t) for t in texts]) if len(texts) else np.zeros((0, self.dim))


def cosine_scores(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``mat`` against ``q`` (zero rows score 0)."""
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    dots = mat @ q
    return np.divide(dots, norms, out=np.zeros_like(dots), where=norms > 0)


def topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the top ``k`` by (score desc, id asc) — the engine's
    documented total order."""
    return np.lexsort((ids, -scores))[:k]


def check_ranked(ret_ids, ret_sims, scores: np.ndarray, ids: np.ndarray, k: int,
                 pos_of: dict) -> str | None:
    """Exact-search contract: the returned ids and order are the oracle's
    top ``k`` and every similarity matches within ``SIM_TOL``. Rows whose
    oracle scores tie within the tolerance may swap. Returns a mismatch
    description, or None when the answer is correct."""
    exp = topk(scores, ids, k)
    if len(ret_ids) != len(exp):
        return f"expected {len(exp)} rows, got {len(ret_ids)}"
    if len(set(ret_ids)) != len(ret_ids):
        return "duplicate ids in result"
    for i, (rid, rsim) in enumerate(zip(ret_ids, ret_sims)):
        p = pos_of.get(rid)
        if p is None:
            return f"unknown id {rid}"
        if abs(scores[p] - rsim) > SIM_TOL:
            return f"id {rid}: similarity {rsim!r} != oracle {scores[p]!r}"
        if rid != ids[exp[i]] and abs(scores[p] - scores[exp[i]]) > SIM_TOL:
            return f"rank {i}: id {rid} where oracle has {ids[exp[i]]}"
    return None


def check_scored(ret_ids, ret_sims, scores: np.ndarray, pos_of: dict) -> str | None:
    """Approximate-search contract: whatever is returned is ordered by
    similarity and each similarity is the oracle's for that id, each id
    once."""
    if len(set(ret_ids)) != len(ret_ids):
        return "duplicate ids in result"
    for rid, rsim in zip(ret_ids, ret_sims):
        p = pos_of.get(rid)
        if p is None:
            return f"unknown id {rid}"
        if abs(scores[p] - rsim) > SIM_TOL:
            return f"id {rid}: similarity {rsim!r} != oracle {scores[p]!r}"
    if any(a < b - SIM_TOL for a, b in zip(ret_sims, ret_sims[1:])):
        return "result not ordered by similarity"
    return None


def recall_at_k(ret_ids, scores: np.ndarray, pos_of: dict, k: int) -> float:
    """Share of the true top ``k`` found; an id tying the k-th oracle
    score within the tolerance counts as a hit."""
    if k <= 0:
        return 1.0
    kth = np.partition(scores, len(scores) - k)[len(scores) - k] if len(scores) >= k else -np.inf
    hits = sum(1 for r in ret_ids[:k] if r in pos_of and scores[pos_of[r]] >= kth - SIM_TOL)
    return hits / min(k, len(scores))


_NON_ALNUM = re.compile(r"[^a-z0-9 ]")
_SPACES = re.compile(r" +")


def normalize_text(text: str) -> str:
    """Curation's near-exact dedup key: lowercase, drop everything but
    [a-z0-9 ], collapse spaces, trim."""
    return _SPACES.sub(" ", _NON_ALNUM.sub("", text.lower())).strip()


def tail_rank(n: int) -> tuple[float, int]:
    """The highest nearest-rank percentile with at least ten samples above
    it, for ``n`` samples: returns (percentile, 1-based rank). Below 11
    samples no percentile qualifies and the maximum (100, n) is used."""
    if n < 11:
        return 100.0, n
    p = math.floor(100 * (n - 10) / n)
    return float(p), max(1, math.ceil(p * n / 100))


def latency_summary(samples_s) -> dict:
    """Median and tail (see :func:`tail_rank`) in ms, with the sample
    count and the tail's percentile."""
    xs = sorted(samples_s)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50_ms": float("nan"), "tail_ms": float("nan"), "tail_pct": 100.0}
    pct, rank = tail_rank(n)
    return {
        "n": n,
        "p50_ms": 1000.0 * float(np.median(xs)),
        "tail_ms": 1000.0 * xs[rank - 1],
        "tail_pct": pct,
    }

"""Self-tests of the benchmark's generator, oracle and statistics rules.
They import no engine code and start no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from oracle import (  # noqa: E402
    Embedder,
    check_ranked,
    check_scored,
    cosine_scores,
    normalize_text,
    recall_at_k,
    tail_rank,
)


def _write_inputs(seed: int, out: str) -> None:
    c = gen.make_corpus(seed, 400, stream=0)
    gen.write_parquet(gen.docs_table(c), os.path.join(out, "documents.parquet"))
    gen.write_jsonl(c, os.path.join(out, "raw.jsonl"), seed)
    ids, vecs = gen.make_join_queries(seed, 50)
    gen.write_queries(ids, vecs, os.path.join(out, "queries.parquet"))
    s = gen.make_agent_script(seed, 2, 30)
    with open(os.path.join(out, "script.txt"), "w") as f:
        f.write(repr((s.pool, s.sessions)))


def _read_all(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d in (a, b, c):
        os.makedirs(d)
    _write_inputs(7, a)
    _write_inputs(7, b)
    _write_inputs(8, c)
    assert _read_all(a) == _read_all(b)
    assert _read_all(a)["documents.parquet"] != _read_all(c)["documents.parquet"]


def test_generator_plants_every_category_after_its_sources():
    c = gen.make_corpus(3, 600, stream=2)
    assert {k: len(v) for k, v in c.planted.items()} == {
        "exact_dup": 18, "near_dup": 18, "short": 12, "low_quality": 12, "eval_overlap": 10}
    n_base = len(c.texts) - sum(len(v) for v in c.planted.values())
    assert all(i >= n_base for v in c.planted.values() for i in v)
    norm = [normalize_text(t) for t in c.texts]
    for i in c.planted["exact_dup"]:
        assert norm.index(norm[i]) < n_base


def test_script_fixes_exact_share_and_repeat_share():
    s = gen.make_agent_script(5, 3, 40)
    for sessions in s.sessions:
        flags = [e for _, e in sessions]
        assert all(sum(flags[b:b + 3]) == 1 for b in range(0, 39, 3))
    flat = [q for rnd in zip(*s.sessions) for q, _ in rnd]
    seen: set[int] = set()
    repeats = []
    for q in flat:
        repeats.append(q in seen)
        seen.add(q)
    # every prefix of the global order has floor(n * share) repeats
    assert all(sum(repeats[:n]) == int(n * gen.REPEAT_SHARE) for n in range(1, len(flat) + 1))


def test_zipf_repeat_share_matches_hand_computed_case():
    # two equally likely items (s = 0), two draws: E[distinct] = 2 * (1 - 1/4)
    assert gen.zipf_repeat_share(2, 0.0, 2) == 0.25
    assert gen.zipf_repeat_share(1, 1.1, 4) == 0.75
    assert 0.2 < gen.REPEAT_SHARE < 0.35


def test_embedder_matches_hand_computed_case():
    # md5("a") = 0cc175b9..., md5("b") = 92eb5ffe...; the first 8 bytes
    # read little-endian have low byte 0x0c and 0x92, and 256 is a
    # multiple of 4 and 64, so the buckets are 0x0c % d and 0x92 % d.
    v4 = Embedder(4).embed("a B a")
    assert np.allclose(v4, np.array([2.0, 0.0, 1.0, 0.0]) / math.sqrt(5.0), atol=0, rtol=1e-15)
    v64 = Embedder(64).embed("a b")
    want = np.zeros(64)
    want[12] = want[18] = 1.0 / math.sqrt(2.0)
    assert np.array_equal(v64, want)
    assert not Embedder(8).embed("   ").any()


def test_exact_check_accepts_ties_and_rejects_wrong_order():
    mat = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [1.0, 1.0]])
    ids = np.array([10, 11, 12, 13])
    pos = {10: 0, 11: 1, 12: 2, 13: 3}
    s = cosine_scores(mat, np.array([1.0, 0.0]))
    assert np.allclose(s, [1.0, 0.0, 1.0, 1 / math.sqrt(2)])
    assert check_ranked([10, 12, 13], list(s[[0, 2, 3]]), s, ids, 3, pos) is None
    # tied ids 10 and 12 may swap; 13 may not jump ahead of them
    assert check_ranked([12, 10, 13], list(s[[2, 0, 3]]), s, ids, 3, pos) is None
    assert check_ranked([13, 10, 12], list(s[[3, 0, 2]]), s, ids, 3, pos) is not None
    assert check_ranked([10, 12, 13], [1.0, 1.0, 0.7], s, ids, 3, pos) is not None
    assert recall_at_k([10, 11], s, pos, 2) == 0.5
    assert check_scored([10, 13], list(s[[0, 3]]), s, pos) is None
    assert check_scored([10, 10], list(s[[0, 0]]), s, pos) is not None
    assert check_scored([13, 10], list(s[[3, 0]]), s, pos) is not None


def test_tail_percentile_rule():
    assert tail_rank(100) == (90.0, 90)
    assert tail_rank(1000) == (99.0, 990)
    assert tail_rank(45) == (77.0, 35)
    assert tail_rank(11) == (9.0, 1)
    assert tail_rank(10) == (100.0, 10)
    for n in range(11, 400):
        pct, rank = tail_rank(n)
        # ten samples beyond it, and the next whole percentile has fewer
        assert n - rank >= 10
        assert n - math.ceil((pct + 1) * n / 100) < 10


def test_normalize_text():
    assert normalize_text("  Hello,  World!! ") == "hello world"

"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, cpu, data, stats


def test_percentile_refuses_thin_tail():
    xs = [float(i) for i in range(100)]
    assert stats.percentile(xs, 90) == 89.0  # exactly 10 samples beyond
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(xs[:99], 90)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0] * 10, 50)


def test_highest_percentile_steps_down():
    assert stats.highest_percentile([float(i) for i in range(1000)])[0] == 99
    assert stats.highest_percentile([float(i) for i in range(100)])[0] == 90
    assert stats.highest_percentile([float(i) for i in range(40)])[0] == 75
    assert stats.highest_percentile([1.0, 2.0, 3.0]) is None


def _corpus(seed=0, n=300, dim=16):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    return [f"r{i}" for i in range(n)], vecs, checks.dequantized(vecs)


def _true_topk(content, vecs, deq, q, k):
    s = checks.cosines(deq, q)
    order = np.argsort(-s)[:k]
    return [(content[i], float(s[i])) for i in order]


def test_topk_check_accepts_brute_force_answer():
    content, vecs, deq = _corpus()
    q = vecs[3] + 0.05
    res = _true_topk(content, vecs, deq, q, 10)
    assert checks.check_topk(res, content, deq, vecs, q, 10) == []


def test_topk_check_flags_planted_wrong_row():
    content, vecs, deq = _corpus()
    q = vecs[3] + 0.05
    res = _true_topk(content, vecs, deq, q, 10)
    s = checks.cosines(deq, q)
    worst = int(np.argmin(s))
    planted = res[1:] + [(content[worst], float(s[worst]))]  # drop the best
    planted.sort(key=lambda r: -r[1])
    problems = checks.check_topk(planted, content, deq, vecs, q, 10)
    assert any("below the k-th score" in p for p in problems)
    assert any("missing from the top-10" in p for p in problems)


def test_topk_check_flags_wrong_score_and_count():
    content, vecs, deq = _corpus()
    q = vecs[7]
    res = _true_topk(content, vecs, deq, q, 10)
    bad = [(res[0][0], res[0][1] + 0.01)] + res[1:]
    assert any("recomputed" in p for p in checks.check_topk(bad, content, deq, vecs, q, 10))
    assert any("returned 9 rows" in p
               for p in checks.check_topk(res[:9], content, deq, vecs, q, 10))


def test_dequantized_error_within_bound():
    _content, vecs, deq = _corpus()
    span = vecs.max(axis=1) - vecs.min(axis=1)
    assert np.all(np.abs(deq - vecs).max(axis=1) <= span / 510 + 1e-6)


def test_same_ranking_tolerates_ties_only():
    a = [("x", 0.9), ("y", 0.8), ("z", 0.8)]
    assert checks.check_same_ranking(a, [("x", 0.9), ("z", 0.8), ("y", 0.8)]) == []
    assert checks.check_same_ranking(a, [("w", 0.9), ("y", 0.8), ("z", 0.8)]) != []


def test_compare_frames():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    b = pd.DataFrame({"v": [0.25, 0.5], "k": [2, 1]})
    assert checks.compare_frames(a, b) == []
    assert checks.compare_frames(a, b.assign(v=[0.25, 0.6])) != []
    assert checks.compare_frames(a, b.iloc[:1]) != []


def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


@pytest.mark.parametrize("make", [
    lambda seed: data.serve_corpus(seed, 500, 32),
    lambda seed: data.churn_base(seed, 300, 16),
    lambda seed: data.churn_cycle(seed, 2, 3, 50, 16),
])
def test_inputs_follow_the_seed(make):
    assert _same(make(5), make(5))
    assert not _same(make(5), make(6))


def test_catalog_tables_follow_the_seed():
    a, b, c = (data.catalog_tables(s, 0.0005) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert any(not a[t].equals(c[t]) for t in a)


def test_serve_layout_is_seed_independent():
    a, b = data.serve_corpus(1, 1000, 8), data.serve_corpus(2, 1000, 8)
    sizes = [sorted(pd.Series([tuple(t) for t in x["tags"]]).value_counts()) for x in (a, b)]
    assert sizes[0] == sizes[1]
    assert a["query_tags"] == b["query_tags"]


def test_serve_queries_are_distinct():
    qs = data.serve_corpus(3, 500, 16)["queries"]
    assert len(np.unique(qs, axis=0)) == len(qs) >= 1024


def _spin(seconds):
    t0 = time.process_time()
    while time.process_time() - t0 < seconds:
        pass


def test_cpu_counts_this_process_and_reaped_children():
    before = cpu.seconds()
    _spin(0.3)
    mid = cpu.seconds()
    assert mid - before >= 0.25
    child = subprocess.run([sys.executable, "-c",
                            "import time\nt=time.process_time()\n"
                            "while time.process_time()-t<0.3: pass"])
    assert child.returncode == 0
    assert cpu.seconds() - mid >= 0.25

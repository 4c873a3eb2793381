"""Untimed output checks. Each returns a list of problems (empty = pass).

The search checks recompute the answer independently of the program:
vectors are quantized here with victor's 8-bit scheme (per-vector min/max,
255 bins), dequantized, and scored by brute force in numpy.
"""

from __future__ import annotations

import math

import numpy as np

# score agreement between the program's cosine and the numpy recomputation
# of the same dequantized vectors (float32 range endpoints, summation order)
SCORE_TOL = 1e-4
# a returned score may differ from the exact (unquantized) cosine by at most
# this much: 8-bit quantization error is <= span/510 per element
QUANT_BOUND = 0.02


def dequantized(vecs: np.ndarray) -> np.ndarray:
    """Quantize each row to 256 bins over its own [min, max] and map back."""
    v = vecs.astype(np.float64)
    lo = v.min(axis=1, keepdims=True).astype(np.float32).astype(np.float64)
    hi = v.max(axis=1, keepdims=True).astype(np.float32).astype(np.float64)
    vlo, vhi = v.min(axis=1, keepdims=True), v.max(axis=1, keepdims=True)
    span = np.where(vhi - vlo == 0, 1.0, vhi - vlo)
    bins = np.clip(np.floor((v - vlo) / span * 255.0 + 0.5), 0, 255)
    return lo + bins / 255.0 * (hi - lo)


def cosines(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    q = q.astype(np.float64)
    return mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))


def check_topk(returned: list[tuple[str, float]], candidates: list[str],
               deq: np.ndarray, exact: np.ndarray, q: np.ndarray,
               k: int) -> list[str]:
    """``returned`` is the program's [(content, score)] for one search; the
    candidates are the contents the tag filter admits, row-aligned with
    their dequantized (``deq``) and original (``exact``) vectors.

    Passes when the returned rows are a valid top-k of the brute-force
    ranking: the right count, admissible rows only, each score within
    SCORE_TOL of the recomputed one and within QUANT_BOUND of the exact
    cosine, and nothing left out that beats the k-th score by more than
    SCORE_TOL (ties at the k-th score may go either way)."""
    problems = []
    pos = {c: i for i, c in enumerate(candidates)}
    want = min(k, len(candidates))
    if len(returned) != want:
        problems.append(f"returned {len(returned)} rows, expected {want}")
    if not candidates:
        return problems
    s_deq = cosines(deq, q)
    s_exact = cosines(exact, q)
    kth = np.sort(s_deq)[::-1][want - 1]
    got = set()
    for content, score in returned:
        i = pos.get(content)
        if i is None:
            problems.append(f"{content!r} is not admitted by the filter")
            continue
        got.add(i)
        if not abs(score - s_deq[i]) <= SCORE_TOL:
            problems.append(f"{content!r} score {score} != recomputed {s_deq[i]:.6f}")
        if not abs(score - s_exact[i]) <= QUANT_BOUND:
            problems.append(f"{content!r} score {score} off exact {s_exact[i]:.6f}")
        if s_deq[i] < kth - SCORE_TOL:
            problems.append(f"{content!r} ({s_deq[i]:.6f}) is below the k-th score {kth:.6f}")
    for i in np.flatnonzero(s_deq > kth + SCORE_TOL):
        if i not in got:
            problems.append(f"{candidates[i]!r} ({s_deq[i]:.6f}) missing from the top-{k}")
    scores = [s for _c, s in returned]
    if scores != sorted(scores, reverse=True):
        problems.append("results are not in descending score order")
    return problems


def check_same_ranking(a: list[tuple[str, float]], b: list[tuple[str, float]]) -> list[str]:
    """Two rankings of the same query agree: equal scores position by
    position, and equal contents wherever the score is not tied."""
    if len(a) != len(b):
        return [f"lengths differ: {len(a)} vs {len(b)}"]
    problems = []
    scores = [s for _c, s in a]
    for i, ((ca, sa), (cb, sb)) in enumerate(zip(a, b)):
        if not math.isclose(sa, sb, rel_tol=1e-9, abs_tol=1e-12):
            problems.append(f"rank {i + 1}: score {sa} vs {sb}")
        elif ca != cb and scores.count(sa) == 1:
            problems.append(f"rank {i + 1}: {ca!r} vs {cb!r}")
    return problems


def _canon_rows(df) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_canon_value(v) for v in r) for r in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(repr(v) for v in r))


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.floating, float)):
        return round(float(v), 6)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None)
    return v if isinstance(v, (int, str, bytes)) else str(v)


def compare_frames(spark_pdf, oracle_pdf) -> list[str]:
    """Order-insensitive comparison of a query result with its DuckDB oracle:
    same column names, same row count, same values (floats to 6 places)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return [f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"]
    if len(spark_pdf) != len(oracle_pdf):
        return [f"row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"]
    problems = []
    for i, (x, y) in enumerate(zip(_canon_rows(spark_pdf), _canon_rows(oracle_pdf))):
        if x != y:
            problems.append(f"row {i}: {x} vs oracle {y}")
            if len(problems) >= 3:
                break
    return problems

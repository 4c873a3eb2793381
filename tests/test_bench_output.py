"""bench.py's stdout contract: readers may keep only the tail, so the
per-query chunks come first and the compact headline (suite total plus
calibration) is the very last line."""

from __future__ import annotations

import json

import bench


def test_last_line_is_the_headline_with_calibration():
    per_query = {f"q{i:03d}_with_a_long_name": 0.5 + i / 100 for i in range(176)}
    result = {
        "metric": "suite_wall_sec", "value": 123.4, "unit": "sec",
        "sf": "sf0.1", "n_queries": 176, "queries": dict(per_query),
        "calib_roundtrip_ms": 1.2, "calib_shuffle_ms": 45.6,
    }
    lines = bench.result_lines(result, per_query)

    head = json.loads(lines[-1])
    assert head["value"] == 123.4 and head["metric"] == "suite_wall_sec"
    assert head["calib_roundtrip_ms"] == 1.2 and head["calib_shuffle_ms"] == 45.6
    assert head["per_query_min_total"] == round(sum(per_query.values()), 3)
    assert "queries" not in head and len(lines[-1]) < 2048

    full = json.loads(lines[0])
    assert full["per_query_min"] == per_query
    chunks = [json.loads(ln) for ln in lines[1:-1]]
    assert len(chunks) > 1
    assert all(c["metric"] == "per_query_min_sec" for c in chunks)
    assert all(len(ln) < 2048 for ln in lines[1:-1])
    merged = {q: t for c in chunks for q, t in c["queries"].items()}
    assert merged == {q: round(t, 2) for q, t in per_query.items()}

"""Per-layer metrics of the traced run, computed from its spans and
per-operation counts.

For each layer the values come from the workload's own operations when it
makes any (loop first, then its checks, then its set-up), and from the
idle-layer probes otherwise, so every workload reports every metric.
"""

from __future__ import annotations

from perfbench import stats

PHASES = ("loop", "check", "setup", "probe")
INDEX_CLASSES = {"insert", "insert_df", "search", "search_tagged", "search_batch",
                 "delete_ids", "delete", "compact", "stats"}
SELF_LAYERS = ("client", "index", "fs", "exec", "plans")


def _pick(ops: list[dict], classes, phases=PHASES) -> list[dict]:
    for ph in phases:
        sel = [o for o in ops if o["cls"] in classes and o.get("phase") == ph]
        if sel:
            return sel
    return []


def _med(ops: list[dict], key: str) -> float:
    vals = [o[key] for o in ops if key in o]
    return stats.median(vals) if vals else 0.0


def compute(tracer, plan_queries: list[str]) -> dict[str, float]:
    ops = tracer.ops
    span_ms: dict[str, dict[str, float]] = {}
    fs_calls: dict[str, int] = {}
    for s in tracer.spans:
        if s["op"] is None:
            continue
        d = span_ms.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1000.0
        if s["name"].startswith("fs."):
            fs_calls[s["op"]] = fs_calls.get(s["op"], 0) + 1
            d["fs"] = d.get("fs", 0.0) + (s["end"] - s["start"]) * 1000.0
    for o in ops:
        for name, ms in span_ms.get(o["op"], {}).items():
            o[f"span:{name}"] = ms
        o["fs_calls"] = fs_calls.get(o["op"], 0)
        o.setdefault("span:fs", 0.0)

    m: dict[str, float] = {}
    ins = _pick(ops, {"insert", "insert_df"})
    m["insert.call_ms"] = _med(ins, "ms")
    for k in ("jobs", "tasks", "files_written", "py4j_calls"):
        m[f"insert.{k}"] = _med(ins, k)

    srch = _pick(ops, {"search", "search_tagged"})
    m["search.build_ms"] = _med(srch, "span:index.search")
    m["search.exec_ms"] = _med(_pick(ops, {"search"}), "span:exec.collect")
    for k in ("py4j_calls", "files_scanned", "rows_scanned_per_result", "jobs", "tasks"):
        m[f"search.{k}"] = _med(srch, k)
    m["storage.files_per_tagset"] = _med(srch, "files_per_tagset")

    bat = _pick(ops, {"search_batch"})
    m["search_batch.build_ms"] = _med(bat, "span:index.search_batch")
    m["search_batch.exec_ms"] = _med(bat, "span:exec.collect")
    m["search_batch.tasks"] = _med(bat, "tasks")
    m["search_batch.shuffle_bytes"] = _med(bat, "shuffle_bytes")

    idx_ops = _pick(ops, INDEX_CLASSES)
    m["fs.calls"] = sum(o["fs_calls"] for o in idx_ops) / max(1, len(idx_ops))
    m["fs.ms"] = sum(o["span:fs"] for o in idx_ops) / max(1, len(idx_ops))

    comp = _pick(ops, {"compact"})
    m["compact.ms"] = _med(comp, "ms")
    for k in ("files_before", "files_after", "bytes_rewritten"):
        m[f"compact.{k}"] = _med(comp, k)
    dids = _pick(ops, {"delete_ids"})
    m["delete_ids.ms"] = _med(dids, "ms")
    m["delete_ids.partitions_rewritten"] = _med(dids, "partitions_rewritten")
    m["delete.ms"] = _med(_pick(ops, {"delete"}), "ms")
    m["stats.ms"] = _med(_pick(ops, {"stats"}), "ms")

    plan = _pick(ops, set(plan_queries), ("probe",))
    per_q: dict[str, list[dict]] = {}
    for o in plan:
        per_q.setdefault(o["cls"], []).append(o)
    m["plan.build_s"] = sum(_med(v, "span:plans.build") for v in per_q.values()) / 1000.0
    m["plan.exec_s"] = sum(_med(v, "span:exec.collect") for v in per_q.values()) / 1000.0
    for k in ("py4j_calls", "jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"plan.{k}"] = sum(_med(v, k) for v in per_q.values())

    own = tracer.self_ms()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = own.get(layer, 0.0) / max(1, len(ops))
    return m


def per_query(tracer, plan_queries: list[str]) -> dict[str, float]:
    """plan.<query>.build_ms / exec_ms from the catalog probe."""
    out = {}
    for q in plan_queries:
        sel = _pick(tracer.ops, {q}, ("probe",))
        if sel:
            out[f"plan.{q}.build_ms"] = _med(sel, "span:plans.build")
            out[f"plan.{q}.exec_ms"] = _med(sel, "span:exec.collect")
    return out


def dominant(tracer, phase: str = "loop") -> dict[str, float]:
    """Share of the traced loop's time spent in each layer's own code."""
    own = tracer.self_ms({o["op"] for o in tracer.ops if o.get("phase") == phase})
    total = sum(own.values()) or 1.0
    return {k: v / total for k, v in sorted(own.items(), key=lambda kv: -kv[1])}

"""serve: read-heavy VectorIndex serving.

Set-up ingests a seeded corpus with one ``insert_df`` and one
``compact()``. The loop then issues untagged ``search``, one-tag
``search`` and 16-query ``search_batch`` calls, all k=10, in a fixed mix.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import checks, data, stats
from perfbench.env import log, remove
from perfbench.harness import Run, measure
from perfbench.index_ops import (K, bytes_per_vector, do_compact, do_delete,
                                 do_delete_ids, do_insert_df, do_search,
                                 do_search_batch, do_stats, frame, open_index)

N, DIM, BATCH = 2000, 64, 16
SETUP_REPS = 3
WARM_ROUNDS = 2  # untimed rounds before the measured loop
ROUND = ("search",) * 3 + ("search_tagged",) * 3 + ("search_batch",)
CLASSES = ["search", "search_tagged", "search_batch"]
KEEP = 3  # results per class kept for the output checks


def build(run: Run, c: dict, path: str):
    """One set-up: frame the corpus, insert_df, compact. Returns
    (index, set-up seconds, insert_df seconds)."""
    t0 = time.perf_counter()
    idx = open_index(run, path)
    df = frame(run.spark, c["content"], c["vectors"], c["tags"])
    t1 = time.perf_counter()
    ok = do_insert_df(run, idx, df)
    t2 = time.perf_counter()
    res = do_compact(run, idx, record=False)
    t3 = time.perf_counter()
    if not ok or res is None:
        raise RuntimeError("serve set-up failed")
    run.check("compact keeps the corpus", [] if res["rows"] == len(c["content"])
              else [f"compact saw {res['rows']} rows"])
    return idx, t3 - t0, t2 - t1


def run_serve(run: Run, work: str, session_s: float) -> dict[str, float]:
    c = data.serve_corpus(run.seed, N, DIM)
    tag_sets = data.SERVE_TAG_SETS
    setups, ingests = [], []
    for rep in range(SETUP_REPS):
        log(f"set-up {rep}")
        path = os.path.join(work, f"serve{rep}")
        idx, s, i = build(run, c, path)
        setups.append(s)
        ingests.append(i)
        if rep < SETUP_REPS - 1 or run.tracer is not None:
            remove(path)
    if run.tracer is not None:
        run.tracing(True)
        idx, s, _ = build(run, c, os.path.join(work, "serve_traced"))
        run.tracing(False)
        run.layer["overhead.setup_s"] = s - stats.median(setups)
    run.put("ingest_rows_per_s", N / stats.median(ingests), "rows/s", SETUP_REPS)

    qs, qtags = c["queries"], c["query_tags"]
    # Every call gets query vectors never sent before in the run, as a
    # server sees: Spark generates code per distinct query, and cycling a
    # few queries would turn that into cache hits partway through the run.
    # The tag filters cycle in a fixed order per class.
    fresh = iter(range(len(qs)))
    issued = {cls: 0 for cls in CLASSES}
    kept: dict[str, list] = {cls: [] for cls in CLASSES}

    def one(cls: str, record: bool = True) -> None:
        i = issued[cls]
        issued[cls] += 1
        if cls == "search_batch":
            arg = {f"q{j:02d}": qs[next(fresh)] for j in range(BATCH)}
            res = do_search_batch(run, idx, arg, record=record)
        else:
            tags = [qtags[i % len(qtags)]] if cls == "search_tagged" else None
            arg = (qs[next(fresh)], tags)
            res = do_search(run, idx, arg[0], tags, record=record, tag_sets=tag_sets)
        if res is not None and len(kept[cls]) < KEEP:
            kept[cls].append((arg, res))

    def round_(record: bool) -> int:
        for cls in ROUND:
            one(cls, record)
        return len(ROUND)

    e2e = measure(run, CLASSES, round_, WARM_ROUNDS)
    batch_ms = stats.median(run.lat["search_batch"])
    run.put("batch_qps", BATCH / (batch_ms / 1000.0), "queries/s",
            len(run.lat["search_batch"]))

    run.phase = "check"
    log("checks")
    check_results(run, idx, c, kept)
    e2e["bytes_per_vector"] = bytes_per_vector(idx, N)
    if run.tracer is not None:
        probe(run, idx, c)
    return {"setup_s": session_s + stats.median(setups), **e2e}


def check_results(run: Run, idx, c: dict, kept: dict) -> None:
    """Sampled searches against a numpy brute-force top-k over the
    dequantized corpus; search_batch ranks against per-query search."""
    vecs = c["vectors"]
    deq = checks.dequantized(vecs)
    tags = [set(t) for t in c["tags"]]
    content = c["content"]

    def brute(res, q, filt) -> list[str]:
        rows = [i for i, t in enumerate(tags) if not filt or set(filt) <= t]
        return checks.check_topk(res, [content[i] for i in rows], deq[rows],
                                 vecs[rows], np.asarray(q), K)

    for cls in ("search", "search_tagged"):
        for (q, filt), res in kept[cls]:
            run.check(f"{cls} top-{K} vs brute force", brute(res, q, filt))
    for batch, res in kept["search_batch"][:1]:
        for qid in sorted(batch)[:2]:
            q = batch[qid]
            run.check("search_batch vs brute force", brute(res.get(qid, []), q, None))
            single = do_search(run, idx, q, record=False)
            if single is not None:
                run.check("search_batch ranks == search",
                          checks.check_same_ranking(res.get(qid, []), single))


def probe(run: Run, idx, c: dict) -> None:
    """Traced run only: the index calls the loop never makes (delete_ids,
    delete, stats), once each on the served index after the checks."""
    from pyspark.sql import functions as F

    run.phase = "probe"
    run.tracing(True)
    try:
        victims = c["content"][:5]
        ok, found = run.op("scan", lambda: idx.scan().filter(
            F.col("content").isin(victims)).select("id").collect(), record=False)
        n = do_delete_ids(run, idx, [r["id"] for r in found] if ok else [], record=False)
        if n is not None:
            run.check("probe delete_ids count", [] if n == len(victims) else [f"deleted {n}"])
        do_delete(run, idx, data.SERVE_TAG_SETS[-1], record=False)  # the smallest tag-set
        do_stats(run, idx)
    finally:
        run.tracing(False)

"""churn: write-heavy VectorIndex maintenance.

Set-up ingests a seeded base corpus (one ``insert_df`` + ``compact()``).
The loop repeats identical cycles: three 100-row ``insert`` calls, each
followed by an untagged ``search`` (the first two open new tag-sets, the
third appends to the first's); one ``delete_ids`` of a content-chosen 5%
of the cycle's rows; one ``delete(['cyc'])`` dropping the tag-sets the
cycle opened; one ``compact()``. Every cycle returns the index to the base
corpus, so all cycles see the same state.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import data, stats
from perfbench.env import log, remove
from perfbench.harness import Run, measure
from perfbench.index_ops import (bytes_per_vector, do_compact, do_delete,
                                 do_delete_ids, do_insert, do_insert_df,
                                 do_search, do_search_batch, do_stats, frame,
                                 open_index)

N, DIM, INSERTS, BATCH = 2000, 64, 3, 100
SETUP_REPS = 3
WARM_ROUNDS = 1  # untimed cycles before the measured loop
CLASSES = ["insert", "search", "delete_ids", "delete", "compact"]


def build(run: Run, base: dict, path: str):
    t0 = time.perf_counter()
    idx = open_index(run, path)
    df = frame(run.spark, base["content"], base["vectors"], base["tags"])
    if not do_insert_df(run, idx, df) or do_compact(run, idx, record=False) is None:
        raise RuntimeError("churn set-up failed")
    return idx, time.perf_counter() - t0


def run_churn(run: Run, work: str, session_s: float) -> dict[str, float]:
    base = data.churn_base(run.seed, N, DIM)
    setups = []
    for rep in range(SETUP_REPS):
        log(f"set-up {rep}")
        path = os.path.join(work, f"churn{rep}")
        idx, s = build(run, base, path)
        setups.append(s)
        if rep < SETUP_REPS - 1 or run.tracer is not None:
            remove(path)
    if run.tracer is not None:
        run.tracing(True)
        idx, s = build(run, base, os.path.join(work, "churn_traced"))
        run.tracing(False)
        run.layer["overhead.setup_s"] = s - stats.median(setups)
    cycles = iter(range(10**9))

    def cycle(record: bool) -> int:
        return run_cycle(run, idx, next(cycles), INSERTS, record)

    e2e = measure(run, CLASSES, cycle, WARM_ROUNDS)
    run.put("compact_s", stats.median(run.lat["compact"]) / 1000.0, "s",
            len(run.lat["compact"]))
    if run.tracer is not None:
        probe(run, idx, base)
    return {"setup_s": session_s + stats.median(setups),
            "bytes_per_vector": bytes_per_vector(idx, N), **e2e}


def run_cycle(run: Run, idx, c: int, inserts: int, record: bool) -> int:
    """One churn cycle with ``inserts`` insert/search pairs; returns its op
    count. The untimed checks run between ops and are not part of any op's
    latency; they and the input generation run off the loop's clock."""
    with run.off_clock():
        cyc = data.churn_cycle(run.seed, c, inserts, BATCH, DIM)
    earlier = tuple(f"c{j}_" for j in range(c))  # rows of deleted cycles
    ops = 0
    for b, rows in enumerate(cyc["batches"]):
        do_insert(run, idx, rows, record)
        res = do_search(run, idx, cyc["queries"][b], record=record)
        ops += 2
        if res is not None:
            run.check("search returns no deleted row",
                      [ct for ct, _s in res if ct.startswith(earlier)])

    victims = cyc["victims"]
    run.phase, phase = "check", run.phase
    with run.off_clock():
        ok, found = run.op("scan", lambda: idx.scan().filter(
            F.col("content").isin(victims)).select("id").collect(), record=False)
    run.phase = phase
    ids = [r["id"] for r in found] if ok else []
    run.check("victims located", [] if len(ids) == len(victims) else [f"found {len(ids)}"])

    n = do_delete_ids(run, idx, ids, record)
    if n is not None:
        run.check("delete_ids count", [] if n == len(victims) else [f"deleted {n}"])
    n = do_delete(run, idx, ["cyc"], record)
    if n is not None:
        want = inserts * BATCH - len(victims)
        run.check("delete(tags) count", [] if n == want else [f"deleted {n}, want {want}"])
    res = do_compact(run, idx, record)
    if res is not None:
        run.check("compact keeps the row count",
                  [] if res["rows"] == N else [f"compact saw {res['rows']} rows"])
    ops += 3

    run.phase, phase = "check", run.phase
    with run.off_clock():
        st = do_stats(run, idx)
        res = do_search(run, idx, cyc["vectors"][victims[0]], k=5, record=False)
    if st is not None:
        total = sum(r["rows"] for r in st)
        run.check("stats() row total", [] if total == N else [f"stats says {total}"])
    if res is not None:
        run.check("deleted ids never returned",
                  [ct for ct, _s in res if ct.startswith(earlier + (f"c{c}_",))])
    run.phase = phase
    return ops


def probe(run: Run, idx, base: dict) -> None:
    """Traced run only: the index call the loop never makes (search_batch),
    twice on the churned index after the loop."""
    run.phase = "probe"
    run.tracing(True)
    try:
        batch = {f"q{j:02d}": base["vectors"][j] for j in range(16)}
        for _ in range(2):
            do_search_batch(run, idx, batch, record=False)
    finally:
        run.tracing(False)

"""A fixed slice of the query catalog over seeded tables: the traced
run's plans-layer probe.

Sixteen catalog queries, in the fixed order below (never the registry's
order, which is rewritten at import). None of them touches the VectorIndex
or the ingest queries' cross-run cache directory.
"""

from __future__ import annotations

import os

from perfbench import checks, data
from perfbench.env import log
from perfbench.harness import Run

QUERIES = [
    "topk_cosine", "topk_cosine_tagged", "topk_batch", "ann_ivf_topk",
    "quantize_roundtrip",
    "dedup_minhash", "winnow_fingerprints", "dedup_substring_global",
    "unigram_tokenize", "unigram_lm_train", "text_stats", "tfidf_top_terms",
    "tpch_q1", "tpch_q11", "tpch_q21", "events_sessionize",
]
SF = 0.01


def probe(run: Run, work: str) -> None:
    """The plans-layer probe of the traced run: one traced pass, each query
    built and then collected and compared with its oracle. The pass is the
    process's first run of these plans, so its times include their one-time
    code generation; the counts (py4j calls, jobs, stages, tasks, shuffle
    bytes) do not depend on that."""
    import duckdb

    from victor_spark.plans import QUERIES as REGISTRY
    from victor_spark.sources import TABLES

    sf_dir = data.write_catalog(run.seed, SF, os.path.join(work, "catalog"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    log("catalog pass")
    run.phase = "probe"
    run.tracing(True)
    try:
        for q in QUERIES:
            check(run, con, q, REGISTRY[q], sf_dir)
    finally:
        run.tracing(False)
        con.close()


def build_and_collect(run: Run, spec, sf_dir: str):
    with run.tr.span("plans.build"):
        df = spec.build(run.spark, sf_dir)
    with run.tr.span("exec.collect"):
        return df.toPandas()


def check(run: Run, con, q: str, spec, sf_dir: str) -> None:
    """Run one query, then compare its rows with the DuckDB oracle where
    one exists; otherwise require a non-empty result."""
    ok, pdf = run.op(q, lambda: build_and_collect(run, spec, sf_dir), record=False)
    if not ok:
        return
    sql = spec.oracle_sql(sf_dir)
    if sql is None:
        run.check(f"{q} rows", [] if len(pdf) else ["empty result"])
        return
    run.check(f"{q} vs oracle", checks.compare_frames(pdf, con.execute(sql).fetchdf()))

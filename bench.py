"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints JSON lines (see ``result_lines``): the full result
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...},
then the per-query minima in small chunks, then the compact headline with
the calibration scalars as the very last line.

value = total wall time of the headline suite (lower is better). Each query
is fully materialized via the noop sink (count() would let Catalyst prune
the computed columns away); a warmup query absorbs JVM/codegen cold start.
"""

from __future__ import annotations

import json
import os
import sys
import time

from victor_spark import get_spark
from victor_spark.plans import QUERIES

# The headline suite is the WHOLE catalog: every oracle-checked operator
# plus the two rows-only ones (multimodal decode, PCA). Deriving it from
# QUERIES keeps the bench honest as the catalog grows - a new operator is
# automatically timed, so a slow addition can't hide outside the headline.
#
# SORTED, not registry order: the registry is reordered every round for
# the driver's correctness-gate window, and measured per-query times are
# position-sensitive (a query pays whole-stage-codegen/JIT cold start
# unless a sibling with similar expressions ran before it — moving
# ann_ivfpq_topk ahead of its PQ siblings measured 5.9s vs 2.3s for
# identical code). Alphabetical order is stable across rounds AND groups
# expression-sharing families (ann_*, dedup_*, events_*, tpch_*), so
# per-round diffs compare steady-state cost, not gate-window placement.
HEADLINE = sorted(QUERIES)

# A measured suite slower than this (seconds) is treated as evidence the
# measuring process itself got hit by the sandbox's sticky scheduling
# degradation (BASELINE.md: a stalled JVM stays degraded — 0.8s queries
# measured at 36s — while a fresh process measures steady-state), and the
# suite is re-run once in a NEW process. The threshold DERIVES from the
# catalog size so it tracks growth automatically (history: 75s at 40
# queries, 120 at 86, 180 at 121 — hand-bumping it each round either
# re-measures every honest run or stops catching degraded ones): quiet
# steady state is ~0.8-0.95 s/query on this host, so 1.25 s/query is a
# ~1.4x margin that a mildly-noisy run exceeds (earning its one retry,
# whose per-query minima then feed per_query_min) while a genuinely
# degraded process (30x inflation) blows far past it either way.
SANE_TOTAL_SEC = float(
    os.environ.get("SPARK_GRAFT_BENCH_SANE_SEC", "")
    or max(120.0, 1.25 * len(HEADLINE))
)


def main() -> None:
    """Parent: run the suite in a child process; if the child's total wall
    time says the process was degraded, retry once in a fresh child and
    report the better run, as the lines of ``result_lines``."""
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        run_suite()
        return
    import subprocess

    best = None
    per_query_min: dict[str, float] = {}
    for attempt in range(2):
        env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        )
        line = next(
            (ln for ln in proc.stdout.decode().splitlines()
             if ln.startswith('{"metric"')), None,
        )
        if line is None:
            print(f"# child attempt {attempt} produced no result "
                  f"(rc={proc.returncode})", file=sys.stderr)
            continue
        parsed = json.loads(line)
        for q, t in parsed.get("queries", {}).items():
            per_query_min[q] = min(per_query_min.get(q, t), t)
        if best is None or parsed["value"] < best[1]["value"]:
            best = (line, parsed)
        if parsed["value"] <= SANE_TOTAL_SEC:
            break
        print(f"# attempt {attempt}: suite {parsed['value']}s > sane "
              f"{SANE_TOTAL_SEC}s — process looks degraded, retrying fresh",
              file=sys.stderr)
    if best is None:
        sys.exit(1)
    # noise-robust per-query evidence: each child already reports
    # best-of-N passes; ALSO keep the min across all children, so a
    # cross-round per-query diff compares steady-state cost even when
    # one child process was hit by the sandbox's scheduling degradation
    for line in result_lines(best[1], per_query_min):
        print(line)


HEADLINE_KEYS = (
    "metric", "value", "unit", "sf", "n_queries", "sec_per_query",
    "per_query_min_total", "ingest_rows_per_sec",
    "storage_bytes_per_vector", "calib_roundtrip_ms", "calib_shuffle_ms",
)


def result_lines(result: dict, per_query_min: dict[str, float]) -> list[str]:
    """The parent's stdout, in order: the full result line (with both
    per-query maps), the per-query minima as small labeled JSON chunks,
    and LAST the compact headline with the calibration scalars.

    Readers of this output may keep only its TAIL, and the full line is
    long enough that truncation can eat its head. Every chunk stays well
    under 2 KB (values rounded to 0.01 s), so each survives any plausible
    tail window, and the headline — suite total plus ``calib_*`` — is the
    very last line, so even a cut artifact yields the total."""
    out = dict(result)
    out["per_query_min"] = per_query_min
    out["per_query_min_total"] = round(sum(per_query_min.values()), 3)
    chunks: list[dict[str, float]] = []
    cur: dict[str, float] = {}
    for q, t in sorted(per_query_min.items()):
        cur[q] = round(t, 2)
        if len(json.dumps(cur)) > 1500:
            chunks.append(cur)
            cur = {}
    if cur:
        chunks.append(cur)
    lines = [json.dumps(out)]
    lines += [
        json.dumps({
            "metric": "per_query_min_sec",
            "chunk": i + 1,
            "n_chunks": len(chunks),
            "queries": ch,
        })
        for i, ch in enumerate(chunks)
    ]
    lines.append(json.dumps({k: out[k] for k in HEADLINE_KEYS if k in out}))
    return lines


def run_suite() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    # local mode = one JVM for driver+executors; the suite runs ~40 distinct
    # plans whose caches/broadcasts/codegen classes accumulate, and an
    # undersized heap turns the tail of the suite into full-GC stalls
    # (measured: 0.6s queries ballooning to 25s). Size generously.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("victor_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, d: str = sf_dir) -> None:
        df = QUERIES[name].build(spark, d)
        df.write.format("noop").mode("overwrite").save()

    # Pre-spawn the Python worker pool before anything is timed: the first
    # Arrow stage forks 32 workers through one daemon, which this sandbox
    # (gVisor) occasionally serializes into a 30-70s fork storm. Absorb it
    # here, once, where nothing is being measured.
    def _ident(batches):
        yield from batches

    spark.range(64).repartition(32).mapInPandas(_ident, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # Host-health calibration (round-8 verdict item 2): the sandbox's
    # scheduling capacity degrades over a session's lifetime (five
    # closing r8 runs measured 139->358s on UNCHANGED code, JVM-bound
    # queries smeared 1.3-3.9x while per-row Python farms stayed flat).
    # Two fixed, data-independent probes give every future cross-round
    # diff a noise denominator: (a) median of 21 trivial one-task jobs =
    # pure scheduler round-trip; (b) one fixed 32->32 partition shuffle
    # of 1M longs = exchange machinery. Quiet-host reference values are
    # recorded in BASELINE.md; a calib_roundtrip_ms far above its band
    # means the headline carries environmental smear, not code cost.
    calib_roundtrip_ms = _calibrate_roundtrip(spark)
    calib_shuffle_ms = _calibrate_shuffle(spark)
    print(
        f"# calib: roundtrip {calib_roundtrip_ms}ms, "
        f"shuffle {calib_shuffle_ms}ms",
        file=sys.stderr,
    )

    # Warmup: run every headline query once at the smallest SF so the
    # measured pass reflects steady-state throughput — whole-stage codegen
    # compilation, shuffle machinery, and the Python worker pool (forked on
    # first Arrow UDF use, ~3-4s) are one-time session costs, not operator
    # costs. Same plan shapes, tiny data.
    for name in HEADLINE:
        try:
            run(name, "/root/testdata/sf0.001")
        except Exception as e:  # warmup must never fail the bench
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # Up to three measured passes, report best-of-N per query: this sandbox
    # (gVisor, one 32-thread JVM) exhibits multi-second scheduling jitter
    # that can randomly inflate any single run 5-20x; the min across passes
    # is the steady-state operator cost, which is the quantity being
    # benchmarked. Retry passes stop at a time budget so a jitter storm
    # can't push the whole bench past the driver's cap.
    times: dict[str, float] = {}
    bench_start = time.perf_counter()
    for _pass in range(3):
        # Retry pass: revisit queries worst-first, so whatever budget a
        # jitter-stormy pass 0 leaves is spent re-measuring the queries most
        # likely to be stall-inflated (a 150s minhash, not a 0.4s topk).
        order = (
            HEADLINE
            if _pass == 0
            else sorted(HEADLINE, key=lambda n: times.get(n, 0.0), reverse=True)
        )
        # retry-time budget scales with catalog size (a fixed 300 s gave
        # a 143-query pass0 of ~180 s only ~120 s of retries — six
        # queries — on a noisy host, exactly when retries matter most):
        # 2 s/query ≈ pass0's own cost plus one worst-first sweep
        for name in order:
            if _pass > 0 and time.perf_counter() - bench_start > max(
                300.0, 2.0 * len(HEADLINE)
            ):
                break
            t0 = time.perf_counter()
            run(name)
            dt = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
            print(f"# pass{_pass} {name}: {dt}s", file=sys.stderr)
    total = sum(times.values())

    ingest_rows_s, bytes_per_vec = _bench_ingest(spark, sf_dir)
    print(f"# ingest: {ingest_rows_s} rows/s, {bytes_per_vec} B/vector", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                # the catalog GROWS every round, so the comparable
                # across-round number is per-query, not the total
                "n_queries": len(times),
                "sec_per_query": round(total / max(len(times), 1), 4),
                "ingest_rows_per_sec": ingest_rows_s,
                "storage_bytes_per_vector": bytes_per_vec,
                "calib_roundtrip_ms": calib_roundtrip_ms,
                "calib_shuffle_ms": calib_shuffle_ms,
            }
        )
    )


def _calibrate_roundtrip(spark) -> float:
    """Median wall time (ms) of 21 one-task JVM no-op jobs — pure
    driver<->scheduler round-trip latency, no data, no Python workers.
    Quiet-host band: see BASELINE.md (calibration row)."""
    samples = []
    for _ in range(21):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).write.format("noop").mode(
            "overwrite"
        ).save()
        samples.append((time.perf_counter() - t0) * 1000.0)
    samples.sort()
    return round(samples[len(samples) // 2], 2)


def _calibrate_shuffle(spark) -> float:
    """Best-of-3 wall time (ms) of a fixed 1M-row 32->32 repartition —
    exchange write+fetch machinery under the session's thread pool. Data
    is spark.range output, so the probe is byte-identical every round."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=32).repartition(32).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = (time.perf_counter() - t0) * 1000.0
        best = dt if best is None else min(best, dt)
    return round(best, 2)


def _bench_ingest(spark, sf_dir: str) -> tuple[float, float]:
    """BASELINE.md proxy targets: batch index build rows/s and on-disk
    bytes/vector of the quantized, tag-partitioned VectorIndex table
    (reference stores 1 B/dim + 8 B range per vector pre-compression,
    packed_vector.rs:168)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from victor_spark.index import VectorIndex
    from victor_spark.sources import load_table

    src = None
    best_rate, bytes_per_vec = 0.0, 0.0
    # best-of-2 like the query suite: a single ingest is one ~1-2s job,
    # exactly the duration the sandbox's scheduling stalls inflate most
    for _attempt in range(2):
        tmp = tempfile.mkdtemp(prefix="victor_bench_idx_")
        try:
            idx = VectorIndex(spark, tmp)
            src = load_table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").cast("string").alias("content"),
                F.col("embedding"),
                F.array(F.concat(F.lit("lbl_"), F.col("label").cast("string"))).alias("tags"),
            )
            n = src.count()
            t0 = time.perf_counter()
            idx.insert_df(src)
            dt = time.perf_counter() - t0
            best_rate = max(best_rate, round(n / dt, 1))
            bytes_per_vec = round(idx.storage_bytes() / n, 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return best_rate, bytes_per_vec


def run_ingest_large(n_target: int = 200_000) -> None:
    """One-off LARGE-batch ingest measurement (round-7 verdict item 3):
    the per-round bench ingests the sf0.1 embeddings table as-is (2k
    rows), which measures fixed job overhead, not what the write path
    sustains. This mode replicates the table to ``n_target`` rows with
    distinct ids (explode over a literal sequence — JVM-side, no Python)
    and ingests ONCE into a fresh index, reporting rows/s, wall time,
    bytes/vector and the written file/partition layout. Run manually:
    ``python bench.py --ingest-large [n_rows]``; the result is recorded
    as a BASELINE.md row, not in the per-round BENCH artifact."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from victor_spark.index import VectorIndex
    from victor_spark.sources import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("victor_spark_ingest_large")
    spark.sparkContext.setLogLevel("ERROR")

    src = load_table(spark, sf_dir, "embeddings")
    reps = max(1, n_target // src.count())
    big = (
        src.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("rep"),
            "vec_id", "embedding", "label",
        )
        .select(
            (F.col("vec_id") * reps + F.col("rep"))
            .cast("string")
            .alias("content"),
            F.col("embedding"),
            F.array(
                F.concat(F.lit("lbl_"), F.col("label").cast("string"))
            ).alias("tags"),
        )
        .repartition(32)
    )
    n = big.count()
    # prefix deliberately NOT victor_ingest_* — tools/scale_probe.py
    # sweeps that namespace when cleaning its per-scale cache dirs, and
    # a concurrent probe would delete this live index mid-ingest
    tmp = tempfile.mkdtemp(prefix="victor_bench_large_")
    try:
        idx = VectorIndex(spark, tmp)
        t0 = time.perf_counter()
        idx.insert_df(big)
        dt = time.perf_counter() - t0
        data_dir = os.path.join(tmp, "data")
        n_files = n_parts = 0
        for root, dirs, files in os.walk(data_dir):
            n_parts += sum(1 for d in dirs if d.startswith("tag_set_id="))
            n_files += sum(1 for f in files if f.endswith(".parquet"))
        print(
            json.dumps(
                {
                    "metric": "ingest_large_rows_per_sec",
                    "value": round(n / dt, 1),
                    "unit": "rows/s",
                    "n_rows": n,
                    "wall_sec": round(dt, 3),
                    "bytes_per_vector": round(idx.storage_bytes() / n, 1),
                    "n_parquet_files": n_files,
                    "n_tag_partitions": n_parts,
                    "sf_dir": sf_dir,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--ingest-large":
        run_ingest_large(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
    else:
        main()

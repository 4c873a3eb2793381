"""Kernel loops for the traced run: the ``functions.vector`` kernels and
the ``operators.topk`` operators, timed over a fixed, cached in-memory
frame."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import stats
from perfbench.env import cpu_count
from perfbench.harness import Run

KROWS, KDIM, KREPS = 20_000, 64, 3


def _median_ms(fn, reps: int = KREPS) -> float:
    """Median of ``reps`` timed calls; the first, cold one is outvoted."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return stats.median(samples)


def kernels(run: Run) -> None:
    from victor_spark.functions.vector import cosine_to_literal, dequantize, quantize
    from victor_spark.operators.topk import topk, topk_per_group

    spark = run.spark
    vec = F.array(*[F.rand(run.seed * 1000 + i) * 2 - 1 for i in range(KDIM)])
    base = spark.range(KROWS, numPartitions=cpu_count()).select(
        "id", vec.alias("v"), F.rand(run.seed).alias("score"))
    q = quantize("v")
    frm = base.select("id", "v", "score", q.qmin.alias("qmin"), q.qmax.alias("qmax"),
                      q.quant.alias("quant")).cache()
    frm.count()
    qv = [((i * 37) % 101) / 50.0 - 1.0 for i in range(KDIM)]
    elems = KROWS * KDIM

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    deq = frm.select(dequantize("quant", "qmin", "qmax").alias("e"))
    ms = _median_ms(lambda: noop(deq.select(cosine_to_literal("e", qv).alias("s"))))
    run.layer["vector.cosine_ns_per_elem"] = ms * 1e6 / elems
    ms = _median_ms(lambda: noop(frm.select(quantize("v").alias("q"))))
    run.layer["vector.quantize_ns_per_elem"] = ms * 1e6 / elems
    run.layer["topk.ms"] = _median_ms(
        lambda: topk(frm.select("id", "score"), F.col("score"), 10).collect())
    grouped = frm.select((F.col("id") % 16).alias("g"), "id", "score")
    run.layer["topk_per_group.ms"] = _median_ms(
        lambda: noop(topk_per_group(grouped, ["g"], "score", 10, tie_cols=["id"])))
    frm.unpersist()

"""Streaming vocabulary-drift monitor: per-epoch OOV rate against a
FROZEN reference vocabulary, plus the cumulative novel-type inventory
(the 20th topology).

Every tokenizer-serving deployment (topology 19) needs this watchdog
next to it: the vocabulary is a frozen batch-plane artifact, and the
question a corpus-shift monitor answers is "how much of what is
arriving NOW does that artifact not know?" A rising OOV token rate or
an accelerating novel-type inventory is the retraining trigger — the
streaming twin of the batch plane's corpus-shape audits (zipf_fit /
heaps_law_fit: the novel-type curve here IS Heaps' law observed live).

State discipline — the fourth in the streaming-state family:

- HLL rollup (`sketch_stream.py`): merge = element-wise MAX.
- Bloom screen (`bloom_stream.py`): merge = word-wise OR.
- Histogram (`hist_stream.py`): merge = bin SUM, epoch-keyed because
  SUM is not replay-idempotent.
- Drift monitor (here): state = the per-epoch TYPE TABLE
  (word, n, known), epoch-keyed like the histogram (token counts sum
  across epochs), but the novel-type inventory is a read-time
  DISTINCT across epoch directories — set union, naturally idempotent
  — so the same state serves both an additive metric (OOV token rate)
  and a set metric (novel types) without double-count hazards.

State size: one row per DISTINCT word per epoch — Heaps-law bounded
(~epoch_tokens^0.5), i.e. megabytes per terabyte-scale epoch; the
reference vocabulary ships in the task closure exactly like the
tokenizer tables (a frozen artifact, vocab-sized).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from victor_spark.fs import fs_for

_STATE_SCHEMA = "epoch long, word string, n long, known boolean"


def type_drift(
    docs: DataFrame, vocab: Iterable[str], text_col: str = "text"
) -> DataFrame:
    """(word, n, known) type table of ``docs`` against the frozen
    ``vocab`` — the shared transform both planes use.

    The instance stream aggregates to the Heaps-bounded type table
    FIRST (map-side combine on the word key), then joins the
    vocab-sized reference — a plain equi-join, no broadcast hint: AQE
    broadcasts when the reference genuinely fits (the house rule for
    data-dependent sizes)."""
    vs = sorted(set(vocab))
    if not vs:
        raise ValueError(
            "type_drift: empty reference vocabulary — a drift monitor "
            "without a frozen reference is a configuration bug"
        )
    from victor_spark.functions import text as T
    from victor_spark.functions.vector import sql_operand

    spark = docs.sparkSession
    vdf = spark.createDataFrame([(w,) for w in vs], "word string").select(
        "word", F.lit(True).alias("known")
    )
    types = (
        docs.select(
            F.explode(T.tokens(f"lower({sql_operand(text_col)})")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return types.join(vdf, "word", "left").select(
        "word", "n", F.coalesce("known", F.lit(False)).alias("known")
    )


def drift_metrics(type_table: DataFrame) -> DataFrame:
    """One row of monitor metrics from a (word, n, known) type table:
    token/type totals, OOV splits, and the OOV token rate (NULL on an
    empty table, never a divide-by-zero throw under ANSI mode)."""
    oov_tokens = F.sum(F.when(~F.col("known"), F.col("n")).otherwise(0))
    agg = type_table.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.coalesce(oov_tokens, F.lit(0)).cast("long").alias("oov_tokens"),
        F.coalesce(
            F.sum(F.when(~F.col("known"), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("oov_types"),
    )
    return agg.select(
        "n_tokens",
        "n_types",
        "oov_tokens",
        "oov_types",
        F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("oov_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            )
        )
        .alias("oov_token_rate"),
    )


def stream_vocab_drift(
    docs: DataFrame,
    vocab: Iterable[str],
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain ``state_dir`` as the epoch-keyed type-drift state of a
    documents stream against the frozen ``vocab``.

    Restart semantics (the hist_stream discipline): a replayed epoch
    OVERWRITES its own ``epoch=<id>`` directory with identical content
    (the type table is a deterministic function of the batch), so
    cross-epoch token sums never double-count and the read-time
    novel-type DISTINCT is idempotent by construction."""
    vs = sorted(set(vocab))
    if not vs:
        raise ValueError("stream_vocab_drift: empty reference vocabulary")
    spark = docs.sparkSession

    def _handle(batch: DataFrame, epoch_id: int) -> None:
        type_drift(batch, vs, text_col=text_col).select(
            F.lit(int(epoch_id)).cast("long").alias("epoch"),
            "word",
            "n",
            "known",
        ).write.mode("overwrite").parquet(
            state_dir.rstrip("/") + f"/epoch={int(epoch_id)}"
        )

    writer = (
        docs.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Union of finished epoch directories (the ``_SUCCESS`` marker
    discipline: ``mode("overwrite")`` is delete-first, so a crash
    mid-write leaves a partial directory until the replay rewrites it —
    reading it would throw or undercount)."""
    fs = fs_for(spark, state_dir)
    if not fs.exists(state_dir):
        return None
    epochs = [
        d
        for d in fs.listdir(state_dir)
        if d.startswith("epoch=")
        and fs.exists(state_dir.rstrip("/") + "/" + d + "/_SUCCESS")
    ]
    if not epochs:
        return None
    return spark.read.schema(_STATE_SCHEMA).parquet(
        *[state_dir.rstrip("/") + "/" + d for d in epochs]
    )


def epoch_drift(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Per-epoch monitor rows (epoch ascending): token/type totals, OOV
    splits, OOV token rate, and the count of novel types FIRST seen in
    that epoch — the live Heaps curve. None if no finished state."""
    st = _state(spark, state_dir)
    if st is None:
        return None
    per = (
        st.groupBy("epoch")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.when(~F.col("known"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            "epoch",
            "n_tokens",
            "n_types",
            "oov_tokens",
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("oov_tokens").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("oov_token_rate"),
        )
    )
    firsts = (
        st.filter(~F.col("known"))
        .groupBy("word")
        .agg(F.min("epoch").alias("epoch"))
        .groupBy("epoch")
        .agg(F.count("*").cast("long").alias("novel_types"))
    )
    return (
        per.join(firsts, "epoch", "left")
        .select(
            "epoch",
            "n_tokens",
            "n_types",
            "oov_tokens",
            "oov_token_rate",
            F.coalesce("novel_types", F.lit(0))
            .cast("long")
            .alias("novel_types"),
        )
        .orderBy("epoch")
    )


def cumulative_drift(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The whole-stream monitor row: total tokens/OOV tokens summed
    across epochs (epoch-keyed, so replay-safe) and the cumulative
    novel-type inventory as a read-time DISTINCT (set union — naturally
    idempotent). Equals the batch plane's ``drift_metrics`` over the
    same documents, up to the per-epoch type-table split (asserted in
    tests/test_streaming.py)."""
    st = _state(spark, state_dir)
    if st is None:
        return None
    return st.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.when(~F.col("known"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
        F.countDistinct(
            F.when(~F.col("known"), F.col("word"))
        )
        .cast("long")
        .alias("novel_types"),
    ).select(
        "n_tokens",
        "oov_tokens",
        "novel_types",
        F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("oov_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            )
        )
        .alias("oov_token_rate"),
    )

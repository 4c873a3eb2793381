"""Streaming curation: crawl shards to training-ready text as one
continuous topology (the 18th) — the streaming twin of the batch
``crawl_pipeline`` capstone's post-shard tail.

Shards land continuously (the fetcher fleet's output bucket); each
micro-batch runs the SAME narrow transforms the batch plane uses:
WARC record walk → HTML→text extraction → C4 line filter → quality
score → keep-or-drop. No watermark, no state store — every output row
depends only on its own shard, so stream == batch holds exactly
(asserted in tests/test_streaming.py) and the topology scales as a
pure map over arriving shards, like the 16th (warc_stream).

``curate_documents`` is the shared transform: a pure narrow projection
over a ``documents``-shaped relation, composing the catalog's C4
line-filter and quality-score expressions (functions/text.py), usable
verbatim on batch DataFrames and streaming ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from victor_spark.functions import text as T
from victor_spark.functions.vector import sql_operand


def curate_documents(
    docs: DataFrame, text_col: str = "text", min_quality: float = 0.5
) -> DataFrame:
    """C4 line filter + quality gate over a documents-shaped relation.

    Keeps lines with >= 3 whitespace tokens ending in terminal
    punctuation (Raffel 2020 §2.2 — the catalog's c4_line_filter
    contract), rejoins them as the curated ``text``, and drops rows
    whose quality score (functions/text.quality_score over the CLEANED
    text) falls below ``min_quality``. Adds ``n_lines`` / ``n_kept`` /
    ``quality``; every other input column passes through. Pure narrow
    projection — identical semantics on batch and streaming inputs.
    Input columns may not collide with the curation outputs (raises
    loudly, the gate_urls/sitemap_entries contract)."""
    reserved = {"n_lines", "n_kept", "quality"} | (
        {"text"} if text_col != "text" else set()
    )
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(
            f"curate_documents input columns {sorted(clash)} collide with "
            "the curation output columns — rename them upstream (the same "
            "contract as gate_urls/sitemap_entries)"
        )
    lines = f"split({sql_operand(text_col)}, '\\n')"
    kept = T._c4_kept_lines_sql(lines)
    passthrough = [c for c in docs.columns if c != text_col]
    # the cleaned text binds once per row (_cl) and feeds the quality score
    curated = F.expr(
        f"get(transform(array(array_join({kept}, '\\n')), _cl -> "
        f"named_struct('text', _cl, 'n_lines', size({lines}), "
        f"'n_kept', size({kept}), "
        f"'quality', round({T._quality_score_sql('_cl')}, 6))), 0)"
    )
    return (
        docs.select(*passthrough, curated.alias("_c"))
        .select(*passthrough, "_c.text", "_c.n_lines", "_c.n_kept", "_c.quality")
        .filter(F.col("quality") >= min_quality)
    )


def stream_curated_documents(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    glob: str = "*.warc*",
    min_quality: float = 0.5,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously turn arriving crawl shards under ``src_dir`` into
    CURATED documents rows appended at ``out_dir`` (parquet): the 16th
    topology's ingestion front composed with :func:`curate_documents`.
    At 100 TB/day the knobs are the same as the batch scan's —
    ``maxFilesPerTrigger`` and fetcher-side shard size."""
    from victor_spark.sources.warc import documents_from_warc, parse_warc_records

    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(src_dir).select("content")
    docs = documents_from_warc(parse_warc_records(raw))
    curated = curate_documents(docs, min_quality=min_quality)
    writer = (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        # trigger(availableNow=False) RAISES in pyspark; continuous mode
        # uses the default trigger (see warc_stream's precedent)
        writer = writer.trigger(availableNow=True)
    return writer.start()

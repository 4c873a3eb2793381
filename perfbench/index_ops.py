"""VectorIndex operations as the benchmark issues them.

Each ``do_*`` helper runs one operation through ``Run.op`` (timing,
failure counting) and wraps the call in spans named after the layer it
enters: ``index.*`` for the index API (for the search calls, that only
builds the DataFrame) and ``exec.collect`` for running the returned plan.
In traced phases it also records what the operation touched on disk, read
from the directory tree and parquet footers rather than from the program.
"""

from __future__ import annotations

import hashlib
import os

from perfbench.harness import Run, parquet_files, parquet_rows
from perfbench.trace import FsProxy

K = 10
SCHEMA = "content string, embedding array<float>, tags array<string>"


def open_index(run: Run, path: str):
    from victor_spark.index import VectorIndex

    idx = VectorIndex(run.spark, path)
    if run.tracer is not None:
        idx.fs = FsProxy(idx.fs, lambda: run.tr)
    return idx


def frame(spark, content: list[str], vecs, tags: list[list[str]]):
    """A single-partition DataFrame of (content, embedding, tags) rows, the
    shape of a small batch handed to insert_df."""
    import pandas as pd

    pdf = pd.DataFrame({"content": content, "embedding": list(vecs), "tags": tags})
    return spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1)


def _call(run: Run, name: str, fn, *args):
    with run.tr.span(f"index.{name}"):
        return fn(*args)


def do_insert_df(run: Run, idx, df, record: bool = False) -> bool:
    before = len(parquet_files(idx.data_path)) if run.tr.enabled else 0
    ok, _ = run.op("insert_df", lambda: _call(run, "insert_df", idx.insert_df, df), record)
    if ok and run.tr.enabled:
        run.annotate(files_written=len(parquet_files(idx.data_path)) - before)
    return ok


def do_insert(run: Run, idx, rows: list, record: bool = True) -> bool:
    before = len(parquet_files(idx.data_path)) if run.tr.enabled else 0
    triples = [(c, [float(x) for x in v], t) for c, v, t in rows]
    ok, _ = run.op("insert", lambda: _call(run, "insert", idx.insert, triples), record)
    if ok and run.tr.enabled:
        run.annotate(files_written=len(parquet_files(idx.data_path)) - before)
    return ok


def do_search(run: Run, idx, q, tags=None, k: int = K, record: bool = True,
              tag_sets: list[list[str]] = ()):
    """Returns [(content, score)] or None if the call raised."""
    qv = [float(x) for x in q]

    def go():
        with run.tr.span("index.search"):
            df = idx.search(qv, k=k, tags=tags)
        with run.tr.span("exec.collect"):
            return [(r["content"], r["score"]) for r in df.collect()]

    ok, res = run.op("search_tagged" if tags else "search", go, record)
    if ok and run.tr.enabled:
        files_n, rows_n = layout(idx, tag_sets, tags)
        all_files = len(parquet_files(idx.data_path))
        run.annotate(files_scanned=files_n,
                     rows_scanned_per_result=rows_n / max(1, len(res)),
                     files_per_tagset=all_files / max(1, len(partitions(idx))))
    return res if ok else None


def do_search_batch(run: Run, idx, queries: dict, k: int = K, record: bool = True):
    """Returns {query_id: [(content, score)] by rank} or None."""
    qs = {q: [float(x) for x in v] for q, v in queries.items()}

    def go():
        with run.tr.span("index.search_batch"):
            df = idx.search_batch(qs, k=k)
        with run.tr.span("exec.collect"):
            rows = df.collect()
        out: dict[str, list[tuple[str, float]]] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["content"], r["score"]))
        return out

    ok, res = run.op("search_batch", go, record)
    return res if ok else None


def do_delete_ids(run: Run, idx, ids: list[str], record: bool = True):
    before = partitions(idx) if run.tr.enabled else {}
    ok, n = run.op("delete_ids", lambda: _call(run, "delete_ids", idx.delete_ids, ids), record)
    if ok and run.tr.enabled:
        after = partitions(idx)
        run.annotate(partitions_rewritten=sum(
            1 for d, f in after.items() if d in before and before[d] != f))
    return n if ok else None


def do_delete(run: Run, idx, tags: list[str], record: bool = True):
    ok, n = run.op("delete", lambda: _call(run, "delete", idx.delete, tags), record)
    return n if ok else None


def do_compact(run: Run, idx, record: bool = True):
    """Returns compact()'s report dict or None."""
    before = len(parquet_files(idx.data_path)) if run.tr.enabled else 0
    ok, res = run.op("compact", lambda: _call(run, "compact", idx.compact), record)
    if ok and run.tr.enabled:
        files = parquet_files(idx.data_path)
        run.annotate(files_before=before, files_after=len(files),
                     bytes_rewritten=sum(os.path.getsize(f) for f in files))
    return res if ok else None


def do_stats(run: Run, idx, record: bool = False):
    ok, st = run.op("stats", lambda: _call(run, "stats", idx.stats), record)
    return st if ok else None


def tag_set_id(tags: list[str]) -> str:
    return hashlib.sha256(",".join(sorted(set(tags))).encode()).hexdigest()


def layout(idx, tag_sets, tags=None) -> tuple[int, int]:
    """(files, rows) a search filtered by ``tags`` reads, given the stored
    ``tag_sets``."""
    data = idx.data_path
    if tags:
        want = set(tags)
        files = [f for ts in tag_sets if want <= set(ts)
                 for f in parquet_files(os.path.join(data, f"tag_set_id={tag_set_id(ts)}"))]
    else:
        files = parquet_files(data)
    return len(files), parquet_rows(files)


def partitions(idx) -> dict[str, tuple[str, ...]]:
    """tag_set_id partition directory -> its parquet file names."""
    data = idx.data_path
    if not os.path.isdir(data):
        return {}
    return {
        d: tuple(os.path.basename(f) for f in parquet_files(os.path.join(data, d)))
        for d in sorted(os.listdir(data)) if d.startswith("tag_set_id=")
    }


def bytes_per_vector(idx, n: int) -> float:
    return sum(os.path.getsize(f) for f in parquet_files(idx.data_path)) / n

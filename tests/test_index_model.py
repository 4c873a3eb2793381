"""Model-based test of VectorIndex: random operation sequences checked
against a plain-Python model of victor's semantics (PAPER.md §1) — add
with a tag-set, top-k cosine under a tag-superset filter, delete, clear,
always-on 8-bit quantization.

The model is a dict ``content -> (id, dequantized vector, tag-set)``. The
dequantized vector replays the stored codec (packed_vector.rs semantics:
float32 range, HALF_UP bins of 255), so search scores are compared to the
model's cosine at 1e-9, and each replayed vector is checked to lie within
half a quantization bin of its input (the bound behind BASELINE.md's
max-abs-err < 0.0005). After every step the stored rows equal the model
(no row lost or duplicated) and ``stats()`` counts match it. Besides
insert, search, delete, compact and clear, the rules cover merge_from, two
writers interleaved on one path (listing_lock on and off), a crash between
staging and publish, batches the dimension check rejects, and a vacuum of
crash debris beside the live table."""

from __future__ import annotations

import math
import os
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from victor_spark.index import DimensionMismatchError, VectorIndex

DIM = 4
TAGS = ["a", "b", "c"]

component = st.integers(min_value=-8, max_value=8).map(lambda x: x / 4.0)


def vectors(dim: int):
    return st.lists(component, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0.0 for x in v)
    )


vector = vectors(DIM)
tag_set = st.sets(st.sampled_from(TAGS), max_size=2).map(sorted)
query_tags = st.one_of(st.none(), st.sets(st.sampled_from(TAGS), min_size=1,
                                          max_size=1).map(sorted))


def dequantized(v: list[float]) -> list[float]:
    """Python replay of quantize + dequantize (functions/vector.py)."""
    lo, hi = min(v), max(v)
    span = 1.0 if hi - lo == 0.0 else hi - lo
    bins = []
    for x in v:
        b = Decimal(repr((x - lo) / span * 255.0)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
        bins.append(min(255.0, max(0.0, float(b))))
    qmin, qmax = float(np.float32(lo)), float(np.float32(hi))
    return [qmin + b / 255.0 * (qmax - qmin) for b in bins]


def cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


class _CrashingFS:
    """Delegates to the index's fs, failing the first rename of a staged
    part file after ``allow`` of them succeeded — a crash between staging
    and publish."""

    def __init__(self, inner, allow: int):
        self._inner, self._allow = inner, allow

    def rename(self, src, dst):
        if "__staging" in src:
            if self._allow == 0:
                raise OSError("simulated crash mid-publish")
            self._allow -= 1
        return self._inner.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class _Interleave:
    """Delegates to an index's fs; runs ``hook`` once, right before the
    first ``method`` call whose path argument contains ``marker`` — another
    writer's whole operation landing inside this writer's."""

    def __init__(self, inner, method: str, marker: str, hook):
        self._inner, self._method, self._marker = inner, method, marker
        self.hook = hook

    def run_pending(self):
        hook, self.hook = self.hook, None
        if hook is not None:
            hook()

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name != self._method:
            return attr

        def call(p, *args):
            if self._marker in p:
                self.run_pending()
            return attr(p, *args)

        return call


class IndexMachine(RuleBasedStateMachine):
    spark = None
    root = None
    runs = 0

    @initialize()
    def fresh_index(self):
        type(self).runs += 1
        self.idx = VectorIndex(self.spark, f"{self.root}/run{self.runs}")
        self.model: dict[str, tuple[str | None, list[float], list[str]]] = {}
        self.n_docs = 0

    # -- helpers ------------------------------------------------------------

    def _rows(self, batch):
        rows = []
        for v, ts in batch:
            content = f"doc{self.n_docs}"
            self.n_docs += 1
            rows.append((content, v, ts))
        return rows

    def _admit(self, rows):
        for content, v, ts in rows:
            deq = dequantized(v)
            half_bin = (max(v) - min(v)) / 255.0 / 2.0
            assert max(abs(x - y) for x, y in zip(v, deq)) <= half_bin + 1e-6
            self.model[content] = (None, deq, ts)

    def _in_scope(self, tags):
        want = set(tags or [])
        return {c: e for c, e in self.model.items() if want.issubset(e[2])}

    def _check_topk(self, rows, q, k, tags):
        scope = self._in_scope(tags)
        want = sorted((cosine(e[1], q) for e in scope.values()), reverse=True)[:k]
        got = [r["score"] for r in rows]
        assert len(got) == len(want)
        assert got == sorted(got, reverse=True)
        for g, w in zip(got, want):
            assert abs(g - w) < 1e-9
        for r in rows:
            assert r["content"] in scope
            assert abs(r["score"] - cosine(scope[r["content"]][1], q)) < 1e-9

    def _learn_ids(self):
        if any(e[0] is None for e in self.model.values()):
            for r in self.idx.scan().select("id", "content").collect():
                _, deq, ts = self.model[r["content"]]
                self.model[r["content"]] = (r["id"], deq, ts)

    # -- rules --------------------------------------------------------------

    @rule(batch=st.lists(st.tuples(vector, tag_set), min_size=1, max_size=4))
    def insert(self, batch):
        rows = self._rows(batch)
        self.idx.insert(rows)
        self._admit(rows)

    @rule(batch=st.lists(st.tuples(vector, tag_set), min_size=1, max_size=4))
    def insert_df(self, batch):
        rows = self._rows(batch)
        df = self.spark.createDataFrame(
            rows, "content string, embedding array<double>, tags array<string>"
        )
        self.idx.insert_df(df)
        self._admit(rows)

    @rule(batch=st.lists(st.tuples(vector, tag_set), min_size=2, max_size=4),
          allow=st.integers(min_value=0, max_value=1))
    def crash_then_recover(self, batch, allow):
        rows = self._rows(batch)
        real = self.idx.fs
        self.idx.fs = _CrashingFS(real, allow)
        try:
            with pytest.raises(OSError, match="simulated crash"):
                self.idx.insert(rows)
        finally:
            self.idx.fs = real
        assert len(self.idx.recover_staged()) == 1
        self._admit(rows)

    @rule(data=st.data())
    def reject_wrong_dimension(self, data):
        """A batch the dimension check refuses — another dimension than a
        non-empty index's, or two dimensions into an empty one. Nothing
        goes live and no staging directory is left behind."""
        vecs = [data.draw(vectors(DIM + 1))]
        if not self.model:
            vecs.append(data.draw(vector))
        rows = self._rows([(v, []) for v in vecs])
        with pytest.raises(DimensionMismatchError):
            self.idx.insert(rows)
        if os.path.exists(self.idx.path):
            assert not [n for n in os.listdir(self.idx.path)
                        if n.endswith("__staging")]

    @rule(batch=st.lists(st.tuples(vector, tag_set), min_size=1, max_size=4))
    def merge_from(self, batch):
        type(self).runs += 1
        shard = VectorIndex(self.spark, f"{self.root}/shard{self.runs}")
        rows = self._rows(batch)
        shard.insert(rows)
        assert self.idx.merge_from(shard) == len(rows)
        self._admit(rows)

    @precondition(lambda self: self.model)
    @rule(a=st.lists(st.tuples(vector, tag_set), min_size=1, max_size=3),
          b=st.lists(st.tuples(vector, tag_set), min_size=1, max_size=3),
          lock=st.booleans())
    def concurrent_writers(self, a, b, lock):
        """Two VectorIndex objects on one path; the second's whole insert
        lands inside the first's. With listing_lock on it lands while the
        first publishes its staged files (outside the lock); with it off,
        between the first's listing read and its replace — the lost-update
        window, which the next consult of the listing heals. When the
        first writes no listing, the second inserts after it."""
        first = VectorIndex(self.spark, self.idx.path, listing_lock=lock)
        second = VectorIndex(self.spark, self.idx.path, listing_lock=lock)
        rows_a, rows_b = self._rows(a), self._rows(b)
        first.fs = _Interleave(
            first.fs, *(("rename", "__staging") if lock
                        else ("write_bytes_atomic", first.tagsets_path)),
            hook=lambda: second.insert(rows_b),
        )
        first.insert(rows_a)
        first.fs.run_pending()
        self._admit(rows_a + rows_b)
        assert not os.path.exists(first.lock_path)

    @rule(q=vector, k=st.integers(min_value=1, max_value=6), tags=query_tags)
    def search(self, q, k, tags):
        rows = self.idx.search(q, k=k, tags=tags).collect()
        self._check_topk(rows, q, k, tags)

    @rule(qs=st.lists(vector, min_size=1, max_size=3),
          k=st.integers(min_value=1, max_value=4), tags=query_tags)
    def search_batch(self, qs, k, tags):
        queries = {f"q{i}": q for i, q in enumerate(qs)}
        rows = self.idx.search_batch(queries, k=k, tags=tags).collect()
        for qid, q in queries.items():
            mine = sorted((r for r in rows if r["query_id"] == qid),
                          key=lambda r: r["rank"])
            assert [r["rank"] for r in mine] == list(range(1, len(mine) + 1))
            self._check_topk(mine, q, k, tags)

    @precondition(lambda self: self.model)
    @rule(tags=st.sets(st.sampled_from(TAGS), min_size=1, max_size=2).map(sorted))
    def delete(self, tags):
        doomed = self._in_scope(tags)
        assert self.idx.delete(tags) == len(doomed)
        for c in doomed:
            del self.model[c]

    @precondition(lambda self: self.model)
    @rule(data=st.data())
    def delete_ids(self, data):
        self._learn_ids()
        contents = sorted(self.model)
        doomed = data.draw(st.lists(st.sampled_from(contents), min_size=1,
                                    max_size=3, unique=True))
        ids = [self.model[c][0] for c in doomed] + ["no-such-id"]
        assert self.idx.delete_ids(ids) == len(doomed)
        for c in doomed:
            del self.model[c]

    @rule()
    def compact(self):
        out = self.idx.compact(target_rows_per_file=3)
        assert out["rows"] == len(self.model)

    @rule(aged=st.booleans())
    def vacuum(self, aged):
        """An interrupted ANN build's staging directory beside the live
        table: vacuum leaves it while fresh (a live writer may own it),
        reclaims it once aged, and never touches a live row — the
        invariants compare the stored rows with the model afterwards."""
        debris = os.path.join(self.idx.path, "ivf_data__building")
        os.makedirs(debris, exist_ok=True)
        with open(os.path.join(debris, "part-00000.parquet"), "wb"):
            pass
        if aged:
            past = time.time() - 7200
            os.utime(debris, (past, past))
        assert self.idx.vacuum() == ([debris] if aged else [])
        assert os.path.exists(debris) != aged

    @rule()
    def clear(self):
        self.idx.clear()
        self.model.clear()

    # -- invariants ---------------------------------------------------------

    @invariant()
    def stored_rows_match_model(self):
        if not self.model:
            assert self.idx.is_empty() or self.idx.scan().count() == 0
            assert self.idx.stats() == []
            return
        stored = sorted(
            (r["content"], list(r["tags"]))
            for r in self.idx.scan().select("content", "tags").collect()
        )
        assert stored == sorted((c, e[2]) for c, e in self.model.items())

    @invariant()
    def stats_match_model(self):
        if self.idx.is_empty():
            assert not self.model
            return
        per_set: dict[tuple[str, ...], int] = {}
        for _id, _deq, ts in self.model.values():
            per_set[tuple(ts)] = per_set.get(tuple(ts), 0) + 1
        got = {tuple(s["tags"]): s["rows"] for s in self.idx.stats()}
        assert got == per_set


def test_index_state_machine(spark, tmp_path):
    IndexMachine.spark = spark
    IndexMachine.root = str(tmp_path)
    IndexMachine.runs = 0
    run = IndexMachine.TestCase
    run.settings = settings(
        max_examples=8,
        stateful_step_count=9,
        deadline=None,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    run().runTest()

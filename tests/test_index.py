"""VectorIndex integration tests — the reference's own scenarios
(/root/reference/src/tests.rs) against the Spark-native index."""

from __future__ import annotations

import pytest

from victor_spark.index import DimensionMismatchError, VectorIndex


@pytest.fixture()
def idx(spark, tmp_path):
    return VectorIndex(spark, str(tmp_path / "idx"))


def test_store_and_retrieve(idx):
    # tests.rs:3-22
    idx.insert([("hello", [1.0, 2.0, 3.0], [])])
    rows = idx.search([1.0, 2.0, 3.0], k=1).collect()
    assert [r["content"] for r in rows] == ["hello"]
    assert abs(rows[0]["score"] - 1.0) < 1e-6


def test_two_vectors_retrieve_own_content(idx):
    # tests.rs:24-60
    idx.insert([("hello", [1.0, 2.0, 3.0], []), ("goodbye", [-1.0, -2.0, -3.0], [])])
    assert idx.search([1.0, 2.0, 3.0], k=1).first()["content"] == "hello"
    assert idx.search([-1.0, -2.0, -3.0], k=1).first()["content"] == "goodbye"


def test_tag_isolation(idx):
    # tests.rs:62-127
    idx.insert([("hello", [1.0, 2.0, 3.0], ["greetings"])])
    idx.insert([("goodbye", [-1.0, -2.0, -3.0], ["goodbyes"])])
    all_hits = idx.search([1.0, 2.0, 3.0], k=10).collect()
    assert sorted(r["content"] for r in all_hits) == ["goodbye", "hello"]
    scoped = idx.search([1.0, 2.0, 3.0], k=10, tags=["goodbyes"]).collect()
    assert [r["content"] for r in scoped] == ["goodbye"]
    assert idx.search([1.0, 2.0, 3.0], k=10, tags=["mysterious"]).count() == 0


def test_k_greater_than_n(idx):
    # README.md:36-39 — k>n returns n rows, best first
    idx.insert([("a", [1.0, 0.0], []), ("b", [0.0, 1.0], [])])
    rows = idx.search([1.0, 0.1], k=10).collect()
    assert len(rows) == 2
    assert rows[0]["content"] == "a"
    assert rows[0]["score"] >= rows[1]["score"]


def test_dimension_mismatch_rejected(idx):
    # tests.rs:129-143 (reference panics; we raise)
    idx.insert([("ok", [1.0, 2.0, 3.0], [])])
    with pytest.raises(DimensionMismatchError):
        idx.insert([("bad", [1.0, 2.0, 3.0, 4.0], [])])
    with pytest.raises(DimensionMismatchError):
        idx.insert([("a", [1.0, 2.0], []), ("b", [1.0, 2.0, 3.0], [])])


def test_wrong_dimension_query_fails(idx):
    """A query of the wrong dimension must fail, not return k rows scored
    NULL (the vector kernels pad a length mismatch with NULL, and
    isnan(NULL) is false, so the NaN guard alone let such rows through)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    idx.insert([(f"doc{i}", [1.0, float(i), 0.5, 0.0], []) for i in range(4)])
    for strict in (True, False):
        with pytest.raises(SparkRuntimeException,
                           match="query dimension 3 vs index dimension 4"):
            idx.search([1.0, 0.0, 0.0], k=3, strict_nan=strict).collect()
        with pytest.raises(SparkRuntimeException,
                           match="query dimension 3 vs index dimension 4"):
            idx.search_batch({"q": [1.0, 0.0, 0.0]}, k=3,
                             strict_nan=strict).collect()
    # unequal query lengths within one batch fail on the driver
    with pytest.raises(DimensionMismatchError):
        idx.search_batch({"a": [1.0, 0.0, 0.0, 0.0], "b": [1.0, 0.0, 0.0]})
    # the right dimension still serves
    assert len(idx.search([1.0, 0.0, 0.5, 0.0], k=3).collect()) == 3


def test_wrong_dimension_query_fails_in_projected_mode(idx):
    idx.insert([(f"doc{i}", [1.0, float(i), 0.5, float(i % 2)], [])
                for i in range(6)])
    idx.project(k=2)
    with pytest.raises(DimensionMismatchError):
        idx.search([1.0, 0.0, 0.0], k=3)
    with pytest.raises(DimensionMismatchError):
        idx.search_batch({"q": [1.0, 0.0, 0.0]}, k=3)
    assert len(idx.search([1.0, 0.0, 0.5, 1.0], k=3).collect()) == 3


def test_nan_score_policy(spark, tmp_path):
    # reference panics when comparing NaN similarities (db.rs:742-748); a
    # zero-norm stored vector scores 0/0 = NaN under cosine. strict mode
    # mirrors the panic as a job failure; non-strict drops the row.
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "nan_idx"))
    idx.insert([("ok", [1.0, 2.0], []), ("zero", [0.0, 0.0], [])])
    with pytest.raises(SparkRuntimeException, match="NaN similarity"):
        idx.search([1.0, 1.0], k=2).collect()
    got = idx.search([1.0, 1.0], k=2, strict_nan=False).collect()
    assert [r["content"] for r in got] == ["ok"]


def test_clear(idx):
    # db.rs:608-625
    idx.insert([("x", [1.0, 2.0], [])])
    assert not idx.is_empty()
    idx.clear()
    assert idx.is_empty()


def test_empty_index_search_returns_empty(idx):
    # reference search on a fresh DB returns an empty vec (db.rs:229-231),
    # not an error; ours must not raise on the missing parquet path
    rows = idx.search([1.0, 0.0], k=5).collect()
    assert rows == []
    assert idx.search([1.0, 0.0], k=5).columns == ["id", "content", "tags", "score"]
    rows = idx.search_text("anything", k=3).collect()
    assert rows == []


def test_projected_mode_euclidean_ascending(spark, tmp_path):
    # db.rs:233-255 projected mode — with nearest-k (ascending) semantics,
    # fixing the reference's farthest-k bug (SURVEY.md §2.3)
    import random

    rng = random.Random(7)
    idx = VectorIndex(spark, str(tmp_path / "pidx"))
    rows = [(f"doc{i}", [rng.gauss(0, 1) for _ in range(16)], []) for i in range(40)]
    idx.insert(rows)
    model = idx.project(k=8)
    assert model.components.shape == (16, 8)
    res = idx.search(rows[13][1], k=3).collect()
    assert res[0]["content"] == "doc13"
    # ascending distance order
    assert res[0]["score"] <= res[1]["score"] <= res[2]["score"]


def test_projected_insert_path(spark, tmp_path):
    # db.rs:480-499 — inserts after projection are projected too
    import random

    rng = random.Random(9)
    idx = VectorIndex(spark, str(tmp_path / "pidx2"))
    rows = [(f"doc{i}", [rng.gauss(0, 1) for _ in range(8)], []) for i in range(20)]
    idx.insert(rows)
    idx.project(k=4)
    idx.insert([("late", [1.0] * 8, [])])
    assert idx.dimension() == 4  # stored projected
    assert idx.search([1.0] * 8, k=1).first() is not None


def test_compact_merges_small_files(idx):
    # 4 append batches x 2 tags -> >= 8 data files; compact to 1 per tag
    for i in range(4):
        idx.insert([
            (f"a{i}", [float(i), 1.0, 0.0], ["ta"]),
            (f"b{i}", [0.0, 1.0, float(i)], ["tb"]),
        ])
    before = {(r["content"], round(r["score"], 6))
              for r in idx.search([0.0, 1.0, 0.0], k=10).collect()}
    stats = idx.compact(target_rows_per_file=1000)
    assert stats["rows"] == 8
    assert stats["files_after"] == 2  # one per tag partition
    assert stats["files_after"] < stats["files_before"]
    after = {(r["content"], round(r["score"], 6))
             for r in idx.search([0.0, 1.0, 0.0], k=10).collect()}
    assert before == after


def test_compact_splits_to_target_size(idx):
    idx.insert([(f"c{i}", [float(i), 1.0], ["t"]) for i in range(10)])
    stats = idx.compact(target_rows_per_file=3)
    # ceil(10/3) = 4 salted groups -> 4 files in the one tag partition
    assert stats["files_after"] == 4
    assert idx.scan().count() == 10


def test_compact_empty_index(idx):
    assert idx.compact() == {"files_before": 0, "files_after": 0, "rows": 0}


def test_delete_by_tag_superset(idx):
    idx.insert([("a", [1.0, 0.0], ["x"]),
                ("b", [0.0, 1.0], ["x", "y"]),
                ("c", [1.0, 1.0], ["z"])])
    # superset semantics: tags=["x"] hits both the {x} and {x,y} partitions
    assert idx.delete(["x"]) == 2
    left = [r["content"] for r in idx.scan().collect()]
    assert left == ["c"]
    # searches keep working after the partition drop
    assert idx.search([1.0, 1.0], k=5).count() == 1


def test_delete_no_match_and_empty_args(idx):
    idx.insert([("a", [1.0, 0.0], ["x"])])
    assert idx.delete(["nope"]) == 0
    assert idx.scan().count() == 1
    with pytest.raises(ValueError):
        idx.delete([])


def test_delete_last_partition_empties_index(idx):
    idx.insert([("a", [1.0, 0.0], ["x"])])
    assert idx.delete(["x"]) == 1
    assert idx.is_empty()


def test_pq_build_and_search(idx):
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(12):
        center = 0 if i % 2 == 0 else 3
        v = [center + rng.gauss(0, 0.05) for _ in range(4)]
        rows.append((f"doc{i}", v, ["even" if i % 2 == 0 else "odd"]))
    idx.insert(rows)
    idx.build_pq(m=2, n_codes=8)
    hits = idx.search_pq([0.0, 0.0, 0.0, 0.0], k=4).collect()
    assert len(hits) == 4
    # ascending ADC distance, and all nearest the zero center (even docs)
    assert all(hits[i]["adc_dist"] <= hits[i + 1]["adc_dist"] for i in range(3))
    assert all(int(h["content"][3:]) % 2 == 0 for h in hits)
    assert not math.isnan(hits[0]["adc_dist"])


def test_build_ivfpq_sample_is_reproducible_across_reingests(spark, tmp_path):
    """seed_col="content" promises identical artifacts for an identical
    corpus, although ids are minted per insert: centroids and codebook
    rows come back ordered by the seed column, not by id."""
    import json

    rows = [(f"doc{i:02d}", [float((i * 7) % 5) - 2.0, float(i % 3), 1.0,
                             float((i * 3) % 4)], [["x"], ["y"]][i % 2])
            for i in range(24)]

    def meta(name):
        ix = VectorIndex(spark, str(tmp_path / name))
        ix.insert(rows)
        ix.build_ivfpq(m=2, n_codes=4, n_cells=3, trainer="sample",
                       seed_col="content")
        with open(ix.ivfpq_meta_path) as f:
            return json.load(f)

    assert meta("a") == meta("b")


def test_pq_guards(idx):
    with pytest.raises(ValueError):
        idx.build_pq()  # empty index
    idx.insert([("a", [1.0, 2.0, 3.0], [])])
    with pytest.raises(ValueError):
        idx.build_pq(m=2)  # 3 not divisible by 2
    with pytest.raises(ValueError):
        idx.search_pq([1.0, 2.0, 3.0])  # not built
    idx.build_pq(m=3, n_codes=4)
    assert idx.search_pq([1.0, 2.0, 3.0], k=1).first()["content"] == "a"


def test_pq_cleared_with_index(idx):
    idx.insert([("a", [1.0, 2.0], [])])
    idx.build_pq(m=2, n_codes=2)
    idx.clear()
    assert idx.is_empty()
    import os
    assert not os.path.exists(idx.pq_path) and not os.path.exists(idx.pq_meta_path)


def _clustered_rows(n_per=8, d=4):
    import random
    rng = random.Random(5)
    rows = []
    for i in range(n_per):
        rows.append((f"a{i}", [1.0 + rng.gauss(0, 0.02) if j == 0 else rng.gauss(0, 0.02) for j in range(d)], ["ca"]))
        rows.append((f"b{i}", [1.0 + rng.gauss(0, 0.02) if j == 1 else rng.gauss(0, 0.02) for j in range(d)], ["cb"]))
    return rows


def test_ivf_build_and_search_matches_exact_top1(idx):
    idx.insert(_clustered_rows())
    idx.build_ivf(n_cells=4)
    q = [1.0, 0.0, 0.0, 0.0]
    exact = idx.search(q, k=3).collect()
    approx = idx.search_ivf(q, k=3, nprobe=2).collect()
    assert approx[0]["content"] == exact[0]["content"]
    assert all(r["content"].startswith("a") for r in approx)
    assert all(approx[i]["score"] >= approx[i + 1]["score"] for i in range(2))


def test_ivf_probe_is_partition_pruned(idx):
    idx.insert(_clustered_rows())
    idx.build_ivf(n_cells=4)
    df = idx.search_ivf([0.0, 1.0, 0.0, 0.0], k=2, nprobe=1)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the cell filter must land in PartitionFilters (directory pruning),
    # not as a post-scan row filter
    scan = plan[plan.index("Scan parquet"):]
    pf = scan[scan.index("PartitionFilters:"):].splitlines()[0]
    assert "cell" in pf


def test_ivf_guards(idx):
    with pytest.raises(ValueError):
        idx.build_ivf()
    idx.insert([("a", [1.0, 0.0], [])])
    with pytest.raises(ValueError):
        idx.search_ivf([1.0, 0.0])
    idx.build_ivf(n_cells=2)
    assert idx.search_ivf([1.0, 0.0], k=1).first()["content"] == "a"
    idx.clear()
    import os
    assert not os.path.exists(idx.ivf_path) and not os.path.exists(idx.ivf_meta_path)


def test_delete_invalidates_ann_artifacts(idx):
    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["y"])])
    idx.build_pq(m=2, n_codes=2)
    idx.build_ivf(n_cells=2)
    idx.delete(["x"])
    # serving deleted rows would be wrong; the artifacts must be gone
    with pytest.raises(ValueError):
        idx.search_pq([1.0, 0.0])
    with pytest.raises(ValueError):
        idx.search_ivf([1.0, 0.0])
    # the exact path still works and no longer sees the deleted row
    assert [r["content"] for r in idx.search([1.0, 0.0], k=5).collect()] == ["b"]


def test_project_invalidates_ann_artifacts(idx):
    import random
    rng = random.Random(3)
    idx.insert([(f"d{i}", [rng.random() for _ in range(6)], []) for i in range(20)])
    idx.build_pq(m=2, n_codes=4)
    idx.project(k=2)
    with pytest.raises(ValueError):
        idx.search_pq([0.5] * 6)


def test_pq_ivf_in_projected_mode_project_the_query(idx):
    import random
    rng = random.Random(9)
    idx.insert([(f"d{i}", [rng.random() for _ in range(6)], []) for i in range(20)])
    idx.project(k=2)
    idx.build_pq(m=2, n_codes=4)
    idx.build_ivf(n_cells=4)
    # raw-dimension query: must be projected internally, not truncated
    raw_q = [0.5] * 6
    assert len(idx.search_pq(raw_q, k=3).collect()) == 3
    assert len(idx.search_ivf(raw_q, k=3, nprobe=2).collect()) == 3
    # a query already in the wrong (projected) width is rejected loudly
    from victor_spark.index import DimensionMismatchError
    with pytest.raises(DimensionMismatchError):
        idx.search_pq([0.5] * 3)


def test_ivfpq_build_search_and_pruning(idx):
    idx.insert(_clustered_rows())
    idx.build_ivfpq(m=2, n_codes=4, n_cells=4)
    q = [1.0, 0.0, 0.0, 0.0]
    res = idx.search_ivfpq(q, k=3, nprobe=2).collect()
    assert len(res) == 3
    # ADC ascending, and the nearest cluster ('a' rows point at e1) wins
    dists = [r["adc_dist"] for r in res]
    assert dists == sorted(dists)
    assert all(r["content"].startswith("a") for r in res)
    # the cell probe must be directory pruning over the code table
    df = idx.search_ivfpq(q, k=2, nprobe=1)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan = plan[plan.index("Scan parquet"):]
    pf = scan[scan.index("PartitionFilters:"):].splitlines()[0]
    assert "cell" in pf


def test_ivfpq_guards_and_invalidation(idx):
    with pytest.raises(ValueError):
        idx.build_ivfpq()
    idx.insert([("a", [1.0, 0.0], ["ta"]), ("b", [0.0, 1.0], ["tb"])])
    with pytest.raises(ValueError):
        idx.search_ivfpq([1.0, 0.0])
    idx.build_ivfpq(m=2, n_codes=2, n_cells=2)
    assert idx.search_ivfpq([1.0, 0.0], k=1).first()["content"] == "a"
    import os
    # deletion invalidates the serving table like pq/ivf
    idx.delete(["tb"])
    assert not os.path.exists(idx.ivfpq_meta_path)
    assert not os.path.exists(idx.ivfpq_path)


# -- tag-set metadata listing (the index.bin analog, db.rs:629-643) --------


def test_tag_listing_maintained_on_insert(idx):
    import os

    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["x", "y"])])
    assert os.path.exists(idx.tagsets_path)
    listing = dict(idx._read_tag_sets())
    assert sorted(listing.values()) == [["x"], ["x", "y"]]
    # second batch: only genuinely new tag-sets are added, no duplicates
    idx.insert([("c", [1.0, 1.0], ["x"]), ("d", [0.5, 0.5], ["z"])])
    listing = idx._read_tag_sets()
    assert sorted(ts for _, ts in listing) == [["x"], ["x", "y"], ["z"]]
    assert len(listing) == len({tsid for tsid, _ in listing})


def test_tagged_scan_resolves_from_metadata_not_data(idx, monkeypatch):
    """The superset predicate must be answered by the metadata listing —
    at 100 TB a full-corpus distinct before every tagged query is a
    scan-the-world prologue (the round-2 scale-killer)."""
    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["y"])])

    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet

    def spy(self, *paths, **k):
        # the listing heal reads a partition directory; the scan itself
        # reads only the table root
        assert not any("tag_set_id=" in p for p in paths), (
            f"data read while resolving tags: {paths}"
        )
        return real(self, *paths, **k)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    got = [r["content"] for r in idx.scan(["x"]).collect()]
    assert got == ["a"]
    monkeypatch.undo()
    # the pruned read itself only lists the matching partition directory
    assert idx.search([1.0, 0.0], k=5, tags=["y"]).first()["content"] == "b"


def test_tag_listing_self_heals_for_legacy_index(idx):
    import os

    idx.insert([("a", [1.0, 0.0], ["x"])])
    os.remove(idx.tagsets_path)  # simulate an index written pre-listing
    assert idx._read_tag_sets() is None
    assert [r["content"] for r in idx.scan(["x"]).collect()] == ["a"]
    # the fallback derive rewrote the listing for next time
    assert idx._read_tag_sets() is not None


def test_delete_updates_listing_and_counts_from_footers(idx, monkeypatch):
    idx.insert([("a", [1.0, 0.0], ["x"]),
                ("b", [0.0, 1.0], ["x", "y"]),
                ("c", [1.0, 1.0], ["z"])])
    # delete must not scan data rows: poison the Spark read path for the
    # duration of the call (footer metadata + the listing suffice)
    real_read = idx.spark.read

    class _NoRead:
        def parquet(self, *a, **k):
            raise AssertionError("delete() read the data")

    monkeypatch.setattr(type(idx.spark), "read", property(lambda self: _NoRead()))
    try:
        assert idx.delete(["x"]) == 2
    finally:
        monkeypatch.undo()
    assert [ts for _, ts in idx._read_tag_sets()] == [["z"]]
    assert [r["content"] for r in idx.scan().collect()] == ["c"]


def test_clear_removes_listing(idx):
    import os

    idx.insert([("a", [1.0, 0.0], ["x"])])
    idx.clear()
    assert not os.path.exists(idx.tagsets_path)
    assert idx.is_empty()


def test_tag_listing_reconciles_after_partial_insert(idx):
    """Crash between the data write and the listing update must not hide
    rows forever: the next tagged resolution reconciles the listing against
    the partition directories (pruned one-partition reads, not a scan)."""
    idx.insert([("a", [1.0, 0.0], ["x"])])
    idx.insert([("b", [0.0, 1.0], ["y"])])
    # simulate the crash: rewrite the listing WITHOUT y's entry
    survivors = [e for e in idx._read_tag_sets() if e[1] != ["y"]]
    idx._write_tag_sets(survivors)
    assert [r["content"] for r in idx.scan(["y"]).collect()] == ["b"]
    # and the repair is persisted
    assert sorted(ts for _, ts in idx._read_tag_sets()) == [["x"], ["y"]]
    assert idx.delete(["y"]) == 1


# -- batch search (extension: N queries share one pruned scan) -------------


def test_search_batch_matches_single_searches(idx):
    idx.insert([("a", [1.0, 0.0], ["x"]),
                ("b", [0.0, 1.0], ["x"]),
                ("c", [0.7, 0.7], ["y"])])
    queries = {"q1": [1.0, 0.1], "q2": [0.1, 1.0]}
    batch = idx.search_batch(queries, k=2)
    rows = [(r["query_id"], r["rank"], r["id"], round(r["score"], 9))
            for r in batch.collect()]
    singles = []
    for qid, v in sorted(queries.items()):
        for rank, r in enumerate(idx.search(v, k=2).collect(), start=1):
            singles.append((qid, rank, r["id"], round(r["score"], 9)))
    assert sorted(rows) == sorted(singles)


def test_search_batch_tag_scope_and_empty(idx):
    import pytest

    assert idx.search_batch({"q": [1.0, 0.0]}, k=1).collect() == []  # empty index
    idx.insert([("a", [1.0, 0.0], ["x"]), ("c", [0.7, 0.7], ["y"])])
    got = idx.search_batch({"q": [1.0, 0.0]}, k=5, tags=["y"]).collect()
    assert [r["content"] for r in got] == ["c"]
    with pytest.raises(ValueError):
        idx.search_batch({}, k=1)


def test_search_batch_projected_mode(spark, tmp_path):
    import random

    from victor_spark.index import VectorIndex

    rng = random.Random(3)
    idx = VectorIndex(spark, str(tmp_path / "bidx"))
    rows = [(f"doc{i}", [rng.gauss(0, 1) for _ in range(8)], []) for i in range(20)]
    idx.insert(rows)
    idx.project(k=4)
    got = idx.search_batch({"q5": rows[5][1], "q9": rows[9][1]}, k=1).collect()
    by_q = {r["query_id"]: r["content"] for r in got}
    assert by_q == {"q5": "doc5", "q9": "doc9"}


def test_ann_paths_support_tag_scoping(idx):
    """tags= on the ANN serving paths must be exact within scope: the
    pre-scoring prune means a tag-scoped top-k equals brute force over the
    tagged rows (not a lossy post-filter of global candidates)."""
    import random

    rng = random.Random(17)
    rows = []
    for i in range(24):
        tag = "even" if i % 2 == 0 else "odd"
        rows.append((f"doc{i}", [rng.gauss(0, 1) for _ in range(4)], [tag]))
    idx.insert(rows)
    q = rows[0][1]

    idx.build_pq(m=2, n_codes=8)
    got = idx.search_pq(q, k=3, tags=["odd"]).collect()
    assert len(got) == 3
    assert all("odd" in r["tags"] for r in got)

    idx.build_ivf(n_cells=3)
    got = idx.search_ivf(q, k=30, nprobe=3, tags=["even"]).collect()
    # nprobe = all cells -> exactly the even rows, best-first
    assert {r["content"] for r in got} == {f"doc{i}" for i in range(0, 24, 2)}
    assert got[0]["content"] == "doc0"

    idx.build_ivfpq(m=2, n_codes=8, n_cells=3)
    got = idx.search_ivfpq(q, k=5, nprobe=3, tags=["odd"]).collect()
    assert len(got) == 5
    assert all("odd" in r["tags"] for r in got)


def test_stats_from_metadata_only(idx, monkeypatch):
    idx.insert([("a", [1.0, 0.0], ["x"]),
                ("b", [0.0, 1.0], ["x"]),
                ("c", [1.0, 1.0], ["y"])])
    # stats must come from the listing + footers, never a data scan
    real_read = None

    class _NoRead:
        def parquet(self, *a, **k):
            raise AssertionError("stats() scanned the data")

    monkeypatch.setattr(type(idx.spark), "read", property(lambda self: _NoRead()))
    try:
        s = idx.stats()
    finally:
        monkeypatch.undo()
    by_tags = {tuple(r["tags"]): r for r in s}
    assert by_tags[("x",)]["rows"] == 2
    assert by_tags[("y",)]["rows"] == 1
    assert all(r["files"] >= 1 and r["bytes"] > 0 for r in s)
    assert idx.stats() == s  # stable
    assert VectorIndex(idx.spark, idx.path + "_nope").stats() == []


def test_compact_sort_within_tightens_file_stats(idx):
    """sort_within must produce disjoint per-file min/max ranges on the
    sort column (the footer stats a selective scan skips files with)."""
    import os

    import pyarrow.parquet as papq

    idx.insert([(f"{i:04d}", [float(i), 1.0], ["t"]) for i in range(40)])
    idx.compact(target_rows_per_file=10, sort_within="content")
    part = os.path.join(idx.data_path, [
        d for d in os.listdir(idx.data_path) if d.startswith("tag_set_id=")
    ][0])
    ranges = []
    for f in os.listdir(part):
        if not f.endswith(".parquet"):
            continue
        md = papq.ParquetFile(os.path.join(part, f)).metadata
        col_idx = next(i for i in range(md.num_columns)
                       if md.row_group(0).column(i).path_in_schema == "content")
        mins = [md.row_group(g).column(col_idx).statistics.min
                for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(col_idx).statistics.max
                for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    # disjoint: each file's max < next file's min
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    # data intact and searchable
    assert idx.scan().count() == 40
    assert idx.search([39.0, 1.0], k=1).first()["content"] == "0039"


def test_delete_ids_rewrites_only_affected_partitions(idx):
    import os

    idx.insert([("a", [1.0, 0.0], ["x"]),
                ("b", [0.0, 1.0], ["x"]),
                ("c", [1.0, 1.0], ["y"]),
                ("d", [0.5, 0.5], ["z"])])
    rows = {r["content"]: r["id"] for r in idx.scan().collect()}
    ts_z = [t for t, _ in [(tsid, ts) for tsid, ts in idx._read_tag_sets()
                           if ts == ["z"]]][0]
    z_dir = os.path.join(idx.data_path, f"tag_set_id={ts_z}")
    z_files = sorted(os.listdir(z_dir))
    z_mtimes = [os.path.getmtime(os.path.join(z_dir, f)) for f in z_files]

    # delete one of x's two rows (partial rewrite) and y's only row
    # (directory drop) in one call
    assert idx.delete_ids([rows["a"], rows["c"]]) == 2

    left = sorted(r["content"] for r in idx.scan().collect())
    assert left == ["b", "d"]
    # y's tag set left the metadata listing; x and z stayed
    assert sorted(ts for _, ts in idx._read_tag_sets()) == [["x"], ["z"]]
    # the untouched partition (z) was not rewritten: same files, same mtimes
    assert sorted(os.listdir(z_dir)) == z_files
    assert [os.path.getmtime(os.path.join(z_dir, f)) for f in z_files] == z_mtimes
    # search never returns deleted rows
    got = [r["content"] for r in idx.search([1.0, 0.0], k=4).collect()]
    assert "a" not in got and "c" not in got


def test_delete_ids_unknown_and_empty(idx):
    idx.insert([("a", [1.0, 0.0], ["x"])])
    assert idx.delete_ids([]) == 0
    assert idx.delete_ids(["not-a-real-id"]) == 0
    assert [r["content"] for r in idx.scan().collect()] == ["a"]


def test_delete_ids_all_rows_clears_index(idx):
    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["y"])])
    ids = [r["id"] for r in idx.scan().collect()]
    assert idx.delete_ids(ids) == 2
    assert idx.is_empty()


def test_search_rerank_lexical_evidence_reorders(spark, tmp_path):
    """Two-stage search: candidates come from vector similarity, the
    final order from token-set Jaccard vs the query text — a doc with
    high lexical overlap outranks a vector-closer doc with none."""
    from victor_spark.functions.embedder import embed_query
    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "ix"))
    # embed contents with the corpus model so retrieval is meaningful
    contents = [
        "spark shuffle partitions tuning guide",
        "spark shuffle memory and spill behavior",
        "cooking pasta with garlic and oil",
    ]
    idx.insert([(c, embed_query(c, 64), ["docs"]) for c in contents])

    query = "spark shuffle partitions"
    out = idx.search_rerank(query, k=3, fetch_k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # the exact-overlap doc wins the rerank
    assert out[0].content == "spark shuffle partitions tuning guide"
    assert out[0].rerank_score > out[-1].rerank_score
    # rerank_score is a true Jaccard in [0, 1]
    assert all(0.0 <= r.rerank_score <= 1.0 for r in out)


def test_search_rerank_respects_fetch_k_and_tags(spark, tmp_path):
    from victor_spark.functions.embedder import embed_query
    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "ix"))
    idx.insert(
        [("alpha beta", embed_query("alpha beta", 64), ["a"]),
         ("alpha gamma", embed_query("alpha gamma", 64), ["b"]),
         ("alpha delta", embed_query("alpha delta", 64), ["a"])]
    )
    # tag scope: only 'a' docs are candidates
    out = idx.search_rerank("alpha beta", k=5, fetch_k=5, tags=["a"]).collect()
    assert {r.content for r in out} <= {"alpha beta", "alpha delta"}
    # fetch_k bounds the candidate set: with fetch_k=1 only the single
    # vector-nearest candidate survives to the rerank
    out1 = idx.search_rerank("alpha beta", k=5, fetch_k=1).collect()
    assert len(out1) == 1


def test_add_chunked_ingests_retrievable_chunks(spark, tmp_path):
    """The RAG ingestion path: documents chunk into overlapping windows,
    each chunk is embedded and indexed with a doc:<id> provenance tag,
    and a text search retrieves the right chunk; deleting the doc tag
    removes exactly that document's chunks."""
    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "ix"))
    docs = spark.createDataFrame(
        [(1, " ".join(f"alpha{i}" for i in range(30))),
         (2, " ".join(f"beta{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    idx.add_chunked(docs, "doc_id", "text", chunk_size=16, overlap=4,
                    tags=["corpus"])
    # 30 tokens / stride 12 -> 3 chunks per doc
    assert idx.scan().count() == 6
    # chunk-scoped retrieval: the best hit for a doc-1 phrase is a doc-1
    # chunk, and the provenance tag scopes the search
    hit = idx.search_text("alpha12 alpha13 alpha14", k=1,
                          tags=["doc:1"]).collect()[0]
    assert "alpha12" in hit.content
    assert "doc:1" in hit.tags and "corpus" in hit.tags
    # delete one document's chunks by provenance tag; the rest survive
    removed = idx.delete(["doc:2"])
    assert removed == 3
    assert idx.scan().count() == 3
    assert idx.search_text("beta5", k=5, tags=["doc:2"]).count() == 0


def test_hybrid_search_fuses_vector_and_lexical_evidence(spark, tmp_path):
    """RRF on the index: a doc with strong lexical overlap but a weaker
    embedding surfaces in the fused top-k; ranks and the fused score
    follow 1/(60+rank) arithmetic; tag scoping applies to both legs."""
    from victor_spark.functions.embedder import embed_query
    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "ix"))
    contents = [
        "spark shuffle partitions tuning",
        "spark shuffle spill memory",
        "quantum gardening in spring",
        "partitions tuning deep dive notes",
    ]
    idx.insert([(c, embed_query(c, 64), ["a"]) for c in contents])
    out = idx.hybrid_search("spark shuffle partitions tuning", k=4, fetch_k=4).collect()
    assert [r.rank for r in out] == [1, 2, 3, 4]
    # the exact-match doc tops the fusion with rank 1 on both legs
    top = out[0]
    assert top.content == "spark shuffle partitions tuning"
    assert top.vec_rank == 1 and top.lex_rank == 1
    assert top.rrf == pytest.approx(2.0 / 61.0)
    # every fused row carries at least one leg rank
    assert all(r.vec_rank is not None or r.lex_rank is not None for r in out)

    # tag scoping: an unmatched tag yields nothing
    assert idx.hybrid_search("spark", k=3, tags=["zzz"]).count() == 0


def test_legacy_heal_reads_partitions_not_corpus(idx, monkeypatch):
    """The no-metadata self-heal must be O(partitions) — directory names
    plus a limit-1 read per partition dir, never a corpus-wide read (the
    round-3 posture nit: at 100 TB even a one-time full distinct is a
    scan-the-world job)."""
    import os

    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["y"])])
    os.remove(idx.tagsets_path)  # legacy index: data, no listing

    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet

    def spy(self, *paths, **k):
        assert all("tag_set_id=" in p for p in paths), (
            f"corpus-wide read during heal: {paths}"
        )
        return real(self, *paths, **k)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    listing = idx._tag_sets()
    assert sorted(ts for _tsid, ts in listing) == [["x"], ["y"]]
    assert idx._read_tag_sets() == listing  # healed for next time


def test_merge_from_combines_shards(spark, tmp_path):
    """Shard-parallel ingest: two privately-built shard indexes merge
    into one, rows moving AS-IS (no second quantization error), listings
    unioned — search over the merged index equals search over an index
    built from all rows directly."""
    from victor_spark.index import VectorIndex

    rows_a = [(f"a{i}", [float(i), 1.0, 0.5, 0.0], ["s", "a"]) for i in range(10)]
    rows_b = [(f"b{i}", [0.5, float(i), 1.0, 1.0], ["s", "b"]) for i in range(10)]
    sh_a = VectorIndex(spark, str(tmp_path / "shard_a"))
    sh_b = VectorIndex(spark, str(tmp_path / "shard_b"))
    sh_a.insert(rows_a)
    sh_b.insert(rows_b)
    target = VectorIndex(spark, str(tmp_path / "target"))
    assert target.merge_from(sh_a) == 10
    assert target.merge_from(sh_b) == 10

    ref = VectorIndex(spark, str(tmp_path / "reference"))
    ref.insert(rows_a + rows_b)
    q = [2.0, 1.5, 0.7, 0.3]
    got = [(r["content"], round(r["score"], 9))
           for r in target.search(q, k=5).collect()]
    want = [(r["content"], round(r["score"], 9))
            for r in ref.search(q, k=5).collect()]
    assert got == want
    # tag scoping sees both shards' tag sets from the unioned listing
    assert target.search(q, k=20, tags=["a"]).count() == 10
    assert target.search(q, k=20, tags=["b"]).count() == 10
    assert sum(s["rows"] for s in target.stats()) == 20


def test_merge_from_rejects_mismatches(spark, tmp_path):
    from victor_spark.index import VectorIndex

    a = VectorIndex(spark, str(tmp_path / "m_a"))
    b = VectorIndex(spark, str(tmp_path / "m_b"))
    a.insert([("x", [1.0, 0.0], [])])
    b.insert([("y", [1.0, 0.0, 0.0], [])])
    with pytest.raises(Exception, match="dimension"):
        a.merge_from(b)
    with pytest.raises(ValueError, match="itself"):
        a.merge_from(a)
    # projected/unprojected mix refused
    c = VectorIndex(spark, str(tmp_path / "m_c"))
    c.insert([(f"c{i}", [float(i), float(i % 3), 1.0], []) for i in range(12)])
    c.project(k=2)
    d = VectorIndex(spark, str(tmp_path / "m_d"))
    # same stored dimension as the projected index (k=2) so the
    # projection-state check, not the dimension check, is what fires
    d.insert([("d0", [1.0, 2.0], [])])
    with pytest.raises(ValueError, match="projected"):
        d.merge_from(c)


def test_merge_from_empty_target_adopts_projection(spark, tmp_path):
    from victor_spark.index import VectorIndex

    shard = VectorIndex(spark, str(tmp_path / "p_shard"))
    shard.insert([(f"p{i}", [float(i), float(i % 3), 1.0], []) for i in range(12)])
    shard.project(k=2)
    target = VectorIndex(spark, str(tmp_path / "p_target"))
    assert target.merge_from(shard) == 12
    assert target._load_model() is not None
    # projected-mode search (euclidean ascending) works on the merged copy
    got = target.search([1.0, 1.0, 1.0], k=3).collect()
    assert len(got) == 3


def test_vacuum_reclaims_crash_debris(idx):
    """Every maintenance writer stages under a debris suffix outside the
    live paths; vacuum reclaims what a crash leaves, and only that —
    gated on age, so a LIVE writer's fresh staging survives the default
    call (the no-active-writer contract is now hard to violate by
    accident) while aged debris is reclaimed."""
    import os

    idx.insert([("a", [1.0, 0.0], ["x"])])
    base = idx.path
    # simulate interrupted maintenance of each flavor
    for d in ("data__compacting", "ivf_data__building", "data__del_tmp",
              "data__old"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    with open(os.path.join(base, "tag_sets.parquet.tmp"), "w") as f:
        f.write("partial")
    # all five are FRESH — the default age gate must leave every one alone
    assert idx.vacuum() == []
    assert sorted(os.listdir(base)) == [
        "data", "data__compacting", "data__del_tmp", "data__old",
        "ivf_data__building", "tag_sets.parquet", "tag_sets.parquet.tmp",
    ]
    # age them past the gate (simulated crash debris from an hour+ ago)
    aged = 5 * 3600
    for name in os.listdir(base):
        if name not in ("data", "tag_sets.parquet"):
            p = os.path.join(base, name)
            os.utime(p, (os.path.getatime(p) - aged, os.path.getmtime(p) - aged))
    removed = idx.vacuum()
    assert len(removed) == 5
    assert sorted(os.listdir(base)) == ["data", "tag_sets.parquet"]
    # live data untouched, index still serves
    assert idx.scan(["x"]).count() == 1
    # idempotent
    assert idx.vacuum() == []


def test_recover_staged_completes_interrupted_insert(spark, tmp_path):
    """An insert that fails partway through its move phase leaves its
    __staging directory intact (delete-on-success only — the round-4
    advice finding); recover_staged() finishes the remaining moves
    exactly-once and reconciles the listing, so the batch lands fully
    with no duplicated rows."""
    import os

    from victor_spark.index import VectorIndex

    p = str(tmp_path / "recov")
    idx = VectorIndex(spark, p)
    idx.insert([("a", [1.0, 0.0], ["x"]), ("b", [0.0, 1.0], ["x"])])

    # craft an interrupted insert with the REAL on-disk layout: a scratch
    # index writes the 4-row 'y' batch (two insert calls -> >=2 part
    # files), whose partition dir becomes the staging payload; _SUCCESS
    # marks the staging write as complete; ONE part file is already moved
    # into the live partition — exactly the state a crash mid-loop leaves
    import shutil

    from victor_spark.index import tag_set_id as _tsid

    scratch = VectorIndex(spark, str(tmp_path / "scratch"))
    scratch.insert([("c0", [2.0, 0.0], ["y"]), ("c1", [3.0, 0.0], ["y"])])
    scratch.insert([("c2", [4.0, 0.0], ["y"]), ("c3", [5.0, 0.0], ["y"])])
    tsid = _tsid(["y"])
    staging = os.path.join(p, "data__insert_testcrash__staging")
    shutil.copytree(
        os.path.join(scratch.path, "data"), staging,
        ignore=lambda d, names: [n for n in names if n.startswith("_")],
    )
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    part_dir = os.path.join(staging, f"tag_set_id={tsid}")
    files = sorted(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
    assert len(files) >= 2
    live = os.path.join(p, "data", f"tag_set_id={tsid}")
    os.makedirs(live, exist_ok=True)
    os.rename(os.path.join(part_dir, files[0]), os.path.join(live, files[0]))

    recovered = idx.recover_staged()
    assert recovered == [staging]
    assert not os.path.exists(staging)
    # the whole 4-row batch is live exactly once, and the reconciled
    # listing makes the recovered tag-set queryable
    assert idx.scan(["y"]).count() == 4
    assert idx.scan(["x"]).count() == 2
    # a second recover is a no-op
    assert idx.recover_staged() == []

    # an interrupted WRITE (no _SUCCESS) is NOT recovered — vacuum's job
    dead = os.path.join(p, "data__insert_deadwrite__staging")
    os.makedirs(os.path.join(dead, "_temporary"), exist_ok=True)
    assert idx.recover_staged() == []
    assert os.path.exists(dead)


def test_concurrent_inserts_both_tag_sets_survive(spark, tmp_path):
    """The real listing race: two threads insert_df concurrently (shared
    SparkSession, distinct tag sets). Whatever interleaving happens —
    merge-on-write usually keeps both entries; in the residual window the
    reconciler heals on next consult — BOTH tag sets must end up
    queryable and the listing complete."""
    import threading

    from victor_spark.index import VectorIndex, tag_set_id

    idx = VectorIndex(spark, str(tmp_path / "conc"))
    errs = []

    def ins(tag):
        try:
            idx.insert([(f"doc-{tag}-{i}", [float(i), 1.0], [tag])
                        for i in range(5)])
        except Exception as e:  # surface failures to the main thread
            errs.append(e)

    threads = [threading.Thread(target=ins, args=(t,)) for t in
               ("alpha", "beta", "gamma", "delta")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # every tag set queryable (reconciler heals any lost update on read)
    for tag in ("alpha", "beta", "gamma", "delta"):
        assert idx.scan([tag]).count() == 5, tag
    listing = dict(idx._read_tag_sets())
    for tag in ("alpha", "beta", "gamma", "delta"):
        assert tag_set_id([tag]) in listing


def test_listing_lock_serializes_concurrent_inserts(spark, tmp_path):
    """listing_lock=True (the opt-in for callers who can't serialize):
    every listing read-modify-write runs under a create-exclusive lock
    file, so concurrent inserts land both entries in the listing FILE
    directly — no reconciler heal needed — and the lock file is gone
    when the writers finish."""
    import os
    import threading

    from victor_spark.index import VectorIndex, tag_set_id

    p = str(tmp_path / "locked")
    errs = []

    def ins(tag):
        try:
            # separate handles, like separate processes would hold
            VectorIndex(spark, p, listing_lock=True).insert(
                [(f"doc-{tag}-{i}", [float(i), 1.0], [tag]) for i in range(5)]
            )
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=ins, args=(t,)) for t in
               ("alpha", "beta", "gamma", "delta")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    idx = VectorIndex(spark, p)
    listing = dict(idx._read_tag_sets())  # raw file read, no reconcile
    for tag in ("alpha", "beta", "gamma", "delta"):
        assert tag_set_id([tag]) in listing
    assert not os.path.exists(idx.lock_path)


def test_listing_lock_timeout_and_stale_expiry(spark, tmp_path):
    """A held (fresh) lock makes acquisition time out; a stale lock file
    (crashed holder) is broken and acquisition proceeds."""
    import os

    import pytest as _pytest

    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "lk"), listing_lock=True)
    os.makedirs(idx.path, exist_ok=True)
    # a live holder: fresh lock file -> timeout
    assert idx.fs.create_exclusive(idx.lock_path, b"pid=other")
    with _pytest.raises(TimeoutError, match="listing lock"):
        idx._acquire_listing_lock(timeout_s=0.3, stale_s=600.0)
    # a crashed holder: stale lock file -> broken, acquisition succeeds
    old = os.path.getmtime(idx.lock_path) - 10_000
    os.utime(idx.lock_path, (old, old))
    idx._acquire_listing_lock(timeout_s=1.0, stale_s=600.0)
    assert os.path.exists(idx.lock_path)  # we hold it now
    idx._release_listing_lock()
    assert not os.path.exists(idx.lock_path)


def test_stale_lock_break_is_single_winner(spark, tmp_path):
    """Round-5 advice: breaking a stale lock must not be check-then-
    delete. _break_stale_lock claims via atomic rename (one winner; the
    loser raises and retries) and re-verifies staleness on the private
    victim copy — a lock that was re-created FRESH in the check→break
    window is renamed back untouched instead of destroyed."""
    import os

    import pytest as _pytest

    from victor_spark.index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "lk2"), listing_lock=True)
    os.makedirs(idx.path, exist_ok=True)

    # stale file: the break destroys it and leaves no debris
    assert idx.fs.create_exclusive(idx.lock_path, b"pid=dead")
    old = os.path.getmtime(idx.lock_path) - 10_000
    os.utime(idx.lock_path, (old, old))
    idx._break_stale_lock(stale_s=600.0)
    assert not os.path.exists(idx.lock_path)
    assert os.listdir(os.path.dirname(idx.lock_path)) == []  # no victim left

    # fresh file (re-created by the break winner between our staleness
    # check and our break): restored in place, content intact
    assert idx.fs.create_exclusive(idx.lock_path, b"pid=alive")
    idx._break_stale_lock(stale_s=600.0)
    assert os.path.exists(idx.lock_path)
    assert idx.fs.read_bytes(idx.lock_path) == b"pid=alive"

    # losing the claim race (file already gone) raises -> caller retries
    os.remove(idx.lock_path)
    with _pytest.raises(Exception):
        idx._break_stale_lock(stale_s=600.0)


def test_shard_lifecycle_capstone(spark, tmp_path):
    """The cross-shard lifecycle, composed end to end the way a real
    parallel ingest runs it (each leg is unit-tested alone; this proves
    they COMPOSE): 3 privately-built shard indexes -> merge_from x3 ->
    compact -> build_ivfpq(trainer="kmeans", seed_col="content") ->
    tagged search_ivfpq, with brute-force parity as the oracle. The
    corpus is a mixture of well-separated Gaussian DIRECTIONS (the shape
    IVF exists for), sharded round-robin so every shard carries every
    cluster; content-seeded k-means makes the whole pipeline a pure
    function of the data."""
    import numpy as np

    from victor_spark.index import VectorIndex

    rng = np.random.default_rng(47)
    centers = rng.normal(0, 1, size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(120):
        v = centers[i % 4] * 3.0 + rng.normal(0, 0.25, size=16)
        rows.append(
            (f"doc{i:03d}", [float(x) for x in v],
             ["corpus", f"c{i % 4}"])
        )

    # 1) shard-parallel ingest: three private builds, no listing contention
    shards = []
    for s in range(3):
        sh = VectorIndex(spark, str(tmp_path / f"shard{s}"))
        sh.insert(rows[s::3])
        shards.append(sh)
    target = VectorIndex(spark, str(tmp_path / "merged"))
    assert sum(target.merge_from(sh) for sh in shards) == 120

    # 2) compact: the merge left one file per (shard-batch, tag-set);
    # compaction must shrink the file count and preserve every row
    before = sum(s["rows"] for s in target.stats())
    report = target.compact(target_rows_per_file=1_000_000)
    assert report["rows"] == before == 120
    assert report["files_after"] <= report["files_before"]

    # 3) serving build over the merged+compacted table (content-seeded:
    # reproducible across re-ingests despite per-insert uuids)
    target.build_ivfpq(m=4, n_codes=8, n_cells=4, trainer="kmeans",
                       train_iters=6, seed_col="content")

    # 4) tagged ANN serving vs brute force. Two claims, separately:
    # (a) ROUTING — every ANN top-5 hit is from the query's own cluster
    #     (the IVF cells must align with the data's clusters);
    # (b) RANKING — the exact top-5 sit inside the ANN top-20 (recall@5
    #     in 20): 8-code PQ legitimately blurs the FINE order among ~30
    #     near-identical cluster members, so top-5==top-5 would test the
    #     quantizer's noise floor, not the composition.
    # The pipeline is content-seeded + fixed-rng, so the INIT is a pure
    # function of the data — but the k-means mean updates are
    # distributed float sums whose ORDER depends on task scheduling, so
    # the trained codebook can wobble a hair between executions run
    # under different machine load (observed: 16-18/20 recall on the
    # identical corpus, solo vs full-suite-parallel). The bound below
    # is therefore the floor of that measured band, not a point claim
    # (the same brittle-float-constant lesson as the r9 ADVICE item on
    # test_kmeans).
    hits = total = 0
    for q_ix in range(4):
        q = [float(x) for x in centers[q_ix] * 3.0]
        exact = {r["content"]
                 for r in target.search(q, k=5, tags=["corpus"]).collect()}
        ann20 = [r["content"]
                 for r in target.search_ivfpq(q, k=20, nprobe=2,
                                              tags=["corpus"]).collect()]
        assert all(int(c[3:]) % 4 == q_ix for c in ann20[:5]), (q_ix, ann20)
        hits += len(exact & set(ann20))
        total += len(exact)
    assert total == 20
    assert hits / total >= 0.75, f"recall@5-in-20 {hits}/{total}"

    # 5) tag scoping on the ANN path sees the unioned shard listings:
    # every c0-tagged row came through a different shard
    got = target.search_ivfpq(
        [float(x) for x in centers[0] * 3.0], k=30, nprobe=4, tags=["c0"]
    ).collect()
    assert 0 < len(got) <= 30
    assert all(int(r["content"][3:]) % 4 == 0 for r in got)

    # 6) the lifecycle is rebuild-stable: re-running the content-seeded
    # build reproduces identical ADC distances (pure function of data)
    q0 = [float(x) for x in centers[0] * 3.0]
    d1 = [round(r["adc_dist"], 12)
          for r in target.search_ivfpq(q0, k=5, nprobe=2).collect()]
    target.build_ivfpq(m=4, n_codes=8, n_cells=4, trainer="kmeans",
                       train_iters=6, seed_col="content")
    d2 = [round(r["adc_dist"], 12)
          for r in target.search_ivfpq(q0, k=5, nprobe=2).collect()]
    assert d1 == d2


# -- the insert write path: one Spark job, the dimension from the listing ---


def _run_counting_jobs(spark, fn):
    """``fn()`` under a fresh job group: (its result, the Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _staging_dirs(idx):
    import os

    if not os.path.exists(idx.path):
        return []
    return [n for n in os.listdir(idx.path) if n.endswith("__staging")]


def test_insert_runs_one_spark_job(idx, monkeypatch):
    """A 100-row insert into a non-empty, unprojected index is one Spark
    job, the staging write: the batch is an Arrow-built local relation
    (no Python worker re-reads its rows), the stored dimension comes from
    the listing, and the batch's dimension and tag-sets are observed on
    the write itself."""
    import random

    rng = random.Random(3)

    def batch(name):
        return [(f"{name}{i}", [rng.gauss(0, 1) for _ in range(8)],
                 [f"t{i % 4}", "all"]) for i in range(100)]

    idx.insert(batch("a"))
    frames = []
    real = VectorIndex.insert_df

    def spy(self, df):
        frames.append(df)
        return real(self, df)

    monkeypatch.setattr(VectorIndex, "insert_df", spy)
    _, jobs = _run_counting_jobs(idx.spark, lambda: idx.insert(batch("b")))
    assert jobs == 1
    plan = frames[0]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert idx.scan().count() == 200
    assert sorted(s["rows"] for s in idx.stats()) == [50, 50, 50, 50]


def test_insert_leaves_the_session_serializable(spark, idx):
    """The insert's observed metrics must not set the session's own
    ObservationManager: Spark keeps it in a non-transient field, and a
    session holding one fails every job whose closure captures the
    session, such as a fitted LogisticRegressionModel's transform."""
    idx.insert([("a", [1.0, 0.0], ["x"])])
    spark._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)


def test_insert_and_insert_df_store_identical_rows(spark, tmp_path):
    """The list entry point and the DataFrame entry point store the same
    bytes: identical multisets of (content, tags, qmin, qmax, quant)."""
    from collections import Counter

    from victor_spark.index import INSERT_SCHEMA

    rows = [(f"doc{i}", [float((i * 7 + j) % 11) - 5.0 for j in range(6)],
             [["b", "a", "b"], [], ["c"], ["a", "c"]][i % 4]) for i in range(40)]
    a = VectorIndex(spark, str(tmp_path / "via_insert"))
    b = VectorIndex(spark, str(tmp_path / "via_insert_df"))
    a.insert(rows)
    b.insert_df(spark.createDataFrame(rows, INSERT_SCHEMA))

    def stored(ix):
        return Counter(
            (r["content"], tuple(r["tags"]), r["qmin"], r["qmax"], tuple(r["quant"]))
            for r in spark.read.parquet(ix.data_path).collect()
        )

    assert stored(a) == stored(b)
    assert len(stored(a)) == 40


def test_rejected_batches_leave_nothing_behind(spark, idx):
    """A wrong-dimension batch into a non-empty index and a mixed-dimension
    batch into an empty one raise after the staging write, before any
    file goes live: no new rows, no listing change, no staging directory."""
    idx.insert([("ok", [1.0, 2.0, 3.0], ["x"])])
    listing = idx._read_listing()
    with pytest.raises(DimensionMismatchError,
                       match=r"index dimension 3, batch dimensions \[4\]"):
        idx.insert([("bad", [1.0, 2.0, 3.0, 4.0], ["y"])])
    assert [r["content"] for r in idx.scan().collect()] == ["ok"]
    assert idx._read_listing() == listing
    assert _staging_dirs(idx) == []

    empty = VectorIndex(spark, idx.path + "_empty")
    with pytest.raises(DimensionMismatchError,
                       match=r"index dimension None, batch dimensions \[2, 3\]"):
        empty.insert([("a", [1.0, 2.0], []), ("b", [1.0, 2.0, 3.0], [])])
    assert empty.is_empty()
    assert empty._read_listing() is None
    assert _staging_dirs(empty) == []


def test_empty_batch_is_a_noop(spark, idx):
    from victor_spark.index import INSERT_SCHEMA

    idx.insert([])
    assert idx.is_empty() and idx._read_listing() is None
    idx.insert([("a", [1.0, 0.0], ["x"])])
    listing = idx._read_listing()
    idx.insert_df(spark.createDataFrame([], INSERT_SCHEMA))
    assert idx._read_listing() == listing
    assert idx.scan().count() == 1
    assert _staging_dirs(idx) == []


def test_listing_without_dimension_key_heals(spark, idx):
    """A listing that lacks the dimension key, as one written before the
    listing carried it: the index still rejects a wrong-dimension batch
    (dimension() falls back to a scan), and the next listing write
    records the key, after which dimension() runs no job."""
    idx.insert([("a", [1.0, 0.0, 0.0], ["x"])])
    rows, dim = idx._read_listing()
    assert dim == 3
    idx._write_tag_sets(rows)  # strip the key
    assert idx._read_listing() == (rows, None)
    with pytest.raises(DimensionMismatchError):
        idx.insert([("bad", [1.0, 0.0], ["x"])])
    assert idx.dimension() == 3
    # the batch's tag-set is listed already: only the key is new
    idx.insert([("b", [0.0, 1.0, 0.0], ["x"])])
    assert idx._read_listing() == (rows, 3)
    assert _run_counting_jobs(spark, idx.dimension) == (3, 0)


def test_dimension_fallback_reads_unfilled_partition_as_empty(idx):
    """A first insert creates its partition directory before moving its
    files in. A second writer asking for the dimension in between (no
    listing yet) sees an empty index dimension, not a schema-inference
    failure on the empty directory."""
    import os

    os.makedirs(idx._part_dir("0" * 64))
    assert idx.dimension() is None


def test_projected_dimension_runs_no_job(spark, idx):
    idx.insert([(f"doc{i}", [1.0, float(i), 0.5, float(i % 2)], [])
                for i in range(6)])
    idx.project(k=2)
    assert _run_counting_jobs(spark, idx.dimension) == (2, 0)
    assert idx._read_listing()[1] == 2


def _python_row_frames(source: str) -> list[int]:
    """Lines of ``source`` that build a DataFrame from Python rows: a
    ``createDataFrame`` whose data argument is a non-empty list or tuple
    literal or a comprehension, or any ``createDataFrame`` outside
    ``_local_frame`` other than an empty-result frame (``[]``)."""
    import ast

    tree = ast.parse(source)
    local = {id(n) for fn in ast.walk(tree)
             if isinstance(fn, ast.FunctionDef) and fn.name == "_local_frame"
             for n in ast.walk(fn)}
    rows = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)
    bad = []
    for call in ast.walk(tree):
        if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                and call.func.attr == "createDataFrame"):
            continue
        data = call.args[0] if call.args else next(
            (k.value for k in call.keywords if k.arg == "data"), None)
        empty = isinstance(data, ast.List) and not data.elts
        if (isinstance(data, rows) and not empty) or (
                id(call) not in local and not empty):
            bad.append(call.lineno)
    return bad


def test_index_builds_local_frames_from_arrow():
    """Every local frame index.py builds goes through _local_frame (an
    Arrow table, held by Spark as a LocalRelation). A frame over Python
    rows is a PipelinedRDD that Python workers unpickle again in every
    job that reads it; only the empty-result frames may pass ``[]``."""
    import inspect

    import victor_spark.index as index_module

    assert _python_row_frames(inspect.getsource(index_module)) == []
    # the check itself catches each shape it forbids
    for data in ("[(1,)]", "[(x,) for x in xs]", "((1,),)", "rows"):
        assert _python_row_frames(
            f"def f(spark, xs, rows):\n    spark.createDataFrame({data}, 'a int')\n"
        ) == [2], data


def test_ivf_builds_put_a_zero_vector_in_the_lowest_cell(idx):
    """A zero-norm row scores NaN against every centroid (cosine's zero
    guard) and lands in the lowest cell, as max_by orders NaN; both IVF
    builds succeed with it in the index."""
    idx.insert([("zero", [0.0, 0.0], []), ("a", [1.0, 0.0], []),
                ("b", [0.0, 1.0], []), ("c", [1.0, 1.0], [])])
    spark = idx.spark
    idx.build_ivf(n_cells=2)
    ivf = {r["content"]: r["cell"]
           for r in spark.read.parquet(idx.ivf_path).collect()}
    assert ivf["zero"] == 0
    idx.build_ivfpq(m=2, n_codes=2, n_cells=2)
    zero_id = idx.scan().filter("content = 'zero'").first()["id"]
    codes = {r["id"]: r["cell"]
             for r in spark.read.parquet(idx.ivfpq_path).collect()}
    assert codes[zero_id] == 0


# -- scoring: one fold of each kind per stored row -------------------------

_Q8 = [0.3, -0.2, 0.5, 0.1, -0.7, 0.2, 0.0, 0.4]


@pytest.fixture()
def idx8(idx):
    import random

    rng = random.Random(8)
    idx.insert([(f"c{i}", [rng.gauss(0, 1) for _ in range(8)], [f"t{i % 3}"])
                for i in range(40)])
    return idx


@pytest.mark.parametrize("tags", [None, ["t1"]])
@pytest.mark.parametrize("strict_nan", [True, False])
@pytest.mark.parametrize("batch", [False, True])
def test_search_plans_fold_each_row_once(idx8, tags, strict_nan, batch):
    """Each stored row is decoded once and folds its norm once and its
    dot once per query: Spark does not share subexpressions that hold
    lambda functions, so a fold spelled twice (the guard's NaN test, the
    cosine's zero test, a NaN filter pushed below the scoring Project)
    runs twice. In a batch, the query norms come from the query table,
    so a (row, query) pair folds only its dot."""
    import re

    if batch:
        df = idx8.search_batch({"a": _Q8, "b": _Q8[::-1]}, k=5, tags=tags,
                               strict_nan=strict_nan)
    else:
        df = idx8.search(_Q8, k=5, tags=tags, strict_nan=strict_nan)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with(") == 2, plan
    assert len(re.findall(r"zip_with\(embedding#\d+, embedding#\d+,", plan)) == 1
    assert len(re.findall(r"zip_with\(_qv#\d+, _qv#\d+,", plan)) == 0
    assert plan.count("transform(quant#") == 1, plan


def test_fresh_query_vectors_compile_no_class(spark, idx8):
    """The query's values never reach generated source: after a warm-up,
    searches with fresh vectors reuse the compiled classes."""
    import random

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    for _ in range(2):
        idx8.search(_Q8, k=5).collect()
    before = metric.getCount()
    rng = random.Random(3)
    for _ in range(3):
        assert len(idx8.search([rng.gauss(0, 1) for _ in range(8)],
                               k=5).collect()) == 5
    assert metric.getCount() == before


_SUB = 5e-324  # smallest subnormal double

_EDGE_ROWS = [
    ("zero", [0.0, 0.0, 0.0, 0.0]),           # zero norm: scores NaN
    ("subnormal", [_SUB, 0.0, -0.0, 0.0]),    # underflows to a zero norm
    ("nan", [float("nan"), 1.0, 2.0, 3.0]),
    ("inf", [float("inf"), 1.0, -1.0, 0.0]),
    ("ninf", [float("-inf"), 1.0, 2.0, 0.5]),
    ("tiny", [1e-300, 2e-300, -1e-300, 3e-300]),
]

_EDGE_QUERIES = [
    [0.25, -1.5, 3.0, 0.75],
    [0.0, 0.0, 0.0, 0.0],
    [_SUB, -0.0, 0.0, 0.0],
    [float("nan"), 1.0, 1.0, 1.0],
    [float("inf"), 1.0, 0.0, -1.0],
    [1.0, 2.0, 3.0],                           # length mismatch
]


def _assert_scores_match_replay(idx, query, k, strict_nan, tags=None):
    """The one equality helper: ``search`` and ``search_batch`` return the
    k best scores of ``py_cosine`` over the dequantized rows, each row's
    score equal to its replay bit for bit (``==`` on the repr, so NaN and
    -0.0 count), NaN rows dropped without ``strict_nan`` and failing the
    query with it, and a query of the wrong dimension failing both."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from victor_spark.functions.vector import py_cosine

    stored = {r["id"]: r["embedding"]
              for r in idx.scan(tags).select("id", "embedding").collect()}
    calls = [
        lambda: [(r["id"], r["score"]) for r in
                 idx.search(query, k=k, tags=tags,
                            strict_nan=strict_nan).collect()],
        lambda: [(r["id"], r["score"]) for r in
                 idx.search_batch({"q": query}, k=k, tags=tags,
                                  strict_nan=strict_nan).collect()],
    ]
    dim = len(next(iter(stored.values())))
    if len(query) != dim:
        # a zero-norm row scores NaN before its length is tested, so in
        # strict mode either error may fail the query first
        match = "query dimension|NaN similarity" if strict_nan else "query dimension"
        for call in calls:
            with pytest.raises(SparkRuntimeException, match=match):
                call()
        return
    replay = {i: py_cosine(v, query) for i, v in stored.items()}
    if strict_nan and any(s != s for s in replay.values()):
        for call in calls:
            with pytest.raises(SparkRuntimeException, match="NaN similarity"):
                call()
        return
    best = sorted((s for s in replay.values() if s == s), reverse=True)[:k]
    for call in calls:
        got = call()
        assert sorted((s for _i, s in got), reverse=True) == best
        for i, s in got:
            assert repr(s) == repr(replay[i]), (i, s, replay[i])


@pytest.mark.parametrize("strict_nan", [True, False])
def test_search_scores_equal_the_replay_on_edge_vectors(idx, strict_nan):
    import random

    rng = random.Random(4)
    idx.insert([(f"r{i}", [rng.gauss(0, 1) for _ in range(4)], ["r"])
                for i in range(12)]
               + [(n, v, ["e"]) for n, v in _EDGE_ROWS])
    for query in _EDGE_QUERIES:
        for tags in (None, ["r"]):
            # k beyond the non-NaN rows: the NaN rows must not fill it
            for k in (3, 30):
                _assert_scores_match_replay(idx, query, k, strict_nan, tags)


def _replay_codec(v):
    """Python replay of the stored layout of an inserted (float32) vector:
    float32 range endpoints and round-half-up bins
    (``test_index_model.dequantized``) minus 128, with Spark's NaN
    ordering in the clamp (``least(255, NaN)`` is 255)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    v = [float(np.float32(x)) for x in v]
    # as array_min/array_max pick them: NaN sorts above every number, and
    # the first of equal extremes wins (-0.0 == 0.0)
    key = lambda x: (x != x, x)  # noqa: E731
    lo, hi = min(v, key=key), max(v, key=key)
    span = 1.0 if hi - lo == 0.0 else hi - lo
    quant = []
    for x in v:
        r = (x - lo) / span * 255.0
        if r == r and abs(r) != float("inf"):
            r = float(Decimal(repr(r)).quantize(Decimal(1),
                                                rounding=ROUND_HALF_UP))
        b = 255.0 if r != r else min(255.0, max(0.0, r))
        quant.append(int(b) - 128)
    return float(np.float32(lo)), float(np.float32(hi)), quant


def test_stored_layout_equals_the_codec_replay(spark, idx):
    """The stored (qmin, qmax, quant) of every row equals the Python
    replay of the codec, and ``scan()`` decodes it as
    ``qmin + (b+128)/255·(qmax-qmin)``: indexes written by any version
    of the codec stay readable bit for bit."""
    rows = _EDGE_ROWS + [("big", [1e30, -3e29, 7.0, 0.0]),
                         ("plain", [0.1, 0.2, -0.3, 0.4])]
    idx.insert([(n, v, []) for n, v in rows])
    stored = {r["content"]: (r["qmin"], r["qmax"], list(r["quant"]))
              for r in spark.read.parquet(idx.data_path).collect()}
    # repr, so NaN endpoints and -0.0 count
    assert {n: repr(t) for n, t in stored.items()} == {
        n: repr(_replay_codec(v)) for n, v in rows}
    got = {r["content"]: repr(r["embedding"])
           for r in idx.scan().select("content", "embedding").collect()}
    want = {n: repr([qmin + (b + 128) / 255.0 * (qmax - qmin) for b in q])
            for n, (qmin, qmax, q) in stored.items()}
    assert len(got) == len(rows)
    assert got == want


def test_insert_reads_each_vectors_range_once(idx, monkeypatch):
    """An insert's write plan reads the vector's min and max once each,
    outside the per-element lambda, and makes one pass over its elements:
    a min or max inside the lambda is re-folded for every element."""
    import re

    staged = []
    real = VectorIndex._stage

    def spy(self, out):
        staged.append(out)
        return real(self, out)

    monkeypatch.setattr(VectorIndex, "_stage", spy)
    idx.insert([("a", [1.0, 2.0, 3.0], ["x"])])
    plan = staged[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_min(") == 1, plan
    assert plan.count("array_max(") == 1, plan
    passes = [m.end() for m in re.finditer(r"transform\((?!array\()", plan)]
    assert len(passes) == 1, plan
    depth, end = 1, passes[0]
    while depth:
        depth += {"(": 1, ")": -1}.get(plan[end], 0)
        end += 1
    body = plan[passes[0]:end]
    assert "array_min(" not in body and "array_max(" not in body, body


def test_large_model_projection_stores_and_searches(spark, tmp_path):
    """A model past the literal-expression budget (d×k > 16,384) projects
    through the pandas_udf path, in ``project()``'s backfill and in a
    later insert, and the projected rows go through the codec and back."""
    import random

    import numpy as np

    from victor_spark.operators import pca

    d, k = 160, 120
    assert d * k > pca._EXPR_PATH_MAX_COEFFS
    rng = random.Random(11)
    idx = VectorIndex(spark, str(tmp_path / "big_pca"))
    rows = [(f"doc{i}", [rng.gauss(0, 1) for _ in range(d)], ["t"])
            for i in range(130)]
    idx.insert(rows)
    # the backfill projects the decoded rows; a later insert its input
    doc7 = idx.scan().filter("content = 'doc7'").first()["embedding"]
    model = idx.project(k=k)
    assert model.components.shape == (d, k)
    late = [rng.gauss(0, 1) for _ in range(d)]
    idx.insert([("late", late, ["t"])])
    assert idx.dimension() == k
    stored = {r["content"]: r["embedding"]
              for r in idx.scan().select("content", "embedding").collect()}
    assert len(stored) == 131
    f32 = np.asarray(late, dtype=np.float32).astype(np.float64)
    for name, v in [("doc7", doc7), ("late", f32)]:
        want = (np.asarray(v) - model.means) @ model.components
        # half a bin, plus the float32 rounding of the stored endpoints
        bound = ((want.max() - want.min()) / 255.0 / 2.0
                 + 2.0 ** -22 * np.abs(want).max())
        assert np.abs(np.asarray(stored[name]) - want).max() <= bound
    for name, v in [("doc7", rows[7][1]), ("late", late)]:
        assert idx.search(v, k=1, tags=["t"]).first()["content"] == name

"""Dedup operator semantics on small controlled corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from victor_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    df = _docs(spark, [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")])
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 3
    assert groups[0]["keep_id"] == 1


def test_minhash_finds_exact_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = _docs(
        spark,
        [(1, base), (2, base), (3, "completely different words in this one here now"),
         (4, "another unrelated document with its own distinct content entirely")],
    )
    pairs = dedup.minhash_near_duplicates(df, "doc_id", "text", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert abs(pairs[0]["jaccard"] - 1.0) < 1e-9


def test_minhash_near_dup_one_word_change(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = a.replace("theta", "thetaX")
    df = _docs(spark, [(1, a), (2, b), (3, "zzz yyy xxx www vvv uuu ttt sss")])
    pairs = dedup.minhash_near_duplicates(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0]["jaccard"] < 1.0


def test_simhash_exact_dups_distance_zero(spark):
    base = "one two three four five six seven eight nine ten"
    df = _docs(spark, [(1, base), (2, base), (3, "foo bar baz qux quux corge grault")])
    pairs = dedup.simhash_near_duplicates(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_ngram_jaccard_values(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    res = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard(pairs, df, "doc_id", "text", shingle_n=3).collect()
    }
    assert res[(1, 2)] == 1.0
    # shingles(1): {a b c, b c d, c d e}; shingles(3): {a b c, b c x, c x y}
    # intersection {a b c} = 1, union = 5 → 0.2
    assert abs(res[(1, 3)] - 0.2) < 1e-9


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),   # same direction → cosine 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    pairs = dedup.embedding_near_duplicates(df, "vec_id", "v", threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert abs(pairs[0]["cos_sim"] - 1.0) < 1e-9


def test_duplicate_clusters_transitive(spark):
    # A~B, B~C, (D~E) — components {1,2,3} and {10,11} keyed by min id;
    # the A~C edge is never given, only reachable transitively
    from victor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r["doc"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_long_chain_converges(spark):
    # a 12-node path graph needs several label-propagation rounds
    from victor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = {r["doc"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(13)}


def test_duplicate_clusters_strategies_agree(spark):
    # the driver union-find (small-graph path) and the distributed
    # min-label propagation (driver_edge_limit=0 forces it) must produce
    # identical components on the same graph
    from victor_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 9), (9, 4), (20, 21), (7, 3)],
        "id_a long, id_b long",
    )
    local = {r["doc"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    dist = {
        r["doc"]: r["cluster"]
        for r in duplicate_clusters(pairs, driver_edge_limit=0).collect()
    }
    assert local == dist == {1: 1, 2: 1, 3: 1, 7: 1, 5: 4, 9: 4, 4: 4, 20: 20, 21: 20}


def test_incremental_finds_batch_dups_of_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = _docs(spark, [
        (1, base),
        (2, "completely different words in this one here now friend"),
        (3, "another unrelated document with its own distinct content entirely"),
    ])
    batch = _docs(spark, [
        (101, base),  # exact dup of corpus doc 1
        (102, "fresh never before seen text that matches nothing at all"),
    ])
    got = dedup.incremental_near_duplicates(
        corpus, batch, "doc_id", "text", threshold=0.9
    ).collect()
    assert [(r["batch_id"], r["corpus_id"]) for r in got] == [(101, 1)]
    assert abs(got[0]["jaccard"] - 1.0) < 1e-9


def test_incremental_never_pairs_within_batch_or_corpus(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    corpus = _docs(spark, [(1, base), (2, base)])   # intra-corpus dup
    batch = _docs(spark, [(101, "alpha beta gamma delta epsilon zeta eta theta"),
                          (102, "alpha beta gamma delta epsilon zeta eta theta")])
    got = dedup.incremental_near_duplicates(
        corpus, batch, "doc_id", "text", threshold=0.5
    ).collect()
    # only batch-vs-corpus pairs are in scope; (1,2) and (101,102) are not
    assert got == []


def test_semantic_dedup_cluster_scoped(spark):
    # Two well-separated clusters (x-axis vs y-axis); 11/12 duplicate 1/2
    # semantically (scaled copies, cosine 1.0). 3 sits in cluster A but is
    # not a near-dup of anything. Cross-cluster near-parallels never
    # compare (SemDeDup only looks within a cluster).
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.7, 0.4, 0.0]),
            (11, [2.0, 0.0, 0.0]),   # dup of 1
            (12, [1.8, 0.2, 0.0]),   # dup of 2
            (20, [0.0, 1.0, 0.0]),
            (21, [0.0, 2.0, 0.0]),   # dup of 20
        ],
        "vec_id long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "cell long, cv array<double>"
    )
    rows = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(vecs, "vec_id", "v", cent, threshold=0.999).collect()
    }
    assert {i for i, r in rows.items() if r["keep"] == 1} == {1, 2, 3, 20}
    assert {i for i, r in rows.items() if r["keep"] == 0} == {11, 12, 21}
    # cluster assignment: x-axis family -> cell 0, y-axis family -> cell 1
    assert all(rows[i]["cell"] == 0 for i in (1, 2, 3, 11, 12))
    assert all(rows[i]["cell"] == 1 for i in (20, 21))
    # lowest id in a cluster has no lower-id member: sentinel -2.0
    assert rows[1]["max_lower_sim"] == -2.0
    assert rows[11]["max_lower_sim"] == 1.0


def test_semantic_dedup_with_kmeans_centroids(spark):
    # the trainer seam composes: fit_kmeans centroids feed semantic_dedup
    # directly, and the scaled copies still dedup against their originals
    from victor_spark.operators.kmeans import fit_kmeans

    base = [
        (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.2, 0.0]), (3, [1.0, 0.1, 0.0]),
        (20, [0.0, 1.0, 0.1]), (21, [0.1, 1.0, 0.0]), (22, [0.0, 0.9, 0.2]),
    ]
    dups = [(i + 100, [2 * x for x in v]) for i, v in base if i % 2 == 0]
    vecs = spark.createDataFrame(base + dups, "vec_id long, v array<double>")
    cents = fit_kmeans(vecs, "vec_id", "v", k=2, metric="cosine")
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell long, cv array<double>"
    )
    rows = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(vecs, "vec_id", "v", cent_df,
                                      threshold=0.999).collect()
    }
    # every scaled copy is dropped, every original survives
    assert all(rows[i + 100]["keep"] == 0 for i, _ in base if i % 2 == 0)
    assert all(rows[i]["keep"] == 1 for i, _ in base)
    # copies land in the same cluster as their originals
    assert all(rows[i + 100]["cell"] == rows[i]["cell"]
               for i, _ in base if i % 2 == 0)


def test_minhash_pairs_empty_and_whitespace_docs(spark):
    # empty and whitespace-only docs both shingle to [''] (the documented
    # short-doc rule) and must pair with J=1.0 — the oracle twin relies on
    # coalesce(array_to_string(...), '') for the same result (DuckDB's
    # array_to_string([]) is NULL; edge-testdata-caught)
    df = _docs(spark, [(1, ""), (2, "   "), (3, "real content entirely different")])
    pairs = dedup.minhash_near_duplicates(df, "doc_id", "text", threshold=0.7)
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs.collect()] == [
        (1, 2, 1.0)
    ]


def test_semantic_dedup_zero_vector_kept_not_poisoning(spark):
    # a zero vector has no direction: it routes to cell -1, is always
    # kept, and must NOT poison its would-be cluster (Spark orders NaN
    # above everything, so an unguarded max() would silently drop valid
    # neighbors — review-caught)
    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "cell long, cv array<double>"
    )
    rows = {r["vec_id"]: r for r in dedup.semantic_dedup(
        vecs, "vec_id", "v", cent, threshold=0.9).collect()}
    assert rows[1]["cell"] == -1 and rows[1]["keep"] == 1
    assert rows[2]["keep"] == 1 and rows[3]["keep"] == 1
    # a zero-norm CENTROID is a caller error
    import pytest as _pytest
    bad = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "cell long, cv array<double>")
    with _pytest.raises(ValueError, match="zero norm"):
        dedup.semantic_dedup(vecs, "vec_id", "v", bad)


def test_exact_duplicates_excludes_null_content(spark):
    """Review-caught: sha2(NULL) is NULL and groupBy pools all NULLs, so
    missing-text rows read as one 'byte-identical' group and a keep-one
    pipeline dropped rows that were never duplicates."""
    from victor_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, None)],
        "id long, text string",
    )
    groups = exact_duplicates(df, "id", "text").collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 2  # NULLs excluded


def test_minhash_band_geometry_validated(spark):
    """Review-caught: bands > num_hashes made every band key constant
    (the candidate join degenerates to a full cross product); a
    non-dividing bands silently discarded the signature tail."""
    import pytest

    from victor_spark.operators.dedup import minhash_candidate_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_candidate_pairs(df, "id", "text", num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="divide"):
        minhash_candidate_pairs(df, "id", "text", num_hashes=16, bands=5)


def test_semantic_dedup_nan_embedding_is_sentineled(spark):
    """Review-caught: a NaN embedding has NaN norm (not 0), slipped past
    the zero-norm split, and its NaN pair-dots marked every higher-id
    cluster neighbor as a duplicate. NaN/Inf rows now take the sentinel
    route and valid rows stay kept."""
    from victor_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0]), (2, [float("nan"), 1.0]),
        (3, [0.9, 0.1]), (4, [float("inf"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc long, v array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell long, cv array<double>")
    out = {r["doc"]: r for r in semantic_dedup(df, "doc", "v", cents,
                                               threshold=0.99).collect()}
    assert out[2]["cell"] == -1 and out[2]["keep"] == 1  # sentinel, kept
    assert out[4]["cell"] == -1 and out[4]["keep"] == 1
    # the real rows are judged on their REAL similarity, unpoisoned:
    # doc 1 is the cluster representative (kept), doc 3 is a genuine
    # near-duplicate (cos([1,0],[0.9,0.1]) ~ 0.9939 > 0.99 -> dropped)
    assert out[1]["keep"] == 1
    assert out[3]["keep"] == 0

    import pytest

    with pytest.raises(ValueError, match="empty"):
        semantic_dedup(df, "doc", "v",
                       cents.filter("cell < 0"), threshold=0.9)


def test_recall_audit_pair_keys_are_unique(spark):
    """dedup_recall_audit full-outer-joins truth and candidates on
    (id_a, id_b) and counts rows, so each side must hold every pair key
    at most once — otherwise a pair is counted twice."""
    from tests.conftest import SF_T2
    from victor_spark.plans.catalog import _recall_audit_sides

    truth, cand = _recall_audit_sides(spark, SF_T2)
    try:
        for side in (truth, cand):
            r = side.groupBy("id_a", "id_b").count().agg(
                F.count("*").alias("keys"),
                F.max("count").alias("max_n"),
                F.count(F.when(F.col("id_a") >= F.col("id_b"), 1)).alias("bad"),
            ).first()
            assert r["keys"] > 0 and r["max_n"] == 1 and r["bad"] == 0, r
    finally:
        dedup.release_shingle_caches()

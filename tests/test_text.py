"""Text-analysis column function semantics."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from victor_spark.functions import text as T


def _one(spark, s):
    return spark.createDataFrame([(s,)], "text string")


def _val(spark, s, col):
    return _one(spark, s).select(col.alias("x")).first()["x"]


def test_token_count(spark):
    assert _val(spark, "a b  c", T.token_count("text")) == 3
    assert _val(spark, "", T.token_count("text")) == 0


def test_word_count_regex(spark):
    assert _val(spark, "hello, world! 42", T.word_count("text")) == 3


def test_avg_token_len(spark):
    assert _val(spark, "ab cd", T.avg_token_len("text")) == 2.0
    assert _val(spark, "", T.avg_token_len("text")) == 0.0


def test_punct_ratio(spark):
    assert abs(_val(spark, "ab!?", T.punct_ratio("text")) - 0.5) < 1e-12
    assert _val(spark, "", T.punct_ratio("text")) == 0.0


def test_stopword_ratio(spark):
    assert abs(_val(spark, "the cat and dog", T.stopword_ratio("text")) - 0.5) < 1e-12


def test_quality_score_bounds(spark):
    q = _val(spark, "the quick brown fox is in the yard " * 10, T.quality_score("text"))
    assert 0.0 <= q <= 1.0
    assert q > 0.8  # long, clean, stopword-bearing text scores high


def test_lang_id_markers(spark):
    assert _val(spark, "der hund und die katze ist da", T.lang_id("text")) == "de"
    assert _val(spark, "the cat and the dog of the town", T.lang_id("text")) == "en"
    assert _val(spark, "xyzzy plugh", T.lang_id("text")) == "und"


def test_fingerprint_equal_for_equal_docs(spark):
    df = spark.createDataFrame(
        [(1, "some identical document text"), (2, "some identical document text"),
         (3, "a different text body here")],
        "id long, text string",
    )
    fps = {r["id"]: r["fp"] for r in df.select("id", T.fingerprint64("text").alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_term_counts_matches_grouped_counts(spark):
    """term_counts (row-local sorted-run scan) must equal the explode +
    groupBy multiset exactly — it replaced that shape in tfidf/bm25
    (round-12 optimization)."""
    import random

    from pyspark.sql import functions as F

    random.seed(11)
    vocab = ["a", "b", "cc", "ddd", "tok"]
    rows = [
        (i, " ".join(random.choice(vocab) for _ in range(random.randint(0, 30))))
        for i in range(50)
    ] + [(100, ""), (101, "   "), (102, None), (103, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = T.tokens("lower(text)")
    got = {
        (r["doc_id"], r["tc"]["tok"]): r["tc"]["c"]
        for r in df.select(
            "doc_id", F.explode(T.term_counts(t)).alias("tc")
        ).collect()
    }
    want = {
        (r["doc_id"], r["tok"]): r["c"]
        for r in df.select("doc_id", F.explode(t).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == want


def _py_tokens(s):
    return None if s is None else [t for t in s.split(" ") if t != ""]


def _py_quality_score(s):
    """quality_score's arithmetic replayed in plain Python. A NULL text
    scores 0.75: least() skips the NULL length and stopword terms (1.0
    each) and the NULL comparisons take the 0.5 ELSE arms."""
    if s is None:
        return (1.0 + 0.5 + 0.5 + 1.0) / 4.0
    t = _py_tokens(s)
    n = len(t)
    pr = 0.0 if len(s) == 0 else len(re.findall(T.PUNCT_RE, s)) / len(s)
    acc = 0.0
    for x in t:
        acc += len(x)
    atl = 0.0 if n == 0 else acc / n
    sr = 0.0 if n == 0 else sum(x.lower() in T.STOPWORDS for x in t) / n
    len_ok = min(n / 50.0, 1.0)
    tok_ok = 1.0 if 3.0 <= atl <= 10.0 else 0.5
    punct_ok = 1.0 if pr <= 0.2 else 0.5
    stop_ok = min(sr * 10.0, 1.0)
    return (len_ok + tok_ok + punct_ok + stop_ok) / 4.0


def _py_lang_id(s):
    """argmax marker count in LANG_MARKERS order (strictly greater wins),
    'und' when no marker hits — a NULL text has no hits."""
    toks = [x.lower() for x in _py_tokens(s) or []]
    best_lang, best = "und", 0
    for lang, markers in T.LANG_MARKERS.items():
        hits = sum(x in markers for x in toks)
        if hits > best:
            best_lang, best = lang, hits
    return best_lang


EDGE_TEXT = [
    "", None, "the and of to in", "der die und das ist",
    "le la et les des el la los que de",  # fr/es tie -> fr
    "xyzzy plugh", "a. b! c? loooooooongword",
    "The AND Of tO iN mixed Case the the",
    "ünïcödé tøkens the and", (". " * 60).strip(),
    "a b  c", "   ", "don't  stop", "one", " lead trail ",
]


def test_token_kernels_on_edge_text(spark):
    df = spark.createDataFrame([(s,) for s in EDGE_TEXT], "text string")
    got = df.select(
        "text",
        T.tokens("text").alias("toks"),
        T.token_count("text").alias("n"),
    ).collect()
    assert len(got) == len(EDGE_TEXT)
    for r in got:
        want = _py_tokens(r["text"])
        assert r["toks"] == want, r
        assert r["n"] == (None if want is None else len(want)), r


def test_text_sql_fast_paths_match_builders(spark):
    """quality_score and lang_id have one SQL form (the Column-builder
    twin this test once compared against is gone): both must equal their
    plain-Python replays exactly over the edge texts, incl. the
    all-zero-marker 'und' arm and argmax ties."""
    df = spark.createDataFrame([(s,) for s in EDGE_TEXT], "text string")
    got = df.select(
        "text",
        T.quality_score("text").alias("qs"),
        T.lang_id("text").alias("lang"),
    ).collect()
    assert len(got) == len(EDGE_TEXT)
    for r in got:
        assert r["qs"] == _py_quality_score(r["text"]), r
        assert r["lang"] == _py_lang_id(r["text"]), r
    # the marker tie breaks to the earlier language
    assert _py_lang_id("le la et les des el la los que de") == "fr"


def test_token_kernels_take_sql_expressions(spark):
    df = spark.createDataFrame([("The AND of",)], "text string")
    r = df.select(
        T.tokens("lower(text)").alias("t"),
        T.token_count("concat(text, ' x')").alias("n"),
    ).first()
    assert r["t"] == ["the", "and", "of"] and r["n"] == 4


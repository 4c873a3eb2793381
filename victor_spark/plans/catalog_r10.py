"""Round-10 catalog queries — staged and oracle-hardened through round 9,
REGISTERED at round-10 start (catalog.py merges this module's ``PENDING``
into the live registry) after the round-9 verdict's two flagged scale
hazards were fixed:

- ``winnow_fingerprints`` gained MOSS's document-frequency cap
  (``_WIN_DF_CAP``) before its pair self-join — one hot boilerplate
  fingerprint shared by n docs otherwise emits n(n-1)/2 join rows;
- ``soft_dedup_weights`` dropped its forced broadcast of the
  data-dependent-size cluster-weight table (AQE decides instead).

The module keeps its own file (like catalog_r9) so each round's
additions stay reviewable as a unit; tests/test_r10_pending.py carries
the oracle parity at both SFs plus the plan/behavior pins for the two
fixes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from victor_spark.functions import text as T
from victor_spark.plans.catalog import (
    SQL_TOKS,
    QuerySpec,
    _lang_sql_parts,
)
from victor_spark.sources import load_table

PENDING: dict[str, QuerySpec] = {}


def _q10(name: str, oracle, doc: str = ""):
    def wrap(fn):
        PENDING[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring — the CCNet/KenLM perplexity
# filter's actual smoothing (the catalog's bigram_logprob is the
# unsmoothed member of the family)
# ---------------------------------------------------------------------------

_KN_D = 0.75

_KN_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
bg AS (
  SELECT doc_id, unnest(t[1:len(t)-1]) w1,
         unnest(t[2:len(t)]) w2
  FROM d WHERE len(t) >= 2
),
bgc AS (SELECT w1, w2, count(*) c FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c) cw1, count(*) n1out FROM bgc GROUP BY w1),
cont AS (SELECT w2, count(*) n1in FROM bgc GROUP BY w2),
bt AS (SELECT count(*) b FROM bgc),
p AS (
  SELECT bgc.w1, bgc.w2,
         (greatest(CAST(bgc.c AS DOUBLE) - {_KN_D}, 0.0)
            / CAST(c1.cw1 AS DOUBLE))
         + (({_KN_D} * CAST(c1.n1out AS DOUBLE) / CAST(c1.cw1 AS DOUBLE))
            * (CAST(cont.n1in AS DOUBLE) / CAST(bt.b AS DOUBLE))) AS pkn
  FROM bgc JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN bt
),
per_doc AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) n_bigrams, avg(ln(p.pkn)) lp
  FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
  GROUP BY bg.doc_id
)
SELECT d.doc_id,
       coalesce(per_doc.n_bigrams, 0) AS n_bigrams,
       round(coalesce(per_doc.lp, 0.0), 6) AS avg_kn_logp
FROM d LEFT JOIN per_doc USING (doc_id)
"""


@_q10(
    "kneser_ney_bigram",
    _KN_ORACLE,
    "interpolated Kneser-Ney bigram log-probability per doc (Kneser & "
    "Ney 1995; the smoothing KenLM ships and CCNet's perplexity filter "
    "actually uses — the catalog's bigram_logprob is the unsmoothed "
    "member): P(w2|w1) = max(c-D,0)/c(w1) + D*N1+(w1,.)/c(w1) * "
    "N1+(.,w2)/|bigram types|, D=0.75. Scale shape = the unigram/bigram "
    "LM family's: one explode, two Heaps-law-bounded type-table "
    "aggregations (map-side partial), the instance stream joins the "
    "scored type table on the bigram key, one per-doc aggregation; the "
    "bigram-type count is a 1-row broadcast. No new shuffle class at "
    "100 TB",
)
def q_kneser_ney_bigram(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        T.tokens("lower(text)").alias("t"),
    )
    # Round-11 measurement note: a distinct-(doc, bigram) rewrite via
    # term_counts was tried and REVERTED — matched A/B wall-timing at
    # sf0.1 showed 1.99s -> 3.24s (interpreted sorted-run HOF vs codegen
    # explode + partial agg; same verdict as bigram_logprob).
    bg = d.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice("t", 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("_p"),
    ).select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    # Round-11 optimization: bgc feeds FOUR consumers (c1, cont, bt, and
    # the scoring join) and Catalyst reuses none of them — the captured
    # plan ran SIX parquet scans, re-tokenizing the corpus once per
    # consumer. The lazy checkpoint materializes the Heaps-law-bounded
    # type table once (the semdedup/tpch_q11 reuse-barrier precedent;
    # unlike the unigram-trainer case, there is demonstrably no exchange
    # reuse here to lose).
    bgc = bgc.localCheckpoint(eager=False)
    c1 = bgc.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count("*").alias("n1out")
    )
    cont = bgc.groupBy("w2").agg(F.count("*").alias("n1in"))
    bt = F.broadcast(bgc.agg(F.count("*").alias("b")))
    p = (
        bgc.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(bt)
        .select(
            "w1",
            "w2",
            (
                (
                    F.greatest(F.col("c").cast("double") - F.lit(_KN_D), F.lit(0.0))
                    / F.col("cw1").cast("double")
                )
                + (
                    (
                        F.lit(_KN_D)
                        * F.col("n1out").cast("double")
                        / F.col("cw1").cast("double")
                    )
                    * (F.col("n1in").cast("double") / F.col("b").cast("double"))
                )
            ).alias("pkn"),
        )
    )
    per_doc = (
        bg.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(F.log("pkn")).alias("lp"),
        )
    )
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.round(F.coalesce("lp", F.lit(0.0)), 6).alias("avg_kn_logp"),
    )


# ---------------------------------------------------------------------------
# Phrase search over posting lists — the inverted-index evaluation shape
# ---------------------------------------------------------------------------

_PHRASE = ("key", "order")

_PHRASE_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM documents),
p AS (SELECT doc_id, generate_subscripts(t, 1) pos, unnest(t) tok FROM d),
a AS (SELECT doc_id, list_sort(list(pos)) pa FROM p
      WHERE tok = '{_PHRASE[0]}' GROUP BY doc_id),
b AS (SELECT doc_id, list(pos) pb FROM p
      WHERE tok = '{_PHRASE[1]}' GROUP BY doc_id),
m AS (SELECT a.doc_id, list_filter(pa, x -> list_contains(pb, x + 1)) mm
      FROM a JOIN b USING (doc_id))
SELECT doc_id, CAST(len(mm) AS INTEGER) AS n_matches,
       CAST(mm[1] AS INTEGER) AS first_pos
FROM m WHERE len(mm) > 0
"""


@_q10(
    "phrase_search",
    _PHRASE_ORACLE,
    f"exact phrase search ('{_PHRASE[0]} {_PHRASE[1]}') via posting-list "
    "intersection — the inverted-index evaluation shape: a lossless "
    "contains() prefilter drops non-candidate docs at the scan (a doc "
    "whose text lacks either substring cannot hold the token), the "
    "per-token filter runs map-side right after the explode, so the "
    "only thing that ever shuffles is the phrase terms' postings — "
    "document-frequency-bounded, never corpus-sized. One (doc, term) "
    "aggregation builds the sorted position lists; adjacency is a "
    "codegen intersection (positions of term1 whose successor holds "
    "term2). A hot stopword term is the known skew case and salts like "
    "any hot key. Returns matching docs with occurrence counts and the "
    "first match position",
)
def q_phrase_search(spark, sf_dir):
    from victor_spark.functions.vector import bind

    # Round-11 measurement note: a row-local adjacency-scan rewrite
    # (filter over sequence(1, n-1) with element_at probes) was tried
    # and REVERTED — matched A/B wall-timing at sf0.1 showed 0.75s ->
    # 1.93s: the interpreted per-element HOF scan over every candidate
    # doc's full token array costs more than the posting-list pipeline,
    # whose explode is pre-filtered to the two phrase terms (document-
    # frequency-bounded) before anything shuffles.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").contains(_PHRASE[0])
            & F.col("text").contains(_PHRASE[1])
        )
        .select(
            "doc_id",
            T.tokens("text").alias("t"),
        )
    )
    post = (
        d.select("doc_id", F.posexplode("t").alias("pos0", "tok"))
        .filter(F.col("tok").isin(*_PHRASE))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    pl = post.groupBy("doc_id", "tok").agg(
        F.sort_array(F.collect_list("pos")).alias("plist")
    )
    a = pl.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("plist").alias("pa")
    )
    b = pl.filter(F.col("tok") == _PHRASE[1]).select(
        "doc_id", F.col("plist").alias("pb")
    )
    matches = bind(
        F.filter(F.col("pa"), lambda x: F.array_contains(F.col("pb"), x + 1)),
        lambda mm: F.struct(
            # try_element_at: the struct is computed BEFORE the n>0
            # filter, and a doc holding both terms without adjacency has
            # an empty match array (element_at would throw)
            F.size(mm).alias("n"),
            F.try_element_at(mm, F.lit(1)).alias("fp"),
        ),
    )
    return (
        a.join(b, "doc_id")
        .select("doc_id", matches.alias("_m"))
        .filter(F.col("_m.n") > 0)
        .select(
            "doc_id",
            F.col("_m.n").alias("n_matches"),
            F.col("_m.fp").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language — the tokenizer-eval audit a
# multilingual pipeline runs before committing to a vocab
# ---------------------------------------------------------------------------


def _fertility_oracle(sf_dir: str) -> str:
    """Dynamic oracle: replay train+encode independently in Python (the
    bpe_encode oracle's pattern) to get per-doc BPE token counts, state
    them as VALUES, and restate language-ID + the per-language ratios in
    SQL — so the GROUPING and ratio arithmetic are still checked on the
    SQL side, not just copied from Spark."""
    import os

    import duckdb

    from victor_spark.plans.catalog import (
        _bpe_apply_merge,
        _expected_bpe_merges,
    )

    merge_pairs = [(a, b) for _r, a, b, _m, _n in _expected_bpe_merges(sf_dir)]
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    ).fetchall()
    con.close()

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        for left, right in merge_pairs:
            syms = _bpe_apply_merge(syms, left, right)
        return syms

    rows = []
    for doc_id, text in docs:
        words = [w for w in (text or "").lower().split(" ") if w]
        n_bpe = sum(len(encode_word(w)) for w in words)
        rows.append((int(doc_id), n_bpe))
    values = ", ".join(f"({d}, {n})" for d, n in rows) or "(NULL, NULL)"
    selects, expr_lang, expr_score = _lang_sql_parts()
    return f"""
WITH enc(doc_id, n_bpe) AS (VALUES {values}),
d AS (SELECT doc_id, text, {SQL_TOKS.format(s='text')} t FROM documents),
ql AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_words,
              CAST(length(text) AS BIGINT) n_chars,
              list_transform(t, x -> lower(x)) lt
       FROM d),
sc AS (SELECT doc_id, n_words, n_chars, {selects} FROM ql),
lp AS (SELECT doc_id, n_words, n_chars,
              (CASE WHEN {expr_score} > 0 THEN {expr_lang}
                    ELSE 'und' END) AS pred_lang
       FROM sc)
SELECT pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(enc.n_bpe) AS DOUBLE) / sum(lp.n_words), 6)
         AS fertility,
       round(CAST(sum(lp.n_chars) AS DOUBLE) / sum(enc.n_bpe), 6)
         AS chars_per_token
FROM lp JOIN enc USING (doc_id)
WHERE lp.n_words > 0
GROUP BY pred_lang
"""


@_q10(
    "tokenizer_fertility",
    _fertility_oracle,
    "tokenizer fertility audit by predicted language (the eval a "
    "multilingual pipeline runs before committing to a vocab — fertility "
    "= subword tokens per word; high-fertility languages get "
    "under-trained at a fixed token budget): language-ID and word/char "
    "counts are codegen projections, the BPE encode is the sanctioned "
    "Arrow farm (trained merges from the corpus itself, the bpe_train "
    "recurrence), and the audit is one tiny per-language aggregation. "
    "Oracle: an independent Python replay of train+encode states per-doc "
    "token counts as VALUES; language grouping and the ratio arithmetic "
    "are restated in SQL. Integer sums keep the ratios "
    "order-independent at any scale; word-free docs carry no fertility "
    "signal and are excluded in both engines",
)
def q_tokenizer_fertility(spark, sf_dir):
    from victor_spark.operators.bpe import bpe_token_count, train_bpe_merges

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [
        (r["left"], r["right"])
        for r in train_bpe_merges(d, "text", num_merges=20)
        .orderBy("rank")
        .collect()
    ]
    # Round-11 optimization (guide §4.1): the farm now returns one count
    # per doc instead of the full subword array (which was immediately
    # collapsed to size()), and the JVM-side text statistics are
    # computed BELOW the farm so they pass through it as scalars — the
    # text column crosses into Python once and nothing array-sized
    # crosses back.
    pre = d.select(
        "doc_id",
        T.lang_id("text").alias("pred_lang"),
        T.token_count("text").cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
        "text",
    )
    per_doc = bpe_token_count(pre, "text", merges, out_col="n_bpe")
    # word-free docs (empty/whitespace-only text) carry no fertility
    # signal and would make a group's sum(n_words)=0 divide by zero
    # under ANSI mode (review-caught) — excluded in BOTH engines
    per_doc = per_doc.filter(F.col("n_words") > 0)
    return per_doc.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT-style MaxSim) — per-token
# embeddings, sum-of-max scoring
# ---------------------------------------------------------------------------

_LI_QUERY = ("training", "data", "quality")
_LI_DIM = 8

# deterministic per-token pseudo-embedding, dim j in [0, 8):
#   tv(tok)[j] = (md5_32(tok || ':' || j) % 1000) / 1000 - 0.5
# — the token-level analog of the corpus's hash embedder, identically
# restatable in DuckDB (SQL_H32), so the maxsim SHAPE is what's tested.
_SQL_TV = (
    "list_transform(range(0, 8), j -> "
    "CAST({h} % 1000 AS DOUBLE) / 1000.0 - 0.5)"
)


def _li_sql_tv(tok_expr: str) -> str:
    from victor_spark.plans.catalog import SQL_H32

    return _SQL_TV.format(
        h=SQL_H32.format(x=f"{tok_expr} || ':' || CAST(j AS VARCHAR)")
    )


def _li_oracle() -> str:
    from victor_spark.plans.catalog import SQL_TOKS

    terms = " + ".join(
        "coalesce(list_max(list_transform(vecs, v -> "
        f"list_dot_product(v, {_li_sql_tv(repr(qt))}))), 0.0)"
        for qt in _LI_QUERY
    )
    return f"""
WITH d AS (SELECT doc_id, list_distinct({SQL_TOKS.format(s='text')}) toks
           FROM documents),
dv AS (SELECT doc_id,
              list_transform(toks, t -> {_li_sql_tv('t')}) vecs
       FROM d),
s AS (SELECT doc_id, {terms} AS score FROM dv),
r AS (SELECT doc_id, round(score, 6) AS maxsim,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS INTEGER) AS rank
      FROM s)
SELECT doc_id, rank, maxsim FROM r WHERE rank <= 10
"""


@_q10(
    "late_interaction_maxsim",
    _li_oracle(),
    "late-interaction retrieval (ColBERT's MaxSim, Khattab & Zaharia "
    "2020): every token gets its own embedding and a document's score "
    "is the sum over QUERY tokens of the max dot product against any "
    "DOC token — the retrieval family between single-vector cosine and "
    "full cross-attention. Token embeddings here are the deterministic "
    "hash pseudo-embedder (dim 8), so both engines restate them "
    "exactly; the doc-side token-vector table is bound once per row, "
    "the per-query-token maxes are codegen array folds, and the top-10 "
    "is a bounded heap. At 100 TB: one scan, zero shuffles before the "
    "heap — the real-model swap changes the embedder seam only",
)
def q_late_interaction_maxsim(spark, sf_dir):
    from pyspark.sql import Window

    from victor_spark.functions.vector import _dot_sql
    from victor_spark.sources.tables import fan_out

    def tv(tok: str) -> str:
        # md5_32(tok || ':' || j) in Spark SQL
        h = (
            f"CAST(conv(substring(md5(concat({tok}, ':', CAST(_j AS STRING))), "
            f"1, 8), 16, 10) AS BIGINT)"
        )
        return (
            f"transform(sequence(0, {_LI_DIM - 1}), _j -> "
            f"CAST({h} % 1000 AS DOUBLE) / 1000.0D - 0.5D)"
        )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.array_distinct(T.tokens("text")).alias("toks")
    )
    # all three per-query-token maxes inside ONE bound lambda: the doc's
    # token-vector table evaluates once per row
    total = " + ".join(
        f"coalesce(array_max(transform(_vs, _lv -> "
        f"{_dot_sql('_lv', tv(repr(qt)))})), 0.0D)"
        for qt in _LI_QUERY
    )
    scored = d.select(
        "doc_id",
        F.expr(
            f"get(transform(array(transform(toks, _tok -> {tv('_tok')})), "
            f"_vs -> {total}), 0)"
        ).alias("_s"),
    )
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("_s"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank", F.round("_s", 6).alias("maxsim"))
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (CDC) — storage-level dedup over binary
# payloads, the blob-store/backup family (complements content-level text
# dedup)
# ---------------------------------------------------------------------------

_CDC_W = 8  # rolling window, bytes
_CDC_D = 16  # boundary divisor -> ~16-byte average chunks
_CDC_M = 2147483648  # 2^31 hash modulus

_CDC_ORACLE = f"""
WITH m AS (SELECT doc_id, hex(encode(text)) h,
                  octet_length(encode(text)) n
           FROM documents),
b AS (SELECT doc_id, h, n,
             list_transform(range(1, n + 1), p ->
               CAST(concat('0x', substr(h, (p - 1) * 2 + 1, 2)) AS BIGINT)
             ) AS bs
      FROM m),
bo AS (SELECT doc_id, h, n,
              list_filter(range({_CDC_W}, n + 1), i ->
                -- 2-arg list_reduce folds from the first element; that
                -- equals Spark's aggregate-with-0 seed because
                -- 0*31+b1 = b1 and b1 < 256 < the modulus
                list_reduce(bs[i - {_CDC_W} + 1 : i],
                            (acc, x) -> (acc * 31 + x) % {_CDC_M})
                % {_CDC_D} = 0
              ) AS bounds
       FROM b),
sp AS (SELECT doc_id, h,
              -- list_sort: DuckDB's list_distinct SCRAMBLES order
              -- (Spark's array_distinct keeps first-occurrence order,
              -- already ascending here)
              list_sort(list_distinct(list_concat(list_concat(
                [CAST(0 AS BIGINT)],
                list_transform(bounds, x -> CAST(x AS BIGINT))),
                [CAST(n AS BIGINT)]))) AS s
       FROM bo),
ch AS (SELECT doc_id,
              list_transform(range(1, len(s)), j ->
                md5(substr(h, CAST(s[j] * 2 + 1 AS INTEGER),
                           CAST((s[j + 1] - s[j]) * 2 AS INTEGER)))) AS cs
       FROM sp),
occ AS (SELECT doc_id, generate_subscripts(cs, 1) pos, unnest(cs) cm
        FROM ch),
firsts AS (SELECT cm, min(row(doc_id, pos)) f FROM occ GROUP BY cm)
SELECT occ.doc_id,
       CAST(count(*) AS INTEGER) AS n_chunks,
       CAST(count(*) FILTER (WHERE row(occ.doc_id, occ.pos) <> firsts.f)
            AS INTEGER) AS dup_chunks
FROM occ JOIN firsts ON occ.cm = firsts.cm
GROUP BY occ.doc_id
"""


@_q10(
    "cdc_chunk_dedup",
    _CDC_ORACLE,
    "content-defined chunking dedup (the backup/blob-store family — "
    "FastCDC/LBFS lineage): a rolling polynomial hash over each binary "
    "payload cuts chunk boundaries wherever the windowed hash divides "
    "{D}, so shared byte runs chunk IDENTICALLY regardless of their "
    "offset (the insert-resistance fixed-size blocking lacks), and "
    "cross-document duplicate chunks are counted corpus-wide with the "
    "substring-dedup argmin shape. Storage-level complement to the "
    "text-level dedup family — this is how you dedup image/audio/video "
    "payload bytes, not their content. Per doc: chunking is ONE "
    "Arrow-batched numpy farm (sliding-window matmul for the rolling "
    "hash — the decode family's sanctioned pattern for per-row byte "
    "compute; a pure-codegen HOF chunker computed the same values 50x "
    "slower, interpreted per position); the only shuffles are the "
    "chunk-hash argmin and the per-doc dup count. At 100 TB chunk "
    "hashes are the minority shuffle payload — never the payload "
    "bytes".format(D=_CDC_D),
)
def q_cdc_chunk_dedup(spark, sf_dir):
    from victor_spark.sources.tables import fan_out

    m = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "text")

    def _chunk_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        powers = (31 ** np.arange(_CDC_W - 1, -1, -1)).astype(np.int64)
        for pdf in batches:
            css = []
            for txt in pdf["text"]:
                raw = ("" if txt is None else str(txt)).encode("utf-8")
                b = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                n = len(b)
                if n >= _CDC_W:
                    # exact int64 sliding-window polynomial: max value
                    # 255 * (31^7 + ... + 1) ~ 7.2e12 << 2^63, one mod
                    # at the end equals the per-step-mod fold (mod is
                    # ring-homomorphic over + and *)
                    win = np.lib.stride_tricks.sliding_window_view(
                        b, _CDC_W
                    )
                    h = (win @ powers) % _CDC_M
                    bounds = np.nonzero(h % _CDC_D == 0)[0] + _CDC_W
                else:
                    bounds = np.empty(0, dtype=np.int64)
                s = np.unique(np.concatenate(([0], bounds, [n])))
                hx = raw.hex().upper()
                css.append(
                    [
                        hashlib.md5(
                            hx[int(a) * 2 : int(e) * 2].encode("ascii")
                        ).hexdigest()
                        for a, e in zip(s[:-1], s[1:])
                    ]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "cs": pd.Series(css, index=pdf.index)}
            )

    ch = m.mapInPandas(_chunk_batches, schema="doc_id long, cs array<string>")
    # ONE pass over the chunk occurrences: n_chunks and the dup count
    # come from the same firsts-join aggregation, so the heavy chunking
    # projection evaluates exactly once (the first cut rejoined the
    # per-doc chunk table against itself and re-ran the whole pipeline
    # for the second branch — measured 9 s vs 3.3 s at sf0.1). Empty
    # payloads chunk to nothing and are absent in both engines.
    occ = (
        ch.select("doc_id", F.posexplode("cs").alias("p0", "cm"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "cm")
        # both consumers (the firsts argmin and the join's probe side)
        # would otherwise re-run the whole chunking projection — the
        # plan showed the scan->bytes->bounds->chunks tree twice
        .localCheckpoint(eager=False)
    )
    firsts = occ.groupBy("cm").agg(
        F.min(F.struct("doc_id", "pos")).alias("f")
    )
    return (
        occ.join(firsts, "cm")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.count_if(
                (F.col("pos") != F.col("f.pos"))
                | (F.col("doc_id") != F.col("f.doc_id"))
            )
            .cast("int")
            .alias("dup_chunks"),
        )
    )


# ---------------------------------------------------------------------------
# Soft dedup: per-doc sampling weights 1/|duplicate cluster| — train-time
# downweighting instead of hard removal
# ---------------------------------------------------------------------------

_SOFT_DEDUP_ORACLE = """
WITH RECURSIVE {ctes},
dup_edges AS (
  SELECT id_a AS a, id_b AS b FROM ver WHERE jaccard >= 0.7
  UNION
  SELECT id_b AS a, id_a AS b FROM ver WHERE jaccard >= 0.7
),
reach(node, r) AS (
  SELECT a, a FROM dup_edges
  UNION
  SELECT e.b, r.r FROM reach r JOIN dup_edges e ON e.a = r.node
),
clusters AS (SELECT node AS doc, min(r) AS cluster FROM reach GROUP BY node),
sizes AS (SELECT cluster, count(*) AS csize FROM clusters GROUP BY cluster)
SELECT corpus.doc_id,
       coalesce(clusters.cluster, corpus.doc_id) AS cluster,
       round(1.0 / CAST(coalesce(sizes.csize, 1) AS DOUBLE), 6) AS weight
FROM corpus
LEFT JOIN clusters ON corpus.doc_id = clusters.doc
LEFT JOIN sizes ON clusters.cluster = sizes.cluster
"""


def _soft_dedup_oracle() -> str:
    from victor_spark.plans.catalog import _DUP_CORPUS_SQL, _minhash_ctes

    return _SOFT_DEDUP_ORACLE.format(ctes=_minhash_ctes(_DUP_CORPUS_SQL))


@_q10(
    "soft_dedup_weights",
    _soft_dedup_oracle(),
    "soft deduplication: instead of dropping near-duplicates, every doc "
    "gets sampling weight 1/|its duplicate cluster| (singletons weight "
    "1, cluster = its min-id like the dedup family), so a training "
    "sampler sees each CONTENT with equal total mass while keeping "
    "every variant available — the downweight-don't-delete policy "
    "debated for web corpora (duplication count as a quality signal). "
    "Pipeline: the standard MinHash-LSH pair stage, transitive "
    "clustering, one tiny cluster-size aggregation, then a plain "
    "equi-join back onto the corpus — NO broadcast hint, because the "
    "cluster-member table is data-dependent-sized (30-50% of a real "
    "web corpus is in some near-dup cluster); AQE's runtime stats pick "
    "broadcast only when it genuinely fits. The oracle replays "
    "clustering as a recursive closure and states every weight",
)
def q_soft_dedup_weights(spark, sf_dir):
    from victor_spark.operators.dedup import (
        duplicate_clusters,
        minhash_near_duplicates,
    )
    from victor_spark.plans.catalog import (
        MINHASH_BANDS,
        MINHASH_NUM,
        _dup_corpus,
    )

    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        corpus, "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    clusters = duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("csize"))
    cw = clusters.join(sizes, "cluster").select(
        F.col("doc").alias("doc_id"), "cluster", "csize"
    )
    # no broadcast hint: cw has one row per duplicate-CLUSTER MEMBER,
    # which on a real web corpus is 30-50% of all docs — corpus-scale,
    # not dim-table-scale. A plain equi-join lets AQE's runtime stats
    # pick broadcast only when cw genuinely fits (the host_pagerank
    # lesson: never force a data-dependent-size table through a hint).
    return corpus.join(cw, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
        F.round(
            F.lit(1.0) / F.coalesce("csize", F.lit(1)).cast("double"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# DoReMi-lite domain reweighting — excess-loss-driven mixture weights
# ---------------------------------------------------------------------------

_DOREMI_ETA = 1.0
_DOREMI_EPS = 0.2

_DOREMI_ORACLE = f"""
WITH toks AS (SELECT source, unnest({SQL_TOKS.format(s='lower(text)')}) tok
              FROM documents),
dist AS (SELECT tok, count(*) c FROM toks GROUP BY tok),
total AS (SELECT CAST(sum(c) AS DOUBLE) t FROM dist),
nll AS (SELECT toks.source, -ln(CAST(dist.c AS DOUBLE) / total.t) l
        FROM toks JOIN dist USING (tok) CROSS JOIN total),
dom AS (SELECT source, CAST(count(*) AS BIGINT) n_tokens, sum(l) sl
        FROM nll GROUP BY source),
-- the reference loss folds over dom's 20 per-source partials instead
-- of re-scanning the instance stream (one corpus pass, not two); the
-- cross-source reduction is DECIMAL so it is order-independent
ref AS (SELECT CAST(sum(CAST(sl AS DECIMAL(38, 12))) AS DOUBLE)
               / CAST(sum(n_tokens) AS DOUBLE) rl
        FROM dom),
ex AS (SELECT source, n_tokens,
              greatest(dom.sl / n_tokens - ref.rl, 0.0) AS excess
       FROM dom CROSS JOIN ref),
ew AS (SELECT source, n_tokens, excess,
              exp({_DOREMI_ETA} * excess) AS w FROM ex),
z AS (SELECT sum(CAST(w AS DECIMAL(20, 12))) zsum FROM ew),
k AS (SELECT CAST(count(*) AS DOUBLE) k FROM ew)
SELECT source, n_tokens, round(excess, 6) AS excess_loss,
       round((1.0 - {_DOREMI_EPS}) * (w / CAST(z.zsum AS DOUBLE))
             + {_DOREMI_EPS} / k.k, 6) AS weight
FROM ew CROSS JOIN z CROSS JOIN k
"""


@_q10(
    "domain_mix_doremi",
    _DOREMI_ORACLE,
    "DoReMi-lite domain reweighting (Xie et al. 2023, simplified to one "
    "round with the corpus unigram LM as the proxy model): each source "
    "domain's EXCESS loss over the corpus-wide reference (mean unigram "
    "NLL) drives an exponentiated weight, normalized and smoothed with "
    "a uniform mixture (eps=0.2, the paper's stabilizer) — hard domains "
    "get upsampled, at-reference domains fall back toward uniform. "
    "Shuffle shape: the LM family's (one explode, a Heaps-bounded "
    "distribution table, the instance join) feeding TWO tiny "
    "aggregations (per-domain, 1-row reference); the normalization sum "
    "is DECIMAL(20,12) so the 5-row reduction is order-independent. "
    "Complements mix_weights (size-driven) with quality/difficulty-"
    "driven mixing",
)
def q_domain_mix_doremi(spark, sf_dir):
    from victor_spark.sources.tables import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "source", F.explode(T.tokens("lower(text)")).alias("tok")
    )
    dist = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = F.broadcast(dist.agg(F.sum("c").cast("double").alias("t")))
    nll = (
        toks.join(dist, "tok")
        .crossJoin(total)
        .select(
            "source",
            (-F.log(F.col("c").cast("double") / F.col("t"))).alias("l"),
        )
    )
    # ONE corpus pass: per-source (count, sum) partials; the reference
    # loss folds over those 20 partials (DECIMAL cross-source sum —
    # order-independent) instead of re-running the explode+join for a
    # second global average (review-caught double corpus pass)
    dom = nll.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"), F.sum("l").alias("sl")
    )
    # dom is the 20-row per-domain partial table that EVERY downstream
    # scalar (reference loss, normalizer, domain count) and the final
    # report fold over; without a reuse barrier each consumer re-derived
    # the whole corpus pipeline (explode -> dist -> token join -> agg)
    # past the reused exchanges — measured 22 jobs for a 20-row result
    # (round-11 optimization). The checkpoint bounds it: one corpus
    # pass, then arithmetic on 20 rows.
    dom = dom.localCheckpoint(eager=False)
    ref = F.broadcast(
        dom.agg(
            (
                F.sum(F.col("sl").cast("decimal(38,12)")).cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("rl")
        )
    )
    excess = F.greatest(
        F.col("sl") / F.col("n_tokens") - F.col("rl"), F.lit(0.0)
    )
    ew = dom.crossJoin(ref).select(
        "source",
        "n_tokens",
        excess.alias("excess"),
        F.exp(F.lit(_DOREMI_ETA) * excess).alias("w"),
    )
    # one pass for BOTH normalization scalars (was two separate aggs)
    zk = F.broadcast(
        ew.agg(
            F.sum(F.col("w").cast("decimal(20,12)")).alias("zsum"),
            F.count("*").cast("double").alias("k"),
        )
    )
    return (
        ew.crossJoin(zk)
        .select(
            "source",
            "n_tokens",
            F.round("excess", 6).alias("excess_loss"),
            F.round(
                F.lit(1.0 - _DOREMI_EPS)
                * (F.col("w") / F.col("zsum").cast("double"))
                + F.lit(_DOREMI_EPS) / F.col("k"),
                6,
            ).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): guaranteed-density local fingerprinting + overlap pairs
# ---------------------------------------------------------------------------

_WIN_W = 4  # winnowing window (fingerprints per w consecutive grams)
_WIN_T = 2  # report pairs sharing at least this many fingerprints
# MOSS's over-shared-fingerprint drop: a fingerprint appearing in more
# than this many DISTINCT documents is boilerplate (a shared header, a
# license banner, a navigation footer) and is excluded from the pair
# stage. Without the cap the pair join is quadratic PER HOT KEY — a
# trigram window shared by n docs emits n(n-1)/2 rows for that key
# alone, which is exactly what a web corpus produces at scale. MOSS
# itself drops fingerprints that match too many documents for the same
# reason (Schleimer et al. 2003 §5, "too common to be interesting").
_WIN_DF_CAP = 16

_WINNOW_ORACLE = f"""
WITH corpus AS ({{corpus}}),
t AS (SELECT doc_id, {{toks}} tk FROM corpus),
g AS (SELECT doc_id,
             CASE WHEN len(tk) >= 3 THEN
               list_transform(range(1, len(tk) - 1),
                 i -> {{h}})
             ELSE [] END AS hs
      FROM t),
fp AS (SELECT doc_id,
              list_distinct(
                CASE WHEN len(hs) = 0 THEN []
                     WHEN len(hs) < {_WIN_W} THEN [list_min(hs)]
                     ELSE list_transform(range(1, len(hs) - {_WIN_W} + 2),
                            j -> list_min(hs[j : j + {_WIN_W} - 1]))
                END) AS fps
       FROM g),
occ AS (SELECT doc_id, unnest(fps) f FROM fp),
-- occ is per-doc distinct, so count(*) per fingerprint == its document
-- frequency; fingerprints shared by more than the cap are dropped
-- BEFORE the pair join (MOSS's boilerplate exclusion)
keep AS (SELECT f FROM occ GROUP BY f HAVING count(*) <= {_WIN_DF_CAP}),
occk AS (SELECT occ.doc_id, occ.f FROM occ JOIN keep USING (f)),
pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_shared
          FROM occk a JOIN occk b ON a.f = b.f AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, CAST(n_shared AS INTEGER) AS n_shared
FROM pairs WHERE n_shared >= {_WIN_T}
ORDER BY n_shared DESC, id_a, id_b
LIMIT 20
"""


def _winnow_oracle() -> str:
    from victor_spark.plans.catalog import _DUP_CORPUS_SQL, SQL_H32, SQL_TOKS

    gram = "concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])"
    return _WINNOW_ORACLE.format(
        corpus=_DUP_CORPUS_SQL,
        toks=SQL_TOKS.format(s="text"),
        h=SQL_H32.format(x=gram),
    )


@_q10(
    "winnow_fingerprints",
    _winnow_oracle(),
    "winnowing (Schleimer et al. 2003 — MOSS's fingerprinting): hash "
    "every POSITIONAL word 3-gram, keep the minimum of each sliding "
    "window of {w} hashes — a local algorithm with a guaranteed "
    "fingerprint density (~2/(w+1)) that, unlike MinHash's global "
    "signature, detects PARTIAL overlap: any shared run of w+2 tokens "
    "is guaranteed to share a fingerprint regardless of position. "
    "Pairs sharing >= {t} fingerprints are the plagiarism/containment "
    "report (top-20). Scale shape: winnow sets are per-doc codegen "
    "projections bounded to ~|grams|/{w} entries; fingerprints in more "
    "than {cap} distinct docs are dropped BEFORE the pair join (MOSS's "
    "own boilerplate exclusion — without it one hot fingerprint makes "
    "the join quadratic per key); the pair stage is then an equi-join "
    "on the df-capped fingerprint key — band-join economics, never "
    "all-pairs. Complements MinHash (whole-doc near-dup) and the "
    "substring dedup (exact windows) with alignment-free partial-"
    "overlap detection".format(w=_WIN_W, t=_WIN_T, cap=_WIN_DF_CAP),
)
def q_winnow_fingerprints(spark, sf_dir):
    from victor_spark.functions import hashing as H
    from victor_spark.functions.vector import bind
    from victor_spark.plans.catalog import _dup_corpus

    d = _dup_corpus(spark, sf_dir).select(
        "doc_id",
        T.tokens("text").alias("tk"),
    )
    grams = F.when(
        F.size("tk") >= 3,
        bind(
            F.col("tk"),
            lambda tk: F.transform(
                F.sequence(F.lit(1), F.size(tk) - 2),
                lambda i: H.md5_32(
                    F.concat(
                        F.element_at(tk, i), F.lit(" "),
                        F.element_at(tk, i + 1), F.lit(" "),
                        F.element_at(tk, i + 2),
                    )
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    fps = bind(
        grams,
        lambda hs: F.array_distinct(
            F.when(F.size(hs) == 0, F.array().cast("array<long>"))
            .when(F.size(hs) < _WIN_W, F.array(F.array_min(hs)))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(hs) - (_WIN_W - 1)),
                    lambda j: F.array_min(F.slice(hs, j, _WIN_W)),
                )
            )
        ),
    )
    # checkpoint: the df aggregation and both sides of the pair
    # self-join would otherwise each re-run the gram-hash + window-min
    # projection over the whole corpus (cdc_chunk_dedup's lesson in
    # this same module)
    occ = d.select("doc_id", F.explode(fps).alias("f")).localCheckpoint(
        eager=False
    )
    # MOSS's boilerplate exclusion: occ is per-doc distinct, so the
    # plain count per fingerprint IS its document frequency; keys hotter
    # than the cap never reach the pair join (one hot key is otherwise
    # quadratic — n docs sharing a footer trigram emit n(n-1)/2 rows).
    # The df agg and the pair join shuffle on the SAME key, so the
    # filter join is co-partitioned with the work it protects.
    keep = (
        occ.groupBy("f")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WIN_DF_CAP)
        .select("f")
    )
    occ = occ.join(keep, "f")
    a, b = occ.alias("a"), occ.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_T)
    )
    return pairs.orderBy(
        F.desc("n_shared"), F.asc("id_a"), F.asc("id_b")
    ).limit(20)

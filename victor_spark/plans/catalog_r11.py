"""Round-11 catalog queries — built and oracle-tested in round 10
(staged, the standing round-8/9/10 pattern), REGISTERED at round-11
start after the round-10 ADVICE items against them were closed
(zipf_fit's degenerate-corpus OLS guards mirrored in both engines;
unigram_tokenize's NULL-text coalesce). All 9 auto-front the round-11
gate window as never-green; full builders, dynamic oracles, pytest
parity at BOTH the smoke SF and the driver's SF
(tests/test_r11_pending.py), and plan/determinism assertions."""

from __future__ import annotations

import functools
import math
import os

from pyspark.sql import functions as F

from victor_spark.functions import text as T
from victor_spark.plans.catalog import SQL_TOKS, QuerySpec
from victor_spark.sources import load_table

PENDING: dict[str, QuerySpec] = {}


def _q11(name: str, oracle, doc: str = ""):
    def wrap(fn):
        PENDING[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training + encode — the BPE
# family's sibling (Kudo 2018). The trainer is hard (Viterbi) EM: every
# expected count is an integer sum of word frequencies, so the whole
# recurrence is a pure function of the corpus and the oracle can replay
# it independently (DuckDB word counts + plain-Python EM) and state the
# result literally, exactly like bpe_train's dynamic oracle.
# ---------------------------------------------------------------------------

_UNI_VOCAB = 300
_UNI_SEED_MAX_LEN = 5
_UNI_SEED_SIZE = 1500
_UNI_EM_ITERS = 3
_UNI_ALPHA = 0.1
_UNI_UNK_LOGP = -100.0


def _uni_viterbi(word: str, logps: dict[str, float], max_len: int) -> list[str]:
    """Replay of the documented Viterbi contract (operators/unigram.py):
    positions ascending, candidate lengths ascending, STRICT improvement
    (ties -> shortest final piece), single-char <unk> fallback for
    unreachable positions."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for ln in range(1, min(i, max_len) + 1):
            lp = logps.get(word[i - ln : i])
            if lp is None:
                continue
            s = best[i - ln] + lp
            if s > best[i]:
                best[i], back[i] = s, ln
        if best[i] == -math.inf:
            best[i], back[i] = best[i - 1] + _UNI_UNK_LOGP, 1
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[i - back[i] : i])
        i -= back[i]
    out.reverse()
    return out


def _uni_smooth(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    denom = total + _UNI_ALPHA * len(counts)
    return {p: math.log((counts[p] + _UNI_ALPHA) / denom) for p in sorted(counts)}


def _uni_prune(counts: dict[str, int], vocab_size: int) -> dict[str, int]:
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(vocab_size - len(chars), 0)]
    out = dict(chars)
    out.update(multi)
    return out


def _duck_word_counts(sf_dir: str) -> list[tuple[str, int]]:
    import duckdb

    con = duckdb.connect()
    wc = con.execute(
        "SELECT word, CAST(count(*) AS BIGINT) FROM ("
        "  SELECT unnest(list_filter(string_split(lower(text), ' '),"
        "                            t -> t <> '')) AS word"
        f"  FROM read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
        ") GROUP BY word"
    ).fetchall()
    con.close()
    return [(str(w), int(n)) for w, n in wc]


@functools.lru_cache(maxsize=4)
def _expected_unigram(sf_dir: str) -> tuple[dict[str, int], dict[str, float], int]:
    """Independent replay of unigram-LM training: word counts via DuckDB
    (not Spark), then the deterministic seed -> hard-EM -> prune
    recurrence in plain Python (same documented contract as
    operators/unigram.py, reimplemented here so the oracle does not call
    the code under test). Memoized per sf_dir: the train and tokenize
    oracles both need it in one oracle_sql() sweep. Returns
    (final_counts, final_logps, max_piece_len)."""
    wc = _duck_word_counts(sf_dir)
    vocab = sorted(wc, key=lambda wn: (-wn[1], wn[0]))[:1_000_000]

    cand: dict[str, int] = {}
    for word, n in vocab:
        wl = len(word)
        for ln in range(1, min(_UNI_SEED_MAX_LEN, wl) + 1):
            for start in range(wl - ln + 1):
                sub = word[start : start + ln]
                cand[sub] = cand.get(sub, 0) + n
    chars = {p: c for p, c in cand.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cand.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(_UNI_SEED_SIZE - len(chars), 0)]
    counts = dict(chars)
    counts.update(multi)
    max_len = max(len(p) for p in counts) if counts else 1

    # no pre-EM prune (matches the trainer: prune decisions are
    # EM-informed Viterbi counts, never raw substring-frequency ties)
    for _ in range(_UNI_EM_ITERS):
        logps = _uni_smooth(counts)
        stepped: dict[str, int] = {}
        for word, n in wc:
            for piece in _uni_viterbi(word, logps, max_len):
                if piece in logps:
                    stepped[piece] = stepped.get(piece, 0) + n
        counts = _uni_prune(
            {p: stepped.get(p, 0) for p in counts}, _UNI_VOCAB
        )
    return counts, _uni_smooth(counts), max_len


def _unigram_train_oracle(sf_dir: str) -> str:
    """Dynamic oracle: state the independently replayed final piece table
    (integer Viterbi counts + full-precision smoothed logps) as VALUES.
    repr(float) round-trips exactly, so the stated doubles are
    bit-identical to the Python floats the Spark trainer ships through
    createDataFrame — no engine math in either output path."""
    counts, logps, _ = _expected_unigram(sf_dir)
    if not counts:
        return (
            "SELECT CAST(NULL AS VARCHAR) piece, CAST(NULL AS BIGINT) "
            "expected_n, CAST(NULL AS DOUBLE) logp WHERE false"
        )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    # logp ships as a QUOTED string: a bare decimal literal in VALUES is
    # typed DECIMAL(w,s) first and the decimal->double conversion can
    # land 1 ulp off the Python float; VARCHAR -> DOUBLE is a correctly
    # rounded strtod of the round-tripping repr (test-caught)
    values = ", ".join(
        f"('{esc(p)}', {counts[p]}, '{logps[p]!r}')" for p in sorted(counts)
    )
    return (
        "SELECT piece, CAST(expected_n AS BIGINT) AS expected_n, "
        "CAST(logp AS DOUBLE) AS logp "
        f"FROM (VALUES {values}) AS t(piece, expected_n, logp)"
    )


@_q11(
    "unigram_lm_train",
    _unigram_train_oracle,
    "unigram-LM tokenizer training (Kudo 2018; SentencePiece's default "
    "model type — the BPE family's sibling): substring seeding, then "
    "hard (Viterbi) EM with add-alpha smoothing and coverage-preserving "
    "pruning to a 300-piece vocabulary. Scale shape deliberately differs "
    "from BPE's driver merge loop because the bottleneck moves: each "
    "E-step must segment EVERY word type, and the type table (Heaps' "
    "law ~corpus^0.5) can exceed driver memory at web scale — so the "
    "E-step is a distributed Arrow farm over the (word, n) type table "
    "with one Heaps-bounded count shuffle per iteration; only the "
    "vocab-sized count table is ever collected, and hard-EM's integer "
    "counts make the result partition-order independent. Checked "
    "against an independent DuckDB-word-count + plain-Python replay of "
    "the same recurrence (bpe_train's dynamic-oracle pattern)",
)
def q_unigram_lm_train(spark, sf_dir):
    from victor_spark.operators.unigram import train_unigram

    d = load_table(spark, sf_dir, "documents")
    return train_unigram(
        d,
        "text",
        vocab_size=_UNI_VOCAB,
        seed_max_len=_UNI_SEED_MAX_LEN,
        seed_size=_UNI_SEED_SIZE,
        em_iters=_UNI_EM_ITERS,
    )


def _unigram_tokenize_oracle(sf_dir: str) -> str:
    """Dynamic oracle for the ENCODE leg: replay training (memoized),
    Viterbi-encode every 25th doc in plain Python, and state the per-doc
    (n_tokens, n_words) as VALUES; fertility (tokens per word — the
    tokenizer-quality metric tokenizer_fertility audits for BPE) divides
    and rounds in SQL so both engines run the same double op."""
    import duckdb

    _counts, logps, max_len = _expected_unigram(sf_dir)
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}') "
        "WHERE doc_id % 25 = 0"
    ).fetchall()
    con.close()

    rows = []
    for doc_id, text in docs:
        words = [w for w in (text or "").lower().split(" ") if w]
        n_tok = sum(len(_uni_viterbi(w, logps, max_len)) for w in words)
        rows.append((int(doc_id), n_tok, len(words)))
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS BIGINT) "
            "n_tokens, CAST(NULL AS BIGINT) n_words, "
            "CAST(NULL AS DOUBLE) fertility WHERE false"
        )
    values = ", ".join(f"({d}, {t}, {w})" for d, t, w in rows)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words = 0 THEN 0.0
            ELSE round(CAST(n_tokens AS DOUBLE) / n_words, 6)
       END AS fertility
FROM (VALUES {values}) AS t(doc_id, n_tokens, n_words)
"""


@_q11(
    "unigram_tokenize",
    _unigram_tokenize_oracle,
    "unigram-LM ENCODE leg: train the 300-piece table, then "
    "Viterbi-segment every 25th doc (Arrow-batched mapInPandas with a "
    "Zipf word cache — the serving path a tokenization pipeline ships) "
    "and report per-doc token count, word count, and fertility "
    "(tokens/word, the metric tokenizer_fertility audits for the BPE "
    "twin; unigram's Viterbi segmentation is the global-likelihood "
    "optimum, vs BPE's greedy merges). Checked against an independent "
    "Python replay of train + encode",
)
def q_unigram_tokenize(spark, sf_dir):
    from victor_spark.operators.unigram import train_unigram, unigram_token_count

    d = load_table(spark, sf_dir, "documents")
    pieces = train_unigram(
        d,
        "text",
        vocab_size=_UNI_VOCAB,
        seed_max_len=_UNI_SEED_MAX_LEN,
        seed_size=_UNI_SEED_SIZE,
        em_iters=_UNI_EM_ITERS,
    ).collect()
    logps = {r["piece"]: r["logp"] for r in pieces}
    sample = d.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    # coalesce BEFORE split: NULL text must count as 0 words (the
    # oracle replays len((text or '').split()) = 0 and the farm's
    # own None handling yields 0 — an unguarded split would leave
    # n_words NULL and silently break hash parity on a corpus with NULL
    # text; advice-caught round 10)
    n_words = T.token_count("lower(coalesce(text, ''))").cast("long")
    # r11 optimization (guide §4.1, the bpe_token_count treatment §24):
    # n_words is a JVM-side statistic of text, so it is computed BELOW
    # the farm and rides through as a scalar; the farm itself returns
    # only the token COUNT (the old apply_unigram path shipped text into
    # Python AND the full piece array back out, both immediately
    # collapsed to size()). Same Viterbi DP, same word cache —
    # equality pinned in tests/test_unigram.py.
    pre = sample.select("doc_id", n_words.alias("n_words"), "text")
    enc = unigram_token_count(pre, "text", logps, out_col="n_tokens")
    return enc.select(
        "doc_id",
        F.col("n_tokens"),
        "n_words",
    ).select(
        "doc_id",
        "n_tokens",
        "n_words",
        F.when(F.col("n_words") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            )
        )
        .alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit over the rank-frequency curve — the corpus-sizing audit
# (vocabulary shape drives tokenizer vocab size and LM data budgets)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS word
              FROM documents),
wc AS (SELECT word, CAST(count(*) AS BIGINT) n FROM toks GROUP BY word),
ranked AS (SELECT word, n,
                  row_number() OVER (ORDER BY n DESC, word ASC) AS rnk
           FROM wc QUALIFY rnk <= {_ZIPF_TOP}),
-- per-point logs rounded to 9 decimals and summed as DECIMAL: the
-- aggregation is addition-only, so both engines' sums are EXACT over
-- identical rounded inputs; all products/divisions then run in double
-- on identical values (the cross-engine float-parity recipe)
pts AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(18, 9)) x,
               CAST(round(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(18, 9)) y
        FROM ranked),
s AS (SELECT CAST(count(*) AS DOUBLE) k,
             CAST(sum(x) AS DOUBLE) sx, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(x * x) AS DOUBLE) sxx,
             CAST(sum(x * y) AS DOUBLE) sxy,
             CAST(sum(y * y) AS DOUBLE) syy
      FROM pts)
-- degenerate-corpus guards (NULL, never a throw -- the heaps_law_fit
-- pattern): a single-word corpus has one rank (zero x variance, slope
-- undefined) and an all-equal-counts corpus (e.g. all-hapax) has zero
-- y variance (r2 undefined); Spark 4's ANSI mode turns an unguarded
-- division into a runtime error deep inside the job
SELECT CAST(k AS BIGINT) AS n_ranks,
       CASE WHEN k * sxx - sx * sx = 0 THEN NULL
            ELSE round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
       END AS slope,
       CASE WHEN k * sxx - sx * sx = 0 THEN NULL
            ELSE round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                        * sx) / k, 6)
       END AS intercept,
       CASE WHEN (k * sxx - sx * sx) * (k * syy - sy * sy) = 0 THEN NULL
            ELSE round(pow(k * sxy - sx * sy, 2)
                       / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
       END AS r2
FROM s
"""


@_q11(
    "zipf_fit",
    _ZIPF_ORACLE,
    "Zipf's-law fit: OLS of ln(frequency) on ln(rank) over the top-{top} "
    "word ranks — the corpus-shape audit behind tokenizer vocab sizing "
    "and LM data budgeting (natural corpora fit slope ~ -1; a synthetic "
    "or templated corpus shows up immediately as a flat or kinked "
    "curve, r2 quantifies it). Cross-engine float parity by "
    "construction: the per-point logs are rounded to 9 decimals and "
    "CAST to DECIMAL(18,9), the five OLS sums are ADDITION-ONLY decimal "
    "aggregations (exact in both engines), and every product/division "
    "runs in double on those identical sums. Scale shape: one explode + "
    "one Heaps-bounded word-count shuffle, a bounded top-{top} "
    "TakeOrdered, a {top}-row single-partition window, one 1-row "
    "aggregate — the fit itself is free at any corpus size".format(
        top=_ZIPF_TOP
    ),
)
def q_zipf_fit(spark, sf_dir):
    from pyspark.sql import Window


    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(T.tokens("lower(text)")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    top = wc.orderBy(F.desc("n"), F.asc("word")).limit(_ZIPF_TOP)
    # row_number over the already-bounded top-N relation: a
    # single-partition window over <= 100 rows, not a global sort
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    # degenerate-corpus guards (match the oracle's CASE arms, the
    # heaps_law_fit pattern): a single-rank corpus has zero x variance
    # (slope/intercept undefined) and an all-equal-counts corpus (all
    # hapax) has zero y variance (r2 undefined) -> NULL, never an ANSI
    # DIVIDE_BY_ZERO mid-job (advice-caught round 10)
    xden = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    r2den = xden * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / xden
    return s.select(
        F.col("k").cast("long").alias("n_ranks"),
        F.when(xden == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("slope"),
        F.when(xden == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6)
        )
        .alias("intercept"),
        F.when(r2den == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.pow(
                    F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"),
                    2,
                )
                / r2den,
                6,
            )
        )
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law fit over token-trigram type growth — zipf_fit's sibling on
# the OTHER corpus-shape axis: zipf audits the frequency CURVE at a
# point in time, Heaps audits how the type inventory GROWS with corpus
# size (V(N) = K * N^beta; natural text fits beta ~ 0.4-0.6 and heavy
# duplication flattens the curve, so the fit doubles as a dedup-health
# probe). Trigram types rather than word types because growth is the
# phenomenon under audit: the word vocabulary saturates on any bounded
# lexicon while n-gram types keep compounding — the same reason
# tokenizer-vocab sizing studies fit Heaps over n-grams.
# ---------------------------------------------------------------------------

_HEAPS_CKPTS = 20

_HEAPS_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
g AS (SELECT doc_id,
             unnest(t[1:len(t)-2]) w1,
             unnest(t[2:len(t)-1]) w2,
             unnest(t[3:len(t)])   w3
      FROM d WHERE len(t) >= 3),
gi AS (SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS gram FROM g),
pdg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_grams FROM gi GROUP BY doc_id),
firsts AS (SELECT gram, min(doc_id) fd FROM gi GROUP BY gram),
nt AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) new_types
       FROM firsts GROUP BY fd),
pd AS (SELECT pdg.doc_id, pdg.n_grams, coalesce(nt.new_types, 0) AS new_types
       FROM pdg LEFT JOIN nt USING (doc_id)),
-- checkpoint thresholds: 20 integer-exact points on the doc_id axis
-- ((i*mx) // 20 in BOTH engines -- float division would round-vs-
-- truncate differently); DISTINCT because a small corpus collapses
-- adjacent thresholds and a duplicated group key would double-count
m AS (SELECT max(doc_id) AS mx FROM documents),
thr AS (SELECT DISTINCT (i * mx) // {_HEAPS_CKPTS} AS thr
        FROM m, range(1, {_HEAPS_CKPTS + 1}) t(i)),
cum AS (SELECT thr, sum(n_grams) AS cg, sum(new_types) AS ct
        FROM pd JOIN thr ON pd.doc_id <= thr.thr GROUP BY thr),
-- the zipf_fit cross-engine float-parity recipe: per-point logs
-- rounded to 9 decimals, summed as DECIMAL (addition-only => exact in
-- both engines), every product/division in double on identical sums
pts AS (SELECT CAST(round(ln(CAST(cg AS DOUBLE)), 9) AS DECIMAL(18, 9)) x,
               CAST(round(ln(CAST(ct AS DOUBLE)), 9) AS DECIMAL(18, 9)) y
        FROM cum),
s AS (SELECT CAST(count(*) AS DOUBLE) k,
             CAST(sum(x) AS DOUBLE) sx, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(x * x) AS DOUBLE) sxx,
             CAST(sum(x * y) AS DOUBLE) sxy,
             CAST(sum(y * y) AS DOUBLE) syy
      FROM pts)
-- degenerate-corpus guards (NULL, never a throw): a fully-duplicated
-- corpus has ZERO type-count variance (k*syy - sy*sy = 0, r2
-- undefined) and a single-checkpoint corpus has zero x variance
-- (slope undefined); Spark 4's ANSI mode turns an unguarded division
-- into a runtime error deep inside the job
SELECT CAST(k AS BIGINT) AS n_points,
       CASE WHEN k * sxx - sx * sx = 0 THEN NULL
            ELSE round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
       END AS beta,
       CASE WHEN k * sxx - sx * sx = 0 THEN NULL
            ELSE round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                        * sx) / k, 6)
       END AS intercept,
       CASE WHEN (k * sxx - sx * sx) * (k * syy - sy * sy) = 0 THEN NULL
            ELSE round(pow(k * sxy - sx * sy, 2)
                       / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
       END AS r2
FROM s
"""


@_q11(
    "heaps_law_fit",
    _HEAPS_ORACLE,
    "Heaps'-law fit: OLS of ln(trigram types) on ln(trigram instances) "
    "at {k} cumulative doc_id checkpoints — the vocabulary-GROWTH audit "
    "(V(N) = K*N^beta) that complements zipf_fit's frequency-curve "
    "audit; natural text fits beta ~ 0.4-0.6 and heavy duplication "
    "flattens it, so the slope doubles as a dedup-health metric. "
    "Cross-engine float parity is zipf_fit's recipe (9-decimal-rounded "
    "ln points, DECIMAL addition-only sums, double OLS on identical "
    "sums); the checkpoint thresholds are integer-exact ((i*mx) DIV "
    "{k}) because float division rounds in DuckDB and truncates in "
    "Spark casts. Scale shape: one trigram explode, one Heaps-bounded "
    "type-table shuffle (min doc_id per gram), one per-doc count "
    "shuffle, then a {k}-row broadcast nested-loop whose output "
    "partial-aggregates map-side to <= {k} rows — the fit itself is "
    "free at any corpus size".format(k=_HEAPS_CKPTS),
)
def q_heaps_law_fit(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", T.tokens("lower(text)").alias("t")
    )
    n2 = F.size("t") - F.lit(2)
    gi = (
        toks.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n2).alias("w1"),
                    F.slice("t", 2, n2).alias("w2"),
                    F.slice("t", 3, n2).alias("w3"),
                )
            ).alias("_g"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.col("_g.w1"), F.col("_g.w2"), F.col("_g.w3")
            ).alias("gram"),
        )
    )
    # per-doc gram count is row-local (n - 2 trigram positions) — the
    # explode + groupBy(doc_id) it replaces shuffled one row per gram
    # occurrence to compute what size(t) already knows (round-11 optimization)
    pdg = toks.filter(F.size("t") >= 3).select(
        "doc_id", (F.size("t") - 2).cast("long").alias("n_grams")
    )
    nt = (
        gi.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("new_types"))
    )
    pd = pdg.join(nt, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
    )
    # 20 integer-exact checkpoints; provably bounded -> broadcast is safe
    thr = (
        d.agg(F.max("doc_id").alias("mx"))
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(_HEAPS_CKPTS))
            ).alias("i"),
            "mx",
        )
        .select(
            F.expr(f"(i * mx) DIV {_HEAPS_CKPTS}").alias("thr")
        )
        .distinct()
    )
    cum = (
        pd.join(F.broadcast(thr), pd.doc_id <= thr.thr)
        .groupBy("thr")
        .agg(
            F.sum("n_grams").alias("cg"),
            F.sum("new_types").alias("ct"),
        )
    )
    pts = cum.select(
        F.round(F.log(F.col("cg").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("ct").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    # degenerate-corpus guards (match the oracle's CASE arms): zero x
    # variance -> slope/intercept NULL; zero y variance (a fully
    # duplicated corpus) -> r2 NULL. ANSI mode would otherwise turn the
    # division into a runtime error mid-job.
    xden = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    r2den = xden * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / xden
    return s.select(
        F.col("k").cast("long").alias("n_points"),
        F.when(xden == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("beta"),
        F.when(xden == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6)
        )
        .alias("intercept"),
        F.when(r2den == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.pow(
                    F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"),
                    2,
                )
                / r2den,
                6,
            )
        )
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing — the standard multinomial data-mix
# recipe (GPT-3 App. A / XLM-R / Llama): sample source i with
# probability proportional to p_i^tau. domain_mix_doremi is the
# LEARNED member of this family; this is the closed-form member every
# production mix starts from. tau < 1 upweights small sources, and the
# effective-epochs column is the overfitting audit that decides whether
# a small source is being repeated too often for a given token budget.
# ---------------------------------------------------------------------------

_MIX_TAU = 0.7
_MIX_BUDGET = 1_000_000

_MIX_ORACLE = f"""
WITH n AS (SELECT source,
                  CAST(sum(len({SQL_TOKS.format(s='lower(text)')})) AS BIGINT)
                    AS n_tokens
           FROM documents GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tt FROM n),
-- pow() is libm in both engines; committing the per-source value at 9
-- decimals as DECIMAL makes the normalizer an addition-only exact sum
-- (the zipf_fit parity recipe), after which every division runs in
-- double on identical operands
-- degenerate guards (NULL, never an ANSI throw): tt = 0 is the
-- empty/whitespace-only corpus; a zero-token SOURCE is legal (weight
-- 0) but has no defined effective-epochs ratio
u AS (SELECT source, n_tokens,
             CASE WHEN tt = 0 THEN CAST(0 AS DECIMAL(18, 9))
                  ELSE CAST(round(pow(CAST(n_tokens AS DOUBLE)
                                      / CAST(tt AS DOUBLE),
                                      {_MIX_TAU}), 9) AS DECIMAL(18, 9))
             END AS ui,
             CASE WHEN tt = 0 THEN NULL
                  ELSE CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)
             END AS p
      FROM n CROSS JOIN tot),
z AS (SELECT sum(ui) AS zz FROM u)
SELECT source,
       n_tokens,
       round(p, 6) AS p_raw,
       CASE WHEN zz = 0 THEN NULL
            ELSE round(CAST(ui AS DOUBLE) / CAST(zz AS DOUBLE), 6)
       END AS weight,
       CASE WHEN zz = 0 OR n_tokens = 0 THEN NULL
            ELSE round({_MIX_BUDGET} * (CAST(ui AS DOUBLE)
                                        / CAST(zz AS DOUBLE))
                       / CAST(n_tokens AS DOUBLE), 6)
       END AS eff_epochs
FROM u CROSS JOIN z
ORDER BY source
"""


@_q11(
    "domain_mix_temperature",
    _MIX_ORACLE,
    "temperature-scaled source mixing (GPT-3 Appendix A / XLM-R / "
    "Llama's data-mix recipe; domain_mix_doremi is this family's "
    "LEARNED member): sampling weight_i proportional to p_i^tau with "
    "tau={tau}, plus the effective-epochs audit (weight * budget / "
    "n_tokens_i) that flags a small source being repeated past the "
    "memorization threshold for a {budget}-token budget. Float parity: "
    "pow() is libm in both engines, so the per-source pow value is "
    "committed at 9 decimals as DECIMAL and the normalizer is an "
    "addition-only exact sum (zipf_fit's recipe); every division then "
    "runs in double on identical operands. Scale shape: token counts "
    "ride sum(size(tokens)) per doc — NO explode — into one "
    "map-side-combine shuffle on the source key; everything after is "
    "source-cardinality-sized (two 1-row broadcast joins)".format(
        tau=_MIX_TAU, budget=_MIX_BUDGET
    ),
)
def q_domain_mix_temperature(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(
        F.sum(F.size(T.tokens("lower(text)")))
        .cast("long")
        .alias("n_tokens")
    )
    tot = F.broadcast(n.agg(F.sum("n_tokens").alias("tt")))
    # degenerate guards mirror the oracle's CASE arms: tt = 0 (empty
    # corpus) and per-source n_tokens = 0 yield NULLs, never an ANSI
    # divide-by-zero throw mid-job
    p = F.when(F.col("tt") == 0, F.lit(None).cast("double")).otherwise(
        F.col("n_tokens").cast("double") / F.col("tt").cast("double")
    )
    u = n.crossJoin(tot).select(
        "source",
        "n_tokens",
        F.when(F.col("tt") == 0, F.lit(0).cast("decimal(18,9)"))
        .otherwise(
            F.round(F.pow(p, F.lit(_MIX_TAU)), 9).cast("decimal(18,9)")
        )
        .alias("ui"),
        p.alias("p"),
    )
    z = F.broadcast(u.agg(F.sum("ui").alias("zz")))
    w = F.col("ui").cast("double") / F.col("zz").cast("double")
    return (
        u.crossJoin(z)
        .select(
            "source",
            "n_tokens",
            F.round(F.col("p"), 6).alias("p_raw"),
            F.when(F.col("zz") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(w, 6))
            .alias("weight"),
            F.when(
                (F.col("zz") == 0) | (F.col("n_tokens") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    F.lit(_MIX_BUDGET)
                    * w
                    / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("eff_epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Vocab-drift audit — the batch-plane anchor for streaming topology 20
# (streaming/drift_stream.py): the same shared transform the monitor
# runs per micro-batch, driver-gated against a static SQL oracle.
# ---------------------------------------------------------------------------

_DRIFT_VOCAB_K = 10

_DRIFT_ORACLE = f"""
WITH toks AS (SELECT unnest({SQL_TOKS.format(s='lower(text)')}) AS word
              FROM documents),
wc AS (SELECT word, CAST(count(*) AS BIGINT) n FROM toks GROUP BY word),
vocab AS (SELECT word FROM wc
          ORDER BY n DESC, word ASC LIMIT {_DRIFT_VOCAB_K}),
t AS (SELECT wc.word, wc.n,
             (vocab.word IS NOT NULL) AS known
      FROM wc LEFT JOIN vocab USING (word))
SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN NOT known THEN n ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_types,
       CASE WHEN sum(n) = 0 THEN NULL
            ELSE round(CAST(sum(CASE WHEN NOT known THEN n ELSE 0 END)
                            AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
       END AS oov_token_rate
FROM t
"""


@_q11(
    "vocab_drift_audit",
    _DRIFT_ORACLE,
    "vocabulary-drift audit: OOV token/type counts and OOV token rate "
    "of the corpus against a frozen top-{k}-word reference vocabulary "
    "— the batch-plane anchor for streaming topology 20 "
    "(streaming/drift_stream.py), which runs the IDENTICAL shared "
    "transform (type_drift + drift_metrics) per micro-batch against "
    "the same frozen artifact; registering it here puts the "
    "stream's correctness under the driver gate. The reference is "
    "collected as a {k}-row bounded artifact (the frozen-vocab serving "
    "shape: tokenizer tables ship the same way); the instance stream "
    "aggregates to the Heaps-bounded type table map-side before "
    "touching it. Deterministic tie-break (n DESC, word ASC) on the "
    "vocab cut so both engines freeze the same reference".format(
        k=_DRIFT_VOCAB_K
    ),
)
def q_vocab_drift_audit(spark, sf_dir):
    from victor_spark.streaming.drift_stream import drift_metrics, type_drift

    d = load_table(spark, sf_dir, "documents")
    vocab = [
        r["word"]
        for r in d.select(
            F.explode(T.tokens("lower(text)")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_DRIFT_VOCAB_K)
        .collect()
    ]
    return drift_metrics(type_drift(d, vocab))


# ---------------------------------------------------------------------------
# Tokenize-and-pack capstone — the training-data LAST MILE composed the
# way crawl_pipeline composed the first mile: train the tokenizer on
# the corpus, encode every document through the serving farm, pack the
# token stream into fixed-length training sequences, and assign
# deterministic train/val/test splits — one dataflow, per-doc output,
# every stage an already-gated operator.
# ---------------------------------------------------------------------------

_TPP_SEQ_LEN = 256
_TPP_BUCKETS = 8


def _tpp_oracle(sf_dir: str) -> str:
    """Dynamic oracle: replay BPE train + encode independently (the
    bpe_train/bpe_encode recurrence, memoized in catalog.py), state the
    per-doc subword counts as VALUES, and run the pack + split
    arithmetic in pure SQL — the same md5 bucket/order/cumsum window as
    pack_sequences' static oracle and hash_split's bucket CASE, so
    every composed stage is re-derived outside Spark."""
    import os

    import duckdb

    from victor_spark.plans.catalog import (
        SQL_H32,
        _bpe_apply_merge,
        _expected_bpe_merges,
    )

    merge_pairs = [
        (a, b) for _r, a, b, _m, _n in _expected_bpe_merges(sf_dir)
    ]
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    ).fetchall()
    con.close()

    memo: dict[str, int] = {}

    def n_sub(word: str) -> int:
        if word not in memo:
            syms = list(word)
            for left, right in merge_pairs:
                syms = _bpe_apply_merge(syms, left, right)
            memo[word] = len(syms)
        return memo[word]

    rows = []
    for doc_id, text in docs:
        n = sum(n_sub(w) for w in (text or "").lower().split(" ") if w)
        rows.append((int(doc_id), n))
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS BIGINT) "
            "n_bpe_tokens, CAST(NULL AS INTEGER) bucket, CAST(NULL AS "
            "BIGINT) start_off, CAST(NULL AS BIGINT) pack_id, CAST(NULL "
            "AS VARCHAR) split WHERE false"
        )
    values = ", ".join(f"({d}, {n})" for d, n in rows)
    h_pack = SQL_H32.format(x="concat('pack:', CAST(doc_id AS VARCHAR))")
    h_split = SQL_H32.format(x="concat('split:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH d AS (SELECT doc_id, n_tok FROM (VALUES {values}) AS t(doc_id, n_tok)),
h AS (SELECT doc_id, n_tok, {h_pack} AS h, {h_split} % 1000 AS sb FROM d),
w AS (SELECT doc_id, n_tok, CAST(h % {_TPP_BUCKETS} AS INTEGER) AS bucket, sb,
             sum(n_tok) OVER (PARTITION BY h % {_TPP_BUCKETS}
                              ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM h)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tok AS BIGINT) AS n_bpe_tokens,
       bucket,
       CAST(cum - n_tok AS BIGINT) AS start_off,
       CAST((cum - n_tok) // {_TPP_SEQ_LEN} AS BIGINT) AS pack_id,
       CASE WHEN sb < 800 THEN 'train' WHEN sb < 900 THEN 'val'
            ELSE 'test' END AS split
FROM w
"""


@_q11(
    "tokenize_pack_pipeline",
    _tpp_oracle,
    "the training-data LAST MILE as one dataflow (crawl_pipeline's "
    "tokenize-side sibling): train 20 BPE merges on the corpus -> "
    "encode EVERY document through the rank-priority Arrow serving "
    "farm -> pack the subword stream into seq_len={sl} training "
    "sequences over {nb} parallel bucket streams (concat-then-chunk, "
    "deterministic on any cluster size) -> deterministic 80/10/10 "
    "hash split. Per-doc output (doc_id, n_bpe_tokens, bucket, "
    "start_off, pack_id, split) so the oracle checks the COMPOSITION, "
    "not just stage counts; checked against an independent Python "
    "replay of train+encode with the pack/split arithmetic re-derived "
    "in pure SQL. Scale shape: the composition adds nothing to its "
    "stages' own shapes — one word-count shuffle + driver merge loop "
    "(Heaps-bounded), one stateless Arrow encode farm, one shuffle by "
    "pack bucket with per-bucket windows, split as a pure projection; "
    "the merge table is the only collected artifact".format(
        sl=_TPP_SEQ_LEN, nb=_TPP_BUCKETS
    ),
)
def q_tokenize_pack_pipeline(spark, sf_dir):
    from victor_spark.operators.bpe import bpe_token_count, train_bpe_merges
    from victor_spark.operators.packing import pack_sequences
    from victor_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in train_bpe_merges(d, "text", num_merges=20)
        .orderBy("rank")
        .collect()
    ]
    # count-only farm: same segmentation, no token array shipped back
    # (round-11 optimization, guide §4.1)
    counted = bpe_token_count(
        d.select("doc_id", "text"), "text", merges, out_col="n_tok"
    ).select("doc_id", F.col("n_tok").cast("int").alias("n_tok"))
    packed = pack_sequences(
        counted,
        "doc_id",
        "n_tok",
        seq_len=_TPP_SEQ_LEN,
        n_buckets=_TPP_BUCKETS,
    )
    return hash_split(packed, "doc_id").select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_bpe_tokens"),
        "bucket",
        "start_off",
        "pack_id",
        "split",
    )


# ---------------------------------------------------------------------------
# Source-overlap audit — pairwise vocabulary Jaccard between sources:
# the redundancy check behind every mix decision (two "different"
# sources that are the same crawl under two names show up as a
# near-1.0 pair; domain_mix_temperature / domain_mix_doremi weights
# assume sources are distinct populations).
# ---------------------------------------------------------------------------

_OVL_ORACLE = f"""
WITH sw AS (SELECT DISTINCT source, word
            FROM (SELECT source,
                         unnest({SQL_TOKS.format(s='lower(text)')}) AS word
                  FROM documents)),
sz AS (SELECT source, CAST(count(*) AS BIGINT) n FROM sw GROUP BY source),
co AS (SELECT a.source s1, b.source s2, CAST(count(*) AS BIGINT) n_common
       FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
       GROUP BY a.source, b.source)
SELECT co.s1, co.s2, co.n_common,
       za.n AS n_s1, zb.n AS n_s2,
       round(CAST(co.n_common AS DOUBLE)
             / CAST(za.n + zb.n - co.n_common AS DOUBLE), 6) AS jaccard
FROM co JOIN sz za ON co.s1 = za.source
        JOIN sz zb ON co.s2 = zb.source
ORDER BY s1, s2
"""


@_q11(
    "source_overlap_jaccard",
    _OVL_ORACLE,
    "source-overlap audit: pairwise vocabulary Jaccard between every "
    "pair of sources — the redundancy check behind mix decisions (a "
    "mirrored/relabeled source shows up as a near-1.0 pair, and "
    "temperature/DoReMi weights silently double-count it). Scale "
    "shape: the pair join runs on the DISTINCT (source, word) TYPE "
    "table (Heaps-bounded), never on token instances; a word present "
    "in every source emits at most C(n_sources, 2) pair rows — "
    "bounded by a config-sized constant squared, the same reason the "
    "winnow df cap exists is NOT needed here. Denominator "
    "n1+n2-common is integer-exact; one round-6 double division".format(),
)
def q_source_overlap_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sw = (
        d.select(
            "source",
            F.explode(T.tokens("lower(text)")).alias("word"),
        )
        .distinct()
    )
    sz = sw.groupBy("source").agg(F.count("*").alias("n"))
    a = sw.alias("a")
    b = sw.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    za = sz.select(
        F.col("source").alias("s1"), F.col("n").alias("n_s1")
    )
    zb = sz.select(
        F.col("source").alias("s2"), F.col("n").alias("n_s2")
    )
    return (
        co.join(za, "s1")
        .join(zb, "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            "n_s1",
            "n_s2",
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("n_s1") + F.col("n_s2") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# Corpus entropy — the third corpus-shape audit axis: zipf_fit reads
# the frequency CURVE, heaps_law_fit reads type GROWTH, this reads
# PREDICTABILITY (the empirical unigram entropy and the bigram
# conditional entropy H(w2|w1), whose exp is the perplexity a bigram
# LM would train to on this corpus — the number that separates natural
# text from templated/duplicated filler before any model is trained).
# ---------------------------------------------------------------------------

_ENT_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
toks AS (SELECT unnest(t) AS w FROM d),
uc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM toks GROUP BY w),
un AS (SELECT sum(c) AS n FROM uc),
-- per-term contributions rounded to 9 decimals and summed as DECIMAL:
-- addition-only => exact in both engines (the zipf_fit parity recipe);
-- ln() is libm in both, identical operands => identical doubles
upts AS (SELECT CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)),
                           9) AS DECIMAL(18, 9)) term
         FROM uc CROSS JOIN un),
bg AS (SELECT unnest(t[1:len(t)-1]) w1, unnest(t[2:len(t)]) w2
       FROM d WHERE len(t) >= 2),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) c FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c) AS cw1 FROM bc GROUP BY w1),
bn AS (SELECT sum(c) AS n FROM bc),
bpts AS (SELECT CAST(round((CAST(bc.c AS DOUBLE) / CAST(bn.n AS DOUBLE))
                           * ln(CAST(bc.c AS DOUBLE)
                                / CAST(c1.cw1 AS DOUBLE)),
                           9) AS DECIMAL(18, 9)) term
         FROM bc JOIN c1 USING (w1) CROSS JOIN bn),
s AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM uc) n_tokens,
             (SELECT CAST(count(*) AS BIGINT) FROM uc) n_types,
             (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM bc) n_bigrams,
             (SELECT CAST(count(*) AS BIGINT) FROM bc) n_bigram_types,
             (SELECT CAST(coalesce(sum(term), 0) AS DOUBLE) FROM upts) hu,
             (SELECT CAST(coalesce(sum(term), 0) AS DOUBLE) FROM bpts) hb)
SELECT n_tokens, n_types, n_bigrams, n_bigram_types,
       round(-hu, 6) AS unigram_entropy,
       round(-hb, 6) AS bigram_cond_entropy,
       round(exp(-hb), 6) AS bigram_perplexity
FROM s
"""


@_q11(
    "corpus_entropy",
    _ENT_ORACLE,
    "corpus predictability audit — the third corpus-shape axis after "
    "zipf_fit (frequency curve) and heaps_law_fit (type growth): "
    "empirical unigram entropy and bigram CONDITIONAL entropy "
    "H(w2|w1) = -sum p(w1,w2) ln p(w2|w1), whose exp is the training "
    "perplexity of a bigram LM on this corpus — templated or "
    "duplicate-heavy text shows up as an anomalously low number "
    "before any model is trained. Parity: per-term contributions "
    "(double division * libm ln on identical operands) are committed "
    "at 9 decimals as DECIMAL and summed addition-only (the zipf_fit "
    "recipe); exp runs on the identical resulting double. Scale "
    "shape: one explode pass, two Heaps-bounded type-table shuffles "
    "(unigram + bigram counts, map-side partial), the instance table "
    "is never pair-joined; all aggregates are 1-row",
)
def q_corpus_entropy(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens("lower(text)").alias("t")
    )
    # round-11 measurement note: lazy reuse barriers on uc/bc were tried
    # and REVERTED (min-of-5 matched A/B 0.89s -> 1.18s) — the initial
    # explain prints the type tables per consumer, but AQE's runtime
    # stage reuse already shares them (task count identical either way),
    # so the barriers only added materialization syncs
    uc = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    un = F.broadcast(uc.agg(F.sum("c").alias("n")))
    up = F.col("c").cast("double") / F.col("n").cast("double")
    bg = (
        d.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("_p")
        )
        .select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = bc.groupBy("w1").agg(F.sum("c").alias("cw1"))
    bn = F.broadcast(bc.agg(F.sum("c").alias("n")))
    # Round-11 optimization (guide §2.4): the type-table stats and the
    # entropy term sums used to be FOUR separate 1-row aggregation
    # subtrees (each re-deriving uc/bc past the reused exchange and
    # running its own job); one pass over each distribution table now
    # yields its counts AND its entropy sum together — 2 aggregations,
    # same decimal-summed terms, same values.
    ustats = uc.crossJoin(un).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.coalesce(F.sum(F.round(up * F.log(up), 9).cast("decimal(18,9)")), F.lit(0))
        .cast("double")
        .alias("hu"),
    )
    bstats = (
        bc.join(c1, "w1")
        .crossJoin(bn)
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("n_bigram_types"),
            F.coalesce(
                F.sum(
                    F.round(
                        (F.col("c").cast("double") / F.col("n").cast("double"))
                        * F.log(
                            F.col("c").cast("double")
                            / F.col("cw1").cast("double")
                        ),
                        9,
                    ).cast("decimal(18,9)")
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("hb"),
        )
    )
    return ustats.crossJoin(F.broadcast(bstats)).select(
        "n_tokens",
        "n_types",
        "n_bigrams",
        "n_bigram_types",
        F.round(-F.col("hu"), 6).alias("unigram_entropy"),
        F.round(-F.col("hb"), 6).alias("bigram_cond_entropy"),
        F.round(F.exp(-F.col("hb")), 6).alias("bigram_perplexity"),
    )

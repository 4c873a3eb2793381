"""Round-12 staged catalog queries — the instruction/SFT data-prep
family (round-10 verdict item 4), built and oracle-tested in round 11,
NOT yet registered.

The live catalog covers pretraining end-to-end (crawl -> clean -> dedup
-> tokenize -> pack) but nothing for the post-training data shape every
lab also runs at scale. These three queries add that stage:

- ``sft_render_conversations`` — role-tagged turns rendered into
  training text with a deterministic chat template (the conversation-
  assembly map every SFT pipeline runs; pure per-row codegen, ZERO
  shuffles — at 100 TB the render costs one scan, exactly like
  fim_transform);
- ``sft_loss_mask_spans`` — assistant-only loss masking as per-turn
  [start, end) character offsets into the rendered text (the span
  arithmetic that becomes the token-level loss mask after tokenization;
  the fim_transform substring-codegen discipline, zero shuffles). The
  Spark side proves its own offsets by md5-hashing the EXTRACTED
  substring while the oracle hashes the CONSTRUCTED turn content — the
  two agree only if the offset arithmetic is exactly right;
- ``sft_contamination_screen`` — eval-prompt contamination screening of
  rendered conversations (operators/contamination.py's broadcast
  shingle set, zero added corpus shuffles — the chat twin of
  contamination_check).

Conversations are synthesized DETERMINISTICALLY from ``documents`` (the
crawl_pipeline recipe — the tables carry no chat data, so the synthesis
IS part of the query contract and the oracle replays it): every 10th
doc becomes one conversation; its whitespace tokens split into four
quarter slices c0..c3 by integer division (exact in both engines:
``DIV`` / ``//``), alternating user/assistant roles under a fixed
system turn. The template is ChatML-shaped:

    <|system|>\\nYou are a helpful assistant.\\n
    <|user|>\\n{c0}\\n<|assistant|>\\n{c1}\\n
    <|user|>\\n{c2}\\n<|assistant|>\\n{c3}\\n

Cross-engine parity notes (the standing recipes):
- NULL text coalesces to '' BEFORE the token split (the round-10
  unigram_tokenize advice lesson);
- DuckDB's array_to_string([]) is NULL while Spark's array_join([]) is
  '' — every oracle-side turn join is coalesced (the SQL_WORD_SHINGLES
  lesson);
- assistant_frac divides by the rendered length, which is >= the
  constant 90-char template skeleton for EVERY input (including NULL /
  empty text), so the ratio needs no ANSI divide-by-zero guard — the
  denominator's floor is set by the template literal, not by data.

TO REGISTER AT ROUND-12 START: in ``catalog.py``, extend the round-11
registration block to also merge this module's ``PENDING`` (one line),
then flip tests/test_r12_pending.py's staging test to the registration-
identity form (the test_r9/r10/r11 precedent — NEVER a never-green
claim; see test_gate_order.py::test_no_pending_test_couples_to_artifacts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from victor_spark.plans.catalog import (
    SQL_H32,
    SQL_TOKS,
    SQL_WORD_SHINGLES,
    QuerySpec,
)
from victor_spark.sources import load_table

PENDING: dict[str, QuerySpec] = {}


def _q12(name: str, oracle, doc: str = ""):
    def wrap(fn):
        PENDING[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


# ---------------------------------------------------------------------------
# shared deterministic conversation synthesis
# ---------------------------------------------------------------------------

_SYS = "You are a helpful assistant."
_CONV_STRIDE = 10  # every 10th doc becomes a conversation
_BENCH_STRIDE = 97  # every 97th doc seeds an eval prompt
_PROMPT_TOKS = 12  # eval prompt = first 12 tokens of its doc

# character-offset constants, all template literals (see module doc):
# a rendered segment is "<|role|>\n{content}\n", so content starts
# len(tag)+1 after the segment and the segment adds len(content)+1 more
_SEG_SYS = len("<|system|>") + 1 + len(_SYS) + 1  # 40
_U = len("<|user|>") + 1  # content offset inside a user segment: 9
_A = len("<|assistant|>") + 1  # ... inside an assistant segment: 14
# start of c1 = sys segment + full user(c0) segment (U + L0 + 1) + A
_C1_CONST = _SEG_SYS + (_U + 1) + _A  # 64 (+ L0)
# start of c3 = sys + user(c0) + assistant(c1) + user(c2) segments + A
_C3_CONST = _SEG_SYS + (_U + 1) + (_A + 1) + (_U + 1) + _A  # 89 (+ L0+L1+L2)


def _conv_df(spark, sf_dir):
    """conv_id, c0..c3 (lowercased quarter-slice turn contents), and the
    rendered template — one narrow projection over the documents scan
    (zero shuffles; every downstream query starts here)."""
    from victor_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _CONV_STRIDE == 0
    )
    t = d.select(
        F.col("doc_id").alias("conv_id"),
        T.tokens("lower(coalesce(text, ''))").alias("toks"),
    ).withColumn("n", F.size("toks"))
    for i in range(4):
        t = t.withColumn(
            f"c{i}",
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.expr(f"({i} * n) DIV 4 + 1"),
                    F.expr(f"({i + 1} * n) DIV 4 - ({i} * n) DIV 4"),
                ),
                " ",
            ),
        )
    rendered = F.concat(
        F.lit(f"<|system|>\n{_SYS}\n"),
        F.lit("<|user|>\n"), F.col("c0"), F.lit("\n"),
        F.lit("<|assistant|>\n"), F.col("c1"), F.lit("\n"),
        F.lit("<|user|>\n"), F.col("c2"), F.lit("\n"),
        F.lit("<|assistant|>\n"), F.col("c3"), F.lit("\n"),
    )
    return t.select(
        "conv_id", "c0", "c1", "c2", "c3", rendered.alias("rendered")
    )


# the oracle-side replay of _conv_df: identical slice arithmetic
# (DuckDB list slices are 1-based inclusive, matching F.slice(start,
# length) exactly when length = b - a), identical lowercase/coalesce,
# chr(10) for the newlines so the SQL stays single-line-literal-safe
_CONV_CTE = f"""
base AS (
  SELECT doc_id AS conv_id,
         {SQL_TOKS.format(s="lower(coalesce(text, ''))")} AS toks
  FROM documents WHERE doc_id % {_CONV_STRIDE} = 0
),
cut AS (SELECT conv_id, toks, len(toks) AS n FROM base),
turns AS (
  SELECT conv_id,
         coalesce(array_to_string(toks[(0*n)//4 + 1 : (1*n)//4], ' '), '') c0,
         coalesce(array_to_string(toks[(1*n)//4 + 1 : (2*n)//4], ' '), '') c1,
         coalesce(array_to_string(toks[(2*n)//4 + 1 : (3*n)//4], ' '), '') c2,
         coalesce(array_to_string(toks[(3*n)//4 + 1 : (4*n)//4], ' '), '') c3
  FROM cut
),
conv AS (
  SELECT conv_id, c0, c1, c2, c3,
         '<|system|>' || chr(10) || '{_SYS}' || chr(10)
         || '<|user|>' || chr(10) || c0 || chr(10)
         || '<|assistant|>' || chr(10) || c1 || chr(10)
         || '<|user|>' || chr(10) || c2 || chr(10)
         || '<|assistant|>' || chr(10) || c3 || chr(10) AS rendered
  FROM turns
)
"""


# ---------------------------------------------------------------------------
# 1) conversation assembly
# ---------------------------------------------------------------------------

_RENDER_ORACLE = f"""
WITH {_CONV_CTE}
SELECT conv_id,
       CAST(len(rendered) AS BIGINT) AS n_chars,
       CAST(len(c1) + len(c3) AS BIGINT) AS n_assistant_chars,
       round(CAST(len(c1) + len(c3) AS DOUBLE) / len(rendered), 6)
         AS assistant_frac,
       md5(rendered) AS render_md5
FROM conv
"""


@_q12(
    "sft_render_conversations",
    _RENDER_ORACLE,
    "SFT conversation assembly: deterministic role-tagged turns "
    "(system + user/assistant/user/assistant quarter-slices of each "
    "10th doc's tokens) rendered through a fixed ChatML-shaped "
    "template; audited as rendered length, assistant-content chars, "
    "assistant fraction (the loss-token budget every SFT run sizes "
    "against) and the full render md5. Pure per-row codegen, ZERO "
    "shuffles — at 100 TB the render costs one corpus scan, the "
    "fim_transform shape. assistant_frac's denominator is floored at "
    "the 90-char template skeleton by construction, so no ANSI "
    "divide-by-zero guard is needed (the template literal, not data, "
    "sets the floor)",
)
def q_sft_render_conversations(spark, sf_dir):
    c = _conv_df(spark, sf_dir)
    asst = (F.length("c1") + F.length("c3")).cast("long")
    return c.select(
        "conv_id",
        F.length("rendered").cast("long").alias("n_chars"),
        asst.alias("n_assistant_chars"),
        F.round(
            asst.cast("double") / F.length("rendered").cast("double"), 6
        ).alias("assistant_frac"),
        F.md5("rendered").alias("render_md5"),
    )


# ---------------------------------------------------------------------------
# 2) assistant-only loss-mask spans
# ---------------------------------------------------------------------------

_MASK_ORACLE = f"""
WITH {_CONV_CTE}
SELECT conv_id, CAST(2 AS INTEGER) AS turn_idx,
       CAST({_C1_CONST} + len(c0) AS BIGINT) AS start_off,
       CAST({_C1_CONST} + len(c0) + len(c1) AS BIGINT) AS end_off,
       md5(c1) AS span_md5
FROM conv
UNION ALL
SELECT conv_id, CAST(4 AS INTEGER),
       CAST({_C3_CONST} + len(c0) + len(c1) + len(c2) AS BIGINT),
       CAST({_C3_CONST} + len(c0) + len(c1) + len(c2) + len(c3) AS BIGINT),
       md5(c3)
FROM conv
"""


@_q12(
    "sft_loss_mask_spans",
    _MASK_ORACLE,
    "assistant-only loss masking: per-turn [start, end) character "
    "offsets of the two assistant contents inside the rendered "
    "conversation, as one row per assistant turn — the span table a "
    "trainer turns into a token-level loss mask after tokenization. "
    "Pure substring/length codegen (the fim_transform discipline), "
    "zero shuffles, one Generate for the 2-element span explode. The "
    "correctness trick: the Spark side md5-hashes the substring it "
    "EXTRACTS at [start, end) while the oracle md5-hashes the turn "
    "content it CONSTRUCTS — hash equality proves the offset "
    "arithmetic on every row, not just on sampled ones",
)
def q_sft_loss_mask_spans(spark, sf_dir):
    c = _conv_df(spark, sf_dir)
    l0, l1, l2, l3 = (F.length(f"c{i}").cast("long") for i in range(4))
    s1 = F.lit(_C1_CONST).cast("long") + l0
    e1 = s1 + l1
    s3 = F.lit(_C3_CONST).cast("long") + l0 + l1 + l2
    e3 = s3 + l3
    spans = F.array(
        F.struct(
            F.lit(2).cast("int").alias("turn_idx"),
            s1.alias("start_off"),
            e1.alias("end_off"),
        ),
        F.struct(
            F.lit(4).cast("int").alias("turn_idx"),
            s3.alias("start_off"),
            e3.alias("end_off"),
        ),
    )
    ex = c.select(
        "conv_id", "rendered", F.explode(spans).alias("sp")
    )
    start, end = F.col("sp.start_off"), F.col("sp.end_off")
    return ex.select(
        "conv_id",
        F.col("sp.turn_idx").alias("turn_idx"),
        start.alias("start_off"),
        end.alias("end_off"),
        # md5 of the EXTRACTED span — substr is 1-based, offsets 0-based
        F.md5(
            F.col("rendered").substr(
                (start + 1).cast("int"), (end - start).cast("int")
            )
        ).alias("span_md5"),
    )


# ---------------------------------------------------------------------------
# 3) eval-prompt contamination screen over rendered conversations
# ---------------------------------------------------------------------------

_SCREEN_ORACLE = f"""
WITH {_CONV_CTE},
ct AS (SELECT conv_id, {SQL_TOKS.format(s='rendered')} t FROM conv),
ch AS (SELECT conv_id,
              list_distinct(list_transform({SQL_WORD_SHINGLES.format(t='t')},
                                           s -> {SQL_H32.format(x='s')})) h
       FROM ct),
bt AS (SELECT {SQL_TOKS.format(s="lower(coalesce(text, ''))")} toks
       FROM documents WHERE doc_id % {_BENCH_STRIDE} = 0),
bp AS (SELECT coalesce(array_to_string(toks[1:{_PROMPT_TOKS}], ' '), '')
                AS prompt
       FROM bt),
bpt AS (SELECT {SQL_TOKS.format(s='prompt')} t FROM bp),
bench AS (SELECT list_distinct(flatten(list(
            list_transform({SQL_WORD_SHINGLES.format(t='t')},
                           s -> {SQL_H32.format(x='s')})))) bl
          FROM bpt)
SELECT conv_id, CAST(len(h) AS INTEGER) AS n_shingles,
       CAST(len(list_intersect(h, bl)) AS BIGINT) AS n_shared
FROM ch, bench
WHERE len(list_intersect(h, bl)) >= 1
ORDER BY n_shared DESC, conv_id
LIMIT 20
"""


@_q12(
    "sft_contamination_screen",
    _SCREEN_ORACLE,
    "eval-prompt contamination screen for chat data: word-3-gram hash "
    "overlap between every rendered conversation and a broadcast "
    "eval-prompt shingle set (prompts = first {p} tokens of every "
    "{b}th doc — docs divisible by both strides are contaminated BY "
    "CONSTRUCTION and the screen must surface them). The "
    "contamination_check shape on the SFT corpus: the prompt set "
    "collapses to one broadcast array, each conversation intersects "
    "map-side (ZERO added corpus shuffles), top-20 offenders by "
    "shared-shingle count. At 100 TB this is the cheap pre-release "
    "gate every post-training dataset runs against its eval suite"
    .format(p=_PROMPT_TOKS, b=_BENCH_STRIDE),
)
def q_sft_contamination_screen(spark, sf_dir):
    from victor_spark.functions import text as T
    from victor_spark.operators.contamination import (
        ngram_overlap_small_bench,
    )

    conv = _conv_df(spark, sf_dir).select("conv_id", "rendered")
    bench = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BENCH_STRIDE == 0)
        .select(
            T.tokens("lower(coalesce(text, ''))").alias("toks")
        )
        .select(
            F.array_join(
                F.slice(F.col("toks"), 1, _PROMPT_TOKS), " "
            ).alias("rendered")
        )
    )
    return (
        ngram_overlap_small_bench(
            conv, bench, "conv_id", "rendered", shingle_n=3, unit="word"
        )
        .orderBy(F.desc("n_shared"), F.asc("conv_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# 4) DPO / preference-pair assembly
# ---------------------------------------------------------------------------

# Candidate scoring: stopword fraction of the content's tokens (the
# Gopher-style prose/fluency signal — real prose carries function
# words; keyword soup does not). Integer-count ratio -> identical
# doubles in both engines; zero-token contents score 0.0 (ANSI guard).

_DPO_ORACLE_TEMPLATE = """
WITH {cte},
sc AS (
  SELECT conv_id, c1, c3,
         {t1} AS t1, {t3} AS t3,
         {s1} AS s1, {s3} AS s3
  FROM conv
),
sr AS (
  SELECT conv_id,
         CASE WHEN t1 = 0 THEN 0.0
              ELSE CAST(s1 AS DOUBLE) / t1 END AS r1,
         CASE WHEN t3 = 0 THEN 0.0
              ELSE CAST(s3 AS DOUBLE) / t3 END AS r3,
         c1, c3
  FROM sc
)
SELECT conv_id,
       CAST(CASE WHEN r1 >= r3 THEN 2 ELSE 4 END AS INTEGER)
         AS chosen_turn,
       round(CASE WHEN r1 >= r3 THEN r1 - r3 ELSE r3 - r1 END, 6)
         AS margin,
       md5(CASE WHEN r1 >= r3 THEN c1 ELSE c3 END) AS chosen_md5,
       md5(CASE WHEN r1 >= r3 THEN c3 ELSE c1 END) AS rejected_md5
FROM sr
"""


def _dpo_oracle_sql() -> str:
    stop = list(__import__(
        "victor_spark.functions.text", fromlist=["STOPWORDS"]
    ).STOPWORDS)
    toks = "len(" + SQL_TOKS.format(s="c{i}") + ")"
    stops = (
        "len(list_filter(" + SQL_TOKS.format(s="c{i}")
        + f", x -> list_contains({stop!r}, x)))"
    )
    return _DPO_ORACLE_TEMPLATE.format(
        cte=_CONV_CTE,
        t1=toks.format(i=1),
        t3=toks.format(i=3),
        s1=stops.format(i=1),
        s3=stops.format(i=3),
    )


@_q12(
    "dpo_pair_assembly",
    _dpo_oracle_sql(),
    "DPO/preference-pair assembly — the post-training stage AFTER SFT: "
    "each conversation's two assistant candidates are scored with a "
    "deterministic fluency prior (stopword fraction, the Gopher-style "
    "prose signal), the higher-scoring one becomes `chosen`, the other "
    "`rejected`, with the score margin every DPO/RM trainer logs and "
    "filters on (near-zero-margin pairs are label noise). Ties choose "
    "the earlier turn — deterministic. Pure per-row codegen over the "
    "conversation synthesis, ZERO shuffles (plan-pinned); the ratio is "
    "an integer-count division (identical doubles both engines) with "
    "a zero-token ANSI guard. At 100 TB: one scan, the render shape",
)
def q_dpo_pair_assembly(spark, sf_dir):
    from victor_spark.functions.text import STOPWORDS, tokens

    c = _conv_df(spark, sf_dir)

    def ratio(col):
        t = tokens(col)
        n = F.size(t)
        s = F.size(F.filter(t, lambda x: x.isin(*[F.lit(w) for w in STOPWORDS])))
        return F.when(n == 0, F.lit(0.0)).otherwise(
            s.cast("double") / n.cast("double")
        )

    r1, r3 = ratio("c1"), ratio("c3")
    first = r1 >= r3
    return c.select(
        "conv_id",
        F.when(first, F.lit(2)).otherwise(F.lit(4))
        .cast("int")
        .alias("chosen_turn"),
        F.round(
            F.when(first, r1 - r3).otherwise(r3 - r1), 6
        ).alias("margin"),
        F.md5(F.when(first, F.col("c1")).otherwise(F.col("c3"))).alias(
            "chosen_md5"
        ),
        F.md5(F.when(first, F.col("c3")).otherwise(F.col("c1"))).alias(
            "rejected_md5"
        ),
    )


# ---------------------------------------------------------------------------
# 5) SFT packing capstone — conversations into fixed training windows,
#    carrying the loss budget
# ---------------------------------------------------------------------------

_SFT_SEQ_LEN = 256
_SFT_BUCKETS = 8

_SFT_PACK_ORACLE = f"""
WITH {_CONV_CTE},
cnt AS (
  SELECT conv_id,
         len({SQL_TOKS.format(s='rendered')}) AS n_toks,
         len({SQL_TOKS.format(s='c1')}) + len({SQL_TOKS.format(s='c3')})
           AS n_asst
  FROM conv
),
h AS (SELECT conv_id, n_toks, n_asst,
             {SQL_H32.format(x="concat('sftpack:', CAST(conv_id AS VARCHAR))")}
               AS hh
      FROM cnt),
w AS (SELECT conv_id, n_toks, n_asst,
             CAST(hh % {_SFT_BUCKETS} AS INTEGER) AS bucket,
             sum(n_toks) OVER (PARTITION BY hh % {_SFT_BUCKETS}
                               ORDER BY hh, conv_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM h)
SELECT CAST(conv_id AS BIGINT) AS conv_id,
       CAST(n_toks AS BIGINT) AS n_toks,
       CAST(n_asst AS BIGINT) AS n_assistant_toks,
       bucket,
       CAST(cum - n_toks AS BIGINT) AS start_off,
       CAST((cum - n_toks) // {_SFT_SEQ_LEN} AS BIGINT) AS pack_id,
       round(CAST(n_asst AS DOUBLE) / n_toks, 6) AS loss_frac
FROM w
"""


@_q12(
    "sft_pack_conversations",
    _SFT_PACK_ORACLE,
    "SFT packing capstone: rendered conversations packed into "
    "seq_len={sl} training windows over {nb} parallel bucket streams "
    "(pack_sequences — salted-hash bucket, per-bucket running-sum "
    "window; NEVER a global unpartitioned cumsum), each carrying its "
    "loss budget: assistant-content tokens and loss_frac, the number "
    "every SFT trainer needs per packed window to size the effective "
    "batch (a pack of pure prompt tokens contributes zero gradient). "
    "Whitespace-token geometry by design — packing is "
    "tokenizer-agnostic and the BPE-encoded twin is "
    "tokenize_pack_pipeline; composing the two is a config change. "
    "loss_frac's denominator is >= the 5-token template skeleton for "
    "every input (template literal, not data — no ANSI guard needed). "
    "Scale shape: one scan, one shuffle by bucket, per-bucket windows; "
    "buckets scale with the cluster".format(
        sl=_SFT_SEQ_LEN, nb=_SFT_BUCKETS
    ),
)
def q_sft_pack_conversations(spark, sf_dir):
    from victor_spark.functions import text as T
    from victor_spark.operators.packing import pack_sequences

    c = _conv_df(spark, sf_dir)
    counted = c.select(
        "conv_id",
        T.token_count("rendered").cast("int").alias("n_toks"),
        (
            T.token_count("c1") + T.token_count("c3")
        ).cast("long").alias("n_asst"),
    )
    packed = pack_sequences(
        counted,
        "conv_id",
        "n_toks",
        seq_len=_SFT_SEQ_LEN,
        n_buckets=_SFT_BUCKETS,
        salt="sftpack",
    )
    return packed.select(
        "conv_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("n_asst").alias("n_assistant_toks"),
        "bucket",
        "start_off",
        "pack_id",
        F.round(
            F.col("n_asst").cast("double") / F.col("n_toks").cast("double"),
            6,
        ).alias("loss_frac"),
    )

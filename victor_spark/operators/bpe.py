"""BPE vocabulary training (Sennrich et al. 2016) — the iterative
counterpart of the catalog's single-iteration ``bpe_pairs`` query.

Industrial shape (what HuggingFace tokenizers / SentencePiece do at
corpus scale, and what holds at 100 TB): the corpus-sized work is ONE
distributed word-count aggregation — explode tokens, map-side partial
counts, one shuffle on the word key. The merge loop then runs over the
collected (word, count) VOCABULARY, which is orders of magnitude smaller
than the corpus (vocabulary grows ~O(corpus^0.5), Heaps' law) and is how
every production BPE trainer operates; each merge is O(vocab), not
O(corpus). A driver loop over the corpus itself would be wrong; a
distributed loop over the vocabulary would pay per-iteration shuffles to
process a few MB.

Determinism: merge choice is (highest pair count, then lexicographically
smallest pair) — no RNG, stable across cluster sizes and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.text import tokens
from victor_spark.functions.vector import sql_operand


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, n) over lowercased whitespace tokens — the one corpus-sized
    aggregation of BPE training."""
    return (
        docs.select(F.explode(tokens(f"lower({sql_operand(text_col)})")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def train_bpe_merges(docs: DataFrame, text_col: str, num_merges: int = 20,
                     max_vocab: int = 1_000_000) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns a DataFrame
    (rank, left, right, merged, pair_count) in merge order.

    ``max_vocab`` bounds the driver collect (top-``max_vocab`` words by
    count — at 100 TB the tail of hapax legomena barely influences early
    merges and real trainers cap the same way).
    """
    wc = word_counts(docs, text_col)
    rows = (
        wc.orderBy(F.desc("n"), F.asc("word")).limit(max_vocab).collect()
    )
    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]), int(r["n"])) for r in rows
    ]
    merges = _train_merges_from_vocab(vocab, num_merges)

    return docs.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


def _train_merges_from_vocab(
    vocab: list[tuple[list[str], int]], num_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The driver-side merge loop of :func:`train_bpe_merges`, over the
    collected (symbols, count) vocabulary. Mutates ``vocab`` in place.

    Incremental pair-count maintenance (round-11 optimization, guide
    §1.2 "per-task work" — here the driver loop): the old loop rebuilt
    the full pair-count dict from every word at every rank (num_merges
    x O(total symbols)); counts and a pair -> word-index occurrence
    map are now built ONCE and updated only for the words a merge
    actually touches. All-integer increments — the counts after each
    merge are exactly what a recount would produce, so the chosen
    merges (and their recorded pair_count) are bit-identical; pinned
    by a differential test against the recount loop."""
    counts: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, n) in enumerate(vocab):
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + n
            occ.setdefault((a, b), set()).add(wi)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        for wi in occ.get((left, right), set()).copy():
            syms, n = vocab[wi]
            for pair in zip(syms, syms[1:]):
                c = counts[pair] - n
                if c:
                    counts[pair] = c
                else:
                    del counts[pair]
                # .get: a pair repeated within ONE word visits this
                # branch once per occurrence, and the first visit may
                # already have emptied and dropped its occurrence set
                s = occ.get(pair)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        del occ[pair]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[wi] = (out, n)
            for pair in zip(out, out[1:]):
                counts[pair] = counts.get(pair, 0) + n
                occ.setdefault(pair, set()).add(wi)

    return merges


def apply_bpe(docs: DataFrame, text_col: str, merges: list[tuple[str, str]],
              out_col: str = "bpe_tokens",
              word_end_marker: str | None = None) -> DataFrame:
    """Segment each doc's words with a learned merge list (applied in rank
    order, same greedy adjacent-pair rule as training) — Arrow-batched
    mapInPandas, the encode path a tokenization pipeline ships.

    ``word_end_marker`` (Sennrich's '</w>' convention) suffixes each
    word's LAST subword, making the flat token array detokenizable —
    without it word boundaries are lost and :func:`decode_bpe` cannot
    exist. Off by default (the marker-free form is what the original
    oracle-checked catalog queries pin); the marker must not occur in
    the text itself — that is the caller's contract, same as every
    sentinel-based tokenizer."""
    import pandas as pd

    merge_list = list(merges)
    _encode_word = _build_word_encoder(merge_list)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in docs.schema.fields)
    schema = f"{fields}, {out_col} array<string>"

    def _encode_marked(word: str) -> list[str]:
        syms = _encode_word(word)
        syms = list(syms)
        syms[-1] = syms[-1] + word_end_marker
        return syms

    enc = _encode_word if word_end_marker is None else _encode_marked

    def _encode(batches):
        # per-task word cache (built HERE so the closure stays picklable:
        # a decorator-level lru_cache cannot ship to workers): corpora are
        # Zipf-distributed, so most words re-encode for free; bounded so a
        # high-cardinality corpus cannot grow worker memory unboundedly
        cache: dict[str, list[str]] = {}

        def enc_cached(w: str) -> list[str]:
            r = cache.get(w)
            if r is None:
                if len(cache) >= (1 << 17):
                    cache.clear()
                r = enc(w)
                cache[w] = r
            return r

        for pdf in batches:
            toks = [
                [s for w in ("" if t is None else str(t)).lower().split(" ")
                 if w for s in enc_cached(w)]
                for t in pdf[text_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(toks, index=pdf.index, dtype=object)
            yield pdf

    return docs.mapInPandas(_encode, schema=schema)


def bpe_token_count(docs: DataFrame, text_col: str,
                    merges: list[tuple[str, str]],
                    out_col: str = "n_bpe") -> DataFrame:
    """Per-row BPE token COUNT — same segmentation as :func:`apply_bpe`
    (identical encoder, identical word cache), but the farm returns one
    long per row instead of the full subword array, and the text column
    itself is consumed inside Python rather than shipped back. For the
    count-consuming queries (fertility audits, packing planners) this
    removes the largest Python→JVM transfer of the pipeline — the token
    arrays are ~2-3x the text bytes and were immediately collapsed to
    size() (round-11 optimization, guide §4.1 "pass only the columns the
    function needs" — in both directions). All non-text columns pass
    through untouched."""
    import pandas as pd

    _encode_word = _build_word_encoder(list(merges))

    keep = [f for f in docs.schema.fields if f.name != text_col]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
    schema = f"{fields}, {out_col} bigint" if fields else f"{out_col} bigint"
    keep_names = [f.name for f in keep]

    def _count(batches):
        cache: dict[str, int] = {}

        def cnt_cached(w: str) -> int:
            r = cache.get(w)
            if r is None:
                if len(cache) >= (1 << 17):
                    cache.clear()
                r = len(_encode_word(w))
                cache[w] = r
            return r

        for pdf in batches:
            counts = [
                sum(
                    cnt_cached(w)
                    for w in ("" if t is None else str(t)).lower().split(" ")
                    if w
                )
                for t in pdf[text_col]
            ]
            out = pdf[keep_names].copy()
            out[out_col] = pd.Series(counts, index=pdf.index, dtype="int64")
            yield out

    return docs.mapInPandas(_count, schema=schema)


def _build_word_encoder(merge_list: list[tuple[str, str]]):
    """Shared encoder builder for :func:`apply_bpe` / :func:`bpe_token_count`.

    Returns the word -> subwords function (scan fallback when the merge
    table is anomalous, rank-priority loop otherwise).

    rank-priority encode (the GPT-2-reference bpe() shape): instead of
    scanning the merge table per word, repeatedly apply the LOWEST-RANK
    pair present among the word's adjacent symbols. Exact equivalence
    with the single-pass rank-order scan (which the catalog's dynamic
    oracles replay) holds because firing merge k only creates pairs
    involving the new symbol l+r, whose merges are trained later — so
    lowest-rank-present IS the rank order restricted to pairs that
    fire. Cost per word: O(fired merges x |word|) dict lookups,
    independent of table size — measured 162x over the substring-prune
    scan at 32k merges on a cache-hostile corpus (SCALING.md r10 row).

    The equivalence has a precise precondition, checked here: no merge
    may RE-CREATE an earlier rank's operand (if fused(m) equals the
    left or right operand of some rank k < m, firing m can re-form the
    rank-k pair — the single pass has already moved past k and leaves
    it unmerged, while the priority loop would merge it), and no pair
    may appear twice. Real trained tables essentially never trip this
    (a trained merge's fused string coinciding with an earlier operand
    requires two distinct merge paths to the same string), but when
    one does, fall back to the legacy scan so the encode is ALWAYS the
    oracle's semantics, never approximately so."""
    rank_of = {pair: k for k, pair in enumerate(merge_list)}
    last_fused_rank: dict[str, int] = {
        left + right: k for k, (left, right) in enumerate(merge_list)
    }
    anomalous = len(rank_of) != len(merge_list) or any(
        last_fused_rank.get(left, -1) > k or last_fused_rank.get(right, -1) > k
        for k, (left, right) in enumerate(merge_list)
    )
    fused_list = [(left, right, left + right) for left, right in merge_list]

    def _encode_word_scan(word: str) -> list[str]:
        # legacy single-pass rank-order scan with the lossless substring
        # prune — the executable spec (kept for the anomaly fallback)
        syms = list(word)
        for left, right, fused in fused_list:
            if fused not in word:
                continue
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def _encode_word_ranked(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_rank, best = None, None
            for pair in zip(syms, syms[1:]):
                k = rank_of.get(pair)
                if k is not None and (best_rank is None or k < best_rank):
                    best_rank, best = k, pair
            if best is None:
                break
            left, right = best
            fused = left + right
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    return _encode_word_scan if anomalous else _encode_word_ranked


def decode_bpe(tokens_col, word_end_marker: str):
    """Detokenize a marker-suffixed BPE token array back to the
    space-joined word sequence — PURE codegen (join, sentinel→space,
    drop the final separator), zero Python: at 100 TB detokenization is
    a projection. Returns a Column; inverse of :func:`apply_bpe` with
    the same ``word_end_marker`` over tokens()-normalized text."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    joined = F.replace(
        F.array_join(c, ""), F.lit(word_end_marker), F.lit(" ")
    )
    return F.when(
        F.size(c) > 0, F.substring(joined, 1, F.length(joined) - 1)
    ).otherwise(F.lit(""))

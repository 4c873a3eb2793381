"""TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): weighted
PageRank over each document's token co-occurrence graph.

The iterative-graph family member of the catalog (dedup's transitive
clustering covers label propagation; this covers PageRank). Every
iteration is one equi-join + one partial-aggregated groupBy, both keyed
on (doc_id, token) — the per-document graphs never leave their shuffle
partitions, so the corpus-wide computation is embarrassingly parallel
over documents at any cluster size. A FIXED iteration count keeps the
whole computation one declarative plan (no driver-side convergence
loop) and makes the result SQL-replayable by unrolling the recurrence.

Graph construction: adjacent-token pairs (window 2), both directions,
edge weight = co-occurrence count; single-token and empty documents
have no graph and produce no keywords. Scores use the standard
per-node damping form PR' = (1-d) + d * sum_u w(u,v)/outdeg_w(u) * PR(u).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions import text as T
from victor_spark.functions.vector import sql_operand


# internal column names the pipeline derives; an id_col colliding with
# any of them produces duplicate columns or AMBIGUOUS_REFERENCE mid-plan
# (review-caught: id_col='token' yielded two token columns at the final
# rename, id_col='w' collided with the edge-weight alias)
_RESERVED = ("token", "u", "v", "w", "ow", "mc", "pr", "s", "t")


def _check_id_col(id_col: str) -> None:
    if id_col in _RESERVED:
        raise ValueError(
            f"id_col {id_col!r} collides with textrank's internal "
            f"columns {_RESERVED}; rename it first"
        )


def cooccurrence_edges(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Weighted undirected adjacency edges: (id, u, v, w) both directions."""
    _check_id_col(id_col)
    d = docs.select(
        F.col(id_col), T.tokens(f"lower({sql_operand(text_col)})").alias("t")
    )
    pairs = F.when(
        F.size("t") >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.array(
                    F.struct(
                        F.element_at(F.col("t"), i).alias("u"),
                        F.element_at(F.col("t"), i + 1).alias("v"),
                    ),
                    F.struct(
                        F.element_at(F.col("t"), i + 1).alias("u"),
                        F.element_at(F.col("t"), i).alias("v"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    return (
        d.select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, "p.u", "p.v")
        .groupBy(id_col, "u", "v")
        .agg(F.count("*").alias("w"))
    )


def textrank_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Per-(doc, token) TextRank score after ``iters`` PageRank rounds.

    Returns (id, token, pr). All joins/groupBys key on (id, token):
    co-partitioned throughout, no per-document driver work.
    """
    # EVERY join below carries a merge (sort-merge) hint — the safe
    # DIRECTION of hinting: it BLOCKS broadcast, never forces one. The
    # rank/out-weight/contribution tables are node-sized, i.e.
    # corpus-sized for per-doc graphs ((doc, token) pairs), and AQE's
    # runtime broadcast demotion judges them by COMPRESSED shuffle
    # bytes: a rank table of repeated tokens and constant first-round
    # 1.0 scores compresses far below the 64 MB session threshold while
    # its deserialized HashedRelation runs to GiBs. The 64x scale probe
    # (round 11, SCALING.md) caught exactly that: two concurrent
    # AQE-demoted broadcasts of the iteration tables OOMed the driver.
    # Since the whole pipeline keys on (id, token), SMJ here rides the
    # existing co-partitioning — broadcast bought nothing but the
    # toy-scale case anyway.
    w = cooccurrence_edges(docs, id_col, text_col)
    ow = w.groupBy(id_col, "u").agg(F.sum("w").alias("ow"))
    m = w.join(ow.hint("merge"), [id_col, "u"]).select(
        id_col, "u", "v", (F.col("w").cast("double") / F.col("ow")).alias("mc")
    )
    nodes = w.select(id_col, "u").distinct()
    if iters > 1:
        # the edge matrix and node set are loop INVARIANTS referenced by
        # every round; without lineage truncation Spark re-derives them
        # (scan -> tokenize -> explode -> aggregate) once per reference —
        # ~20 parquet scans for 3 rounds. localCheckpoint materializes
        # each once (the standard persist-the-graph move of iterative
        # Spark jobs; same precedent as dedup's cluster propagation).
        m = m.localCheckpoint(eager=False)
        nodes = nodes.localCheckpoint(eager=False)
    pr = nodes.select(id_col, "u", F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contrib = (
            m.join(pr.hint("merge"), [id_col, "u"])
            .groupBy(id_col, "v")
            .agg(F.sum(F.col("mc") * F.col("pr")).alias("s"))
            .withColumnRenamed("v", "u")
        )
        pr = nodes.join(contrib.hint("merge"), [id_col, "u"], "left").select(
            id_col,
            "u",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr.withColumnRenamed("u", "token")


def textrank_keywords(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 3,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Top-k keywords per document: (id, keyword, score, rank).

    Physical shape: ONE Arrow farm (mapInPandas), zero exchanges. A
    document's co-occurrence graph never spans rows, so the whole
    PageRank is row-local — the distributed joins the previous
    implementation ran per iteration (edges ⋈ ranks, 2 shuffles × 3
    rounds, all keyed (doc, token)) moved only *intra-document* data
    between partitions. The farm batches documents through numpy:
    edge weighting is one ``np.unique`` over integer-coded (doc, u, v)
    keys, each PageRank round is one ``np.bincount`` matvec over the
    batch's block-diagonal adjacency, and the per-doc top-k is a single
    lexsort. Per-doc cost stays O(E log E); cross-doc cost is zero, so
    the operator is embarrassingly parallel over documents at any
    corpus size — strictly better at 100 TB than the join form, whose
    per-iteration shuffles (and their AQE broadcast-demotion OOM
    hazard, see the round-11 64x probe) this removes outright.

    Rows are treated as independent documents: ids are NOT merged
    across rows (the declared catalog input keys documents uniquely;
    feed ``textrank_scores`` if you need multi-row graph merging).

    Scores and the ranking both use the STABILIZED value
    ``round(pr + 1e-9, 6)``. TextRank scores on small-integer-degree
    graphs are rationals whose decimal expansions often TERMINATE
    exactly on a rounding boundary (e.g. 1.3708125), where the last-ulp
    float noise of summation order decides the rounding — across runs,
    partitionings, batchings, and engines. The 1e-9 shift (identical
    literal in the SQL oracle) moves every terminating value safely
    past its boundary: noise is ~1e-15, margin 1e-9. Ranking on the
    stabilized score (tie → token asc) keeps rank assignment
    deterministic even when two symmetric nodes' raw sums differ by
    one ulp. Rounding is explicit HALF_UP (floor(x*1e6 + 0.5), exact
    for the positive scores here) so the farm matches Spark/DuckDB
    ``round`` rather than numpy's half-to-even."""
    _check_id_col(id_col)
    id_type = docs.schema[id_col].dataType.simpleString()
    d = docs.select(
        F.col(id_col), T.tokens(f"lower({sql_operand(text_col)})").alias("t")
    )

    def farm(batches):
        import numpy as np
        import pandas as pd

        empty = {
            id_col: [], "keyword": pd.Series([], dtype=object),
            "score": pd.Series([], dtype=np.float64),
            "rank": pd.Series([], dtype=np.int32),
        }
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            kept = [(i, t) for i, t in enumerate(pdf["t"]) if len(t) >= 2]
            if not kept:
                yield pd.DataFrame(empty)
                continue
            lens = np.array([len(t) for _, t in kept], dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for _, t in kept]
            )
            # token positions of each adjacent forward pair's first member
            u_pos = np.concatenate(
                [off + np.arange(n - 1) for off, n in zip(offs, lens)]
            )
            doc_of_pair = np.repeat(
                np.array([i for i, _ in kept], dtype=np.int64), lens - 1
            )
            # integer-code the batch's tokens once; codes index `uniques`
            codes, uniques = pd.factorize(flat, sort=False)
            codes = codes.astype(np.int64)
            nt = np.int64(len(uniques))
            uf, vf = codes[u_pos], codes[u_pos + 1]
            # undirected edges, both directions, as (doc, u, v) int keys
            ucode = np.concatenate([uf, vf])
            vcode = np.concatenate([vf, uf])
            edoc = np.concatenate([doc_of_pair, doc_of_pair])
            ekey = (edoc * nt + ucode) * nt + vcode
            uniq, w = np.unique(ekey, return_counts=True)
            e_unode = uniq // nt                      # doc*nt + ucode
            e_vnode = (e_unode // nt) * nt + uniq % nt
            nodes, inv = np.unique(
                np.concatenate([e_unode, e_vnode]), return_inverse=True
            )
            u_idx = inv[: len(e_unode)]
            v_idx = inv[len(e_unode):]
            V = len(nodes)
            w = w.astype(np.float64)
            ow = np.bincount(u_idx, weights=w, minlength=V)
            mc = w / ow[u_idx]
            pr = np.ones(V)
            for _ in range(iters):
                pr = (1.0 - damping) + damping * np.bincount(
                    v_idx, weights=mc * pr[u_idx], minlength=V
                )
            # HALF_UP round of the stabilized score (scores are positive)
            score = np.floor((pr + 1e-9) * 1e6 + 0.5) / 1e6
            node_doc = nodes // nt
            node_tok = np.asarray(uniques, dtype=object)[nodes % nt]
            # per-doc dense rank: sort by (doc, score desc, token asc) —
            # numpy '<U' comparison is code-point order == UTF-8 byte
            # order, matching Spark/DuckDB string collation
            order = np.lexsort((node_tok.astype(str), -score, node_doc))
            sd = node_doc[order]
            boundary = np.concatenate(([True], sd[1:] != sd[:-1]))
            grp_start = np.maximum.accumulate(
                np.where(boundary, np.arange(V), 0)
            )
            rank = (np.arange(V) - grp_start + 1).astype(np.int32)
            sel = rank <= top_k
            pick = order[sel]
            yield pd.DataFrame(
                {
                    id_col: ids[node_doc[pick]],
                    "keyword": node_tok[pick],
                    "score": score[pick],
                    "rank": rank[sel],
                }
            )

    return d.mapInPandas(
        farm,
        schema=f"{id_col} {id_type}, keyword string, score double, rank int",
    )

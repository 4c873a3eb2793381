"""Seeded input generators.

Every input the benchmark feeds the program comes from here and depends
only on the ``--seed`` argument: the same seed gives byte-identical inputs,
a different seed gives different ones. Nothing is read from outside the
checkout; the catalog tables for the pipeline workload are synthesized
with the same schemas as the repository's TPC-H-style testdata.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np

# -- VectorIndex corpora -----------------------------------------------------

SERVE_TAGS = [f"t{i}" for i in range(8)]
# 16 tag-sets over 8 tags: every tag alone and every ring-neighbour pair, so
# a one-tag filter admits exactly three tag-sets
SERVE_TAG_SETS = [[t] for t in SERVE_TAGS] + [
    sorted([SERVE_TAGS[i], SERVE_TAGS[(i + 1) % 8]]) for i in range(8)
]


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      n_clusters: int) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, dim], cluster label per row)."""
    centers = rng.standard_normal((n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centers[labels] + 0.6 * rng.standard_normal((n, dim))
    return vecs.astype(np.float32), labels


def serve_corpus(seed: int, n: int, dim: int, n_queries: int = 4096) -> dict:
    """The serve workload's corpus: ``n`` clustered vectors spread over the
    16 tag-sets with Zipf-skewed popularity, plus its queries.

    The layout is the same for every seed (tag-set sizes follow fixed Zipf
    shares, and the one-tag filters cycle through the 8 tags in order), so
    seeds change the vectors, their placement and the query vectors, not
    the selectivity of the work."""
    rng = np.random.default_rng([seed, 1])
    vecs, _ = clustered_vectors(rng, n, dim, 32)
    share = 1.0 / np.arange(1, len(SERVE_TAG_SETS) + 1) ** 1.1
    sizes = np.floor(share / share.sum() * n).astype(int)
    sizes[0] += n - sizes.sum()
    set_of_row = rng.permutation(np.repeat(np.arange(len(sizes)), sizes))
    # queries: perturbed corpus rows, so every query has close neighbours
    q_rows = rng.choice(n, size=n_queries)
    queries = vecs[q_rows] + 0.1 * rng.standard_normal((n_queries, dim)).astype(np.float32)
    return {
        "content": [f"s{i}" for i in range(n)],
        "vectors": vecs,
        "tags": [SERVE_TAG_SETS[s] for s in set_of_row],
        "queries": queries,
        "query_tags": [SERVE_TAGS[i % len(SERVE_TAGS)] for i in range(n_queries)],
    }


def churn_base(seed: int, n: int, dim: int) -> dict:
    """The churn workload's starting corpus: ``n`` vectors in 10 labels,
    tagged ``lbl_<label>``."""
    rng = np.random.default_rng([seed, 2])
    vecs, labels = clustered_vectors(rng, n, dim, 10)
    return {
        "content": [f"b{i}" for i in range(n)],
        "vectors": vecs,
        "tags": [[f"lbl_{lab}"] for lab in labels],
    }


def churn_cycle(seed: int, cycle: int, n_inserts: int, batch: int,
                dim: int) -> dict:
    """One churn cycle's inserts: ``n_inserts`` batches of ``batch`` rows.
    Batch b is tagged ``[cyc, lbl_<b % 2>]``, so the first two batches open
    new tag-sets, later ones append to them, and ``delete(['cyc'])`` drops
    them all. One search query per insert. Victims for ``delete_ids`` are
    chosen by content: every 20th row of the cycle."""
    rng = np.random.default_rng([seed, 3, cycle])
    n = n_inserts * batch
    vecs, _ = clustered_vectors(rng, n, dim, 10)
    content = [f"c{cycle}_{j}" for j in range(n)]
    tags = [["cyc", f"lbl_{(j // batch) % 2}"] for j in range(n)]
    return {
        "batches": [
            [(content[j], vecs[j], tags[j]) for j in range(b * batch, (b + 1) * batch)]
            for b in range(n_inserts)
        ],
        "queries": rng.standard_normal((n_inserts, dim)).astype(np.float32),
        "victims": [content[j] for j in range(n) if j % 20 == 7],
        "vectors": dict(zip(content, vecs)),
    }


# -- catalog tables ----------------------------------------------------------

# row counts at scale factor 1; the pipeline runs at a fraction of this
TABLE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 50_000,
}

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EPOCH = _dt.datetime(1970, 1, 1)


def _days(d: _dt.datetime) -> int:
    return (d - _EPOCH).days


def catalog_tables(seed: int, sf: float) -> dict:
    """Synthetic TPC-H-style tables (plus events, documents, embeddings)
    with the testdata's column names, types and value domains, as pyarrow
    tables keyed by name."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    n = {t: max(1, int(r * sf)) for t, r in TABLE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ).tolist(),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = np.array(["small", "large", "red", "blue", "hot", "cold"])
    noun = np.array(["ring", "bolt", "gear", "widget", "gizmo", "nut"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                              rng.choice(noun, npart)).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    d0, d1 = _days(_dt.datetime(1995, 1, 1)), _days(_dt.datetime(2001, 8, 1))
    odays = rng.integers(d0, d1 + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(odays.astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ).tolist(),
    })
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        # skewed part popularity, so a few parts carry a large value share
        "l_partkey": pa.array((npart * rng.random(nl) ** 3).astype(np.int64), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(
            (odays[lorder] + rng.integers(1, 122, nl))
            .astype("datetime64[D]").astype("datetime64[us]")
        ),
    })
    ne = n["events"]
    start_us = _days(_dt.datetime(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(2, ne // 67), ne), pa.int64()),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], ne
        ).tolist(),
        "value": money(0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    words = np.array([w for w in _WORDS if w != "dup"])
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], nd).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs, labels = clustered_vectors(rng, nv, 64, 10)
    vecs = vecs / (np.linalg.norm(vecs, axis=1, keepdims=True) * 1.2)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels % 10, pa.int32()),
    })
    return out


def write_catalog(seed: int, sf: float, out_dir: str) -> str:
    """Write :func:`catalog_tables` as ``<out_dir>/<table>.parquet`` files
    (the layout ``victor_spark.sources.load_table`` reads); returns out_dir."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

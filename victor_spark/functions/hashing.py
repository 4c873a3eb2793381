"""Deterministic hashing primitives shared by the dedup/ANN operators.

Design constraint: every hash here must be computable *identically* in
ANSI-ish SQL (the DuckDB oracle) and in Spark Column expressions, so the
driver's value-hash correctness gate can verify the approximate operators
(MinHash, SimHash, LSH) exactly, not just statistically. We therefore build
everything on md5 (identical in both engines) rather than engine-native
hashes (xxhash64 vs duckdb hash, which differ).

The signature/fingerprint kernels (minhash_signature, band_keys,
simhash32, hyperplane_bucket) are one SQL template each over a name or
SQL-expression operand (``vector.sql_operand``): a Column-builder form
costs one py4j round trip per expression node — hundreds to thousands
per kernel.

Base hash: h32(s) = first 8 hex chars of md5(s) as an integer in [0, 2^32).
Derived families: hⱼ(x) = (aⱼ·x + bⱼ) mod p with p = 2^31−1 and odd
constants aⱼ,bⱼ < p derived from j — the classic Carter-Wegman linear
congruential family used by MinHash implementations (e.g. Spark's own
pyspark.ml.feature.MinHashLSH uses the same construction). Products stay
below 2^62, so 64-bit integer arithmetic never overflows in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from victor_spark.functions.vector import (
    _col,
    _dlit_sql,
    bind,
    ColumnOrName,
    sql_operand,
)

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def hash_params(num: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the linear-congruential hash family.

    Pure integer recurrence (no RNG) so the DuckDB oracle can state the same
    constants literally.
    """
    params = []
    state = seed
    for _ in range(num):
        state = (state * 1_103_515_245 + 12_345) % MERSENNE31
        a = state | 1  # odd, nonzero
        state = (state * 1_103_515_245 + 12_345) % MERSENNE31
        b = state
        params.append((a, b))
    return params


def md5_32(s: ColumnOrName) -> Column:
    """First 32 bits of md5(s) as a bigint in [0, 2^32).

    Oracle equivalent: CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(_col(s)), 1, 8), 16, 10).cast("long")


def char_shingles(s: ColumnOrName, n: int = 3) -> Column:
    """Distinct character n-grams of a string, as array<string>.

    Built with sequence+transform (no UDF). Shorter-than-n strings yield a
    single shingle = the whole string.
    """
    return bind(
        s,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
                lambda i: t.substr(i, F.lit(n)),
            )
        ),
    )


def word_shingles(s: str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of a string, as array<string>.

    Word shingles discriminate much better than character shingles on
    shared-vocabulary corpora; this is the unit MinHash dedup uses by
    default. Docs shorter than n tokens yield one shingle = the space-
    normalized text.
    """
    from victor_spark.functions.text import tokens

    def _grams(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )
        return F.array_distinct(
            F.when(F.size(t) >= n, grams).otherwise(F.array(F.array_join(t, " ")))
        )

    return bind(tokens(s), _grams)


def shingle_hashes(s: ColumnOrName, n: int = 3, unit: str = "char") -> Column:
    """Distinct 32-bit hashes of the n-grams (char or word) of s; word
    n-grams tokenize through :func:`text.tokens`, so ``s`` is then a
    name or SQL expression."""
    grams = char_shingles(s, n) if unit == "char" else word_shingles(s, n)
    return F.array_distinct(F.transform(grams, md5_32))


def _minhash_signature_sql(ref: str, num_hashes: int, seed: int) -> str:
    elems = ",".join(
        "coalesce(array_min(transform(_mh, _mx -> "
        f"(_mx * {a} + {b}) % {MERSENNE31})), {MERSENNE31})"
        for a, b in hash_params(num_hashes, seed)
    )
    return f"get(transform(array({ref}), _mh -> array({elems})), 0)"


def minhash_signature(hashes: str, num_hashes: int = 16, seed: int = 42) -> Column:
    """MinHash signature: for each hⱼ, min over the element hashes.

    array<bigint> of length num_hashes. Empty input → signature of p (the
    hash family's max), keeping the column total.
    """
    return F.expr(_minhash_signature_sql(sql_operand(hashes), num_hashes, seed))


def _band_keys_sql(ref: str, bands: int, rows_per_band: int) -> str:
    keys = ",".join(
        "concat_ws('_', '{j}', {parts})".format(
            j=j,
            parts=",".join(
                f"CAST({ref}[{j * rows_per_band + r}] AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for j in range(bands)
    )
    return f"array({keys})"


def band_keys(sig: str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: split the signature into `bands` bands of `rows_per_band`
    and key each band by its joined values. array<string> of length bands;
    element j = 'j:v1_v2_...'. Docs sharing any band key are candidates.
    """
    return F.expr(_band_keys_sql(sql_operand(sig), bands, rows_per_band))


def _simhash32_sql(ref: str) -> str:
    bits = " + ".join(
        "CASE WHEN (size(filter(_sh, _sx -> (_sx & {m}) != 0)) * 2) > "
        "size(_sh) THEN CAST({m} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        .format(m=1 << i)
        for i in range(32)
    )
    return f"get(transform(array({ref}), _sh -> CAST(0 AS BIGINT) + {bits}), 0)"


def simhash32(token_hashes: str) -> Column:
    """32-bit SimHash over a bag of token hashes (Charikar 2002).

    bit i of the fingerprint = 1 iff (count of tokens with bit i set) >
    n_tokens/2. Strict majority in both engines. Returns bigint.
    """
    return F.expr(_simhash32_sql(sql_operand(token_hashes)))


def jaccard(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Set Jaccard similarity of two array columns:
    |a ∩ b| / (|a| + |b| − |a ∩ b|). One expression shared by every
    dedup verifier (word-n-gram join, MinHash/LSH verify, incremental
    batch-vs-corpus) so a future guard lands in ONE place and the
    operators cannot drift from each other or the oracle (review-caught:
    the identical block was pasted four times in operators/dedup.py)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb))
    return inter.cast("double") / (F.size(ca) + F.size(cb) - inter)


def hamming32(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Hamming distance between two 32-bit fingerprints stored as bigint.

    ``bit_count(a XOR b)`` — the same builtin popcount on both engines."""
    return F.bit_count(_col(a).bitwiseXOR(_col(b)))


def _hyperplane_bucket_sql(ref: str, num_planes: int) -> str:
    """bit j = sign(v · plane_j) with plane_j[i] = sin(j·12.9898 +
    i·78.233) — the classic shader-noise formula truncated to its sin()
    core, so Spark and the SQL oracle (both IEEE-754 double sin) produce
    bitwise-identical planes without shipping a matrix literal."""
    planes = " + ".join(
        "CASE WHEN aggregate(zip_with(_hv, transform(sequence(0, "
        "size(_hv) - 1), _hi -> sin({off} + CAST(_hi AS DOUBLE) * "
        "78.233D)), (_hx, _hp) -> _hx * _hp), 0.0D, "
        "(_ha, _hx) -> _ha + _hx) > 0.0D THEN CAST({m} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END".format(
            off=_dlit_sql(float(j) * 12.9898), m=1 << j
        )
        for j in range(num_planes)
    )
    return f"get(transform(array({ref}), _hv -> CAST(0 AS BIGINT) + {planes}), 0)"


def hyperplane_bucket(v: str, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id of a vector: bit j = sign(v·plane_j).

    Cosine-similar vectors land in the same bucket with probability
    1 − θ/π per plane (Charikar 2002) — the bucket is a coarse partition key
    for ANN; at 100 TB the bucket column is what the join shuffles on
    instead of the O(n²) cross product.
    """
    return F.expr(_hyperplane_bucket_sql(sql_operand(v), num_planes))

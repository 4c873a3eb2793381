"""Vector kernels as native Spark SQL expressions.

Parity with the reference's similarity kernels (cosine
/root/reference/src/similarity.rs:1-24, euclidean :26-43) and its 8-bit
scalar quantizer (/root/reference/src/packed_vector.rs:11-35), re-expressed
as Spark SQL higher-order expressions so every kernel runs
JVM-side — no Python in the hot path, which is what keeps a 100 TB scan
compute-bound rather than serialization-bound. Higher-order functions
(``transform``, ``zip_with``, ``aggregate``) run interpreted, outside
whole-stage codegen, so each fold a template spells out costs per row:
the templates bind shared values once rather than repeat them.

All arithmetic is done in double precision (the reference uses f32; we cast
up so results are stable and match the DuckDB oracle bit-for-bit in the
common case).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def sql_operand(x: str) -> str:
    """SQL source for one kernel operand.

    Every kernel below is ONE parsed SQL template (one ``F.expr`` call —
    a handful of py4j round trips, where the equivalent Column-builder
    tree costs one per expression node, hundreds per kernel). Operands
    are therefore SQL, never Columns: a plain identifier such as ``v``
    renders as a backticked column name; any other string is a SQL
    expression (``lower(text)``, ``l.vec``, a literal) and renders
    parenthesized so it binds as one operand wherever the template
    places it."""
    if not isinstance(x, str):
        raise TypeError(
            f"kernel operands are SQL, not {type(x).__name__}: pass a "
            "column name ('v') or a SQL expression ('lower(text)') "
            "instead of a Column"
        )
    return f"`{x}`" if x.isidentifier() else f"({x})"


def bind(col: ColumnOrName, fn) -> Column:
    """Evaluate ``col`` once per row and hand it to ``fn`` as a lambda
    variable, returning ``fn``'s result.

    Column expressions compose by TREE EMBEDDING: ``F.size(t) + F.size(t)``
    duplicates t's whole subtree, and inside higher-order-function lambdas
    each duplicate is re-evaluated per ELEMENT (HOF lambdas run interpreted,
    outside codegen) — which turns token/shingle pipelines O(n²) in the
    document length (measured 40× on the word-8-gram explode at sf0.1).
    Wrapping the value in a one-element array and projecting through
    ``transform`` binds it to a NamedLambdaVariable: every reference inside
    ``fn`` is then an O(1) slot read and the subtree runs exactly once per
    row, in every context the expression lands in (including optimizer-
    inferred copies such as explode's non-empty pre-filter). The SQL
    templates below spell the same idiom ``get(transform(array(x),
    _v -> ...), 0)``.
    """
    return F.get(F.transform(F.array(_col(col)), fn), 0)


def to_double_array(v: ColumnOrName) -> Column:
    """Cast array<float> → array<double> for stable arithmetic."""
    return _col(v).cast("array<double>")


def _dlit_sql(x: float) -> str:
    """SQL source for one double literal. ``repr`` emits the shortest
    string that round-trips the double exactly, and the parser's
    Double.parseDouble is correctly rounded, so the parsed literal is
    bit-identical to ``F.lit(x)`` (probe-verified over subnormals, max
    double, -0.0 and 200 random bit patterns)."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def lit_doubles_sql(vals) -> str:
    """SQL source of an array<double> literal (see :func:`lit_doubles`)."""
    if len(vals) == 0:  # len(), not truthiness: numpy arrays reject bool()
        return "CAST(array() AS array<double>)"
    return "array(" + ",".join(_dlit_sql(float(x)) for x in vals) + ")"


def lit_doubles(vals) -> Column:
    """array<double> literal built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in vals])`` costs one py4j round trip per
    element — ~26 ms per 64-d vector, which made the literal-heavy ANN
    plans (codebooks, LUTs, centroid arrays) spend SECONDS of driver time
    in plan construction before any job ran (guide §7.3: planning time as
    the bottleneck). One ``F.expr`` call parses the same CreateArray-of-
    Literals tree in the JVM ~9× faster; resolved trees and values are
    identical."""
    return F.expr(lit_doubles_sql(vals))


def lit_doubles_2d_sql(rows) -> str:
    """SQL source of an array<array<double>> literal (see
    :func:`lit_doubles_2d`)."""
    if len(rows) == 0:  # len(), not truthiness: numpy arrays reject bool()
        return "CAST(array() AS array<array<double>>)"
    return "array(" + ",".join(lit_doubles_sql(r) for r in rows) + ")"


def lit_doubles_2d(rows) -> Column:
    """array<array<double>> literal via one parsed SQL expression (see
    :func:`lit_doubles`) — the nested-LUT / pre-sliced-codebook shape."""
    return F.expr(lit_doubles_2d_sql(rows))


# ---------------------------------------------------------------------------
# Driver-side twins of dot, norm and cosine
# ---------------------------------------------------------------------------
#
# For model-sized vectors the driver already holds (centroids, queries).
# Each is the kernel's own left-to-right fold from 0.0 and IEEE sqrt —
# ``math.sqrt``, not ``** 0.5``, which is off by an ulp for some inputs —
# so a value computed here is bit-identical to the JVM's and can stand in
# for it as a literal.


def py_dot(a, b) -> float:
    """Σ aᵢ·bᵢ, bit-identical to :func:`dot`."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def py_norm(a) -> float:
    """√Σ aᵢ², bit-identical to :func:`norm`."""
    return math.sqrt(py_dot(a, a))


def py_cosine(a, b) -> float:
    """Cosine, bit-identical to :func:`cosine`: a zero norm scores NaN."""
    d = py_norm(a) * py_norm(b)
    return math.nan if d == 0.0 else py_dot(a, b) / d


# ---------------------------------------------------------------------------
# Similarity kernels: one SQL template each, over pre-rendered operand SQL
# ---------------------------------------------------------------------------
#
# Every template lambda variable starts with an underscore (``_vx``,
# ``_vy``, ``_vacc``, ``_la``, ``_ln``, ``_lx``, ``_cd``) and these names are
# reserved: an operand must not be named like one. Operands mostly sit in
# argument positions outside the lambda bodies, but the cosine template
# reads both vectors inside its ``_cd`` lambda, where an operand of that
# name would be captured by the template's own variable.

_NAN = "CAST('NaN' AS DOUBLE)"


def _dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ as a sequential left-to-right fold (zip_with + aggregate) —
    the oracle's evaluation order. A length mismatch pads with null,
    which poisons the fold to null."""
    return (
        f"aggregate(zip_with({a}, {b}, (_vx, _vy) -> _vx * _vy), "
        f"0.0D, (_vacc, _vx) -> _vacc + _vx)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _l2_normalize_sql(a: str) -> str:
    """The array and its norm each bind to a lambda variable, so the
    norm's fold runs once per ROW; a zero norm yields NaN components."""
    return (
        f"get(transform(array({a}), _la -> "
        f"get(transform(array({_norm_sql('_la')}), _ln -> "
        f"transform(_la, _lx -> CASE WHEN _ln = 0.0D THEN {_NAN} "
        f"ELSE _lx / _ln END)), 0)), 0)"
    )


def _cosine_normed_sql(a: str, b: str, na: str, nb: str) -> str:
    """dot(a, b)/(na·nb) given the operands' norms ``na`` and ``nb``; a
    zero product scores NaN — under Spark 4's ANSI mode the bare 0/0
    would be a DIVIDE_BY_ZERO job failure.

    The product binds once to ``_cd`` (the :func:`bind` idiom): Spark's
    subexpression elimination skips expressions that hold lambda
    functions, so a product spelled in both the test and the division
    would fold each norm twice per row. Binding also keeps a literal norm
    inside a higher-order function, which runs interpreted, so a query's
    values never reach generated source and one compiled class serves
    every query."""
    return (
        f"get(transform(array({na} * {nb}), _cd -> "
        f"CASE WHEN _cd = 0.0D THEN {_NAN} "
        f"ELSE {_dot_sql(a, b)} / _cd END), 0)"
    )


def _cosine_sql(a: str, b: str) -> str:
    return _cosine_normed_sql(a, b, _norm_sql(a), _norm_sql(b))


def _cosine_to_literal_sql(v: str, q: list[float]) -> str:
    """The query's norm folds to a driver-side constant (:func:`py_norm`),
    so the per-row work is one dot plus one norm fold."""
    return _cosine_normed_sql(
        v, lit_doubles_sql(q), _norm_sql(v), _dlit_sql(py_norm(q))
    )


def _euclid_sql(a: str, b: str) -> str:
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, (_vx, _vy) -> "
        f"(_vx - _vy) * (_vx - _vy)), 0.0D, (_vacc, _vx) -> _vacc + _vx))"
    )


def dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ (reference similarity.rs:10-13)."""
    return F.expr(_dot_sql(sql_operand(a), sql_operand(b)))


def norm(a: str) -> Column:
    """L2 norm √Σ aᵢ² (reference similarity.rs:15-17 via dot(a,a))."""
    return F.expr(_norm_sql(sql_operand(a)))


def l2_normalize(a: str) -> Column:
    """v / ‖v‖ in one pass — pre-normalizing a corpus turns every
    downstream pairwise cosine into a single dot. Zero-norm inputs yield
    NaN components, the same contract as ``cosine``."""
    return F.expr(_l2_normalize_sql(sql_operand(a)))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity dot/(‖a‖‖b‖) (reference similarity.rs:5-24).

    The reference errors on length mismatch (similarity.rs:7-9); here the
    mismatch scores null — callers that want strict behavior use
    `check_uniform_dim` at ingest instead.

    Zero-norm inputs score NaN, matching the reference's IEEE f32 division
    (similarity.rs:10-22) — under Spark 4's default ANSI mode the bare 0/0
    would instead be a hard DIVIDE_BY_ZERO job failure (hypothesis-caught:
    a subnormal-only vector's norm underflows to exactly 0.0). The caller's
    NaN policy (VectorIndex.search strict/drop) then decides.
    """
    return F.expr(_cosine_sql(sql_operand(a), sql_operand(b)))


def cosine_normed(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of ``a`` and ``b`` given their norms ``na`` and ``nb`` —
    for callers that fold a norm once per row and reuse it across many
    pairs (``search_batch``: one row norm for all of a batch's queries);
    bit-identical to :func:`cosine` when the norms are :func:`norm`'s."""
    return F.expr(_cosine_normed_sql(
        sql_operand(a), sql_operand(b), sql_operand(na), sql_operand(nb)
    ))


def cosine_to_literal(v: str, q: list[float]) -> Column:
    """Cosine of each row against one fixed query vector — the kernel of
    the search hot path (reference db.rs:250 scoring loop); the query
    embeds as a bit-exact literal and zero norms score NaN."""
    return F.expr(_cosine_to_literal_sql(sql_operand(v), q))


def euclidean(a: str, b: str) -> Column:
    """Euclidean distance √Σ(aᵢ−bᵢ)² (reference similarity.rs:26-43).

    Used by projected-mode search — where, unlike the reference's
    farthest-k bug (SURVEY.md §2.3), our callers order ASCENDING.
    """
    return F.expr(_euclid_sql(sql_operand(a), sql_operand(b)))


def euclidean_to_literal(v: str, q: list[float]) -> Column:
    """Euclidean distance of each row to one fixed query vector."""
    return F.expr(_euclid_sql(sql_operand(v), lit_doubles_sql(q)))


# ---------------------------------------------------------------------------
# 8-bit scalar quantization (reference packed_vector.rs:11-35)
# ---------------------------------------------------------------------------
#
# pack:   bin = round((x - min) / (max - min) * 255) clamped to [0, 255]
# unpack: x' = min + bin/255 * (max - min)
#
# The reference divides by zero when min == max (constant vector); we guard
# that case (FIXTURES.md §2 "quant edge") by defining the span as 1 when it
# is 0, which makes constant vectors round-trip exactly (bin = 0 → x' = min).
#
# The stored layout is struct(qmin float, qmax float, quant array<tinyint>)
# with each bin shifted by -128 into Spark's signed tinyint, so parquet
# keeps a true 1-byte column: the reference's exact u8/dim + 2×f32 layout
# (packed_vector.rs:3-9). quantize is the only writer of that layout and
# dequantize its only reader. Every literal is a double (``255.0D``): a
# bare ``255.0`` parses as a decimal and would change the result bits.
# The lambda variables ``_qv``, ``_qlo``, ``_qhi``, ``_qs``, ``_qx`` and
# ``_qb`` are reserved like the similarity kernels' (dequantize reads its
# range operands inside its lambda).


def _quantize_sql(v: str) -> str:
    """The vector, its min and max, and its span each bind once per row
    (the :func:`bind` idiom); the per-element body reads only lambda
    variables, so a row packs in one pass over its elements."""
    return (
        f"get(transform(array({v}), _qv -> "
        f"get(transform(array(array_min(_qv)), _qlo -> "
        f"get(transform(array(array_max(_qv)), _qhi -> "
        f"get(transform(array(CASE WHEN _qhi - _qlo = 0.0D THEN 1.0D "
        f"ELSE _qhi - _qlo END), _qs -> "
        f"named_struct('qmin', CAST(_qlo AS float), "
        f"'qmax', CAST(_qhi AS float), "
        f"'quant', transform(_qv, _qx -> CAST(least(255.0D, greatest(0.0D, "
        f"round((_qx - _qlo) / _qs * 255.0D))) - 128.0D AS tinyint)))"
        f"), 0)), 0)), 0)), 0)"
    )


def _dequantize_sql(quant: str, qmin: str, qmax: str) -> str:
    return (
        f"transform({quant}, _qb -> CAST({qmin} AS double) + "
        f"CAST(_qb + 128 AS double) / 255.0D * "
        f"(CAST({qmax} AS double) - CAST({qmin} AS double)))"
    )


def quantize(v: str) -> Column:
    """Pack a vector into the stored layout struct(qmin float, qmax float,
    quant array<tinyint>).

    Storage cost per vector = d bytes + 8 bytes of range, matching the
    reference's 1.01 B/dim + overhead layout (packed_vector.rs:3-9,
    README.md:9-10) before parquet's own encoding shrinks it further.
    """
    return F.expr(_quantize_sql(sql_operand(v)))


def dequantize(quant: str, qmin: str, qmax: str) -> Column:
    """Inverse map of :func:`quantize`'s layout, bin → double (reference
    packed_vector.rs:27-35), in one ``transform``.

    No zero-span guard here — nothing divides by the span, and when the
    stored (float32) range collapses to zero the correct inverse of every
    bin IS qmin. Substituting a fake span would instead invent values up
    to qmin+1 whenever a sub-float32 double range underflows to zero at
    store time (caught by hypothesis in test_property.py).
    """
    return F.expr(_dequantize_sql(
        sql_operand(quant), sql_operand(qmin), sql_operand(qmax)
    ))


def dim(v: ColumnOrName) -> Column:
    """Vector dimension."""
    return F.size(_col(v))

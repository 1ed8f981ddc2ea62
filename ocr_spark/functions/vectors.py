"""Native vector math over ``array<float>`` columns — all JVM-side.

Replaces the reference's pgvector operators (``embedding <=> q`` cosine
distance, /root/reference/src/db_utils.py:285-302) and numpy/sklearn paths
(/root/reference/src/embedding_analyzer.py:86-91) with ``zip_with`` +
``aggregate`` expressions that run inside whole-stage codegen — no Python,
no UDF, usable in any filter/join/window without breaking pushdown.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def double_array_literal(xs: Iterable[float]) -> Column:
    """A constant ``array<double>`` column built from ONE string literal.

    ``F.lit(list)`` is ``array(lit(x), ...)`` on pyspark 4: one py4j call
    per element, ~30 s of driver time for 65,536 classifier weights. Here
    the driver makes a handful of calls whatever the length, and Catalyst
    constant-folds split + cast into one array literal, so the column is
    foldable (``percentile_approx`` accepts it as its percentages) and
    costs nothing per row. ``repr`` round-trips a double exactly, so every
    element is bit-identical to the input."""
    vals = [float(x) for x in xs]
    if not vals:
        raise ValueError("an array literal needs at least one element")
    return F.split(F.lit(",".join(map(repr, vals))), ",").cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a double (inputs cast element-wise to double first so the
    accumulation order-independent error stays ~1e-15)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b); the reference computes 1 − cosine_distance
    (/root/reference/src/db_utils.py:286)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """(/root/reference/src/embedding_analyzer.py:89-91)"""
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                _c(a), _c(b),
                lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def unit_vector(a: Column | str) -> Column:
    """L2-normalize with the norm evaluated ONCE per row, as array<double>.

    Referencing the norm inside a ``transform`` lambda would recompute the
    O(dim) norm per ELEMENT — O(dim²)/row: Catalyst re-inlines aliased
    expressions into HOF lambda bodies (no CSE there). Here the norm sits
    in ``array_repeat``'s argument — evaluated once, outside any
    lambda — and the division is a ``zip_with`` over (vec, norm-array):
    O(dim)/row. Use below self-joins so per-pair work is a bare ``dot``."""
    c = _c(a)
    return F.zip_with(
        c,
        F.array_repeat(l2_norm(c), F.size(c)),
        lambda x, n: x.cast("double") / n,
    )

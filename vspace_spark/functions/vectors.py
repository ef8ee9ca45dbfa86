"""Vector math over ``array<float>`` columns via higher-order functions.

All JVM-side (``zip_with`` + ``aggregate``) — no Python in the hot path,
so brute-force similarity scans stay inside whole-stage codegen and
scale linearly with executor count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² as double: a left-to-right ``aggregate`` from 0.0,
    bit-identical to DuckDB's ``list_sum(list_transform(...))`` over
    the same elements (NOTES.md float discipline). ``b`` is double."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their L2 norms: computing each
    norm once per row instead of once per pair is the same expression
    in the same order, so every score is bit-identical to
    :func:`cosine_similarity`. NULL (not an error) when either norm is
    zero: under ANSI mode a bare ``/`` raises divideByZeroError the
    first time a zero vector appears in data, and a threshold filter
    on NULL is simply false — the behavior every caller wants for
    degenerate vectors."""
    return dot(a, b) / F.nullif(na * nb, F.lit(0.0))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of ``a`` and ``b``; NULL when either has zero norm."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Pre-normalize once so pairwise cosine is a bare dot product —
    the right trade at scale (normalize N rows, not N² pairs)."""
    n = l2_norm(a)
    return F.transform(a, lambda v: v.cast("double") / n)

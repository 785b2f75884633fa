"""Vector distance expressions — reference knn/space.cpp parity.

The reference implements L2 / IP / COSINE SIMD kernels (knn/knn.h:32-37,
knn/space.cpp:47-131) and returns hnswlib-convention *distances*:
L2 -> squared L2, IP/COSINE -> 1 - product (smaller is closer). We keep
those conventions so declared KNN queries are directly comparable.

Everything here is a pure Catalyst expression (zip_with + aggregate over
array columns) evaluated in the JVM in double precision with a fixed
left-to-right summation order — deterministic and oracle-matchable (the
DuckDB oracle unrolls the same positional sum). No Python UDFs in the hot
path; at 100 TB these run inside whole-stage codegen next to the scan.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def vec_lit(vec: Sequence[float]) -> Column:
    """A query vector as an array<double> literal."""
    return F.array(*[F.lit(float(v)) for v in vec])


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product in double precision.

    With `dim` known (the engine's embeddings are fixed-width), unrolls
    to the left-associated chain ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` —
    the IDENTICAL IEEE op sequence the fold executes (same start value,
    same order, same casts), so results are bit-equal. The difference is
    execution: `aggregate`/`zip_with` are CodegenFallback (interpreted
    per element, per row), while the unrolled chain compiles into
    whole-stage codegen next to the scan. Out-of-bounds reads via
    `F.get` return NULL, matching the fold's NULL propagation when one
    side is shorter; the size(a)==dim guard returns NULL when `a` is
    LONGER than dim too (the fold null-pads the shorter query side, so
    its result is NULL — without the guard the unroll would read only
    the first dim elements and emit a finite truncated value)."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(dim):
            acc = acc + F.get(a, F.lit(i)).cast("double") * F.get(
                b, F.lit(i)
            ).cast("double")
        return F.when(F.size(a) == dim, acc)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim=dim))


def unit_vector(a: Column) -> Column:
    """L2-normalize to a unit array<double> (zero vectors pass through).
    The reference normalizes at build time for COSINE (knn.cpp:128-143);
    normalizing before IVF clustering makes L2 bucketing equivalent to
    cosine bucketing."""
    n = norm(a)
    return F.when(n == 0.0, a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


def l2_sq(a: Column, b: Column, dim: int | None = None) -> Column:
    """Squared L2 distance (hnswlib L2 space convention, knn/space.cpp).
    `dim` unrolls to codegen exactly as in `dot` (bit-equal fold order,
    including the size(a)==dim NULL guard for over-length rows)."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(dim):
            d = F.get(a, F.lit(i)).cast("double") - F.get(b, F.lit(i)).cast(
                "double"
            )
            acc = acc + d * d
        return F.when(F.size(a) == dim, acc)
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ip_dist(a: Column, b: Column, dim: int | None = None) -> Column:
    """Inner-product distance = 1 - dot (hnswlib IP space)."""
    return F.lit(1.0) - dot(a, b, dim=dim)


def cosine_sim(
    a: Column,
    b: Column,
    b_norm: float | Column | None = None,
    dim: int | None = None,
) -> Column:
    """Cosine similarity; pass b_norm (python float) when b is a constant
    query vector to keep the plan free of redundant per-row work. A
    zero-norm side has no direction: its similarity is NULL, as for a
    NULL vector (try_divide — a plain divide raises DIVIDE_BY_ZERO under
    ANSI)."""
    bn = F.lit(float(b_norm)) if isinstance(b_norm, (int, float)) else (b_norm or norm(b, dim=dim))
    return F.try_divide(dot(a, b, dim=dim), norm(a, dim=dim) * bn)


def cosine_dist(
    a: Column,
    b: Column,
    b_norm: float | Column | None = None,
    dim: int | None = None,
) -> Column:
    """1 - cosine similarity (hnswlib COSINE convention; the reference
    normalizes at build time, knn/knn.cpp:128-143 — we divide by norms
    instead, same result for non-degenerate vectors)."""
    return F.lit(1.0) - cosine_sim(a, b, b_norm, dim=dim)


def py_norm(vec: Sequence[float]) -> float:
    return math.sqrt(sum(float(v) * float(v) for v in vec))

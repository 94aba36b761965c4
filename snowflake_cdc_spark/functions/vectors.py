"""Vector math over ``array<float/double>`` columns (SURVEY.md §2.8 N3).

Built on higher-order functions (``zip_with`` / ``transform`` /
``aggregate``) — evaluated JVM-side per row, no Python boundary, no
shuffle. Float elements are cast to double *before* multiplication so
Spark and the DuckDB oracle accumulate identical IEEE-754 values; the
integer-grid distance (``int_sq_l2``) is exact BIGINT arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def int_sq_l2(
    a: Column | str, b: Column | str | list[int], dim: int | None = None
) -> Column:
    """Exact integer squared L2 distance between BIGINT arrays — the one
    distance of the exact k-means / IVF family (``operators/kmeans_exact``,
    ``ivf_exact``, ``ivf_relational``). ``b`` is a column or a literal
    integer vector (a centroid held in the plan, built in ONE py4j call
    rather than one ``F.lit`` per element).

    ``dim=None`` is the generic ``zip_with``/``aggregate`` form. With a
    known ``dim`` the sum unrolls into ``dim`` ``element_at`` terms: ~2.4x
    faster for ONE distance per row (the pair scans), same integers. It
    pays off only there: an argmin over k centroids in one expression
    holds k unrolled copies, passes the codegen size limit and falls back
    to interpreted mode (measured 3x slower end to end), so per-centroid
    and column-vs-column callers keep the generic form.

    No per-row dim guard: a ``when``/``raise_error`` around the 64-term
    unroll measured 4.5x on the q192 pair scan. Callers check dims at the
    operator boundary (``ivf_exact._check_dim``) and rank NULLs last."""
    if isinstance(b, (list, tuple)):
        b = F.lit([int(v) for v in b]).cast("array<bigint>")
    a, b = _c(a), _c(b)
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
    out = None
    for i in range(1, dim + 1):
        t = F.element_at(a, i) - F.element_at(b, i)
        out = t * t if out is None else out + t * t
    return out.cast("bigint")


def round_half_up(col: Column, scale: int) -> Column:
    """Tie-robust canonical rounding for TRUE-ratio doubles (round-3
    determinism amendment, COVERAGE.md): ``floor(x * 10^s + 0.5) / 10^s``
    — every step is plain IEEE double arithmetic, so Spark and any SQL
    oracle computing the token-identical expression produce bit-identical
    results even at representation-boundary ties. Engine-native ROUND is
    NOT portable there: Spark rounds the shortest decimal representation
    (BigDecimal.valueOf, HALF_UP) while e.g. DuckDB scales the raw binary
    double and std::round()s it. Non-negative inputs only (half-up via
    +0.5/floor)."""
    factor = F.lit(float(10 ** scale))
    return F.floor(col * factor + F.lit(0.5)) / factor

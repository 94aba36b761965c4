"""Exact-arithmetic distributed k-means — Lloyd's algorithm made fully
DuckDB-oracle-checkable (the q136 fixed-point discipline applied to the
canonical ML training loop).

Float k-means is inherently un-oracle-checkable: centroid means are
per-dimension float SUMS, and IEEE addition order differs between
engines and partitionings. Here every quantity is an exact integer:

- vectors quantize once to BIGINT grids
  (``floor((x + offset) * scale + 0.5)`` — identical floor-of-double on
  both engines; the offset keeps coordinates non-negative so integer
  division truncation == floor everywhere);
- distances are integer sums of squared differences (order-free);
- centroid updates are integer per-dimension sums DIV counts;
- seeds are the k md5-smallest vector ids (layout-invariant), ties in
  assignment break to the lowest cell id;
- ``rounds`` is fixed, cells that lose all members DROP (later rounds
  assign against surviving cells only — simple, deterministic, and
  mirrored exactly in SQL).

Note what this is and is not: quantized Lloyd converges to the same
clusters as float Lloyd for any reasonably-scaled data (the grid is
1e-4 of the coordinate range), but its value HERE is that an iterative,
shuffle-heavy ML training loop becomes bit-for-bit verifiable across
engines — the property the IVF/PQ trainers (float, driver-side, seeded)
deliberately trade away for speed.

Scale shape per round: one broadcast-closure assignment pass (centroids
are k×d ints in the plan, no join), one posexplode + groupBy(cell, dim)
partial-aggregated sum — the textbook distributed Lloyd layout. The
per-round driver collect is k×d integers (fixpoint-scalar discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snowflake_cdc_spark.functions.vectors import int_sq_l2
from snowflake_cdc_spark.operators.util import ckpt_eager

SCALE = 10_000.0
OFFSET = 1.0


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qv"
) -> DataFrame:
    """Append the exact BIGINT grid representation of ``vec_col``."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                (x.cast("double") + F.lit(OFFSET)) * F.lit(SCALE) + F.lit(0.5)
            ),
        ),
    )


def _assign(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Append (cell, dist) = argmin over centroids of the integer
    squared distance; ties to the lowest cell id."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    int_sq_l2(F.col("qv"), c).alias("d"),
                    F.lit(int(cell)).alias("c"),
                )
                for cell, c in centroids
            ]
        )
    )
    return q.withColumn("__b", best).select(
        "*", F.col("__b.c").alias("cell"), F.col("__b.d").alias("dist")
    ).drop("__b")


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[int]]], DataFrame]:
    """Fit the exact-integer model: returns (centroids, assigned) where
    ``centroids`` is the final ``[(cell, int-grid vector), …]`` list
    (driver-held, k×d ints) and ``assigned`` the corpus with
    (id, qv, cell, dist) from the LAST assignment pass. The building
    block for both the clustering summary (``kmeans_exact``) and the
    fully-oracle-checked IVF search (``operators/ivf_exact.py``)."""
    from snowflake_cdc_spark.operators.util import fan_out

    # Fan out before quantize+persist (round 12, mirroring
    # relational_kmeans_fit's round-11 fix): a single-split corpus
    # otherwise leaves the cached assignment — and every downstream
    # pair scan over it (ivf_exact search, mutual-NN, label eval) —
    # on ONE partition / one task. No-op at scale.
    q = quantize_vectors(
        fan_out(vectors.select(id_col, vec_col)), vec_col
    ).select(id_col, "qv").persist()
    q.count()
    try:
        key = F.md5(F.col(id_col).cast("string"))
        seed_rows = q.orderBy(key, id_col).limit(k).collect()
        centroids = [(i, list(r["qv"])) for i, r in enumerate(seed_rows)]
        assigned = _assign(q, centroids)
        for _ in range(rounds - 1):
            sums = (
                assigned.select("cell", F.posexplode("qv").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            by_cell: dict[int, list] = {}
            for r in sums:
                by_cell.setdefault(r["cell"], [None] * len(centroids[0][1]))[
                    r["pos"]
                ] = r["s"] // r["n"]  # non-negative by OFFSET: floor==trunc
            centroids = sorted((c, v) for c, v in by_cell.items())
            assigned = _assign(q, centroids)
        # materialize the final assignment before releasing the cached
        # quantized corpus (round 11, mirroring relational_kmeans_fit):
        # the returned relation is consumed several times by every ANN
        # lane (probe side, candidate side, label joins) and would
        # otherwise re-run quantize + the k-way assignment expression
        # from the parquet scan once PER consumer action
        assigned = assigned.transform(ckpt_eager)
        return centroids, assigned
    finally:
        q.unpersist()


def kmeans_exact(
    vectors: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``rounds`` assignment passes (with ``rounds - 1`` centroid
    updates between them) and return the final per-cell summary:
    (cell, n_members, inertia) — all exact BIGINTs."""
    _, assigned = kmeans_fit(vectors, k, rounds, id_col, vec_col)
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .orderBy("cell")
    )

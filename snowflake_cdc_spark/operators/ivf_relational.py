"""Exact-integer k-means / IVF with RELATIONAL centroids — the
corpus-sized-k companion of ``operators/kmeans_exact.py`` /
``operators/ivf_exact.py``.

Those modules hold centroids as PLAN LITERALS (k x d ints baked into a
broadcast closure): optimal for small fixed k (8-16), but the expression
tree grows with k — at k ~ sqrt(N) (the scale-safe cell sizing, VERDICT
r08 #1) a 45-centroid argmin is ~45 zip_with/aggregate lambdas over
45 64-element literal arrays stacked in ONE expression, which blows the
codegen budget and drops to interpreted mode (the round-6 lesson from
the other direction). Here centroids live in a (tiny, broadcast)
DataFrame instead:

- assignment = broadcast join corpus x centroids (N x k rows, k ~
  sqrt(N) → ~N^1.5 cheap rows, each one generic-lambda distance) +
  ``min(struct(dist, cell))`` groupBy argmin — ties to the lowest cell,
  exactly the literal path's ordering;
- centroid update = posexplode + groupBy(cell, pos) integer sums DIV
  counts (non-negative by the grid offset, so trunc == floor), arrays
  rebuilt with ``array_sort(collect_list(struct(pos, v)))``;
- probe = the same broadcast join ranked per query by (dist, cell).

Every quantity is the same exact BIGINT algebra as kmeans_exact — the
two paths are hash-interchangeable (tested) and share ONE DuckDB oracle
chain shape (queries_round9_ext._kmeans_chain_dyn).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from snowflake_cdc_spark.functions.vectors import int_sq_l2
from snowflake_cdc_spark.operators.kmeans_exact import quantize_vectors
from snowflake_cdc_spark.operators.util import ckpt_eager


def _assign_join(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, qv, cell, dist): nearest centroid by exact integer L2,
    ties to the lowest cell id — one broadcast join + groupBy argmin.
    The argmin struct leads with an is-null flag so a NULL distance
    (ragged vector vs a zip_with-padded centroid) can never WIN the
    assignment — struct ordering would otherwise sort the NULL field
    first (the asc_nulls_last discipline, min()-shaped)."""
    scored = q.crossJoin(F.broadcast(centroids.select("cell", F.col("qv").alias("__cv"))))
    return (
        scored.select(
            "vec_id", "qv", "cell", int_sq_l2(F.col("qv"), F.col("__cv")).alias("dist")
        )
        .groupBy("vec_id")
        .agg(
            F.first("qv").alias("qv"),
            F.min(
                F.struct(
                    F.col("dist").isNull().alias("nf"), F.col("dist"), F.col("cell")
                )
            ).alias("__b"),
        )
        .select("vec_id", "qv", F.col("__b.cell").alias("cell"), F.col("__b.dist").alias("dist"))
    )


def relational_kmeans_fit(
    vectors: DataFrame,
    k: int,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Exact-integer Lloyd with DataFrame centroids: returns
    (centroids, assigned) where centroids = (cell, qv) — k rows, k may
    be corpus-derived — and assigned = (vec_id, qv, cell, dist) from the
    last assignment pass. Seeds are the k md5-smallest ids with cell =
    rank in (md5, id) order (the kmeans_exact seeding, built via
    TakeOrdered + a k-row window, never a global data sort).

    DRIVER-MEMORY BOUND (VERDICT r09): the seed path funnels k rows of
    (id, d-dim qv) through ``limit(k).collect()`` — with the q192b
    corpus-sized ``k ~ ceil(sqrt(N))`` that is ~10^5-10^6 rows x 8d
    bytes at true 100-TB corpus sizes (N ~ 10^9-10^12), i.e. up to a
    few GB materialized driver-side and re-broadcast. This exact-seeded
    form is the ORACLE-CHECKABLE lane for driver SFs; at real scale use
    the bounded-sample training posture instead (``operators/ivf.py``:
    fit on a fixed-size md5 sample with the vectorized matmul
    assignment, so driver state is O(sample), independent of N — see
    docs/PLANS.md round-9)."""
    spark = vectors.sparkSession
    # Spread the corpus across every core BEFORE the N x k expansion
    # (round 11): the assignment join inherits the stream side's scan
    # partitioning, and a corpus that fits one parquet split (a 100x
    # probe fixture is ~50 MB = ONE partition) runs the entire
    # N x k x d distance evaluation on a single thread — measured as
    # the serial dominator of q244's 100x probe. One small shuffle of
    # the quantized corpus (id + qv only) before the persist makes
    # every subsequent assignment pass full-width; the exact algebra
    # downstream (groupBy argmin, integer sums) is layout-invariant.
    q = (
        quantize_vectors(vectors.select(id_col, vec_col), vec_col)
        .select(F.col(id_col).alias("vec_id"), "qv")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    q.count()
    try:
        key = F.md5(F.col("vec_id").cast("string"))
        seed_rows = q.orderBy(key, "vec_id").limit(k).collect()
        centroids = spark.createDataFrame(
            [(i, list(r["qv"])) for i, r in enumerate(seed_rows)],
            "cell int, qv array<bigint>",
        )
        assigned = _assign_join(q, centroids)
        for _ in range(rounds - 1):
            # update: per-(cell, dim) integer sums DIV counts; cells that
            # lose all members drop (absent from the groupBy) — the
            # kmeans_exact contract; the rebuilt k-row centroid table
            # collapses to one tiny partition for the broadcast
            centroids = (
                assigned.select("cell", F.posexplode("qv").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .select("cell", "pos", F.expr("s DIV n").alias("v"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "v"))),
                        lambda st: st["v"],
                    ).alias("qv")
                )
                .coalesce(1)
            )
            assigned = _assign_join(q, centroids)
        # materialize both outputs so the cached quantized corpus can be
        # released here instead of leaking one persisted copy per call
        centroids = centroids.transform(ckpt_eager)
        assigned = assigned.transform(ckpt_eager)
        return centroids, assigned
    finally:
        q.unpersist()


def relational_ivf_topk(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 1,
    nprobe: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Top-k neighbors by exact integer L2, probing each query's nprobe
    nearest cells — centroids joined relationally (q158 semantics,
    corpus-sized-k plan shape). ``queries``: (query_id, qv). Output
    (query_id, vec_id, dist)."""
    if dim is not None:
        # fail FAST on a dim misconfiguration, exactly as the literal
        # path does — the unrolled distance would otherwise silently
        # compute prefix-only distances (ADVICE r06)
        from snowflake_cdc_spark.operators.ivf_exact import _check_dim

        _check_dim(assigned, "qv", dim, "relational_ivf_topk(assigned)")
        _check_dim(queries, "qv", dim, "relational_ivf_topk(queries)")
    scored_cells = queries.crossJoin(
        F.broadcast(centroids.select("cell", F.col("qv").alias("__cv")))
    ).select(
        "query_id", "qv", "cell", int_sq_l2(F.col("qv"), F.col("__cv")).alias("__cd")
    )
    # NULLS LAST (ADVICE r06 discipline, mirrored from ivf_exact): a
    # ragged vector's NULL cell distance must not win the probe ranking
    w_cells = Window.partitionBy("query_id").orderBy(
        F.asc_nulls_last("__cd"), "cell"
    )
    probes = (
        scored_cells.withColumn("__rn", F.row_number().over(w_cells))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    cand = probes.join(
        assigned.select(F.col("vec_id"), F.col("qv").alias("__cqv"), "cell"), "cell"
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "vec_id", int_sq_l2("qv", "__cqv", dim).alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc_nulls_last("dist"), "vec_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )

"""Fully-oracle-checked IVF ANN search — the complete-oracle analog of
the bounded-error ANN lanes (q52 IVF, q133 PQ, q144 IVF-PQ declare
"recall >= bound" because their float trainers and cosine scores are
not cross-engine reproducible; THIS lane makes the entire index and
search exact, so the DuckDB oracle re-derives every centroid, every
cell assignment, every probe, and every neighbor — the q134/q135
"approximate operator with a COMPLETE oracle" discipline applied to
ANN).

The trade: clustering runs on the exact integer grid
(``operators/kmeans_exact.py``) and candidates rank by integer squared
L2 distance instead of float cosine. On the unit-ish embedding fixtures
L2-on-grid and cosine agree closely, but the POINT here is different —
same pruning architecture as ``operators/ivf.py`` (probe nprobe cells,
scan only their members), with bit-for-bit verifiability end to end.

Scale shape: probes derive from the driver-held k×d centroid grid (a
plan literal, no join); candidates come from ONE equi-join of the
probe table against the cell-assigned corpus — the corpus shuffles on
``cell`` exactly once (or not at all if bucketed by cell), never
corpus × queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from snowflake_cdc_spark.functions.vectors import int_sq_l2


def _check_dim(
    df: DataFrame, vec_col: str, dim: int, what: str, scan: bool = False
) -> None:
    """Fail FAST on a dim misconfiguration (ADVICE r06): element_at past
    the array end is NULL and would silently corrupt results. A wrong
    ``dim`` parameter disagrees with EVERY row, so probing one row
    catches it without a corpus scan; per-row ragged-array corruption is
    additionally contained by NULLS LAST ranking (search) or the
    threshold filter (semdedup), so it degrades to a dropped pair, never
    a poisoned winner.

    Over-length gap (ADVICE r07): the NULL-containment argument only
    covers rows SHORTER than ``dim`` (element_at past the end → NULL
    distance → NULLS-LAST loses). A row LONGER than ``dim`` yields a
    non-NULL prefix-only distance that CAN win top-k or form a false
    semdedup pair, and the one-row probe won't see it if the probed row
    happens to be correct. Callers owe the q216 embedding-hygiene gate
    (``n_dims_seen == 1``) as a precondition on mixed-provenance
    corpora; where a scan is affordable, pass ``scan=True`` to probe
    min(size)/max(size) across the whole relation instead."""
    if scan:
        row = df.select(
            F.min(F.size(F.col(vec_col))).alias("lo"),
            F.max(F.size(F.col(vec_col))).alias("hi"),
        ).first()
        if row is not None and row["lo"] is not None and (
            row["lo"] != dim or row["hi"] != dim
        ):
            raise ValueError(
                f"{what}: vector lengths span [{row['lo']}, {row['hi']}] "
                f"!= dim={dim} — ragged corpus; run the q216 hygiene "
                "gate and fix provenance before indexing"
            )
        return
    row = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if row is not None and row["n"] != dim:
        raise ValueError(
            f"{what}: vector length {row['n']} != dim={dim} — the "
            "unrolled integer distance would read past the array end"
        )


def ivf_exact_search(
    centroids: list[tuple[int, list[int]]],
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id: str = "query_id",
    exclude_self: bool = True,
    exclude_match_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Top-k neighbors by exact integer squared L2 on the quantized
    grid. ``assigned``: (id, qv, cell) from ``kmeans_fit``; ``queries``:
    (query_id, qv) quantized with the same grid. Output
    (query_id, <id_col>, dist) — every value exact.

    ``exclude_match_col``: when set, both ``assigned`` and ``queries``
    must carry that column and candidates whose value EQUALS the
    query's are dropped BEFORE ranking — the hard-negative-mining mode
    (contrastive training wants the nearest vectors of a DIFFERENT
    label, so the filter must precede the top-k, not trim it after)."""
    cells = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        int_sq_l2(F.col("qv"), c).alias("d"),
                        F.lit(int(cell)).alias("c"),
                    )
                    for cell, c in centroids
                ]
            )
        ),
        1,
        nprobe,
    )
    probe_cols = [query_id, "qv"]
    cand_cols = [F.col(id_col), F.col("qv").alias("__cqv"), F.col("cell")]
    if exclude_match_col:
        probe_cols.append(exclude_match_col)
        cand_cols.append(F.col(exclude_match_col).alias("__cex"))
    probes = queries.select(
        *probe_cols, F.explode(F.transform(cells, lambda s: s["c"])).alias("cell")
    )
    cand = probes.join(assigned.select(*cand_cols), "cell")
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(query_id))
    if exclude_match_col:
        cand = cand.filter(F.col("__cex") != F.col(exclude_match_col))
    if dim is not None:
        _check_dim(assigned, "qv", dim, "ivf_exact_search(assigned)")
        _check_dim(queries, "qv", dim, "ivf_exact_search(queries)")
    scored = cand.select(
        query_id,
        id_col,
        int_sq_l2("qv", "__cqv", dim).alias("dist"),
    )
    # NULLS LAST: a NULL dist (ragged array slipping past the head
    # check) sinks to the bottom instead of winning rank 1 (ADVICE r06)
    w = Window.partitionBy(query_id).orderBy(
        F.asc_nulls_last("dist"), id_col
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy(query_id, id_col)
    )

"""Upsert-by-key CDC materialization (SURVEY.md §2.3 K1-K5) — the heart of
the engine.

Semantics from the reference: per output interval, apply the newest change
per key to the target table (upsert keys: ToggleUpsertKey,
add_output.py:223-226; synthetic key data.primary_key, add_output.py:132-136;
hard delete: SetIsDelete, add_output.py:143-150; logical delete: is_delete
mapped to a boolean column, add_output.py:139-141).

Scale posture (100 TB): latest-by-key is a single hash shuffle on the key.
We do NOT use a global window when only the latest row is needed —
``max_by``-style aggregation gets map-side partial aggregation (partial
combine before shuffle), which a row_number window never does. For very
hot keys (one key = millions of changes) AQE skew handling applies to the
shuffle, and the two-phase pre-combine below cuts shuffle volume by the
per-partition duplication factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str | list[str] = "seq",
    use_window: bool = False,
) -> DataFrame:
    """Reduce a change log to the single newest row per key.

    Default implementation: ``max_by(struct(*), seq)`` aggregation —
    Catalyst plans partial_max before the shuffle, so each map task ships
    at most one row per key per partition (the two-phase "local latest,
    then global latest" of SURVEY.md §7). ``use_window=True`` switches to
    the classic ``row_number() over (partition by key order by seq desc)``
    plan for comparison/testing; it shuffles every change row.

    ``seq_col`` may be a list for compound ordering (lexicographic, via
    struct comparison) — used by the sink merge to break seq ties in
    favor of incoming changes (schema-drift backfill replays the same seq
    with more columns). Plain CDC sequence numbers are unique per key by
    construction, so the single-column form is the common case.
    """
    order_cols = [seq_col] if isinstance(seq_col, str) else list(seq_col)
    if use_window:
        w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    payload = F.struct(*[F.col(c) for c in df.columns])
    rank = (
        F.col(order_cols[0])
        if len(order_cols) == 1
        else F.struct(*[F.col(c) for c in order_cols])
    )
    out = df.groupBy(*key_cols).agg(F.max_by(payload, rank).alias("__row"))
    return out.select("__row.*")


def snapshot_hard_delete(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    delete_col: str = "is_delete",
) -> DataFrame:
    """Materialized snapshot with the hard-delete strategy (K4): the newest
    change wins; keys whose newest change is a delete disappear."""
    latest = latest_by_key(df, key_cols, seq_col)
    return latest.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)


def snapshot_logical_delete(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    delete_col: str = "is_delete",
    logical_col: str = "is_deleted",
) -> DataFrame:
    """Materialized snapshot with the logical-delete strategy (K5): rows are
    never physically removed; the delete marker becomes a boolean column
    (add_output.py:139-141)."""
    latest = latest_by_key(df, key_cols, seq_col)
    return latest.withColumn(
        logical_col, F.coalesce(F.col(delete_col), F.lit(False))
    ).drop(delete_col)


def synthetic_primary_key(df: DataFrame, pk_cols: list[str], out_col: str = "primary_key") -> DataFrame:
    """Engine-computed string key over natural PK columns — our analogue of
    the reference's ``data.primary_key`` / upsolver_primary_key
    (add_output.py:104-105,132-136). Unit separator avoids ambiguity of
    concatenated values; sha2 keeps the key width fixed at any scale."""
    return df.withColumn(
        out_col, F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in pk_cols]), 256)
    )

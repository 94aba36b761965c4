"""Checkpoint-restart semantics for the streaming dedup lane: state must
survive a stop/start, so a duplicate re-delivered AFTER the restart (same
dedup keys + event time, still inside the watermark) is suppressed by the
restored state store, while genuinely new rows flow through."""

from __future__ import annotations

import datetime as dt

from snowflake_cdc_spark.streaming.dedup_stream import dedup_stream

import pytest

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _rows(*specs):
    return [(i, T0 + dt.timedelta(minutes=m), k) for i, (m, k) in enumerate(specs)]


def test_dedup_state_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def drain():
        stream = spark.readStream.schema("i long, ts timestamp_ntz, k string").parquet(
            src
        )
        q = (
            dedup_stream(stream, ["k"], ts_col="ts", watermark="30 minutes")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _b: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    batch1 = _rows((0, "a"), (0, "a"), (5, "b"))  # in-batch dup of a
    spark.createDataFrame(batch1, "i long, ts timestamp_ntz, k string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    drain()
    assert sorted(r["k"] for r in out) == ["a", "b"]

    # stream is down; a re-delivery of (a, T0) and a new key arrive
    batch2 = [(10, T0, "a"), (11, T0 + dt.timedelta(minutes=10), "c")]
    spark.createDataFrame(batch2, "i long, ts timestamp_ntz, k string").coalesce(
        1
    ).write.mode("append").parquet(src)
    drain()

    ks = sorted(r["k"] for r in out)
    assert ks == ["a", "b", "c"], f"restored state must suppress the re-delivery: {ks}"


def test_windowed_counts_state_survives_restart(spark, tmp_path):
    """Windowed-aggregation state crosses a restart: rows for the SAME
    event-time window arriving after a stop/start must merge into that
    window's count (update mode), not start a fresh one."""
    from snowflake_cdc_spark.streaming.windows import windowed_counts

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    latest: dict = {}

    def drain():
        stream = spark.readStream.schema("i long, ts timestamp_ntz").parquet(src)
        q = (
            windowed_counts(stream, ts_col="ts", window="15 minutes",
                            watermark="30 minutes")
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _b: latest.update(
                    {r["win_start"]: r["n"] for r in df.collect()}
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    w0 = T0.replace(minute=0)
    batch1 = [(0, w0 + dt.timedelta(minutes=1)), (1, w0 + dt.timedelta(minutes=2))]
    spark.createDataFrame(batch1, "i long, ts timestamp_ntz").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    drain()
    assert latest == {w0: 2}

    batch2 = [(2, w0 + dt.timedelta(minutes=3)), (3, w0 + dt.timedelta(minutes=20))]
    spark.createDataFrame(batch2, "i long, ts timestamp_ntz").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert latest == {w0: 3, w0 + dt.timedelta(minutes=15): 1}, latest


def test_dq_gate_survives_restart(spark, tmp_path):
    """Kill a DQ-gated stream mid-input, restart from the checkpoint:
    the final snapshot AND the quarantine contents must equal a
    single-run execution — the gate's quarantine writes are per-batch-id
    overwrites, so a replayed batch after restart is idempotent."""
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.operators.expectations import in_range
    from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.sources.cdc import cdc_events_nested
    from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
    from tests.conftest import SF_SMOKE

    raw = str(tmp_path / "raw")
    events = cdc_events_nested(spark, SF_SMOKE)
    events.withColumn("__c", F.col("seq") % 4).repartition(4, "__c").drop(
        "__c"
    ).write.parquet(raw)
    bound = 300000

    def build(sink_dir, qdir):
        return CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True,
                          delete_strategy=DeleteStrategy.HARD)],
            ParquetSnapshotSink(sink_dir),
            quarantine_dir=qdir,
            dq_expectations={"ORDERS": [in_range("o_totalprice", 0, bound)]},
        )

    # interrupted run: one file per trigger, stop after the first batches
    p1 = build(str(tmp_path / "wh1"), str(tmp_path / "q1"))
    q = p1.start_stream(raw, checkpoint=str(tmp_path / "ckpt"),
                        max_files_per_trigger=1,
                        processing_time="1 seconds")
    import time as _t

    for _ in range(100):
        if any(r.version is not None for r in p1.records):
            break
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    # resume to completion from the same checkpoint
    p1b = build(str(tmp_path / "wh1"), str(tmp_path / "q1"))
    q2 = p1b.start_stream(raw, checkpoint=str(tmp_path / "ckpt"),
                          available_now=True)
    q2.awaitTermination(120)

    # reference single run
    p2 = build(str(tmp_path / "wh2"), str(tmp_path / "q2"))
    p2.run_batch(raw)

    def canon(sink_dir):
        df = ParquetSnapshotSink(sink_dir).read(spark, "ORDERS")
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    assert canon(str(tmp_path / "wh1")) == canon(str(tmp_path / "wh2"))

    # quarantine holds the same violating CHANGE ROWS overall (batch ids
    # differ between executions; compare the row sets)
    def qrows(qdir):
        import glob

        paths = glob.glob(f"{qdir}/ORDERS/dq_batch=*")
        if not paths:
            return []
        df = spark.read.parquet(*paths).select("primary_key", "seq")
        return sorted(map(tuple, df.collect()))

    assert qrows(str(tmp_path / "q1")) == qrows(str(tmp_path / "q2"))

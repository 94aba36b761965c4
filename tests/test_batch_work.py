"""What one micro-batch costs: a non-maintenance batch runs at most three
Spark jobs per table (the DQ gate's quarantine write, the merge's map
stage and its result stage), compaction does not copy a table that is
already within ``target_files``, the DQ gate counts inside its write, and
the sink reads its own versions back without inferring their schema —
with the same schemas and rows as an inferring read."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from snowflake_cdc_spark.operators.expectations import in_range
from snowflake_cdc_spark.plans.spec import PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.streaming.pipeline import (
    CdcPipeline,
    MaintenancePolicy,
    replay_quarantine,
)

ROW = "id: bigint, amount: double"
ROW_DRIFT = "id: bigint, amount: double, note: string"


def _envelope(spark, table: str, rows, row_ddl: str = ROW):
    """Envelope events for ``table`` from ``(id, amount, seq, is_delete)``
    tuples (``(id, amount, note, seq, is_delete)`` with ``ROW_DRIFT``)."""
    schema = (
        "data struct<database_name: string, table_name: string, "
        "full_table_name: string, primary_key: string, "
        f"row: struct<{row_ddl}>, old_row: struct<{row_ddl}>, "
        "metadata: struct<is_delete: boolean>>, seq: bigint"
    )
    out = []
    for r in rows:
        *vals, seq, is_del = r
        image = tuple(vals)
        out.append(
            (
                (
                    "bench",
                    table,
                    f"bench.{table}",
                    str(vals[0]),
                    None if is_del else image,
                    image if is_del else None,
                    (is_del,),
                ),
                seq,
            )
        )
    return spark.createDataFrame(out, schema)


def _pipeline(spark, tmp_path, tables=("alpha",), **kw):
    sink = ParquetSnapshotSink(str(tmp_path / "wh"))
    specs = [PipelineSpec(f"bench.{t}", key_columns=["id"]) for t in tables]
    pipe = CdcPipeline(
        spark,
        specs,
        sink,
        quarantine_dir=str(tmp_path / "q"),
        dq_expectations={s.target_table: [in_range("amount", 0, 1000)] for s in specs},
        **kw,
    )
    return pipe, sink


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_non_maintenance_batch_runs_three_jobs_per_table(spark, tmp_path):
    tables = ("alpha", "beta")
    pipe, _ = _pipeline(spark, tmp_path, tables)

    def batch(first_seq):
        parts = [
            _envelope(
                spark,
                t,
                [(i, float(i), first_seq + i, False) for i in range(20)]
                + [(99, -1.0, first_seq + 99, False)],  # gate violation
            )
            for t in tables
        ]
        return parts[0].unionByName(parts[1])

    pipe.materialize_batch(batch(0), 0)
    events = batch(1000)
    sc = spark.sparkContext
    group = f"one-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one non-maintenance batch")
    try:
        pipe.materialize_batch(events, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert [r.rows_quarantined for r in pipe.records if r.batch_id == 1] == [1, 1]
    assert len(jobs) <= 3 * len(tables), jobs


def test_compact_is_a_noop_within_target_files(spark, tmp_path):
    pipe, sink = _pipeline(
        spark,
        tmp_path,
        maintenance=MaintenancePolicy(every_n_batches=2, target_files=8),
    )
    pipe.materialize_batch(_envelope(spark, "alpha", [(1, 1.0, 1, False)]), 0)
    v = sink.current_version("ALPHA")
    assert sink.compact(spark, "ALPHA", target_files=8) == v
    assert sink.versions("ALPHA") == [v]

    # the second batch is a maintenance turn that compacts nothing: the
    # batch's own publish is the only new generation
    gen = sink.current_generation()
    pipe.materialize_batch(_envelope(spark, "alpha", [(2, 2.0, 2, False)]), 1)
    assert sink.current_generation() == gen + 1
    ((_, batch, compacted, _),) = pipe.maintenance_events
    assert (batch, compacted) == (1, sink.current_version("ALPHA"))
    assert sink.manifest() == {"ALPHA": compacted}


def test_compact_rewrites_when_zordered_or_over_target(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "wh"))
    df = spark.range(400).select(
        F.col("id"), (F.col("id") * 7 % 400).alias("b"), F.lit(False).alias("_tombstone")
    )
    v0 = sink.overwrite(df.repartition(4), "T")
    part_files = lambda v: [  # noqa: E731
        f for f in os.listdir(tmp_path / "wh" / "T" / f"v={v}") if f.endswith(".parquet")
    ]
    assert len(part_files(v0)) == 4

    v1 = sink.compact(spark, "T", target_files=2)
    assert v1 == v0 + 1 and 0 < len(part_files(v1)) <= 2
    v2 = sink.compact(spark, "T", target_files=2, zorder_by=["id", "b"])
    assert v2 == v1 + 1
    assert _rows(sink.read(spark, "T")) == _rows(df.drop("_tombstone"))


def test_dq_gate_without_violations_leaves_no_directory(spark, tmp_path):
    pipe, sink = _pipeline(spark, tmp_path)
    pipe.materialize_batch(_envelope(spark, "alpha", [(1, 1.0, 1, False)]), 0)
    assert [r.rows_quarantined for r in pipe.records] == [0]
    qdir = tmp_path / "q" / "ALPHA"
    assert not qdir.exists() or not os.listdir(qdir)
    assert replay_quarantine(pipe, "ALPHA") == 0


def test_dq_gate_counts_quarantined_rows_and_replays_them(spark, tmp_path):
    pipe, sink = _pipeline(spark, tmp_path)
    rows = [(i, float(i), i, False) for i in range(10)]
    rows += [(100 + i, -5.0 - i, 100 + i, False) for i in range(3)]
    pipe.materialize_batch(_envelope(spark, "alpha", rows), 7)
    (rec,) = pipe.records
    assert rec.rows_quarantined == 3
    quarantined = spark.read.parquet(str(tmp_path / "q" / "ALPHA" / "dq_batch=7"))
    assert quarantined.count() == 3
    assert sink.read(spark, "ALPHA").count() == 10

    pipe.dq_expectations = {"ALPHA": [in_range("amount", -1000, 1000)]}
    assert replay_quarantine(pipe, "ALPHA") == 3
    assert sink.read(spark, "ALPHA").count() == 13
    assert not (tmp_path / "q" / "ALPHA" / "dq_batch=7").exists()


def test_own_versions_read_like_inferred_ones(spark, tmp_path):
    """After a schema-widening merge, the sink that wrote the table (no
    inference) and a fresh sink (inference) read identical schemas —
    names, types, nullability, nested ones included — and rows."""
    root = str(tmp_path / "wh")
    sink = ParquetSnapshotSink(root)
    base = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False)],
        "k long not null, v string, seq long not null, is_delete boolean",
    )
    sink.merge(base, "T", key_cols=["k"])
    nested = StructType(
        [
            StructField("a", IntegerType(), False),
            StructField("xs", ArrayType(IntegerType(), False)),
        ]
    )
    wider = spark.createDataFrame(
        [(2, "b2", 2, False, (7, [1, 2]), {"x": 1.5}), (3, "c", 2, False, None, None)],
        StructType(
            base.schema.fields
            + [
                StructField("st", nested),
                StructField("m", MapType(StringType(), DoubleType(), False)),
            ]
        ),
    )
    v = sink.merge(wider, "T", key_cols=["k"])
    fresh = ParquetSnapshotSink(root)
    for mine, theirs in (
        (sink.read(spark, "T"), fresh.read(spark, "T")),
        (sink.read_version(spark, "T", v), fresh.read_version(spark, "T", v)),
        (sink._read_raw(spark, "T"), fresh._read_raw(spark, "T")),
    ):
        assert mine.schema == theirs.schema
        assert _rows(mine) == _rows(theirs)
    assert {r.k: r.v for r in sink.read(spark, "T").collect()} == {1: "a", 2: "b2", 3: "c"}

    # the next merge and a compaction read the remembered schema too
    sink.merge(base.limit(0), "T", key_cols=["k"])
    sink.compact(spark, "T", target_files=1, zorder_by=["k"])
    assert sink.read(spark, "T").schema == fresh.read(spark, "T").schema
    assert _rows(sink.read(spark, "T")) == _rows(fresh.read(spark, "T"))


def test_stream_and_batch_agree_on_a_drifted_landing_zone(spark, tmp_path):
    """``start_stream`` without a schema merges every landed footer, as
    ``run_batch`` does: a column added by drift reaches the snapshot."""
    landing = str(tmp_path / "landing")
    pre = _envelope(spark, "alpha", [(i, float(i), i, False) for i in range(5)])
    post = _envelope(
        spark,
        "alpha",
        [(i, 10.0 + i, f"note-{i}", 10 + i, False) for i in range(3, 8)],
        ROW_DRIFT,
    )
    # land in arrival order; a single-footer inference reads the first
    # file by name, the pre-drift one
    os.makedirs(landing)
    for i, df in enumerate((pre, post)):
        staged = str(tmp_path / f"staged{i}")
        df.coalesce(1).write.parquet(staged)
        (part,) = [f for f in os.listdir(staged) if f.endswith(".parquet")]
        os.rename(
            os.path.join(staged, part), os.path.join(landing, f"batch-{i:04d}.parquet")
        )

    stream_pipe, stream_sink = _pipeline(spark, tmp_path / "stream")
    q = stream_pipe.start_stream(
        landing, str(tmp_path / "ckpt"), available_now=True
    )
    assert q.awaitTermination(120)
    batch_pipe, batch_sink = _pipeline(spark, tmp_path / "batch")
    batch_pipe.run_batch(landing)

    got = stream_sink.read(spark, "ALPHA")
    want = batch_sink.read(spark, "ALPHA")
    assert "note" in got.columns
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)
    assert {r.id: r.note for r in got.collect()}[7] == "note-7"

"""The hooks the CDC benchmark relies on (``cdcbench/spans.py`` and
``cdcbench/workloads.py``) still hold on a real Spark session: the
tracer's wrappers see every layer of a permissive, DQ-gated, maintained
pipeline, and the pipeline's error and maintenance views unpack the way
the benchmark unpacks them. ``pytest cdcbench`` runs on a fake Spark, so
without this test a broken hook shows only in a full benchmark run."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdcbench.spans import Tracer
from snowflake_cdc_spark.operators.expectations import in_range
from snowflake_cdc_spark.plans.spec import PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import cdc_events_nested
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline, MaintenancePolicy
from tests.conftest import SF_SMOKE

SPANS = {
    "pipeline.materialize_batch",
    "pipeline.transform",
    "parquet_sink.merge",
    "upsert.latest_by_key",
    "expectations.row_gate",
    "parquet_sink.compact",
    "parquet_sink.vacuum",
    "parquet_sink.publish_generation",
}


def test_tracer_sees_every_layer(spark, tmp_path):
    events = cdc_events_nested(spark, SF_SMOKE)
    tables = ("ORDERS_PART_0", "ORDERS_PART_1")
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    pipe = CdcPipeline(
        spark,
        [PipelineSpec(f"tpch.{t.lower()}", use_synthetic_key=True, merge_shards=False) for t in tables],
        sink,
        fail_on_write_error=False,
        quarantine_dir=str(tmp_path / "q"),
        dq_expectations={t: [in_range("o_totalprice", 0, 300000)] for t in tables},
        maintenance=MaintenancePolicy(every_n_batches=1, target_files=1),
    )
    tracer = Tracer(spark, enabled=True)
    with tracer.instrument(pipe, sink):
        for bid in (0, 1):
            half = events.filter(F.pmod(F.hash("seq"), F.lit(2)) == bid)
            pipe.materialize_batch(half, bid)

    names = {s.name for s in tracer.spans}
    assert SPANS <= names, SPANS - names
    # one reduce per table and batch, inside the sink's merge
    by_id = {s.id: s for s in tracer.spans}
    reduces = [s for s in tracer.spans if s.name == "upsert.latest_by_key"]
    assert len(reduces) == len(tables) * 2
    assert all(by_id[s.parent].name == "parquet_sink.merge" for s in reduces)

    # the shapes cdcbench/workloads.py unpacks
    assert [(t, b) for t, b, _err in pipe.write_errors] == []
    assert sorted({e[1] for e in pipe.maintenance_events}) == [0, 1]
    assert sorted((t, b) for t, b, _v, _r in pipe.maintenance_events) == sorted(
        (t, b) for b in (0, 1) for t in tables
    )
    assert all(isinstance(e[3], list) for e in pipe.maintenance_events)

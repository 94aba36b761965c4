#!/usr/bin/env python
"""Benchmark harness (driver contract, BASELINE.md).

Runs every declared query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus the CDC
end-to-end materializations, and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing methodology: one warm-up of the session (JIT + codegen caches),
then each query executed once to a ``noop`` sink — measures full plan
execution without py4j row-serialization noise. Set BENCH_RUNS>1 for
medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
# Default 2 runs, keep the MIN: r1 showed 3-10x one-off spikes (GC /
# box contention) landing on arbitrary queries; the minimum of two runs
# measures the plan, not whichever run ate the pause.
RUNS = int(os.environ.get("BENCH_RUNS", "2"))


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def time_df(fn, runs: int = RUNS) -> float:
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = fn()
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    return min(times) if runs <= 2 else statistics.median(times)


def warm_session(spark) -> None:
    """One-time session warmup: JVM/codegen (range agg), Hadoop FS +
    parquet reader init (small scan), Python worker pool (tiny
    mapInPandas) — so these one-time costs don't land on whichever
    query happens to run first. Shared by bench.py and
    tools/scale_probe.py (one definition of the timing discipline, not
    a copy)."""
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    try:
        warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
        warm.mapInPandas(lambda it: it, schema=warm.schema).collect()
    except Exception:
        pass


def clear_between_queries(spark) -> None:
    """Between-query isolation: drop DataFrame caches AND RDD-level
    persists (localCheckpoint storage), then force a full GC so an
    old-gen pause lands OUTSIDE the next measurement window."""
    spark.catalog.clearCache()
    try:
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception:
        pass
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def bench_cdc_e2e(spark) -> dict[str, float]:
    """E2E-1/2 (BASELINE.md): CDC snapshot, batch and streaming."""
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.sources.cdc import cdc_events_nested
    from snowflake_cdc_spark.streaming.pipeline import CdcPipeline

    out: dict[str, float] = {}
    with tempfile.TemporaryDirectory() as work:
        raw = f"{work}/raw"
        cdc_events_nested(spark, SF_DIR).withColumn(
            "__c", F.col("seq") % 8
        ).repartition(8, "__c").drop("__c").write.parquet(raw)

        spec = [
            PipelineSpec(
                full_table_name="tpch.orders",
                use_synthetic_key=True,
                delete_strategy=DeleteStrategy.HARD,
            )
        ]
        t0 = time.perf_counter()
        CdcPipeline(spark, spec, ParquetSnapshotSink(f"{work}/snap_b")).run_batch(raw)
        out["e2e_cdc_batch"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        q = CdcPipeline(spark, spec, ParquetSnapshotSink(f"{work}/snap_s")).start_stream(
            raw, checkpoint=f"{work}/ckpt", available_now=True
        )
        q.awaitTermination(600)
        out["e2e_cdc_stream"] = time.perf_counter() - t0
    return out


def main() -> None:
    from snowflake_cdc_spark.queries import oracle_sql, queries
    from snowflake_cdc_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=int(CPUS))
    warm_session(spark)

    results: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, fn in sorted(queries().items()):
        try:
            # label jobs (guide §1.5) so event logs / the UI map back to
            # queries — metadata only, no effect on timing
            spark.sparkContext.setJobDescription(name)
            results[name] = round(time_df(lambda: fn(spark, SF_DIR)), 3)
        except Exception as e:  # keep benching; report the failure
            failures[name] = str(e).split("\n")[0][:200]
        finally:
            # operators persist() intermediates; drop them so queries are
            # timed independently instead of competing for cache memory
            clear_between_queries(spark)
    try:
        e2e_runs = [bench_cdc_e2e(spark) for _ in range(min(RUNS, 2))]
        results.update(
            {
                k: round(min(r[k] for r in e2e_runs), 3)
                for k in e2e_runs[0]
            }
        )
    except Exception as e:
        failures["e2e_cdc"] = str(e).split("\n")[0][:200]

    full_payload = {
        "metric": "sec_per_query_total",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(results),
        "oracle_backed": len(oracle_sql()),
        "cpus": int(CPUS),
    }
    if failures:
        full_payload["failures"] = failures
    # Full per-query map to disk — the driver's stdout tail window is
    # ~2000 chars and the 120+-entry map is ~4KB (BENCH_r01/r02 both
    # stored a front-truncated line -> parsed:null). Also echo it on an
    # EARLIER stdout line for humans reading the raw log.
    results_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_queries.json")
    with open(results_path, "w") as f:
        json.dump(full_payload, f, separators=(",", ":"))
    sys.stdout.write(json.dumps(full_payload, separators=(",", ":")) + "\n")
    # One JSON line PER QUERY (round 12, additions-only): the driver's
    # stdout tail window is a few KB, so the giant map line above never
    # parses from the tail — these short lines let any tail capture
    # recover the last ~100 per-query numbers line-by-line. The map file
    # and the final summary line below are unchanged.
    for name in sorted(results):
        sys.stdout.write(
            json.dumps({"query": name, "sec": results[name]}, separators=(",", ":"))
            + "\n"
        )
    for name in sorted(failures):
        sys.stdout.write(
            json.dumps({"query": name, "error": failures[name]}, separators=(",", ":"))
            + "\n"
        )
    # FINAL line = summary only (a few hundred bytes, always fits the
    # tail window). The per-query map lives in bench_queries.json.
    summary = {
        "metric": "sec_per_query_total",
        "value": full_payload["value"],
        "unit": "sec",
        "sf": full_payload["sf"],
        "n_queries": len(results),
        "n_failures": len(failures),
        "oracle_backed": full_payload["oracle_backed"],
        "cpus": int(CPUS),
        "results_path": "bench_queries.json",
    }
    sys.stdout.flush()
    sys.stdout.write("\n" + json.dumps(summary, separators=(",", ":")) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())

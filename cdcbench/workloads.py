"""The benchmark's workloads. Each is a closed loop with one caller: the
next batch (or query) starts only after the previous one returned.

Every workload returns a ``Result``: its set-up time, one latency per
timed operation, the CPU time and the work those operations took, the
operations attempted and failed, and, on a traced run, the per-layer
metrics.

The number of timed operations follows from ``--seconds`` at a nominal
rate measured on a 4-core box, not from the speed of the run at hand, so
every run does the same work however busy the host is.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

from loadgen import AMOUNT_MAX, LoadGen, Mix, land
from oracle import SNAPSHOT_COLS, expected_snapshot, registry_mismatch, snapshot_mismatches, violating_rows
from spans import Layers, Tracer

# cdc_pipeline: a big table, whose merge rewrites its whole snapshot to
# apply a small batch, and a small table, whose cost is the fixed
# per-table work; both share one DQ-gated envelope stream
BIG_TABLE = "orders"
BIG_BASE_ROWS = 100_000
BIG_BATCH_ROWS = 2_000
SMALL_TABLE = "t01"
SMALL_BASE_ROWS = 10_000
SMALL_BATCH_ROWS = 2_000
MIX = Mix(violate=0.001)
GATE = (0.0, AMOUNT_MAX)
WARM = 1  # untimed batches after the base load; JIT and plan caches settle
READS = 3  # point lookup + full aggregate of the big table, after the stream
# maintenance every third batch, not the default tenth, so that each run
# has the same whole number of maintenance turns among its timed batches
MAINTENANCE_EVERY = 3
NOMINAL_BATCH_S = 3.0  # wall time of one timed stream batch, 4 cores
# registry_core: q179 exercises two registry levers at once, the
# checkpoint posture (an eager checkpoint of the edge set) and cached-plan
# loops (a persisted relation per peel round)
REGISTRY_QUERIES = ("q179_kcore",)
WARM_PASSES = 2  # after the first, oracle-checked pass
NOMINAL_PASS_S = 2.5  # wall time of one timed pass, 4 cores
MIN_PASSES = 4


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    event_dir: str | None  # set on a traced run


@dataclass
class Result:
    setup_s: float  # wall time
    latencies: list[float]  # one per timed operation
    work: float  # change rows (CDC) or queries (registry) completed
    wall_s: float  # wall time the work took
    cpu_s: float = 0.0  # CPU time the work took, see cpu_seconds
    # CPU time of the process tree, the JIT's included, when set-up ended:
    # set-up is where a young JVM compiles
    setup_cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    gauges: list[dict] = field(default_factory=list)  # after every batch
    # per-layer metrics of a traced run, computed once the session has
    # stopped and the event log is complete
    layers_fn: object = None
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])


def _gauges(spark) -> dict:
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    return {
        "persistent_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "jvm_heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }


class _GaugeListener(StreamingQueryListener):
    """Samples ``_gauges`` and the run's CPU time so far (``cpu_s``)
    after every stream batch."""

    def __init__(self, spark, out: list):
        self.spark, self.out = spark, out

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.out.append(dict(_gauges(self.spark), cpu_s=cpu_seconds()))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def cpu_seconds(jit: bool = False) -> float:
    """CPU time (user + system) of this process and every process below
    it -- the JVM and its Python workers, plus children already reaped --
    less the time of the JVM's JIT compiler threads unless ``jit``.

    When other tenants of a shared host take CPU from the run, this moves
    about a third as much as wall time does: over five registry runs on a
    busy 4-core VM the quartile spread was 8% for CPU time and 24% for
    wall time. The JIT's share is left out because it is warm-up of a
    young JVM, not work of the program, and it swings most: on the same
    VM it falls from over half of a registry pass's CPU time to a quarter
    over the first dozen passes, in bursts. ``run.py`` keeps the compiler
    threads alive for the whole run, so their time stays countable."""
    ticks = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat(f"/proc/{pid}/stat")
            if f:
                parent[int(pid)] = int(f[1])
                cpu[int(pid)] = sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, t in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        if jit:
            continue
        tids = []
        with contextlib.suppress(OSError):  # ended while we looked
            tids = os.listdir(f"/proc/{pid}/task")
        for tid in tids:
            if _comm(f"/proc/{pid}/task/{tid}").startswith(("C1 CompilerThre", "C2 CompilerThre")):
                f = _stat(f"/proc/{pid}/task/{tid}/stat")
                if f:
                    total -= int(f[11]) + int(f[12])
    return total / ticks


def _comm(path: str) -> str:
    try:
        with open(f"{path}/comm") as fh:
            return fh.read()
    except OSError:  # ended while we looked
        return ""


def _stat(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # ended while we looked
        return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _local(uri: str) -> str:
    return uri[len("file:") :] if uri.startswith("file:") else uri


def _final_state(spark, sink) -> tuple[object, int, int]:
    """The current generation of every table as one Arrow table with a
    ``t`` column, plus the number and bytes of the files it is read from."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.engine import GenerationView

    view = GenerationView(spark, sink)
    parts, files = [], set()
    for name in view.tables():
        df = view.table(name)
        files.update(_local(f) for f in df.inputFiles())
        parts.append(
            df.select(F.lit(name.lower()).alias("t"), *SNAPSHOT_COLS).toArrow()
        )
    live_bytes = sum(os.path.getsize(f) for f in files)
    return pa.concat_tables(parts), len(files), live_bytes


def _check_store(ctx: Ctx, res: Result, sink, files: list[str], gate=None) -> dict:
    """Final generation vs the DuckDB oracle over every landed change."""
    con = duckdb.connect()
    actual, n_files, live_bytes = _final_state(ctx.spark, sink)
    expected = expected_snapshot(con, files, gate)
    bad = snapshot_mismatches(expected, actual)
    res.attempted += 1
    if bad:
        res.fail(f"final generation differs from the oracle in {bad} rows")
    return {
        "rows": actual.num_rows,
        "current_files": n_files,
        "store_bytes_per_live_byte": _dir_bytes(sink.root) / live_bytes,
    }


def _cdc_layers(ctx, res, timed: set[int], batches: dict, pipe, sink_stats, extra) -> dict:
    """Per-layer metrics of the CDC workload: per timed batch, except the
    reads (per read) and the store gauges (at the end)."""
    lay = Layers(ctx.tracer, ctx.event_dir)
    n = len(timed)
    big = BIG_TABLE.upper()
    merges = lay.spans("parquet_sink.merge", timed)
    small_merges = [s for s in merges if s.tag != big]
    mc = lay.counters(merges)
    big_c = lay.counters([s for s in merges if s.tag == big])
    small_c = lay.counters(small_merges)
    mbc = lay.counters(lay.spans("pipeline.materialize_batch", timed))
    reads = lay.spans("engine.generation_view.read")
    changed = sum(batches[b].rows for b in timed)
    removed = sum(len(e[3]) for e in pipe.maintenance_events if e[1] in timed)
    per_batch = {
        "parquet_sink.merge.s": lay.seconds("parquet_sink.merge", timed),
        "parquet_sink.merge.self_s": lay.self_seconds("parquet_sink.merge", timed),
        "parquet_sink.merge.big_table_s": sum(s.seconds for s in merges if s.tag == big),
        "parquet_sink.merge.big_table_rows_written": big_c["rows_written"],
        "parquet_sink.overwrite.s": lay.seconds("parquet_sink.overwrite", timed),
        "parquet_sink.compact.s": lay.seconds("parquet_sink.compact", timed),
        "parquet_sink.compact.bytes_written": lay.counters(lay.spans("parquet_sink.compact", timed))["bytes_written"],
        "parquet_sink.vacuum.s": lay.seconds("parquet_sink.vacuum", timed),
        "parquet_sink.vacuum.versions_removed": removed,
        "parquet_sink.prune_generations.s": lay.seconds("parquet_sink.prune_generations", timed),
        "parquet_sink.publish_generation.s": lay.seconds("parquet_sink.publish_generation", timed),
        "pipeline.materialize_batch.s": lay.seconds("pipeline.materialize_batch", timed),
        "pipeline.materialize_batch.self_s": lay.self_seconds("pipeline.materialize_batch", timed),
        "pipeline.transform.calls": len(lay.spans("pipeline.transform", timed)),
        "pipeline.transform.build_s": lay.seconds("pipeline.transform", timed),
        "pipeline.jobs_per_batch": mbc["jobs"],
        "pipeline.tasks_per_batch": mbc["tasks"],
        "expectations.row_gate.s": lay.seconds("expectations.row_gate", timed),
        "upsert.latest_by_key.calls": len(lay.spans("upsert.latest_by_key", timed)),
        "upsert.latest_by_key.build_s": lay.seconds("upsert.latest_by_key", timed),
    }
    per_batch.update(
        {f"parquet_sink.merge.{k}": mc[k] for k in ("rows_read", "rows_written", "bytes_written", "shuffle_bytes", "spill_bytes", "gc_s")}
    )
    out = {k: v / n for k, v in per_batch.items()}
    out.update(
        {
            "parquet_sink.merge.max_task_s": mc["max_task_s"],
            "parquet_sink.merge.small_table_s": sum(s.seconds for s in small_merges) / len(small_merges),
            "parquet_sink.merge.small_table_rows_written": small_c["rows_written"] / len(small_merges),
            "parquet_sink.merge.useful_ratio": changed / mc["rows_written"],
            "parquet_sink.write_amp": mc["bytes_written"] / sum(batches[b].bytes for b in timed),
            "parquet_sink.current_files": sink_stats["current_files"],
            "parquet_sink.store_bytes_per_live_byte": sink_stats["store_bytes_per_live_byte"],
            "pipeline.jobs_per_table": mbc["jobs"] / n / len(pipe.specs),
            "engine.generation_view.read.s": sum(s.seconds for s in reads) / len(reads),
            "engine.generation_view.read.bytes_read": lay.counters(reads)["bytes_read"] / len(reads),
        }
    )
    out.update(extra)
    res.detail["self_time"] = lay.self_time_table()
    return out


def _read_and_check(ctx: Ctx, res: Result, sink, model, rng) -> tuple[float, int]:
    """Point lookup plus full aggregate through ``GenerationView``,
    checked against the generator's model. Returns (seconds, files)."""
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.engine import GenerationView

    live = model.live_ids()
    key = int(live[rng.integers(0, len(live))])
    res.attempted += 1
    t0 = time.perf_counter()
    with ctx.tracer.span("engine.generation_view.read"):
        df = GenerationView(ctx.spark, sink).table(model.name.upper())
        row = df.filter(F.col("id") == key).select(*SNAPSHOT_COLS).collect()
        agg = df.agg(F.count(F.lit(1)), F.sum("amount")).collect()[0]
    seconds = time.perf_counter() - t0
    n, total = model.count_and_sum()
    got = [tuple(r) for r in row]
    if got != [model.row(key)] or agg[0] != n or not math.isclose(agg[1], total, rel_tol=1e-9):
        res.fail(f"read: {got} {tuple(agg)} vs {model.row(key)} {(n, total)}")
    files = len(df.inputFiles()) if ctx.tracer.enabled else 0
    return seconds, files


def cdc_pipeline(ctx: Ctx) -> Result:
    from snowflake_cdc_spark.operators.expectations import in_range
    from snowflake_cdc_spark.plans.spec import PipelineSpec
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.streaming.pipeline import CdcPipeline, MaintenancePolicy

    spark, tracer = ctx.spark, ctx.tracer
    gen = LoadGen(ctx.seed, [BIG_TABLE, SMALL_TABLE])
    specs = [PipelineSpec(f"bench.{n}", key_columns=["id"]) for n in gen.models]
    quarantine = os.path.join(ctx.work, "quarantine")
    sink = ParquetSnapshotSink(os.path.join(ctx.work, "store"))
    pipe = CdcPipeline(
        spark,
        specs,
        sink,
        fail_on_write_error=False,
        quarantine_dir=quarantine,
        dq_expectations={s.target_table: [in_range("amount", *GATE)] for s in specs},
        maintenance=MaintenancePolicy(every_n_batches=MAINTENANCE_EVERY),
    )
    res = Result(0.0, [], 0, 0.0)
    stream_dir = os.path.join(ctx.work, "landing")
    batches: dict[int, object] = {}

    counts = {BIG_TABLE: BIG_BATCH_ROWS, SMALL_TABLE: SMALL_BATCH_ROWS}

    def land_next(directory: str) -> object:
        i = len(batches)
        b = batches[i] = land(gen.batch(counts, MIX), directory, i)
        os.utime(b.path, (1_000_000 + i, 1_000_000 + i))  # stream order
        return b

    with tracer.instrument(pipe, sink):
        t0 = time.perf_counter()
        base = land(
            gen.batch({BIG_TABLE: BIG_BASE_ROWS, SMALL_TABLE: SMALL_BASE_ROWS}, None),
            os.path.join(ctx.work, "base"),
            0,
        )
        # the base load and the warm-up batches run in batch mode, with
        # negative ids that no stream batch (0, 1, ...) can collide with
        t_base = time.perf_counter()
        pipe.materialize_batch(spark.read.parquet(base.path), -1)
        res.detail["base_load_s"] = time.perf_counter() - t_base
        warm_s = res.detail["warm_batch_s"] = []
        for i in range(WARM):
            b = land_next(os.path.join(ctx.work, "warm"))
            t = time.perf_counter()
            pipe.materialize_batch(spark.read.parquet(b.path), -2 - i)
            warm_s.append(time.perf_counter() - t)
        # whole maintenance periods, so every run has the same share of
        # turns, and enough of them to fill the run
        periods = max(1, round(ctx.seconds / (NOMINAL_BATCH_S * MAINTENANCE_EVERY)))
        timed = set(range(periods * MAINTENANCE_EVERY))
        stream_batches = {i: land_next(stream_dir) for i in sorted(timed)}
        res.setup_s = time.perf_counter() - t0
        res.setup_cpu_s = cpu_seconds(jit=True)

        listener = _GaugeListener(spark, res.gauges)
        spark.streams.addListener(listener)
        t0 = time.perf_counter()
        c0 = cpu_seconds()
        try:
            with tracer.span("pipeline.stream"):
                q = pipe.start_stream(
                    stream_dir,
                    os.path.join(ctx.work, "checkpoint"),
                    available_now=True,
                    max_files_per_trigger=1,
                )
                if not q.awaitTermination(150):
                    q.stop()
                    res.fail("stream did not finish in 150 s")
        finally:
            res.wall_s = time.perf_counter() - t0
            res.cpu_s = cpu_seconds() - c0
            spark.streams.removeListener(listener)
        if q.exception() is not None:
            res.fail(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        res.latencies = [p.durationMs["triggerExecution"] / 1000 for p in progress]
        res.work = sum(p.numInputRows for p in progress)
        res.attempted += 1 + len(batches)
        res.failed += len(timed) - len(progress)
        for table, batch, err in pipe.write_errors:
            res.fail(f"{table} batch {batch}: {err}")

        read_rng = np.random.default_rng(ctx.seed + 1)
        reads = [
            _read_and_check(ctx, res, sink, gen.models[BIG_TABLE], read_rng)
            for _ in range(READS)
        ]

    files = [base.path] + [b.path for b in batches.values()]
    stats = _check_store(ctx, res, sink, files, GATE)
    con = duckdb.connect()
    want_q = violating_rows(con, files, GATE)
    q_files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(quarantine) for f in fs if f.endswith(".parquet")
    )
    got_q = con.sql(f"SELECT count(*) FROM read_parquet({q_files!r})").fetchone()[0] if q_files else 0
    res.attempted += 1
    if got_q != want_q:
        res.fail(f"quarantined {got_q} rows, oracle counts {want_q} violating rows")
    res.detail.update(
        tables={t: len(m.live_ids()) for t, m in gen.models.items()},
        timed_batches=sorted(timed),
        batch_rows=stream_batches[0].rows,
        read_latency_p50_s=statistics.median(r[0] for r in reads),
        maintenance_batches=sorted({e[1] for e in pipe.maintenance_events}),
        quarantined_rows=got_q,
        **stats,
    )
    if tracer.enabled:
        in_timed = [f for f in q_files if any(f"/dq_batch={i}/" in f for i in timed)]
        quarantined = (
            con.sql(f"SELECT count(*) FROM read_parquet({in_timed!r})").fetchone()[0] if in_timed else 0
        )
        mb = sum(s.seconds for s in tracer.spans if s.name == "pipeline.materialize_batch" and s.batch in timed)
        res.layers_fn = lambda: _cdc_layers(
            ctx, res, timed, stream_batches, pipe, stats,
            {
                "pipeline.stream_overhead_s": (res.wall_s - mb) / len(timed),
                "expectations.rows_in": sum(stream_batches[i].rows for i in timed) / len(timed),
                "expectations.rows_quarantined": quarantined / len(timed),
                "engine.generation_view.read.files_scanned": statistics.mean(r[1] for r in reads),
            },
        )
    return res


def registry_core(ctx: Ctx) -> Result:
    from bench import clear_between_queries
    from regdata import generate

    from snowflake_cdc_spark.queries import oracle_sql, queries

    spark, tracer = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "registry")
    res = Result(0.0, [], 0, 0.0)
    fns = queries()
    collected = {}

    def run_pass(pass_id: int, collect: bool = False) -> tuple[float, float]:
        """Build and run every query once; the wall and CPU seconds the
        queries took."""
        total = cpu = 0.0
        for q in REGISTRY_QUERIES:
            res.attempted += 1
            t, c = time.perf_counter(), cpu_seconds()
            try:
                with tracer.span(f"registry.{q}.build", pass_id):
                    df = fns[q](spark, data)
                with tracer.span(f"registry.{q}.action", pass_id):
                    if collect:
                        collected[q] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                res.fail(f"{q}: {e}")
            total += time.perf_counter() - t
            cpu += cpu_seconds() - c
            clear_between_queries(spark)  # GC outside the next query's time
        return total, cpu

    t0 = time.perf_counter()
    generate(ctx.seed, data)
    # set-up: a first pass that keeps the rows for the oracle check, then
    # warm passes until JIT and plan caches settle; negative pass ids keep
    # their spans out of the per-layer metrics
    warm = [run_pass(-1, collect=True)] + [run_pass(-2 - i) for i in range(WARM_PASSES)]
    res.setup_s = time.perf_counter() - t0
    res.setup_cpu_s = cpu_seconds(jit=True)
    res.detail["warm_pass_s"] = [w for w, _ in warm]

    passes = max(MIN_PASSES, round(ctx.seconds / NOMINAL_PASS_S))
    cpu = []
    for i in range(passes):
        wall_s, cpu_s = run_pass(i)
        res.latencies.append(wall_s)
        cpu.append(cpu_s)
        res.gauges.append(_gauges(spark))
    res.cpu_s = sum(cpu)
    res.detail["cpu_pass_s"] = [round(c, 3) for c in cpu]
    res.work = passes * len(REGISTRY_QUERIES)
    res.wall_s = sum(res.latencies)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{data}/lineitem.parquet')")
    oracles = oracle_sql()
    for q, (cols, rows) in collected.items():
        why = registry_mismatch(con, oracles[q], cols, rows)
        if why:
            res.fail(f"{q}: {why}")
    res.detail.update(queries=REGISTRY_QUERIES, passes=passes)
    if tracer.enabled:
        res.layers_fn = lambda: _registry_layers(ctx, res, passes)
    return res


def _registry_layers(ctx: Ctx, res: Result, passes: int) -> dict:
    lay = Layers(ctx.tracer, ctx.event_dir)
    timed = set(range(passes))
    out = {}
    for q in REGISTRY_QUERIES:
        c = lay.counters(lay.spans(f"registry.{q}.build", timed) + lay.spans(f"registry.{q}.action", timed))
        out.update(
            {
                f"registry.{q}.build_s": lay.seconds(f"registry.{q}.build", timed) / passes,
                f"registry.{q}.action_s": lay.seconds(f"registry.{q}.action", timed) / passes,
                f"registry.{q}.jobs": c["jobs"] / passes,
                f"registry.{q}.tasks": c["tasks"] / passes,
                f"registry.{q}.max_task_s": c["max_task_s"],
                f"registry.{q}.shuffle_bytes": c["shuffle_bytes"] / passes,
                f"registry.{q}.spill_bytes": c["spill_bytes"] / passes,
                f"registry.{q}.gc_s": c["gc_s"] / passes,
            }
        )
    res.detail["self_time"] = lay.self_time_table()
    return out


WORKLOADS = {"cdc_pipeline": cdc_pipeline, "registry_core": registry_core}

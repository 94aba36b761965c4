"""CdcPipeline — demux → flatten → upsert-materialize, batch or streaming.

The per-batch function is shared verbatim between batch mode and
Structured Streaming ``foreachBatch`` (SURVEY.md §7 step 3/4): batch is
trivially debuggable, streaming reuses the exact same code under a
checkpoint, and the two are asserted identical by the parity test.

Fan-out strategy (K6, SURVEY.md §4 #4): ONE stream + one foreachBatch that
loops over the N table specs against a persisted batch — not N concurrent
queries — so a 500-table source costs one source scan and one checkpoint
per micro-batch. The reference loops table-by-table at the control plane
only (add_output.py:540-561); data-plane fan-out is per micro-batch here.

Scale posture:
- the batch is ``persist()``-ed before the per-table loop (each table's
  filter re-reads memory, not the source);
- each table's changes reach the sink merge unreduced: the merge's one
  latest-by-key over ``current ∪ changes`` plans a partial ``max_by``
  before its shuffle, which is the map-side combine;
- demux filter is a pushed-down equality predicate on
  ``full_table_name`` (P1), so with a source partitioned by table the
  scan prunes to that table's files;
- a table costs at most three Spark jobs per batch: the DQ gate's
  quarantine write, which counts its rows through ``observe`` inside
  the same job, and the merge's map and result stages. The sink reads
  back the version it committed with the schema it remembers, so there
  is no schema-inference job, and a maintenance turn compacts only a
  table that is over ``target_files`` files or z-ordered.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from snowflake_cdc_spark.functions.strings import actual_full_table_name
from snowflake_cdc_spark.operators.flatten import expand_struct
from snowflake_cdc_spark.operators.upsert import latest_by_key
from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec, StartPosition
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.streaming.metrics import BatchRecord


@dataclass(frozen=True)
class MaintenancePolicy:
    """Automatic snapshot maintenance: every micro-batch merge commits
    one new snapshot version, so an unattended stream grows an unbounded
    version history. This policy runs ``prune_generations``, ``compact``
    and ``vacuum`` every ``every_n_batches`` batches inside the same
    foreachBatch that did the merges (no separate scheduler, and the
    stream's exactly-once story is untouched: compaction rewrites
    identical data and vacuum only drops non-current versions).

    Each merge already rewrites its whole table into AQE-coalesced
    files, so compaction does not fight small-file decay. It coalesces
    a current version with more than ``target_files`` part files, and
    restores z-order clustering. A table with neither is left as it is
    (``ParquetSnapshotSink.compact``'s no-op rule), and a turn that moves
    no table's version publishes no new generation.

    ``zorder_by``: optional per-target-table cluster columns — the
    every-N compaction is exactly where Z-order clustering is restored
    (merges append in arrival order, so clustering decays batch over
    batch; see ``ParquetSnapshotSink.compact``)."""

    every_n_batches: int = 10
    target_files: int = 8
    keep_versions: int = 2
    zorder_by: dict[str, list[str]] | None = None
    # generation-manifest retention (VERDICT r09 #2): manifests older
    # than the newest ``keep_generations`` committed ones are pruned in
    # the same maintenance turn, BEFORE vacuum — so vacuum's pin set
    # (every version any retained manifest references) shrinks with
    # retention instead of growing by one manifest per micro-batch.
    # Reads of a pruned generation raise GenerationRetentionError.
    # 0 turns pruning off.
    keep_generations: int = 8

    def __post_init__(self) -> None:
        # config files build this policy (plans/config.py); a bad value
        # would otherwise surface only after a batch's merges and publish,
        # where a restarted stream replays into it again
        for name, low in (
            ("every_n_batches", 1),
            ("target_files", 1),
            ("keep_versions", 1),
            ("keep_generations", 0),
        ):
            if getattr(self, name) < low:
                raise ValueError(
                    f"MaintenancePolicy.{name} must be >= {low} (got {getattr(self, name)})"
                )


class CdcPipeline:
    """Materialize one multiplexed CDC envelope stream into per-table
    snapshots according to a list of PipelineSpecs."""

    def __init__(
        self,
        spark: SparkSession,
        specs: list[PipelineSpec],
        sink: ParquetSnapshotSink,
        fail_on_write_error: bool = True,
        quarantine_dir: str | None = None,
        dq_expectations: dict[str, list] | None = None,
        maintenance: MaintenancePolicy | None = None,
        convergence=None,
    ) -> None:
        """``fail_on_write_error`` mirrors the reference's
        ``failOnWriteError: True`` default (add_output.py:115): a failing
        table merge aborts the batch (and the stream). The permissive mode
        writes the failed table's changes to ``quarantine_dir`` and keeps
        the remaining tables flowing — one poisoned table must not stall
        the other 499 at scale. The policy covers every failure a batch
        can absorb: merge, quarantine write, convergence monitor,
        generation publish and prune, and maintenance. In permissive mode
        each one lands in its table's ``BatchRecord.errors``
        (``CdcPipeline.records``; ``write_errors`` lists them all).

        ``dq_expectations`` (S5 extension, ``operators/expectations.py``):
        per-target-table row-level expectations gating the flattened
        change rows BEFORE the latest-by-key reduce — violating rows are
        diverted to ``quarantine_dir/<table>/dq_batch=<id>`` and never
        reach the merge. Delete events are exempt (their after-image is
        legitimately NULL). Gating requires ``quarantine_dir``: a quality
        gate that silently drops rows is a data-loss bug, not a policy.

        ``convergence`` (``streaming/convergence.py``): when set, every
        successful table merge is followed by a snapshot-to-snapshot
        ``table_diff`` of the versions the merge moved between, appended
        to the monitor's ledger — the per-batch adds/removes/changed
        observability surface. Monitor failures follow
        ``fail_on_write_error`` (observability must not take a
        permissive stream down)."""
        if dq_expectations and not quarantine_dir:
            raise ValueError(
                "dq_expectations requires quarantine_dir — gated rows are "
                "diverted, never silently dropped"
            )
        if (
            convergence is not None
            and maintenance is not None
            and maintenance.keep_versions < 2
        ):
            # The monitor diffs the pre-merge snapshot (read_version of
            # the FROM version) against the post-merge one; with
            # keep_versions=1 vacuum drops every non-current version, so
            # the first post-maintenance batch dies mid-stream on a
            # FileNotFoundError under fail_on_write_error. Fail at wiring
            # time instead (ADVICE r07).
            raise ValueError(
                "ConvergenceMonitor requires MaintenancePolicy."
                "keep_versions >= 2: the monitor re-reads the pre-merge "
                f"snapshot version (got keep_versions={maintenance.keep_versions})"
            )
        self.spark = spark
        self.specs = specs
        self.sink = sink
        self.fail_on_write_error = fail_on_write_error
        self.quarantine_dir = quarantine_dir
        self.dq_expectations = dq_expectations or {}
        self.maintenance = maintenance
        self.convergence = convergence
        # one per (materialize_batch call, table), appended before the
        # table's merge runs, plus a "_generation" one when publish or
        # prune failed
        self.records: list[BatchRecord] = []
        self._batches_applied = 0

    @property
    def write_errors(self) -> list[tuple[str, int, str]]:
        """``(table, batch_id, error)`` for every error in ``records``."""
        return [(r.table, r.batch_id, e) for r in self.records for e in r.errors]

    @property
    def maintenance_events(self) -> list[tuple[str, int, int, list[int]]]:
        """``(table, batch_id, compacted_version, vacuumed_versions)`` for
        every completed maintenance turn in ``records``."""
        return [
            (r.table, r.batch_id, r.compacted_version, r.vacuumed)
            for r in self.records
            if r.vacuumed is not None
        ]

    @contextlib.contextmanager
    def _policy(self, rec: BatchRecord, what: str | None = None):
        """``fail_on_write_error``: re-raise a failure of the block, or
        record it on ``rec`` and carry on."""
        try:
            yield
        except Exception as e:  # noqa: BLE001 - policy decides
            if self.fail_on_write_error:
                raise
            rec.errors.append(f"{what}: {e}" if what else str(e))

    # ---- per-table transform (pure, testable) ---------------------------

    def transform(self, events: DataFrame, spec: PipelineSpec) -> DataFrame:
        """envelope events → flat change rows for one table.

        Filter on the shard-merged table identity (README.md:29-31), then
        star-expand ``data.row`` (README.md:34) plus the key/seq/delete
        metadata columns.
        """
        if spec.merge_shards:
            ident = actual_full_table_name(
                F.col("data.database_name"), F.col("data.table_name")
            )
        else:
            ident = F.col("data.full_table_name")
        filtered = events.filter(ident == F.lit(spec.full_table_name))
        # S2 AtTime replay horizon, PER SPEC: each table in a shared
        # pipeline can start from its own timestamp (a global filter would
        # silently truncate INPUT_START tables sharing the stream)
        if (
            spec.start_position is StartPosition.AT_TIME
            and spec.start_time is not None
            and spec.event_time_column
        ):
            filtered = filtered.filter(
                F.col(spec.event_time_column) >= F.lit(spec.start_time)
            )

        keep = [
            F.col("data.primary_key").alias("primary_key"),
            F.col(spec.seq_column).alias("seq"),
            F.coalesce(F.col("data.metadata.is_delete"), F.lit(False)).alias("is_delete"),
        ]
        # Natural-key columns must survive deletes: a delete event's
        # after-image (data.row) is NULL, so each key falls back to the
        # before-image — otherwise a delete groups under a NULL key and
        # never beats its own insert in the latest-by-key race.
        keep += [
            F.col(f"data.old_row.{k}").alias(f"__old_{k}") for k in spec.key_columns
        ]
        flat = expand_struct(filtered, "data.row", "", keep=keep)
        if spec.columns is not None:
            flat = flat.select(
                "primary_key", "seq", "is_delete",
                *[F.col(f"__old_{k}").alias(f"__old_{k}") for k in spec.key_columns],
                *[F.col(src).alias(dst) for src, dst in spec.columns],
            )
        cols_ci = {c.lower() for c in flat.columns}
        for k in spec.key_columns:
            # identifiers are case-insensitive (catalog.py); a Python
            # case-sensitive membership test here would silently skip the
            # coalesce when catalog casing differs from the data's
            if k.lower() in cols_ci:
                flat = flat.withColumn(k, F.coalesce(F.col(k), F.col(f"__old_{k}")))
        flat = flat.drop(*[f"__old_{k}" for k in spec.key_columns])
        if spec.extra_key_column is not None:  # E4 (add_output.py:9-18)
            name, value = spec.extra_key_column
            flat = flat.withColumn(name, F.lit(value))
        return flat

    def _key_cols(self, spec: PipelineSpec) -> list[str]:
        keys = (
            ["primary_key"]  # K2 (add_output.py:132-136)
            if spec.use_synthetic_key or not spec.key_columns
            else list(spec.key_columns)
        )
        if spec.extra_key_column is not None:
            keys.append(spec.extra_key_column[0])
        return keys

    def _merge(
        self, spec: PipelineSpec, df: DataFrame, prefer_incoming_on_tie: bool = False
    ) -> int:
        """Merge ``df`` (flat change rows) into ``spec``'s table through the
        sink's seq-guarded merge; returns the committed version."""
        return self.sink.merge(
            df,
            spec.target_table,
            key_cols=self._key_cols(spec),
            seq_col="seq",
            delete_col="is_delete",
            hard_delete=spec.delete_strategy is DeleteStrategy.HARD,
            logical_col=spec.logical_delete_col,
            prefer_incoming_on_tie=prefer_incoming_on_tie,
        )

    # ---- the shared micro-batch function --------------------------------

    def materialize_batch(
        self,
        events: DataFrame,
        batch_id: int = 0,
        prefer_incoming_on_tie: bool = False,
    ) -> None:
        """Apply one batch of envelope events to every table snapshot.
        ``prefer_incoming_on_tie`` is set only by the E3 drift backfill,
        which replays already-applied seqs carrying new columns; normal
        batches leave it off so redeliveries can never regress a row."""
        recs: list[BatchRecord] = []
        events = events.persist()
        try:
            for spec in self.specs:
                rec = BatchRecord(spec.target_table, batch_id)
                self.records.append(rec)
                recs.append(rec)
                changes = self.transform(events, spec)
                exps = self.dq_expectations.get(spec.target_table)
                if exps:
                    from snowflake_cdc_spark.operators.expectations import row_gate

                    changes, bad = row_gate(
                        changes, exps, exempt=F.col("is_delete")
                    )
                    # one job: the write counts its own rows. The
                    # observation is complete once the write returned;
                    # an empty write leaves no dq_batch directory
                    seen = Observation()
                    path = f"{self.quarantine_dir}/{spec.target_table}/dq_batch={batch_id}"
                    bad.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode(
                        "overwrite"
                    ).parquet(path)
                    rec.rows_quarantined = seen.get["rows"]
                    if not rec.rows_quarantined:
                        shutil.rmtree(path)
                with self._policy(rec):
                    t0 = time.perf_counter()
                    rec.from_version = self.sink.current_version(spec.target_table)
                    rec.version = self._merge(spec, changes, prefer_incoming_on_tie)
                    rec.merge_s = round(time.perf_counter() - t0, 3)
                if rec.version is None:
                    if self.quarantine_dir:
                        # the quarantine write re-executes the failing
                        # plan; if the failure is in the data itself (not
                        # the sink), this raises again — and must not take
                        # the other tables (or the stream) down with it
                        with self._policy(rec, "quarantine failed"):
                            changes.write.mode("overwrite").parquet(
                                f"{self.quarantine_dir}/{spec.target_table}/batch={batch_id}"
                            )
                elif self.convergence is not None:
                    with self._policy(rec, "convergence monitor failed"):
                        self.convergence.record(
                            self.spark,
                            spec.target_table,
                            batch_id,
                            rec.from_version,
                            rec.version,
                            self._key_cols(spec),
                        )
        finally:
            events.unpersist()
        gen = BatchRecord("_generation", batch_id)
        self._publish_generation(gen)
        self._batches_applied += 1
        if (
            self.maintenance is not None
            and self._batches_applied % self.maintenance.every_n_batches == 0
        ):
            self._run_maintenance(recs, gen)
        if gen.errors:
            self.records.append(gen)

    def _publish_generation(self, gen: BatchRecord) -> None:
        """Atomic multi-table publish (VERDICT r08 #3): after every
        table's per-table merge, ONE generation manifest commits the
        batch's resulting versions, so a reader using the generation
        view (``sink.read_generation`` / ``read_store_consistent``)
        sees the whole batch or none of it — per-table ``_CURRENT``
        flips alone tear multi-table transactions between two tables'
        merges even when the applied cut was consistent. Failed tables
        (fail_on_write_error=False) enter the manifest at their
        unadvanced current version — still a consistent read of what
        the store actually holds."""
        with self._policy(gen):
            self.sink.publish_generation(
                {
                    spec.target_table: self.sink.current_version(spec.target_table)
                    for spec in self.specs
                    if self.sink.exists(spec.target_table)
                }
            )

    def read_store_consistent(self, spark=None) -> dict[str, DataFrame]:
        """Every target table at the current committed generation — the
        sink-side counterpart of ``snapshot_all_tables`` (that one cuts
        the LOG at a seq horizon; this one reads the STORE at a
        manifest commit). All-old or all-new under concurrent merges,
        never mixed."""
        return self.sink.read_all_at_generation(spark or self.spark)

    def at_generation(self, gen: int | None = None):
        """User-facing consistent-cut reader (VERDICT r09 #7):
        ``pipe.at_generation(g).table("ORDERS")`` — a frozen view of
        every table at the versions generation ``g`` pins (default: the
        current generation), stable under concurrent merges/publishes,
        readable for as long as retention keeps ``g``."""
        from snowflake_cdc_spark.engine import GenerationView

        return GenerationView(self.spark, self.sink, gen)

    def _run_maintenance(self, recs: list[BatchRecord], gen: BatchRecord) -> None:
        """Compact + vacuum every table snapshot (MaintenancePolicy).
        Runs inside the foreachBatch turn, after all merges: the stream
        is between commits, so no concurrent writer exists (the sink's
        CAS would catch one loudly if it did). Failures follow the
        ``fail_on_write_error`` policy — maintenance is a storage
        optimization and must not take a permissive stream down."""
        pol = self.maintenance
        moved = False
        if pol.keep_generations:
            # prune BEFORE vacuum: the versions old manifests pin become
            # vacuumable in the same turn (retention in lockstep)
            with self._policy(gen, "prune failed"):
                self.sink.prune_generations(keep_generations=pol.keep_generations)
        for rec in recs:
            if not self.sink.exists(rec.table):
                continue
            with self._policy(rec, "maintenance failed"):
                zo = (pol.zorder_by or {}).get(rec.table)
                before = self.sink.current_version(rec.table)
                v = self.sink.compact(
                    self.spark, rec.table, target_files=pol.target_files, zorder_by=zo
                )
                moved = moved or v != before
                removed = self.sink.vacuum(rec.table, keep_last=pol.keep_versions)
                rec.compacted_version, rec.vacuumed = v, removed
        if moved:
            # compaction advanced per-table versions: re-commit the
            # generation so consistent readers follow (vacuum pins the
            # previous generation's versions until this lands)
            self._publish_generation(gen)

    # ---- entry points ----------------------------------------------------

    def snapshot_all_tables(
        self, events: DataFrame, as_of_seq
    ) -> dict[str, DataFrame]:
        """Transactionally consistent cross-table cut (VERDICT r07 #3):
        every spec's snapshot AS OF one global sequence horizon — the
        reference's AtTime (add_output.py:260,666) generalized from
        per-output to cross-output. One ``seq <= S`` predicate on the
        shared envelope log means a multi-table transaction (rows
        sharing a seq) is visible everywhere or nowhere; per-table
        'latest' reads with differing watermarks tear such transactions
        (``operators/snapshot.py::torn_transactions`` counts them).
        ``events`` is the envelope relation (the raw zone read, or any
        bounded slice of it); each table pays one transform + filter +
        latest-by-key — no cross-table coordination, the horizon is a
        scalar."""
        from snowflake_cdc_spark.operators.upsert import (
            snapshot_hard_delete,
            snapshot_logical_delete,
        )

        out: dict[str, DataFrame] = {}
        for spec in self.specs:
            changes = self.transform(events, spec).filter(
                F.col("seq") <= F.lit(as_of_seq)
            )
            keys = self._key_cols(spec)
            if spec.delete_strategy is DeleteStrategy.HARD:
                snap = snapshot_hard_delete(changes, keys, "seq")
            else:
                snap = snapshot_logical_delete(
                    changes,
                    keys,
                    "seq",
                    logical_col=spec.logical_delete_col or "is_deleted",
                )
            out[spec.target_table] = snap
        return out

    def run_batch(self, source_path: str, event_time_col: str | None = None) -> None:
        """Bounded run over landed envelope events (backfill / tests).
        ``mergeSchema`` on: the raw zone may mix pre- and post-drift files.

        AtTime replay horizons (add_output.py:260,666) are applied per
        spec inside ``transform`` — ``event_time_col`` here is a
        convenience that fills any AT_TIME spec lacking one."""
        if event_time_col:
            for s in self.specs:
                if s.event_time_column is None:
                    s.event_time_column = event_time_col
        events = self.spark.read.option("mergeSchema", "true").parquet(source_path)
        self.materialize_batch(events)

    def start_stream(
        self,
        source_path: str,
        checkpoint: str,
        schema=None,
        available_now: bool = False,
        max_files_per_trigger: int | None = None,
        processing_time: str | None = None,  # override spec's minute cadence
    ) -> StreamingQuery:
        """Deploy (add_output.py:440-448 → writeStream.start()).

        ``available_now=True`` = bounded replay of everything landed
        (InputStart semantics with a clean shutdown); otherwise a
        continuous micro-batch stream with the spec's processing-time
        trigger (S6, outputInterval → trigger(processingTime=...)).
        Checkpointed offsets + the idempotent seq-guarded merge give
        effective exactly-once (SURVEY.md §2.8).
        """
        reader = self.spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        else:
            # schema-on-read for files: infer from what's landed, merged
            # over every file as ``run_batch`` reads it (one footer would
            # drop the columns a schema drift added)
            reader = reader.schema(
                self.spark.read.option("mergeSchema", "true").parquet(source_path).schema
            )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        events = reader.parquet(source_path)

        writer = events.writeStream.foreachBatch(self.materialize_batch).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=processing_time
                or f"{self.specs[0].output_interval_minutes} minutes"
            )
        return writer.start()


def replay_quarantine(
    pipeline: CdcPipeline,
    table: str,
    batch_ids: list[int] | None = None,
    kind: str = "dq",
) -> int:
    """Re-ingest quarantined rows after the upstream defect is fixed —
    the second half of the quarantine contract (diverting rows is only
    safe because they can come back). Reads
    ``quarantine_dir/<table>/dq_batch=<id>`` (``kind="dq"``: rows the DQ
    gate diverted) or ``batch=<id>`` (``kind="batch"``: a failed merge's
    change rows, permissive mode) and merges the rows
    through the NORMAL seq-guarded sink merge: replays are idempotent,
    and a quarantined change that was later superseded by a higher seq
    loses the merge race instead of regressing the row — so replaying
    late, twice, or out of order is all safe. Re-applies the table's
    CURRENT expectations first (a still-violating row stays quarantined;
    pass an empty expectation list via ``pipeline.dq_expectations`` to
    force-accept). Returns the number of rows merged.

    Quarantine contents always reflect PENDING work: after a successful
    merge each replayed partition is rewritten with only its
    still-violating rows (deleted outright when none remain), so a
    repeat call neither re-merges already-replayed rows nor
    double-counts them, and still-violating rows survive explicitly
    rather than by the accident of the original file persisting."""
    if not pipeline.quarantine_dir:
        raise ValueError("pipeline has no quarantine_dir")
    prefixes = {"dq": "dq_batch", "batch": "batch"}
    if kind not in prefixes:
        raise ValueError(f"kind must be 'dq' or 'batch' (got {kind!r})")
    prefix = prefixes[kind]
    spec = next((s for s in pipeline.specs if s.target_table == table), None)
    if spec is None:
        raise ValueError(
            f"{table!r} is not a target table of this pipeline "
            f"(targets: {sorted(s.target_table for s in pipeline.specs)})"
        )
    base = f"{pipeline.quarantine_dir}/{table}"
    spark = pipeline.spark
    if batch_ids is None:
        if not os.path.isdir(base):
            return 0
        batch_ids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith(f"{prefix}=")
        )
    merged = 0
    for bid in batch_ids:
        part = f"{base}/{prefix}={bid}"
        rows = spark.read.parquet(part)
        exps = pipeline.dq_expectations.get(table)
        still_bad = None
        if exps:
            from snowflake_cdc_spark.operators.expectations import row_gate

            rows, still_bad = row_gate(rows, exps, exempt=F.col("is_delete"))
            # materialize before the partition rewrite below: the plan
            # reads the very files we are about to replace
            still_bad = still_bad.persist()
            n_still_bad = still_bad.count()
        reduced = latest_by_key(rows, pipeline._key_cols(spec), "seq")
        # persist for the same reason as still_bad — merge() and the
        # returned count both execute after the source files are gone
        reduced = reduced.persist()
        try:
            n_merged = reduced.count()
            pipeline._merge(spec, reduced)
            merged += n_merged
            # merge succeeded: the partition now holds only pending work
            tmp = f"{base}/.__replay_tmp_{prefix}={bid}"
            if still_bad is not None and n_still_bad:
                still_bad.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(part)
                os.rename(tmp, part)
            else:
                shutil.rmtree(part)
        finally:
            reduced.unpersist()
            if still_bad is not None:
                still_bad.unpersist()
    return merged

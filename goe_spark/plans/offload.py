"""The offload pipeline — the reference's `offload_table` lifecycle
(goe.py:2666-2926, SURVEY §3.1) re-expressed as one Spark job graph.
A local parquet target (the writer's ``direct_dir``) loads straight
from the source in one pass:

  source scan -> canonical schema map -> [predicate/HWM slice]
    -> staged projection (string-staged exotics)
       + validation aggregate (A5) and cast-corruption probe (A6),
         observed on the write
    -> final write (partitioned by the synthetic column) into a swap
       copy (full replace) or the target (append, snapshot first);
       a failed check leaves the target as it was
    -> count validation (A1/A3): footer counts for whole partitions,
       a read-back for predicate and LIST slices
    -> metadata save (HWM / predicate bookkeeping)

Every other writer (warehouse, JDBC, DFS targets), and any offload
that asks for a staging format, stages as GOE does: staging write ->
staged-data validation aggregate -> final write from the staged files
-> read-back count validation. Steps that do not run are recorded as
skipped, with detail ``direct``.

Scale design: the per-chunk loop bounds any single Spark job to
max_chunk_bytes of input (reference default 16G) so restart scope and
executor memory stay fixed no matter how big the table is; within a
chunk everything is one lineage — Catalyst fuses the projection+filter
into the scan. partitionBy itself never shuffles: the partitioned final
write adds one hash exchange on the synthetic column only when its
input has too few splits to use the cores (``catalog.spread``; a JDBC
read always counts as too few), plus whatever a sort-on-write needs.
The staging and final read-backs carry the schema of the frame
written, so neither runs a schema-inference job.

Each named step runs through the one step tracker
(``plans/steps.StepRunner``): it times the step, tags the step's Spark
jobs with ``steps.step_tag(name)`` and writes the execution record, so
``status``/``/api/executions`` show where an offload spent its time and
a step's jobs can be found in Spark's status store without the UI.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from goe_spark.catalog import spread
from goe_spark.functions.casts import (
    corruption_probe_sql,
    final_cast_sql,
    quote,
    staging_sql,
)
from goe_spark.plans.compaction import footer_rows, partition_dirs
from goe_spark.plans.metadata import MetadataStore, OffloadMetadata
from goe_spark.plans.slices import SYNTHETIC_COL, InFlight, PartitionSpec
from goe_spark.plans.steps import StepRunner
from goe_spark.predicate import parse_predicate_dsl, predicate_to_sql
from goe_spark.types.spark_map import spark_to_canonical


class OffloadValidationError(RuntimeError):
    pass


def _validate(row: dict) -> None:
    """Fail on any NOT NULL (``nn_*``) or cast-corruption
    (``corrupt_*``) count of the validation aggregate ``row``."""
    violations = {k: v for k, v in row.items() if k != "row_count" and v}
    if violations:
        raise OffloadValidationError(f"staged-data validation failed: {violations}")


def _spread_partitions(df: DataFrame) -> DataFrame:
    """Hash ``df`` on the synthetic column across the cores when it
    under-splits (``catalog.spread``), so a small load writes each
    partition from one task, one file each. A frame with no input
    files (a JDBC read) counts as under-split: each of its splits
    holds every partition, and its split count costs a slow RDD probe
    to learn."""
    if df.inputFiles():
        return spread(df, SYNTHETIC_COL)
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, SYNTHETIC_COL)


@dataclass
class OffloadConfig:
    owner: str
    table_name: str
    target_dir: str  # final table location (parquet)
    staging_dir: str  # staging file location
    metadata_dir: str
    partition: PartitionSpec | None = None
    offload_predicate: str | None = None  # DSL text (PBO)
    hwm: object | None = None  # RANGE: offload up to this synthetic value
    # User --<type>-columns controls (types/controls.ColumnControls);
    # they take precedence over the automatic canonical mapping.
    column_controls: object | None = None
    # --sort-columns CSV: cluster the final table on these columns
    # (plans/sort_columns.py). Default keeps the previous offload's
    # choice; "NONE" clears it.
    sort_columns_csv: str | None = None
    # --zorder-columns CSV: after verification, re-cluster the final
    # parquet table on the Morton curve over these columns
    # (plans/zorder.py — per partition when partitioned). Multi-
    # dimensional file skipping where sort_columns serves only its
    # leading column.
    zorder_columns_csv: str | None = None
    # --ddl-file: write CREATE TABLE text here (or AUTO) and stop
    # without staging/loading any data (plans/ddl_file.py).
    ddl_file: str | None = None
    # LIST partition append (LPA): offload rows whose partition-column
    # value is in this list; bookkeeping in metadata
    # offloaded_high_values (the reference's LIST strategy), append
    # semantics like an HWM slice.
    list_partition_column: str | None = None
    list_partition_values: list | None = None
    # Backend write connector (sinks/backend_writer.py). None = the
    # Spark-native parquet backend at target_dir; a FakeWarehouseWriter
    # (or a real BigQuery/Snowflake writer) slots in here with the
    # same step sequence.
    backend_writer: object | None = None
    # Staging file format (S10/S11). None (the default) stages only
    # where the writer needs staged files, in parquet; a local parquet
    # target loads straight from the source. Any explicit format
    # stages. The reference stages Avro by default
    # (avro_staging_file.py:268-291); "avro" uses the spark-avro
    # datasource when present and otherwise the pure-Python container
    # writer/reader (sources/avro_io.py) — still fully distributed,
    # real spec-compliant .avro files.
    staging_format: str | None = None
    # --offload-type FULL|INCREMENTAL (reference goe.py:1051-1052,
    # resolved by plans/partitions.resolve_offload_type). FULL with a
    # partition+hwm is the reference's 100/10: everything moves, the
    # requested boundary is still recorded. None keeps the implicit
    # behavior (hwm present => incremental slice).
    offload_type: str | None = None
    # --reset-backend-table: drop the backend table + metadata first
    # and offload from scratch (reference goe.py:1016-1021 — requires
    # --force at the CLI, conflicts with reusing the backend table).
    reset_backend_table: bool = False
    # Declarative data-quality gate (plans/expectations.Rule list)
    # evaluated over the STAGED data before the final load: any rule
    # with violations aborts the offload (retryable — nothing has
    # touched the target yet). The generic, user-declared complement
    # of the built-in not-null/cast probes above.
    expectations: list | None = None


@dataclass
class OffloadResult:
    rows_staged: int
    rows_final: int
    # Write-side row count observed DURING the staging write (or the
    # direct final write) via the Observation API — the engine-native
    # twin of the reference's Spark-listener recordsWritten scraping
    # (GOETaskListener.scala:24-44, offload_transport.py:183-190), at
    # zero extra scan cost. A staged load cross-checks it against the
    # staged READ-BACK count: a mismatch means the files do not
    # faithfully hold what was written.
    rows_staged_observed: int = -1
    partitions_written: list = field(default_factory=list)
    steps: list = field(default_factory=list)
    # User-facing resolution warnings (e.g. the INCREMENTAL -> FULL
    # downgrade) — the reference logs these; we return them so the
    # CLI/listener JSON carries them.
    notes: list = field(default_factory=list)


def reset_backend(spark: SparkSession, cfg: "OffloadConfig") -> None:
    """Drop the backend table (writer-aware) and the metadata row —
    the --reset-backend-table action, shared by the pipeline step and
    the chunked runner's one-time up-front reset."""
    from goe_spark.sinks.backend_writer import ParquetBackendWriter

    (cfg.backend_writer or ParquetBackendWriter(cfg.target_dir)).drop_table(spark)
    MetadataStore(cfg.metadata_dir).delete(cfg.owner, cfg.table_name)


class OffloadPipeline:
    def __init__(self, spark: SparkSession, config: OffloadConfig):
        self.spark = spark
        self.cfg = config
        self.store = MetadataStore(config.metadata_dir)

    def _verify_count(self, in_flight: InFlight) -> int:
        """Rows of this run's slice now in the target. A slice of whole
        partitions on a local parquet target is counted from the
        footers of the directories it selects, as Spark's own count
        under partition pruning would, with no Spark job; any other is
        read back and counted, grouped by the synthetic column when
        partitioned. Either way the partitions counted go to
        SAVE_METADATA. Seam for tests to inject a mismatch."""
        writer, part = self._writer, self.cfg.partition
        local = writer.direct_dir
        if local is None or not in_flight.whole_partitions:
            check_df = in_flight.where(writer.read_final(self.spark))
            if part is None:
                return check_df.count()
            counts = check_df.groupBy(SYNTHETIC_COL).count().collect()
            self._partitions_read = [r[0] for r in counts]
            return sum(r[1] for r in counts)
        if part is None:
            return footer_rows(local)
        dirs = partition_dirs(local, SYNTHETIC_COL) if os.path.isdir(local) else []
        dtype = self._loaded[SYNTHETIC_COL].dataType
        rows = {}
        for d, value in in_flight.partitions(self.spark, dirs, dtype):
            if n := footer_rows(os.path.join(local, d)):
                rows[value] = rows.get(value, 0) + n
        self._partitions_read = list(rows)
        return sum(rows.values())

    def _stage(self, to_stage: DataFrame, aggs: list[str]) -> tuple[DataFrame, int]:
        """STAGING_TRANSPORT and VALIDATE_STAGED_DATA: write the staged
        projection as staging files (format per cfg.staging_format),
        read them back and validate them with one aggregate. Returns
        the staged read-back and its row count."""
        cfg, step = self.cfg, self._tracker.step
        with step("STAGING_TRANSPORT"):
            from goe_spark.sources.files import read_staging, write_staging

            # Avro staging (the reference's default format) no longer
            # needs the spark-avro jar: write_staging/read_staging
            # fall back to the pure-Python container writer/reader
            # (sources/avro_io.py — distributed via mapInPandas /
            # binaryFile) when the datasource is absent. The staged
            # projection string-stages exotics either way, so the cast
            # map sees identical shapes on every format.
            fmt = cfg.staging_format or "parquet"
            # Observation rides the write job: rows counted as they
            # are written, no listener-log scraping, no extra scan
            # (reference S15 counts rows via a Spark task listener).
            written = Observation()
            write_staging(
                to_stage.observe(written, F.count(F.lit(1)).alias("rows_written")),
                cfg.staging_dir,
                fmt=fmt,
            )
            rows_written = int(written.get["rows_written"])
            staged = read_staging(
                self.spark, cfg.staging_dir, fmt=fmt, schema=to_stage.schema
            )

        # VALIDATE_STAGED_DATA (A5): one aggregate pass (the cast-
        # corruption probes ride the same aggregate, so VALIDATE_CASTS
        # is recorded with it).
        with step("VALIDATE_STAGED_DATA"):
            row = staged.selectExpr(*aggs).collect()[0].asDict()
            # Write-vs-read integrity: the read-back count must equal
            # what the write job observed leaving the executors.
            if row["row_count"] != rows_written:
                raise OffloadValidationError(
                    f"staging integrity failed: wrote "
                    f"{rows_written} rows but read back "
                    f"{row['row_count']}"
                )
            _validate(row)
        with step("VALIDATE_CASTS"):
            pass  # probes evaluated in the shared aggregate above
        return staged, row["row_count"]

    # -- steps (named like the reference's command_steps) ------------------

    def run(self, source_df: DataFrame) -> OffloadResult:
        """Execute the offload under the per-table orchestration lock
        (O6): two concurrent offloads of one table would race the HWM
        bookkeeping, so the second caller fails fast instead. The step
        sequence runs as one persisted command execution
        (plans/steps.py), so a crashed run leaves a durable record for
        the status report and for resume."""
        from goe_spark.plans.history import ExecutionHistoryStore
        from goe_spark.plans.locks import TableLock

        cfg = self.cfg
        self._tracker = StepRunner(spark=self.spark)
        with TableLock(cfg.metadata_dir, cfg.owner, cfg.table_name):
            with self._tracker.command(
                ExecutionHistoryStore(cfg.metadata_dir),
                "OFFLOAD",
                cfg.owner,
                cfg.table_name,
                command_input={
                    "target_dir": cfg.target_dir,
                    "partition": bool(cfg.partition),
                    "predicate": cfg.offload_predicate,
                    "hwm": str(cfg.hwm) if cfg.hwm is not None else None,
                },
            ):
                res = self._run_steps(source_df)
        res.steps = self._tracker.ok_steps()
        return res

    def _run_steps(self, source_df: DataFrame) -> OffloadResult:
        cfg = self.cfg
        step = self._tracker.step
        notes: list[str] = []

        # RESET_BACKEND_TABLE: drop table + metadata, offload from
        # scratch (reference enable_reset_backend_table,
        # goe.py:1601-1604 — reset also discards cached metadata).
        # ddl_file is a preview-only mode (nothing staged, loaded, or
        # saved), so a destructive reset riding along would delete the
        # live table while "previewing" — reject up front.
        if cfg.reset_backend_table:
            if cfg.ddl_file is not None:
                raise OffloadValidationError(
                    "--ddl-file is preview-only and cannot be combined "
                    "with --reset-backend-table"
                )
            with step("RESET_BACKEND_TABLE"):
                reset_backend(self.spark, cfg)

        existing_md = self.store.get(cfg.owner, cfg.table_name)
        md = existing_md or OffloadMetadata(
            owner=cfg.owner, table_name=cfg.table_name
        )

        # Offload-type resolution (reference get_offload_type_for_config,
        # offload_source_data.py:291-349). Only an explicit request
        # changes behavior. Resolved FULL takes the slice caps off —
        # everything moves under replace semantics — for ANY slice
        # shape (hwm, LIST values, predicate): with incremental-append
        # options this is the reference's 100/10 (the requested
        # boundary is still recorded for the hybrid view,
        # offload_source_data.py:2392); without them it is 100/0 and
        # any stale boundary from a previous incremental offload is
        # CLEARED, so the hybrid view stops sourcing above-boundary
        # rows from a frontend about to be decommissioned.
        boundary_hwm = None
        boundary_list_values = None
        boundary_predicate = None
        clear_boundary = False
        if cfg.offload_type is not None:
            from goe_spark.plans.partitions import (
                OFFLOAD_TYPE_FULL,
                resolve_offload_type,
            )

            ot, include_hwm, notes = resolve_offload_type(
                cfg.offload_type,
                incr_append_capable=(
                    cfg.partition is not None
                    or cfg.list_partition_column is not None
                ),
                ida_options_specified=(
                    cfg.hwm is not None
                    or bool(cfg.list_partition_values)
                    or bool(cfg.offload_predicate)
                ),
                existing_md=existing_md,
            )
            if ot == OFFLOAD_TYPE_FULL:
                from dataclasses import replace as _dc_replace

                if include_hwm:
                    boundary_hwm = cfg.hwm
                    boundary_list_values = cfg.list_partition_values or None
                    boundary_predicate = cfg.offload_predicate or None
                else:
                    clear_boundary = True
                cfg = _dc_replace(
                    cfg,
                    hwm=None,
                    list_partition_values=None,
                    offload_predicate=None,
                )

        # ANALYZE_DATA_TYPES: schema -> canonical columns, then the
        # user's --<type>-columns overrides (reference
        # data_type_controls.offload_source_to_canonical_mappings).
        with step("ANALYZE_DATA_TYPES"):
            canonical_cols = [
                spark_to_canonical(f.name, f.dataType, f.nullable)
                for f in source_df.schema.fields
            ]
            if cfg.column_controls is not None:
                from goe_spark.types.controls import (
                    source_to_canonical_mappings,
                )

                canonical_cols = source_to_canonical_mappings(
                    canonical_cols, cfg.column_controls
                )
            # Identifier rules (types/identifiers.py): the backend
            # table and every column must satisfy Spark's metastore
            # rules — fail here, not mid-write.
            from goe_spark.types.identifiers import backend_safe_identifier

            backend_safe_identifier(cfg.table_name, "spark", "table")
            for c in canonical_cols:
                backend_safe_identifier(c.name, "spark", "column")

        from goe_spark.plans.sort_columns import (
            apply_sort_on_write,
            resolve_sort_columns,
        )

        sort_cols = resolve_sort_columns(
            cfg.sort_columns_csv, md.offload_sort_columns, canonical_cols
        )

        # CREATE_DDL_FILE: when --ddl-file is set, emit the CREATE
        # TABLE text and STOP — nothing is staged or loaded and no
        # metadata is saved (reference normalise_ddl_file forces
        # execute=False; scenario test_ddl_file.py asserts the
        # staging/load steps never ran).
        if cfg.ddl_file is not None:
            from goe_spark.plans.ddl_file import (
                DDL_FILE_AUTO,
                build_create_table_ddl,
                generate_ddl_file_path,
                validate_ddl_file,
                write_ddl_file,
            )

            with step("CREATE_DDL_FILE"):
                path = cfg.ddl_file.strip()
                if path.upper() == DDL_FILE_AUTO:
                    path = generate_ddl_file_path(
                        cfg.owner, cfg.table_name, cfg.metadata_dir
                    )
                else:
                    validate_ddl_file(path)
                ddl = build_create_table_ddl(
                    cfg.owner,
                    cfg.table_name,
                    canonical_cols,
                    cfg.target_dir,
                    partition_col=(
                        SYNTHETIC_COL if cfg.partition is not None else None
                    ),
                    sort_columns=sort_cols,
                )
                write_ddl_file(path, ddl)
            return OffloadResult(
                rows_staged=0, rows_final=0, partitions_written=[path]
            )

        # CREATE_TABLE: ensure the backend final table exists (the
        # reference's create_backend_table; a no-op DDL emission for
        # the parquet backend, a recorded CREATE TABLE for warehouse
        # writers).
        from goe_spark.sinks.backend_writer import ParquetBackendWriter

        writer = cfg.backend_writer or ParquetBackendWriter(cfg.target_dir)
        with step("CREATE_TABLE"):
            writer.create_table(
                cfg.owner,
                cfg.table_name,
                canonical_cols,
                partition_col=(
                    SYNTHETIC_COL if cfg.partition is not None else None
                ),
                cluster_columns=sort_cols,
            )

        # FIND_OFFLOAD_DATA: build this run's slice (plans/slices.py)
        # and apply it to the source. The bookkeeping guards run first:
        # a predicate or LIST value already offloaded is refused.
        with step("FIND_OFFLOAD_DATA"):
            if cfg.list_partition_values and cfg.list_partition_column is None:
                raise OffloadValidationError(
                    "list_partition_values requires list_partition_column"
                )
            in_flight = InFlight.find(cfg, md.incremental_high_value, source_df)
            if in_flight.predicate:
                if in_flight.predicate in md.offloaded_predicates:
                    raise OffloadValidationError(
                        f"predicate already offloaded: {in_flight.predicate}"
                    )
                md.offload_type = "PREDICATE"
            if in_flight.list_values:
                # Bookkeeping compares STRING forms: the metadata JSON
                # round-trips dates/decimals as strings (default=str),
                # so raw equality would silently re-offload them.
                already = {str(x) for x in md.offloaded_high_values}
                dup = [v for v in in_flight.list_values if str(v) in already]
                if dup:
                    raise OffloadValidationError(
                        f"LIST values already offloaded: {dup}"
                    )
                md.offload_type = "LIST"
                md.incremental_key = cfg.list_partition_column
            sliced = source_df
            if cfg.partition is not None:
                sliced = sliced.withColumn(SYNTHETIC_COL, cfg.partition.expr())
            if in_flight.hwm is not None:
                md.offload_type = "RANGE"
                md.incremental_key = cfg.partition.source_column
            sliced = in_flight.where(sliced)

        # The staged projection (string-staged exotics: the reference's
        # Avro/Parquet staging schema), the validation aggregate over
        # it (A5, with the A6 cast-corruption probes) and the cast map
        # back to the final types.
        partitioned = cfg.partition is not None
        staged_proj = [staging_sql(c) for c in canonical_cols]
        final_proj = [final_cast_sql(c) for c in canonical_cols]
        if partitioned:
            staged_proj.append(quote(SYNTHETIC_COL))
            final_proj.append(quote(SYNTHETIC_COL))
        aggs = ["count(1) AS row_count"]
        aggs += [
            f"count_if({quote(c.name)} IS NULL) AS {quote('nn_' + c.name)}"
            for c in canonical_cols
            if not c.nullable
        ]
        aggs += corruption_probe_sql(canonical_cols)
        # GOE stages because its backend loads from staged files; a
        # local parquet target is written by this same Spark job, so
        # unless a staging format is asked for, FINAL_LOAD reads the
        # slice once and the validation aggregate rides its write as
        # an Observation, checked before the load is committed.
        direct = cfg.staging_format is None and writer.direct_dir is not None
        if direct:
            for name in ("STAGING_TRANSPORT", "VALIDATE_STAGED_DATA", "VALIDATE_CASTS"):
                self._tracker.skipped(name, "direct")
            staged = sliced.selectExpr(*staged_proj)
        else:
            staged, rows_staged = self._stage(sliced.selectExpr(*staged_proj), aggs)
            rows_staged_observed = rows_staged

        if cfg.expectations:
            with step("CHECK_EXPECTATIONS"):
                from goe_spark.plans.expectations import check_expectations

                failed = {
                    r.rule: r.n_violations
                    for r in check_expectations(
                        self.spark, staged, cfg.expectations
                    ).collect()
                    if not r.passed
                }
                if failed:
                    raise OffloadValidationError(
                        f"expectations failed on staged data: {failed}"
                    )

        # FINAL_LOAD: cast map -> partitioned final table. A full
        # offload (no predicate, no HWM window) REPLACES the target —
        # the reference drops and recreates the backend table for
        # non-incremental offloads, and append semantics would make a
        # re-offload duplicate every row. Incremental offloads append,
        # and we snapshot the target's file set first so a failed
        # load or verification rolls the append back (retryable
        # failure instead of silently-committed bad rows).
        full_replace = in_flight.clause is None
        with step("FINAL_LOAD"):
            pre_snapshot = (
                None if full_replace else writer.snapshot(self.spark)
            )
            to_load = sliced if direct else staged
            if partitioned:
                to_load = _spread_partitions(to_load)
            if direct:
                # Observed above the spread: under AQE an observation
                # below the exchange of a partitioned write is lost
                # when the slice is empty (its shuffle stage is dropped).
                checked = Observation()
                to_load = to_load.selectExpr(*staged_proj).observe(
                    checked, *map(F.expr, aggs)
                )
            # SORT_COLUMNS: cluster-on-write (plans/sort_columns.py) —
            # a per-partition sort gives parquet row-group locality on
            # the sort key, the Spark rendering of BigQuery CLUSTER BY.
            # After the spread: a repartition would undo the sort.
            to_load = apply_sort_on_write(to_load.selectExpr(*final_proj), sort_cols)
            # The slice clause: warehouse writers record it as the
            # INSERT's WHERE (the reference passes the same
            # filter_clauses into load_final_table) and a relational
            # rollback DELETEs by it, so it is spelled in their dialect.
            # Only a direct_dir writer takes a check.
            check = {"check": lambda: _validate(dict(checked.get))} if direct else {}
            try:
                writer.load_final(
                    to_load,
                    replace=full_replace,
                    partition_col=SYNTHETIC_COL if partitioned else None,
                    slice_clause=in_flight.clause_in(writer.dialect),
                    **check,
                )
            except BaseException:
                if pre_snapshot is not None:
                    writer.rollback_to(pre_snapshot, self.spark)
                raise
            if direct:
                rows_staged = rows_staged_observed = checked.get["row_count"]
            self._writer, self._loaded = writer, to_load.schema

        # VERIFY_EXPORTED_DATA: count ("minus") validation, scoped to
        # THIS run's slice — the same condition FIND applied, now on
        # the target. The reference passes the in-flight predicate
        # into build_verification_clauses (goe.py
        # verify_offload_by_backend_count) for the same reason: the
        # final table holds every previously offloaded slice, so an
        # unscoped count can only match on the very first offload.
        with step("VERIFY_EXPORTED_DATA"):
            self._partitions_read = []
            rows_final = self._verify_count(in_flight)
            if rows_final != rows_staged:
                if not full_replace:
                    writer.rollback_to(pre_snapshot, self.spark)
                raise OffloadValidationError(
                    f"count validation failed: staged={rows_staged} "
                    f"final={rows_final} (appended files rolled back)"
                )

        # SAVE_METADATA: HWM / predicate / LIST bookkeeping. The
        # partition spec writes its own metadata record
        # (PartitionSpec.to_metadata), which the hybrid view and the
        # status report read back through plans/slices.offloaded.
        with step("SAVE_METADATA"):
            partitions_written = self._partitions_read
            if cfg.partition is not None:
                if cfg.hwm is not None:
                    md.incremental_high_value = cfg.hwm
                elif boundary_hwm is not None:
                    # 100/10: everything moved, but the requested
                    # boundary still defines the hybrid-view HWM
                    # (reference offload_source_data.py:2392).
                    md.offload_type = "RANGE"
                    md.incremental_key = cfg.partition.source_column
                    md.incremental_high_value = boundary_hwm
                cfg.partition.to_metadata(md)
            if in_flight.predicate or boundary_predicate:
                sql_text = in_flight.predicate or predicate_to_sql(
                    parse_predicate_dsl(boundary_predicate)
                )
                if sql_text not in md.offloaded_predicates:
                    md.offloaded_predicates.append(sql_text)
                if boundary_predicate:
                    md.offload_type = "PREDICATE"
            if cfg.list_partition_values or boundary_list_values:
                # Stored in string form — the same spelling JSON
                # produces — so the dup guard and the hybrid view
                # compare like against like.
                already = set(md.offloaded_high_values)
                md.offloaded_high_values.extend(
                    str(v)
                    for v in (
                        cfg.list_partition_values or boundary_list_values
                    )
                    if str(v) not in already
                )
                if boundary_list_values:
                    md.offload_type = "LIST"
                    md.incremental_key = cfg.list_partition_column
            if clear_boundary:
                # Explicit 100/0 conversion: the full replace moved
                # everything, so any stale incremental boundary would
                # make the hybrid view source above-boundary rows from
                # the (about to be retired) frontend.
                md.offload_type = "FULL"
                md.incremental_key = None
                md.incremental_high_value = None
                md.offloaded_high_values = []
                md.offloaded_predicates = []
            md.offload_sort_columns = sort_cols
            self.store.save(md)

        # ZORDER (optional): re-cluster the verified final table on
        # the configured columns — per partition behind the marker
        # swap when partitioned, flat z-write otherwise. Runs AFTER
        # verification (only proven data gets re-laid-out) and only
        # on the Spark-native parquet writer; warehouse backends
        # cluster natively (BigQuery CLUSTER BY via sort_cols).
        if cfg.zorder_columns_csv and hasattr(writer, "target_dir"):
            from goe_spark.plans.zorder import (
                zorder_flat_table,
                zorder_partitioned_table,
            )

            with step("ZORDER"):
                zcols = [
                    c.strip()
                    for c in cfg.zorder_columns_csv.split(",")
                    if c.strip()
                ]
                if cfg.partition is not None:
                    zorder_partitioned_table(
                        self.spark,
                        writer.target_dir,
                        zcols,
                        partition_col=SYNTHETIC_COL,
                    )
                else:
                    zorder_flat_table(
                        writer.read_final(self.spark), writer.target_dir, zcols
                    )

        return OffloadResult(
            rows_staged=rows_staged,
            rows_final=rows_final,
            rows_staged_observed=rows_staged_observed,
            partitions_written=sorted(
                partitions_written, key=lambda v: (v is not None, v)
            ),
            notes=notes,
        )


def offload_from_spec(spark: SparkSession, spec: dict) -> dict:
    """Run one offload from a flat spec dict — THE code path behind
    both the CLI (cli.cmd_offload) and the listener's POST
    /api/offload, so field handling (granularity coercion, defaults,
    result shape) can't drift between surfaces.

    Required keys: table, target_dir, staging_dir, metadata_dir, and
    exactly one of source_dir (parquet frontend) or source_jdbc_url
    (live relational frontend read through the S1/S7 JDBC scan —
    source_jdbc_table defaults to the offload table name;
    source_parallelism > 1 uses a MOD split on source_split_column,
    1 is the serial query-import path). Optional: owner,
    partition_column, partition_kind, granularity, predicate, hwm,
    backend_jdbc_url (final sink = live JDBC warehouse via
    sinks/jdbc_writer instead of the parquet backend), and the
    --<type>-columns control family (integer_1_columns ..
    integer_38_columns, date_columns, double_columns,
    variable_string_columns, unicode_string_columns, decimal_columns
    [list of CSVs], decimal_columns_type [parallel list of "p,s"
    specs]).
    """
    from goe_spark.sources.files import FileSource

    if bool(spec.get("source_dir")) == bool(spec.get("source_jdbc_url")):
        raise OffloadValidationError(
            "exactly one of source_dir / source_jdbc_url is required"
        )
    backend_writer = None
    if spec.get("backend_jdbc_url"):
        from goe_spark.sinks.jdbc_writer import JdbcBackendWriter

        backend_writer = JdbcBackendWriter(
            spec["backend_jdbc_url"],
            properties=spec.get("backend_jdbc_properties"),
            spark=spark,
        )
    elif spec.get("backend_warehouse"):
        # LIVE cloud warehouse (BigQuery/Snowflake) over the Spark
        # connector, jar-gated: fail loud at plan time when the
        # connector is absent instead of mid-offload.
        from goe_spark.sinks.cloud_writer import (
            CloudWarehouseWriter,
            connector_available,
        )

        dialect = spec["backend_warehouse"]
        if not connector_available(spark, dialect):
            raise OffloadValidationError(
                f"backend_warehouse={dialect!r} needs the {dialect} "
                "Spark connector jar on the classpath"
            )
        backend_writer = CloudWarehouseWriter(  # pragma: no cover - jar
            dialect,
            spec.get("backend_owner") or spec.get("owner", "goe"),
            spec.get("backend_table") or spec["table"],
            connection=spec.get("backend_connection"),
        )

    part = None
    if spec.get("partition_column"):
        kind = spec.get("partition_kind", "date")
        gran = spec.get("granularity", "M")
        part = PartitionSpec(
            source_column=spec["partition_column"],
            kind=kind,
            granularity=(int(gran) if kind in ("number", "string") else gran),
        )
    hwm = spec.get("hwm")
    if hwm is not None and part is not None and part.kind == "number":
        # CLI/REST deliver hwm as a string; comparing a long synthetic
        # column to a string literal coerces through double (losing
        # precision above 2^53) and would persist a string HWM in
        # metadata — coerce like granularity above.
        hwm = int(hwm)
    controls = None
    control_keys = (
        "integer_1_columns",
        "integer_2_columns",
        "integer_4_columns",
        "integer_8_columns",
        "integer_38_columns",
        "date_columns",
        "double_columns",
        "variable_string_columns",
        "unicode_string_columns",
        "decimal_columns",
        "decimal_columns_type",
    )
    if any(spec.get(k) for k in control_keys):
        from goe_spark.types.controls import ColumnControls

        controls = ColumnControls(
            integer_1_columns_csv=spec.get("integer_1_columns"),
            integer_2_columns_csv=spec.get("integer_2_columns"),
            integer_4_columns_csv=spec.get("integer_4_columns"),
            integer_8_columns_csv=spec.get("integer_8_columns"),
            integer_38_columns_csv=spec.get("integer_38_columns"),
            date_columns_csv=spec.get("date_columns"),
            double_columns_csv=spec.get("double_columns"),
            variable_string_columns_csv=spec.get("variable_string_columns"),
            unicode_string_columns_csv=spec.get("unicode_string_columns"),
            decimal_columns_csv_list=spec.get("decimal_columns"),
            decimal_columns_type_list=spec.get("decimal_columns_type"),
            allow_floating_point_conversions=bool(
                spec.get("allow_floating_point_conversions")
            ),
        )
    cfg = OffloadConfig(
        owner=spec.get("owner", "default"),
        table_name=spec["table"],
        target_dir=spec["target_dir"],
        staging_dir=spec["staging_dir"],
        metadata_dir=spec["metadata_dir"],
        partition=part,
        offload_predicate=spec.get("predicate"),
        hwm=hwm,
        column_controls=controls,
        sort_columns_csv=spec.get("sort_columns"),
        zorder_columns_csv=spec.get("zorder_columns"),
        ddl_file=spec.get("ddl_file"),
        staging_format=spec.get("staging_format"),
        list_partition_column=spec.get("list_partition_column"),
        list_partition_values=spec.get("list_partition_values"),
        offload_type=spec.get("offload_type"),
        reset_backend_table=bool(spec.get("reset_backend_table")),
        backend_writer=backend_writer,
    )
    if spec.get("chunked"):
        # Chunked incremental mode (plans/ipa_runner.py): the user's
        # hwm becomes the overall cap; per-chunk HWMs are managed by
        # the runner. A predicate or LIST slice cannot ride along —
        # chunk 1 would record it and chunk 2 would then refuse it as
        # already offloaded, aborting half-done with a misleading
        # error. Fail up front, before the source is even opened.
        if cfg.offload_predicate or cfg.list_partition_values:
            raise OffloadValidationError(
                "chunked mode offloads RANGE partitions; combine it "
                "with neither a predicate nor LIST values (use "
                "offload_list_partitions for chunked LPA)"
            )
        # Chunked IS the 90/10 incremental split: an offload_type
        # override would strip each chunk's HWM (every chunk would
        # full-replace the whole table). Run an unchunked FULL offload
        # instead.
        if cfg.offload_type:
            raise OffloadValidationError(
                "chunked mode implements the 90/10 incremental split; "
                "--offload-type cannot be combined with it"
            )
    if spec.get("source_jdbc_url"):
        from goe_spark.sources.jdbc import read_jdbc
        from goe_spark.sources.split_strategy import (
            SPLIT_BY_MOD,
            SplitPlan,
            mod_split_predicates,
        )

        src_table = spec.get("source_jdbc_table") or cfg.table_name
        par = int(spec.get("source_parallelism") or 1)
        if par > 1:
            split_col = spec.get("source_split_column")
            if not split_col:
                raise OffloadValidationError(
                    "source_parallelism > 1 needs source_split_column "
                    "(the MOD split key)"
                )
            # SQL MOD keeps the dividend's sign (Derby/Oracle), so a
            # bare MOD(col, n) leaves every negative key matching NONE
            # of the k = 0..n-1 predicates — silent row loss on the
            # parallel transport (round-8 ADVICE). The dialect template
            # makes the slice map total over negatives the way the
            # reference does — by hashing (MOD(ORA_HASH(col), degree),
            # oracle_offload_transport_rdbms_api.py:754-775) where the
            # dialect has a hash, else the sign-free double-mod. ABS()
            # is deliberately NOT used: ABS(-2^63) raises 22003 on
            # strict engines and folds +k/-k onto one slice (round-9
            # ADVICE). null_safe folds `col IS NULL` into slice 0 so a
            # nullable split key cannot lose rows either.
            from goe_spark.sources.jdbc import dialect_from_jdbc_url
            from goe_spark.sources.split_strategy import mod_hash_template

            preds = mod_split_predicates(
                split_col,
                par,
                hash_template=mod_hash_template(
                    dialect_from_jdbc_url(spec["source_jdbc_url"])
                ),
                null_safe=True,
            )
            plan = SplitPlan(
                split_type=SPLIT_BY_MOD, predicates=tuple(preds)
            )
        else:
            # serial query import (S7): one connection, no split
            plan = SplitPlan(split_type=SPLIT_BY_MOD)
        df = read_jdbc(spark, spec["source_jdbc_url"], src_table, plan)
        # relational frontends fold unquoted identifiers to UPPER;
        # normalize to the lower-case layout every downstream surface
        # (controls CSVs, partition specs, validation SQL) uses.
        df = df.toDF(*[c.lower() for c in df.columns])
    else:
        df = FileSource(spec["source_dir"]).read(spark, cfg.table_name)
    if spec.get("chunked"):
        from dataclasses import replace as _replace

        from goe_spark.plans.chunker import MAX_CHUNK_BYTES, MAX_CHUNK_COUNT
        from goe_spark.plans.ipa_runner import offload_partitioned_table

        if cfg.reset_backend_table:
            # Reset ONCE, before the runner reads the prior HWM — a
            # per-chunk reset would drop rows chunk 1 just wrote and
            # wipe the ledger every later chunk appends against.
            reset_backend(spark, cfg)
            cfg = _replace(cfg, reset_backend_table=False)

        ipa = offload_partitioned_table(
            spark,
            _replace(cfg, hwm=None),
            df,
            new_hwm=cfg.hwm,
            max_chunk_bytes=int(spec.get("max_chunk_bytes", MAX_CHUNK_BYTES)),
            max_chunk_count=int(spec.get("max_chunk_count", MAX_CHUNK_COUNT)),
        )
        return {
            "chunks": ipa.chunks_run,
            "rows_offloaded": ipa.rows_offloaded,
            "hwms": [str(h) for h in ipa.hwms],
        }
    res = OffloadPipeline(spark, cfg).run(df)
    return {
        "rows_staged": res.rows_staged,
        "rows_final": res.rows_final,
        "partitions": [str(p) for p in res.partitions_written],
        "steps": res.steps,
        "notes": res.notes,
    }

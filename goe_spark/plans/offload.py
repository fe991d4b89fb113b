"""The offload pipeline — the reference's `offload_table` lifecycle
(goe.py:2666-2926, SURVEY §3.1) re-expressed as one Spark job graph:

  source scan -> canonical schema map -> [predicate/HWM slice]
    -> staging write (parquet, string-staged exotics)
    -> staged-data validation aggregate (A5)
    -> cast-corruption probe (A6)
    -> final write (partitioned by the synthetic column)
    -> count + aggregate validation (A1/A3)
    -> metadata save (HWM / predicate bookkeeping)

Scale design: the per-chunk loop bounds any single Spark job to
max_chunk_bytes of input (reference default 16G) so restart scope and
executor memory stay fixed no matter how big the table is; within a
chunk everything is one lineage — Catalyst fuses the projection+filter
into the scan, and the final write shuffles only to honor the
partition layout (partitionBy on the synthetic column).
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.catalog import spread
from goe_spark.functions.casts import (
    build_cast_map,
    corruption_probe_aggs,
    staging_expr,
)
from goe_spark.functions.synthetic import (
    synthetic_date_expr,
    synthetic_number_expr,
    synthetic_string_expr,
)
from goe_spark.plans.metadata import MetadataStore, OffloadMetadata
from goe_spark.predicate import (
    parse_predicate_dsl,
    predicate_to_column,
    predicate_to_sql,
)
from goe_spark.types.spark_map import spark_to_canonical

SYNTHETIC_COL = "goe_part_key"


class OffloadValidationError(RuntimeError):
    pass


@dataclass
class PartitionSpec:
    source_column: str
    kind: str  # date | number | string
    granularity: str | int = "M"
    digits: int | None = None

    def expr(self):
        if self.kind == "date":
            return synthetic_date_expr(self.source_column, str(self.granularity))
        if self.kind == "number":
            return synthetic_number_expr(
                self.source_column, int(self.granularity), self.digits
            )
        if self.kind == "string":
            return synthetic_string_expr(self.source_column, int(self.granularity))
        raise ValueError(f"bad partition kind: {self.kind}")


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
    verify_aggregates: bool = True
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
    # Staging file format (S10/S11). The reference stages Avro by
    # default (avro_staging_file.py:268-291); parquet is our default
    # because the staging read-back is columnar. "avro" uses the
    # spark-avro datasource when present and otherwise the pure-Python
    # container writer/reader (sources/avro_io.py) — still fully
    # distributed, real spec-compliant .avro files.
    staging_format: str = "parquet"
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
    # Write-side row count observed DURING the staging write via the
    # Observation API — the engine-native twin of the reference's
    # Spark-listener recordsWritten scraping (GOETaskListener.scala:
    # 24-44, offload_transport.py:183-190), at zero extra scan cost.
    # Cross-checked against the staged READ-BACK count: a mismatch
    # means the files do not faithfully hold what was written.
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
    from goe_spark.sinks.backend_writer import list_files, remove_files

    if cfg.backend_writer is not None:
        cfg.backend_writer.drop_table(spark)
    else:
        remove_files(list_files(cfg.target_dir, spark), spark)
    MetadataStore(cfg.metadata_dir).delete(cfg.owner, cfg.table_name)


class OffloadPipeline:
    def __init__(self, spark: SparkSession, config: OffloadConfig):
        self.spark = spark
        self.cfg = config
        self.store = MetadataStore(config.metadata_dir)

    def _verify_count(self, check_df: DataFrame) -> int:
        """Count the slice read back, grouped by the synthetic column
        when partitioned: that one job also gives SAVE_METADATA the
        partitions written. Seam for tests to inject a mismatch."""
        if self.cfg.partition is None:
            return check_df.count()
        counts = check_df.groupBy(SYNTHETIC_COL).count().collect()
        self._partitions_read = [r[0] for r in counts]
        return sum(r[1] for r in counts)

    # -- steps (named like the reference's command_steps) ------------------

    def run(self, source_df: DataFrame) -> OffloadResult:
        """Execute the offload under the per-table orchestration lock
        (O6): two concurrent offloads of one table would race the HWM
        bookkeeping, so the second caller fails fast instead."""
        from goe_spark.plans.locks import TableLock

        with TableLock(self.cfg.metadata_dir, self.cfg.owner, self.cfg.table_name):
            return self._run_locked(source_df)

    def _run_locked(self, source_df: DataFrame) -> OffloadResult:
        """Wrap the step sequence in a persisted command execution
        (plans/history.py — the reference's start_command/end_command,
        orchestration_runner.py:139-227): every step outcome is written
        through to disk as it happens, so a crashed run leaves a
        durable record for the status report and for resume."""
        from goe_spark.plans.history import (
            COMMAND_ERROR,
            COMMAND_SUCCESS,
            ExecutionHistoryStore,
        )

        cfg = self.cfg
        self._history = ExecutionHistoryStore(cfg.metadata_dir)
        self._exec = self._history.begin(
            "OFFLOAD",
            cfg.owner,
            cfg.table_name,
            command_input={
                "target_dir": cfg.target_dir,
                "partition": bool(cfg.partition),
                "predicate": cfg.offload_predicate,
                "hwm": str(cfg.hwm) if cfg.hwm is not None else None,
            },
        )
        try:
            res = self._run_steps(source_df)
        except BaseException:
            self._history.end(self._exec, COMMAND_ERROR)
            raise
        self._history.end(self._exec, COMMAND_SUCCESS)
        return res

    @contextlib.contextmanager
    def _step(self, steps: list[str], name: str):
        """Time one named step and persist its outcome immediately."""
        import time

        from goe_spark.plans.history import STEP_ERROR, STEP_OK

        t0 = time.perf_counter()
        try:
            yield
        except Exception as e:
            self._history.record_step(
                self._exec, name, STEP_ERROR, time.perf_counter() - t0, str(e)
            )
            raise
        self._history.record_step(
            self._exec, name, STEP_OK, time.perf_counter() - t0
        )
        steps.append(name)

    def _run_steps(self, source_df: DataFrame) -> OffloadResult:
        cfg = self.cfg
        steps: list[str] = []
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
            with self._step(steps, "RESET_BACKEND_TABLE"):
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
        with self._step(steps, "ANALYZE_DATA_TYPES"):
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

            with self._step(steps, "CREATE_DDL_FILE"):
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
                rows_staged=0, rows_final=0, partitions_written=[path],
                steps=steps,
            )

        # CREATE_TABLE: ensure the backend final table exists (the
        # reference's create_backend_table; a no-op DDL emission for
        # the parquet backend, a recorded CREATE TABLE for warehouse
        # writers).
        from goe_spark.sinks.backend_writer import ParquetBackendWriter

        writer = cfg.backend_writer or ParquetBackendWriter(cfg.target_dir)
        with self._step(steps, "CREATE_TABLE"):
            writer.create_table(
                cfg.owner,
                cfg.table_name,
                canonical_cols,
                partition_col=(
                    SYNTHETIC_COL if cfg.partition is not None else None
                ),
                cluster_columns=sort_cols,
            )

        # FIND_OFFLOAD_DATA: predicate / HWM slicing.
        with self._step(steps, "FIND_OFFLOAD_DATA"):
            sliced = source_df
            pred_ast = None
            if cfg.offload_predicate:
                ast = parse_predicate_dsl(cfg.offload_predicate)
                pred_ast = ast
                sql_text = predicate_to_sql(ast)
                if sql_text in md.offloaded_predicates:
                    raise OffloadValidationError(
                        f"predicate already offloaded: {sql_text}"
                    )
                sliced = sliced.where(predicate_to_column(ast, sliced))
                md.offload_type = "PREDICATE"
            if cfg.list_partition_values:
                if cfg.list_partition_column is None:
                    raise OffloadValidationError(
                        "list_partition_values requires list_partition_column"
                    )
                # Bookkeeping compares STRING forms: the metadata JSON
                # round-trips dates/decimals as strings (default=str),
                # so raw equality would silently re-offload them.
                already = {str(x) for x in md.offloaded_high_values}
                dup = [
                    v
                    for v in cfg.list_partition_values
                    if str(v) in already
                ]
                if dup:
                    raise OffloadValidationError(
                        f"LIST values already offloaded: {dup}"
                    )
                sliced = sliced.where(
                    F.col(cfg.list_partition_column).isin(
                        cfg.list_partition_values
                    )
                )
                md.offload_type = "LIST"
                md.incremental_key = cfg.list_partition_column
            if cfg.partition is not None:
                sliced = sliced.withColumn(SYNTHETIC_COL, cfg.partition.expr())
                if cfg.hwm is not None:
                    lower = md.incremental_high_value
                    cond = F.col(SYNTHETIC_COL) <= F.lit(cfg.hwm)
                    if lower is not None:
                        cond = cond & (F.col(SYNTHETIC_COL) > F.lit(lower))
                    sliced = sliced.where(cond)
                    md.offload_type = "RANGE"
                    md.incremental_key = cfg.partition.source_column

        # STAGING_TRANSPORT: write staging files with string-staged
        # exotics (the reference's Avro/Parquet staging schema,
        # staging format per cfg.staging_format).
        with self._step(steps, "STAGING_TRANSPORT"):
            from goe_spark.sources.files import read_staging, write_staging

            # Avro staging (the reference's default format) no longer
            # needs the spark-avro jar: write_staging/read_staging
            # fall back to the pure-Python container writer/reader
            # (sources/avro_io.py — distributed via mapInPandas /
            # binaryFile) when the datasource is absent. The staged
            # projection below string-stages exotics either way, so
            # the cast map sees identical shapes on every format.
            staged_proj = [staging_expr(c) for c in canonical_cols]
            if cfg.partition is not None:
                staged_proj.append(F.col(SYNTHETIC_COL))
            # Observation rides the write job: rows counted as they
            # are written, no listener-log scraping, no extra scan
            # (reference S15 counts rows via a Spark task listener).
            from pyspark.sql import Observation

            staging_obs = Observation()
            write_staging(
                sliced.select(staged_proj).observe(
                    staging_obs, F.count(F.lit(1)).alias("rows_written")
                ),
                cfg.staging_dir,
                fmt=cfg.staging_format,
            )
            rows_staged_observed = int(staging_obs.get["rows_written"])
            staged = read_staging(
                self.spark, cfg.staging_dir, fmt=cfg.staging_format
            )

        # VALIDATE_STAGED_DATA (A5): one aggregate pass (the cast-
        # corruption probes ride the same aggregate, so VALIDATE_CASTS
        # is recorded with it).
        with self._step(steps, "VALIDATE_STAGED_DATA"):
            not_null_cols = [c.name for c in canonical_cols if not c.nullable]
            aggs = [F.count(F.lit(1)).alias("row_count")]
            for name in not_null_cols:
                aggs.append(
                    F.sum(F.when(F.col(name).isNull(), 1).otherwise(0))
                    .cast("long")
                    .alias(f"nn_{name}")
                )
            probe_aggs = corruption_probe_aggs(canonical_cols)
            row = staged.agg(*aggs, *probe_aggs).collect()[0].asDict()
            rows_staged = row.pop("row_count")
            # Write-vs-read integrity: the read-back count must equal
            # what the write job observed leaving the executors.
            if rows_staged != rows_staged_observed:
                raise OffloadValidationError(
                    f"staging integrity failed: wrote "
                    f"{rows_staged_observed} rows but read back "
                    f"{rows_staged}"
                )
            violations = {k: v for k, v in row.items() if v}
            if violations:
                raise OffloadValidationError(
                    f"staged-data validation failed: {violations}"
                )
        with self._step(steps, "VALIDATE_CASTS"):
            pass  # probes evaluated in the shared aggregate above

        if cfg.expectations:
            with self._step(steps, "CHECK_EXPECTATIONS"):
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
        # verification can roll the append back (retryable failure
        # instead of silently-committed bad rows).
        full_replace = (
            pred_ast is None
            and cfg.hwm is None
            and not cfg.list_partition_values
        )
        with self._step(steps, "FINAL_LOAD"):
            cast_map = build_cast_map(canonical_cols)
            final_proj = [cast_map[c.name]["cast"] for c in canonical_cols]
            pre_snapshot = (
                None if full_replace else writer.snapshot(self.spark)
            )
            final_df_out = staged.select(*final_proj)
            if cfg.partition is not None:
                # A one-file staged read would write every partition
                # from one task; spread hashes it on the partition key
                # across the cores (no exchange at 8+ staged splits).
                final_df_out = spread(
                    staged.select(*final_proj, F.col(SYNTHETIC_COL)),
                    SYNTHETIC_COL,
                )
            # SORT_COLUMNS: cluster-on-write (plans/sort_columns.py) —
            # a per-partition sort gives parquet row-group locality on
            # the sort key, the Spark rendering of BigQuery CLUSTER BY.
            # After the spread: a repartition would undo the sort.
            final_df_out = apply_sort_on_write(final_df_out, sort_cols)
            # The incremental slice clause, recorded by warehouse
            # writers as the INSERT's WHERE (the reference passes the
            # same filter_clauses into load_final_table).
            slice_clause = None
            if pred_ast is not None:
                slice_clause = predicate_to_sql(pred_ast)
            elif cfg.list_partition_values:
                vals = ", ".join(repr(v) for v in cfg.list_partition_values)
                slice_clause = f"{cfg.list_partition_column} IN ({vals})"
            elif cfg.partition is not None and cfg.hwm is not None:
                lo = md.incremental_high_value
                slice_clause = f"{SYNTHETIC_COL} <= {cfg.hwm!r}"
                if lo is not None:
                    slice_clause += f" AND {SYNTHETIC_COL} > {lo!r}"
            writer.load_final(
                final_df_out,
                replace=full_replace,
                partition_col=(
                    SYNTHETIC_COL if cfg.partition is not None else None
                ),
                slice_clause=slice_clause,
            )

        # VERIFY_EXPORTED_DATA: count ("minus") validation, scoped to
        # THIS run's slice — the reference passes the in-flight
        # predicate into build_verification_clauses (goe.py
        # verify_offload_by_backend_count) for the same reason: the
        # final table holds every previously offloaded slice, so an
        # unscoped count can only match on the very first offload.
        with self._step(steps, "VERIFY_EXPORTED_DATA"):
            final_df = writer.read_final(self.spark)
            check_df = final_df
            if pred_ast is not None:
                check_df = check_df.where(
                    predicate_to_column(pred_ast, check_df)
                )
            if cfg.list_partition_values:
                check_df = check_df.where(
                    F.col(cfg.list_partition_column).isin(
                        cfg.list_partition_values
                    )
                )
            if cfg.partition is not None and cfg.hwm is not None:
                check_df = check_df.where(
                    (F.col(SYNTHETIC_COL) <= F.lit(cfg.hwm))
                    & (
                        F.col(SYNTHETIC_COL) > F.lit(md.incremental_high_value)
                        if md.incremental_high_value is not None
                        else F.lit(True)
                    )
                )
            self._partitions_read = []
            rows_final = self._verify_count(check_df)
            if rows_final != rows_staged:
                if not full_replace:
                    writer.rollback_to(pre_snapshot, self.spark)
                raise OffloadValidationError(
                    f"count validation failed: staged={rows_staged} "
                    f"final={rows_final} (appended files rolled back)"
                )

        # SAVE_METADATA: HWM / predicate bookkeeping.
        with self._step(steps, "SAVE_METADATA"):
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
                md.synthetic_partition = {
                    "source_column": cfg.partition.source_column,
                    "kind": cfg.partition.kind,
                    "granularity": cfg.partition.granularity,
                    "digits": cfg.partition.digits,
                }
            if cfg.offload_predicate or boundary_predicate:
                sql_text = predicate_to_sql(
                    parse_predicate_dsl(
                        cfg.offload_predicate or boundary_predicate
                    )
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
                write_zordered,
                zorder_partitioned_table,
            )

            with self._step(steps, "ZORDER"):
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
                    # Flat target: same tmp + two-rename swap as the
                    # CLI zorder path (healed by plans/heal.py). An
                    # in-place overwrite backed only by localCheckpoint
                    # would destroy the verified table on a crash or
                    # executor loss mid-write.
                    import shutil

                    t = writer.target_dir.rstrip("/")
                    tmp, old = f"{t}.zorder_tmp", f"{t}.zorder_old"
                    for stale in (tmp, old):
                        if os.path.isdir(stale):
                            shutil.rmtree(stale)
                    write_zordered(
                        writer.read_final(self.spark), tmp, zcols
                    )
                    os.rename(t, old)
                    os.rename(tmp, t)
                    shutil.rmtree(old)

        return OffloadResult(
            rows_staged=rows_staged,
            rows_final=rows_final,
            rows_staged_observed=rows_staged_observed,
            partitions_written=sorted(partitions_written),
            steps=steps,
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
        staging_format=spec.get("staging_format", "parquet"),
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

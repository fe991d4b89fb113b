"""Command-line shell — the reference's bin/ entry points re-shaped.

Subcommands mirror the reference product surface (SURVEY §3):

- offload:      run the offload pipeline for one table
                (bin/offload → offload_table, goe.py:2666-2926)
- agg-validate: cross-system aggregate validation
                (bin/agg_validate → CrossDbValidator)
- status:       offload status report (offload_status_report.py)
- schema-sync:  additive schema evolution (schema_sync/)
- query:        run any registered query by name (the SELECT surface
                the reference never had; ours comes free from Spark)

Usage: python -m goe_spark.cli <subcommand> [options]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(app: str):
    from goe_spark.session import get_spark

    s = get_spark(app)
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_offload(args) -> int:
    from goe_spark.plans.offload import offload_from_spec

    if args.reset_backend_table and not args.force:
        # Reference goe.py:1021: a destructive reset must be
        # double-confirmed.
        print(
            json.dumps(
                {"error": "--reset-backend-table requires --force"}
            )
        )
        return 2

    spark = _spark("goe-offload")
    spec = {
        "owner": args.owner,
        "table": args.table,
        "source_dir": args.source_dir,
        "source_jdbc_url": args.source_jdbc_url,
        "source_jdbc_table": args.source_jdbc_table,
        "source_parallelism": args.source_parallelism,
        "source_split_column": args.source_split_column,
        "backend_jdbc_url": args.backend_jdbc_url,
        "backend_warehouse": args.backend_warehouse,
        "backend_connection": dict(
            kv.split("=", 1) for kv in args.backend_option
        ),
        "target_dir": args.target_dir,
        "staging_dir": args.staging_dir,
        "metadata_dir": args.metadata_dir,
        "partition_column": args.partition_column,
        "partition_kind": args.partition_kind,
        "granularity": args.granularity,
        "predicate": args.predicate,
        "hwm": args.hwm,
        "list_partition_column": args.list_partition_column,
        "list_partition_values": (
            args.list_partition_values.split(",")
            if args.list_partition_values
            else None
        ),
        "integer_1_columns": args.integer_1_columns,
        "integer_2_columns": args.integer_2_columns,
        "integer_4_columns": args.integer_4_columns,
        "integer_8_columns": args.integer_8_columns,
        "integer_38_columns": args.integer_38_columns,
        "date_columns": args.date_columns,
        "double_columns": args.double_columns,
        "variable_string_columns": args.variable_string_columns,
        "unicode_string_columns": args.unicode_string_columns,
        "decimal_columns": args.decimal_columns,
        "decimal_columns_type": args.decimal_columns_type,
        "allow_floating_point_conversions": args.allow_floating_point_conversions,
        "sort_columns": args.sort_columns,
        "zorder_columns": args.zorder_columns,
        "ddl_file": args.ddl_file,
        "chunked": args.chunked,
        "max_chunk_count": args.max_chunk_count,
        "offload_type": args.offload_type,
        "reset_backend_table": args.reset_backend_table,
        "staging_format": args.staging_format,
    }
    print(json.dumps(offload_from_spec(spark, spec)))
    return 0


def cmd_delete(args) -> int:
    from goe_spark.plans.targeted_delete import delete_rows

    spark = _spark("goe-delete")
    # delete_rows types the values by the key column's type.
    rep = delete_rows(
        spark,
        args.target_dir,
        args.key_column,
        args.values.split(","),
        partition_col=args.partition_column,
        use_bloom=args.use_bloom,
        maintain_indexes=args.maintain_index or None,
    )
    print(
        json.dumps(
            {
                "rows_deleted": rep.rows_deleted,
                "partitions_affected": rep.partitions_affected,
                "partitions_healed": rep.partitions_healed,
            }
        )
    )
    return 0


def cmd_merge(args) -> int:
    """Keyed merge/upsert of a CDC batch (parquet of full-row new
    versions, unique per key) into an offloaded target — the
    reference's Incremental Update as a CLI verb. --maintain-index
    keeps minhash/segment/IVF indexes fresh in-pass with O(changed)
    work (plans/merge_update.py)."""
    from goe_spark.plans.merge_update import merge_rows
    from goe_spark.plans.offload import PartitionSpec

    spark = _spark("goe-merge")
    updates = spark.read.parquet(args.updates)
    spec = PartitionSpec(
        args.partition_source_column,
        args.partition_kind,
        granularity=(
            int(args.granularity)
            if args.partition_kind != "date"
            else args.granularity
        ),
        digits=args.digits,
    )
    rep = merge_rows(
        spark,
        args.target_dir,
        args.key_column,
        updates,
        spec,
        maintain_indexes=args.maintain_index or None,
    )
    print(
        json.dumps(
            {
                "rows_updated": rep.rows_updated,
                "rows_inserted": rep.rows_inserted,
                "partitions_affected": rep.partitions_affected,
                "merges_healed": rep.merges_healed,
            }
        )
    )
    return 0


def cmd_scd2(args) -> int:
    """SCD Type-2 dimension maintenance: `init` writes version 1 of
    every row; `apply` merges a change batch (parquet of key + attrs,
    unique per key) effective at --effective."""
    import datetime

    from goe_spark.plans.scd2 import scd2_apply, scd2_init

    spark = _spark("goe-scd2")
    eff = datetime.date.fromisoformat(args.effective)
    rows = spark.read.parquet(args.changes)
    if args.mode == "init":
        scd2_init(spark, args.dim_dir, rows, eff)
        print(json.dumps({"initialized_rows": rows.count()}))
        return 0
    attr_cols = [c for c in rows.columns if c != args.key_column]
    rep = scd2_apply(
        spark, args.dim_dir, rows, args.key_column, attr_cols, eff
    )
    print(
        json.dumps(
            {
                "keys_new": rep.keys_new,
                "keys_changed": rep.keys_changed,
                "keys_unchanged": rep.keys_unchanged,
                "healed": rep.healed,
            }
        )
    )
    return 0


def cmd_bloom(args) -> int:
    """Build per-partition bloom manifests so `delete --use-bloom`
    (and any point-lookup reader) can skip files by key equality."""
    from goe_spark.plans.bloom_skip import build_bloom_manifest_partitioned

    spark = _spark("goe-bloom")
    n = build_bloom_manifest_partitioned(
        spark, args.target_dir, args.columns.split(",")
    )
    print(json.dumps({"partitions_indexed": n}))
    return 0


def cmd_zorder(args) -> int:
    """Maintenance rewrite: re-cluster a table (or one partition
    directory) on the Morton curve over the given columns and build
    the file-skipping manifest. Sits beside compact/delete/merge in
    the maintenance family — layout only, content byte-equal."""
    from goe_spark.plans.compaction import heal_swap, partition_dirs
    from goe_spark.plans.zorder import zorder_flat_table

    spark = _spark("goe-zorder")
    target = args.target_dir.rstrip("/")
    # Before the layout is read: a crash between a whole swap's two
    # renames leaves no table at ``target`` until the heal puts it back.
    heal_swap(target)
    # A Hive-partitioned layout keeps its directories: each partition
    # is re-clustered in place behind compaction's marker swap, so the
    # delete/merge/compact family keeps working and partition pruning
    # stays native (manifest skipping applies within partitions).
    # partition_dirs is sorted: the derived partition column is
    # deterministic.
    part_dirs = partition_dirs(target)
    if part_dirs:
        from goe_spark.plans.zorder import zorder_partitioned_table

        pcol = part_dirs[0].split("=", 1)[0]
        rep = zorder_partitioned_table(
            spark,
            target,
            args.columns.split(","),
            partition_col=pcol,
            n_files=max(2, args.n_files // len(part_dirs)),
            rank=args.rank,
        )
        print(
            json.dumps(
                {
                    "partitions_rewritten": rep.partitions_rewritten,
                    "partitions_healed": rep.partitions_healed,
                    "n_files": rep.files_after,
                    "cols": args.columns.split(","),
                }
            )
        )
        return 0
    rep = zorder_flat_table(
        spark.read.parquet(target),
        target,
        args.columns.split(","),
        n_files=args.n_files,
        rank=args.rank,
    )
    print(
        json.dumps(
            {
                "n_files": rep.n_files,
                "cols": rep.cols,
                "manifest": rep.manifest_path,
            }
        )
    )
    return 0


def cmd_heal(args) -> int:
    """One-shot crash recovery for a target directory: complete the
    interrupted swap of the target itself (flat zorder, SCD2 apply,
    streaming fold) and of its partitions (compact, delete, merge,
    partitioned zorder) — one marker swap behind them all — then
    finish a pending keyed merge from its durable staging copy, so an
    operator after an outage runs ONE command instead of knowing which
    op crashed. Prints {"swaps_healed": [...], "merge_healed": bool}."""
    from goe_spark.plans.heal import heal_target

    spark = _spark("goe-heal")
    print(json.dumps(heal_target(spark, args.target_dir)))
    return 0


def cmd_fold(args) -> int:
    """Retention janitor for a streamed target: fold batch roots older
    than --keep-last into the base/ root (crash-safe swap, healed on
    rerun). --rollup folds a continuous-aggregate directory instead —
    partials are MERGED rather than unioned row-for-row."""
    from goe_spark.streaming.ingest import fold_streamed_batches
    from goe_spark.streaming.rollup import fold_rollup

    spark = _spark("goe-fold")
    fold = fold_rollup if args.rollup else fold_streamed_batches
    print(json.dumps(fold(spark, args.target_dir, keep_last=args.keep_last)))
    return 0


def cmd_curate(args) -> int:
    """End-to-end corpus curation: quality filter -> exact dedup ->
    near-dup keep-best -> mixture sample -> partitioned final table,
    with step history and crash-resume (plans/curation.py)."""
    from goe_spark.plans.curation import CurationConfig, CurationPipeline

    spark = _spark("goe-curate")
    cfg = CurationConfig(
        source_sf_dir=args.source_dir,
        work_dir=args.work_dir,
        metadata_dir=args.metadata_dir,
        quality_min=args.quality_min,
        token_budget=args.token_budget,
        line_doc_max=args.line_doc_max,
        containment_min=args.containment_min,
        span_min_run=args.span_min_run,
    )
    report = CurationPipeline(spark, cfg).run()
    print(
        json.dumps(
            {
                "funnel": report.funnel,
                "final_rows": report.final_rows,
                "resumed_steps": report.resumed_steps,
                "execution_id": report.execution_id,
            }
        )
    )
    return 0


def cmd_ingest(args) -> int:
    """Raw JSONL/CSV landing with corrupt-record quarantine
    (sources/ingest_files.py): explicit DDL schema, PERMISSIVE parse,
    good rows -> parquet, malformed raw lines -> quarantine, gate on
    bad fraction."""
    from pyspark.sql.types import StructType

    from goe_spark.sources.ingest_files import (
        IngestValidationError,
        ingest_with_quarantine,
    )

    spark = _spark("goe-ingest")
    schema = StructType.fromDDL(args.schema)
    options = {}
    if args.sep:
        options["sep"] = args.sep
    try:
        rep = ingest_with_quarantine(
            spark,
            args.input,
            schema,
            good_path=args.good_dir,
            quarantine_path=args.quarantine_dir,
            fmt=args.format,
            max_bad_fraction=args.max_bad_fraction,
            **options,
        )
    except IngestValidationError as e:
        print(json.dumps({"error": str(e)}))
        return 1
    print(
        json.dumps(
            {
                "n_good": rep.n_good,
                "n_bad": rep.n_bad,
                "bad_fraction": round(rep.bad_fraction, 6),
                "good_path": rep.good_path,
                "quarantine_path": rep.quarantine_path,
            }
        )
    )
    return 0


def cmd_agg_validate(args) -> int:
    from pyspark.sql import functions as F

    from goe_spark.plans.compaction import footer_reader

    spark = _spark("goe-agg-validate")

    def _side(path, jdbc_url, table, which):
        if bool(path) == bool(jdbc_url):
            raise SystemExit(
                f"exactly one of --{which}-path / --{which}-jdbc-url "
                "is required"
            )
        if jdbc_url:
            if not table:
                raise SystemExit(f"--{which}-jdbc-url needs --{which}-table")
            df = spark.read.jdbc(jdbc_url, table)
        else:
            df = footer_reader(spark, path).parquet(path)
        # relational engines fold unquoted identifiers to UPPER —
        # compare both sides on the lower-case layout so a parquet
        # frontend lines up with a JDBC backend
        return df.toDF(*[c.lower() for c in df.columns])

    front = _side(
        args.frontend_path, args.frontend_jdbc_url, args.frontend_table,
        "frontend",
    )
    back = _side(
        args.backend_path, args.backend_jdbc_url, args.backend_table,
        "backend",
    )
    cols = args.columns.split(",") if args.columns else front.columns[:5]
    aggs = {
        "row_count": F.count(F.lit(1)),
        **{f"min_{c}": F.min(c) for c in cols},
        **{f"max_{c}": F.max(c) for c in cols},
    }
    # One action over the cross join of the two one-row aggregates:
    # both scans run in the same job graph, side by side, each side
    # keeping its own column types.
    row = (
        front.agg(*[e.alias(f"f_{k}") for k, e in aggs.items()])
        .crossJoin(back.agg(*[e.alias(f"b_{k}") for k, e in aggs.items()]))
        .first()
    )
    diffs = {
        k: {"frontend": row[f"f_{k}"], "backend": row[f"b_{k}"]}
        for k in aggs
        if row[f"f_{k}"] != row[f"b_{k}"]
    }
    ok = not diffs
    print(json.dumps({"match": ok, "diffs": {k: {s: str(v) for s, v in d.items()} for k, d in diffs.items()}}))
    return 0 if ok else 1


def cmd_status(args) -> int:
    from goe_spark.plans.metadata import MetadataStore
    from goe_spark.plans.status_report import render_report, status_report

    spark = _spark("goe-status")
    store = MetadataStore(args.metadata_dir)
    # Roots map tables by convention: <root>/<table>.
    table_paths = source_paths = None
    if args.target_root:
        table_paths = {
            (o, t): f"{args.target_root}/{t}" for o, t in store.list_tables()
        }
    if args.source_root:
        source_paths = {
            (o, t): f"{args.source_root}/{t}.parquet"
            for o, t in store.list_tables()
        }
    rpt = status_report(
        spark, store, table_paths=table_paths, source_paths=source_paths
    )
    if args.format == "json":
        for row in rpt.collect():
            print(json.dumps(row.asDict(), default=str))
    else:
        print(render_report(rpt, fmt=args.format, level=args.level), end="")
    return 0


def cmd_history(args) -> int:
    """Command-execution history: one JSON line per recorded step,
    command columns repeated (the execution view the reference status
    report reads from its repo tables)."""
    from goe_spark.plans.history import ExecutionHistoryStore
    from goe_spark.plans.status_report import execution_report

    spark = _spark("goe-history")
    rpt = execution_report(
        spark,
        ExecutionHistoryStore(args.metadata_dir),
        owner=args.owner,
        table_name=args.table,
    )
    for row in rpt.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_schema_sync(args) -> int:
    from goe_spark.plans.schema_sync import diff_schemas, schema_sync_ddl

    spark = _spark("goe-schema-sync")
    front = spark.read.parquet(args.frontend_path).schema
    back = spark.read.parquet(args.backend_path).schema
    delta = diff_schemas(front, back)
    ddl = schema_sync_ddl(args.table, delta)
    print(json.dumps({"new_columns": [f.name for f in delta.new_columns], "ddl": ddl}))
    return 0


def cmd_connect(args) -> int:
    """Environment validation (reference: bin/connect, O10): session
    comes up, every source table answers a 1-row canary read, and the
    staging/metadata dirs are writable."""
    import os
    import time

    from goe_spark.sources.files import FileSource

    checks = []
    t0 = time.time()
    spark = _spark("goe-connect")
    checks.append({"check": "spark_session", "ok": True,
                   "detail": f"{spark.version} in {time.time() - t0:.1f}s"})
    src = FileSource(args.source_dir)
    for tbl in args.tables.split(","):
        t0 = time.time()
        try:
            src.read(spark, tbl).limit(1).collect()
            checks.append({"check": f"read:{tbl}", "ok": True,
                           "detail": f"{time.time() - t0:.1f}s"})
        except Exception as e:
            checks.append({"check": f"read:{tbl}", "ok": False,
                           "detail": str(e)[:200]})
    for label, d in (("staging", args.staging_dir), ("metadata", args.metadata_dir)):
        if not d:
            continue
        try:
            os.makedirs(d, exist_ok=True)
            probe = os.path.join(d, ".goe_connect_probe")
            with open(probe, "w") as f:
                f.write("ok")
            os.remove(probe)
            checks.append({"check": f"writable:{label}", "ok": True, "detail": d})
        except Exception as e:
            checks.append({"check": f"writable:{label}", "ok": False,
                           "detail": str(e)[:200]})
    ok = all(c["ok"] for c in checks)
    print(json.dumps({"ok": ok, "checks": checks}))
    return 0 if ok else 1


def cmd_query(args) -> int:
    from goe_spark.queries import queries_dict

    spark = _spark("goe-query")
    qs = queries_dict()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; known: {sorted(qs)}", file=sys.stderr)
        return 2
    if getattr(args, "cached", False):
        from goe_spark.plans.result_cache import get_or_build

        df, hit = get_or_build(spark, args.name, args.sf_dir, qs[args.name])
        print(f"-- result cache: {'HIT' if hit else 'MISS (built)'}",
              file=sys.stderr)
    else:
        df = qs[args.name](spark, args.sf_dir)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_cache(args) -> int:
    """Result-cache management: list entries (name, key, bytes) or
    clear the cache root (plans/result_cache.py)."""
    import os as _os

    from goe_spark.plans import result_cache as RC

    if args.action == "clear":
        RC.clear()
        print(json.dumps({"cleared": True}))
        return 0
    entries = []
    tmp_dirs = []
    if _os.path.isdir(RC.CACHE_ROOT):
        for e in sorted(_os.listdir(RC.CACHE_ROOT)):
            d = _os.path.join(RC.CACHE_ROOT, e)
            # an entry can vanish between listdir and stat (another
            # process's _gc_orphan_tmps, a concurrent `cache clear`) —
            # skip it, same tolerance the GC helper itself has
            try:
                size = sum(
                    _os.path.getsize(_os.path.join(root, f))
                    for root, _, fs in _os.walk(d)
                    for f in fs
                )
                mtime = _os.path.getmtime(d)
            except OSError:
                continue
            # a crashed writer's '{name}--{key}.tmp-{pid}' build dir is
            # not a cache entry: label it separately (with its age, so
            # a reader can tell orphan from in-flight) instead of
            # reporting a mangled '{key}.tmp-{pid}' key
            if ".tmp-" in e:
                tmp_dirs.append({
                    "dir": e,
                    "bytes": size,
                    "age_s": round(time.time() - mtime, 1),
                })
                continue
            name, _, key = e.rpartition("--")
            entries.append({"name": name, "key": key, "bytes": size})
    n_gc = RC._gc_orphan_tmps()
    print(json.dumps(
        {"entries": entries, "tmp_dirs": tmp_dirs, "tmp_gc_removed": n_gc}
    ))
    return 0


def cmd_explain(args) -> int:
    """Physical-plan inspection for any registered query — the
    debugging surface a plan-conscious user reaches for first: prints
    .explain in the chosen mode and, with --audit, the per-query
    hazard summary (md5-inside-Filter, unpartitioned windows,
    nested-loop joins) the round-level tools/plan_audit.py sweep
    checks registry-wide."""
    import re as _re

    from goe_spark.queries import queries_dict

    spark = _spark("goe-explain")
    qs = queries_dict()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; known: {sorted(qs)}", file=sys.stderr)
        return 2
    df = qs[args.name](spark, args.sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    plan = qe.explainString(mode(args.mode))
    print(plan)
    if args.audit:
        simple = qe.explainString(mode("simple"))
        formatted = qe.explainString(mode("formatted"))
        md5 = sum(
            1
            for line in simple.splitlines()
            if "Filter" in line and "md5" in line
        )
        gw = 0
        for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", formatted):
            first = m.group(1).split(",")[0].strip()
            if (
                " ASC" in first
                or " DESC" in first
                or first.startswith("specifiedwindowframe")
            ):
                gw += 1
        nl = simple.count("CartesianProduct") + simple.count(
            "BroadcastNestedLoopJoin"
        )
        print(
            json.dumps(
                {
                    "audit": {
                        "md5_in_filter": md5,
                        "global_windows": gw,
                        "nested_loop_joins": nl,
                    }
                }
            )
        )
    return 0


def cmd_udf(args) -> int:
    """Persistent SQL-UDF catalog management (reference C7 surface:
    create_udf / list_udfs / udf_details — bigquery_backend_api.py
    :1060-1093, :1903-1929, :2170-2211) over plans/udf_catalog."""
    import json as _json

    from goe_spark.plans.udf_catalog import (
        create_udf,
        drop_udf,
        list_udfs,
        udf_details,
    )

    spark = _spark("goe-udf")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {args.db}")
    if args.action == "create":
        if not (args.returns and args.body):
            print(_json.dumps({"error": "create needs --returns and --body"}))
            return 2
        sql = create_udf(
            spark,
            args.db,
            args.name,
            args.returns,
            None,
            args.body,
            or_replace=args.or_replace,
            spec_as_string=args.params or "",
        )
        print(_json.dumps({"created": f"{args.db}.{args.name}", "sql": sql}))
    elif args.action == "list":
        rows = list_udfs(
            spark, args.db, udf_name_filter=args.filter,
            case_sensitive=not args.ignore_case,
        )
        print(_json.dumps({"udfs": [
            {"name": n, "returns": t} for n, t in rows
        ]}))
    elif args.action == "describe":
        det = udf_details(spark, args.db, args.name)
        if not det:
            print(_json.dumps({"error": f"no such udf {args.db}.{args.name}"}))
            return 1
        d = det[0]
        print(_json.dumps({
            "name": f"{d.db_name}.{d.udf_name}",
            "returns": d.return_type,
            "parameters": [
                {"name": pp.name, "type": pp.data_type} for pp in d.parameters
            ],
        }))
    else:  # drop
        drop_udf(spark, args.db, args.name)
        print(_json.dumps({"dropped": f"{args.db}.{args.name}"}))
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the catalog tables (and, with --view, any
    parquet target such as an offloaded table or a hybrid view's
    backing dirs) — the general SELECT surface the reference never
    had; Catalyst plans it like any registered query.

    --hybrid OWNER.TABLE registers <owner>_<table>_hybrid straight
    from the offload metadata (exactly-once union of the backend's
    offloaded slice and the frontend's retained complement — the
    reference's hybrid query layer, queryable from the shell)."""
    from goe_spark.catalog import register_views

    spark = _spark("goe-sql")
    register_views(spark, args.sf_dir)
    for extra in args.view or []:
        name, _, path = extra.partition("=")
        if not name or not path:
            print(f"--view expects NAME=PATH, got {extra!r}", file=sys.stderr)
            return 2
        spark.read.parquet(path).createOrReplaceTempView(name)
    if args.hybrid:
        if not (args.metadata_dir and args.source_root and args.target_root):
            print(
                "--hybrid needs --metadata-dir, --source-root and "
                "--target-root",
                file=sys.stderr,
            )
            return 2
        from goe_spark.plans.hybrid_view import register_hybrid_view
        from goe_spark.plans.metadata import MetadataStore

        store = MetadataStore(args.metadata_dir)
        for spec_s in args.hybrid:
            owner, _, table = spec_s.partition(".")
            if not owner or not table:
                print(f"--hybrid expects OWNER.TABLE, got {spec_s!r}",
                      file=sys.stderr)
                return 2
            register_hybrid_view(
                spark,
                store,
                owner,
                table,
                backend_path=f"{args.target_root}/{table}",
                source_path=f"{args.source_root}/{table}.parquet",
            )
    df = spark.sql(args.statement)
    if args.explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="goe_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    o = sub.add_parser("offload", help="offload one table")
    o.add_argument("--owner", default="default")
    o.add_argument("--table", required=True)
    o.add_argument(
        "--source-dir",
        help="parquet frontend root (exactly one of this / "
        "--source-jdbc-url)",
    )
    o.add_argument(
        "--source-jdbc-url",
        help="live relational frontend: read the source table over "
        "JDBC (S1/S7 transport) instead of parquet",
    )
    o.add_argument(
        "--source-jdbc-table",
        help="frontend table name when it differs from --table",
    )
    o.add_argument(
        "--source-parallelism",
        type=int,
        default=1,
        help="JDBC scan splits; >1 uses a MOD split on "
        "--source-split-column, 1 is the serial query import",
    )
    o.add_argument("--source-split-column")
    o.add_argument(
        "--backend-jdbc-url",
        help="final sink = live JDBC warehouse table (driver-side DDL "
        "+ distributed df.write.jdbc) instead of the parquet backend",
    )
    o.add_argument(
        "--backend-warehouse",
        choices=["bigquery", "snowflake"],
        help="final sink = live cloud warehouse over its Spark "
        "connector (jar-gated; connection options via repeated "
        "--backend-option KEY=VALUE)",
    )
    o.add_argument(
        "--backend-option",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="connector connection option for --backend-warehouse "
        "(e.g. parentProject=p1, sfURL=...)",
    )
    o.add_argument("--target-dir", required=True)
    o.add_argument("--staging-dir", required=True)
    o.add_argument("--metadata-dir", required=True)
    o.add_argument("--partition-column")
    o.add_argument("--partition-kind", default="date", choices=["date", "number", "string"])
    o.add_argument("--granularity", default="M")
    o.add_argument("--predicate", help="offload predicate DSL")
    o.add_argument("--hwm", help="incremental high-water mark")
    o.add_argument(
        "--list-partition-column",
        help="LIST (LPA) offload: the partition-key column",
    )
    o.add_argument(
        "--list-partition-values",
        help="CSV of LIST key values to offload this run (appends to "
        "the metadata's offloaded_high_values ledger; re-offloading "
        "an already-moved value is refused)",
    )
    o.add_argument(
        "--staging-format",
        default=None,
        choices=["parquet", "orc", "json", "csv", "avro"],
        help="stage the offload through files of this format (avro "
        "works jar-free via the pure-Python container writer); unset, "
        "a local parquet target loads straight from the source and "
        "other backends stage parquet",
    )
    o.add_argument(
        "--chunked",
        action="store_true",
        help="offload partition chunks one pipeline pass at a time "
        "(HWM advances per verified chunk)",
    )
    o.add_argument("--max-chunk-count", type=int, default=100)
    # --<type>-columns control family (data_type_controls.py): force
    # the canonical type of named columns; CSVs, * wildcards allowed.
    o.add_argument("--integer-1-columns")
    o.add_argument("--integer-2-columns")
    o.add_argument("--integer-4-columns")
    o.add_argument("--integer-8-columns")
    o.add_argument("--integer-38-columns")
    o.add_argument("--date-columns")
    o.add_argument("--double-columns")
    o.add_argument("--variable-string-columns")
    o.add_argument("--unicode-string-columns")
    o.add_argument(
        "--decimal-columns",
        action="append",
        help="CSV of columns for one decimal spec; repeatable, pairs "
        "with --decimal-columns-type positionally",
    )
    o.add_argument(
        "--decimal-columns-type",
        action="append",
        help='"precision,scale" for the matching --decimal-columns',
    )
    o.add_argument(
        "--ddl-file",
        help="write the final table's CREATE TABLE text to this path "
        '(or "AUTO" for a generated path) and stop without moving data',
    )
    o.add_argument(
        "--sort-columns",
        help="CSV of columns to cluster the final table on "
        '(sortWithinPartitions before write); "NONE" clears a '
        "previous choice",
    )
    o.add_argument(
        "--zorder-columns",
        help="CSV of 2-4 numeric/temporal columns to Morton-cluster "
        "the final table on after verification (multi-dimensional "
        "file skipping; per partition when partitioned)",
    )
    o.add_argument(
        "--allow-floating-point-conversions",
        action="store_true",
        help="permit FLOAT/DOUBLE columns to be forced into exact "
        "numerics (lossy: NaN/Inf become NULL)",
    )
    o.add_argument(
        "--offload-type",
        choices=["FULL", "INCREMENTAL"],
        help="FULL moves everything (with --hwm it still records the "
        "boundary: the 100/10 shape); INCREMENTAL appends past the "
        "stored HWM and falls back to FULL when the table has no "
        "partition key",
    )
    o.add_argument(
        "--reset-backend-table",
        action="store_true",
        help="drop the backend table and metadata first and offload "
        "from scratch (requires --force)",
    )
    o.add_argument("--force", action="store_true")
    o.set_defaults(fn=cmd_offload)

    dl = sub.add_parser(
        "delete",
        help="targeted row deletion (takedown / right-to-be-forgotten) "
        "from an offloaded target; rewrites only affected partitions",
    )
    dl.add_argument("--target-dir", required=True)
    dl.add_argument("--key-column", required=True)
    dl.add_argument("--values", required=True, help="CSV of key values")
    dl.add_argument("--partition-column", default="goe_part_key")
    dl.add_argument(
        "--use-bloom",
        action="store_true",
        help="bound the find-affected-partitions scan with the "
        "per-partition bloom manifests (build with `bloom` first)",
    )
    dl.add_argument(
        "--maintain-index",
        action="append",
        default=[],
        help="managed index dir to maintain in-pass (repeatable); "
        "tombstones the deleted keys instead of full-rebuilding",
    )
    dl.set_defaults(fn=cmd_delete)

    mg = sub.add_parser(
        "merge",
        help="keyed merge/upsert of a CDC batch into an offloaded "
        "target (incremental update); rewrites only affected "
        "partitions and appends the new versions",
    )
    mg.add_argument("--target-dir", required=True)
    mg.add_argument("--key-column", required=True)
    mg.add_argument(
        "--updates", required=True,
        help="parquet dir of full-row new versions, unique per key",
    )
    mg.add_argument("--partition-source-column", required=True)
    mg.add_argument(
        "--partition-kind", choices=("date", "number", "string"),
        required=True,
    )
    mg.add_argument("--granularity", default="M")
    mg.add_argument("--digits", type=int, default=None)
    mg.add_argument(
        "--maintain-index",
        action="append",
        default=[],
        help="managed index dir to maintain in-pass (repeatable); "
        "upserts the changed keys instead of full-rebuilding",
    )
    mg.set_defaults(fn=cmd_merge)

    bl = sub.add_parser(
        "bloom",
        help="build per-partition bloom-filter manifests for "
        "equality-predicate file skipping (point lookups, takedowns)",
    )
    bl.add_argument("--target-dir", required=True)
    bl.add_argument(
        "--columns", required=True, help="CSV of key columns to index"
    )
    bl.set_defaults(fn=cmd_bloom)

    sc = sub.add_parser(
        "scd2",
        help="SCD Type-2 dimension maintenance (init / apply a change "
        "batch with close-current/insert-version semantics)",
    )
    sc.add_argument("mode", choices=("init", "apply"))
    sc.add_argument("--dim-dir", required=True)
    sc.add_argument(
        "--changes", required=True, help="parquet of key + attribute columns"
    )
    sc.add_argument("--key-column", required=True)
    sc.add_argument(
        "--effective", required=True, help="effective date (YYYY-MM-DD)"
    )
    sc.set_defaults(fn=cmd_scd2)

    z = sub.add_parser(
        "zorder", help="re-cluster a table on a Morton curve + manifest"
    )
    z.add_argument("--target-dir", required=True)
    z.add_argument(
        "--columns", required=True, help="CSV of 2-4 numeric/temporal columns"
    )
    z.add_argument("--n-files", type=int, default=64)
    z.add_argument(
        "--rank",
        choices=("linear", "quantile"),
        default="linear",
        help="quantile = equi-depth ranks for skewed columns",
    )
    z.set_defaults(fn=cmd_zorder)

    fo = sub.add_parser(
        "fold", help="fold old streamed batch roots into base/ (retention)"
    )
    fo.add_argument("--target-dir", required=True)
    fo.add_argument("--keep-last", type=int, default=10)
    fo.add_argument(
        "--rollup",
        action="store_true",
        help="target is a continuous-aggregate dir: merge partials "
        "instead of unioning rows",
    )
    fo.set_defaults(fn=cmd_fold)

    he = sub.add_parser(
        "heal",
        help="complete interrupted compact/delete/merge/zorder/scd2/fold ops",
    )
    he.add_argument("--target-dir", required=True)
    he.set_defaults(fn=cmd_heal)

    cu = sub.add_parser(
        "curate", help="corpus curation pipeline (filter/dedup/sample)"
    )
    cu.add_argument("--source-dir", required=True, help="sf_dir with documents")
    cu.add_argument("--work-dir", required=True)
    cu.add_argument("--metadata-dir", required=True)
    cu.add_argument("--quality-min", type=float, default=0.5)
    cu.add_argument("--token-budget", type=int, default=150_000)
    cu.add_argument(
        "--line-doc-max",
        type=int,
        default=2,
        help="cut lines spread across more than this many documents",
    )
    cu.add_argument(
        "--containment-min",
        type=float,
        default=0.9,
        help="drop the contained side of doc pairs at or above this "
        "shingle containment",
    )
    cu.add_argument(
        "--span-min-run",
        type=int,
        default=1,
        help="SPAN_SCRUB cuts only duplicated runs of at least this "
        "many tokens (1 = every duplicated 3-gram position; "
        "calibrate with span_run_stats)",
    )
    cu.set_defaults(fn=cmd_curate)

    ing = sub.add_parser(
        "ingest", help="raw JSONL/CSV landing with corrupt-record quarantine"
    )
    ing.add_argument("--input", required=True, help="file or directory")
    ing.add_argument(
        "--schema", required=True, help="DDL, e.g. 'id BIGINT, t STRING'"
    )
    ing.add_argument("--good-dir", required=True)
    ing.add_argument("--quarantine-dir", required=True)
    ing.add_argument("--format", choices=("json", "csv"), default="json")
    ing.add_argument("--sep", help="CSV separator")
    ing.add_argument("--max-bad-fraction", type=float, default=None)
    ing.set_defaults(fn=cmd_ingest)

    v = sub.add_parser("agg-validate", help="front-vs-back aggregate compare")
    v.add_argument("--frontend-path", help="parquet frontend")
    v.add_argument(
        "--frontend-jdbc-url", help="live relational frontend (with --frontend-table)"
    )
    v.add_argument("--frontend-table")
    v.add_argument("--backend-path", help="parquet backend")
    v.add_argument(
        "--backend-jdbc-url", help="live relational backend (with --backend-table)"
    )
    v.add_argument("--backend-table")
    v.add_argument("--columns", help="comma-separated; default first 5")
    v.set_defaults(fn=cmd_agg_validate)

    s = sub.add_parser("status", help="offload status report")
    s.add_argument("--metadata-dir", required=True)
    s.add_argument("--format", default="json", choices=["json", "text", "csv", "html"])
    s.add_argument("--level", default="summary", choices=["summary", "detail"])
    s.add_argument("--target-root", help="backend tables live at <root>/<table>")
    s.add_argument(
        "--source-root", help="frontend sources live at <root>/<table>.parquet"
    )
    s.set_defaults(fn=cmd_status)

    h = sub.add_parser("history", help="command-execution step history")
    h.add_argument("--metadata-dir", required=True)
    h.add_argument("--owner")
    h.add_argument("--table")
    h.set_defaults(fn=cmd_history)

    y = sub.add_parser("schema-sync", help="diff schemas, emit additive DDL")
    y.add_argument("--table", required=True)
    y.add_argument("--frontend-path", required=True)
    y.add_argument("--backend-path", required=True)
    y.set_defaults(fn=cmd_schema_sync)

    c = sub.add_parser("connect", help="validate the environment")
    c.add_argument("--source-dir", required=True)
    c.add_argument("--tables", default="region,nation,customer,supplier,part,orders,lineitem")
    c.add_argument("--staging-dir")
    c.add_argument("--metadata-dir")
    c.set_defaults(fn=cmd_connect)

    u = sub.add_parser("udf", help="persistent SQL-UDF catalog (C7)")
    u.add_argument("action", choices=["create", "list", "describe", "drop"])
    u.add_argument("--db", required=True)
    u.add_argument("--name")
    u.add_argument("--returns", help="return type (create)")
    u.add_argument("--params", help="'a INT, b DOUBLE' (create)")
    u.add_argument("--body", help="SQL expression body (create)")
    u.add_argument("--or-replace", action="store_true")
    u.add_argument("--filter", help="LIKE pattern for list")
    u.add_argument("--ignore-case", action="store_true")
    u.set_defaults(fn=cmd_udf)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument(
        "--cached",
        action="store_true",
        help="serve from the source-fingerprint result cache "
        "(plans/result_cache.py), building on miss",
    )
    q.set_defaults(fn=cmd_query)

    ca = sub.add_parser(
        "cache", help="result-cache management (plans/result_cache.py)"
    )
    ca.add_argument("action", choices=["list", "clear"])
    ca.set_defaults(fn=cmd_cache)

    ex = sub.add_parser(
        "explain", help="print a registered query's physical plan"
    )
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ex.add_argument(
        "--audit",
        action="store_true",
        help="append the plan-hazard summary (tools/plan_audit.py categories)",
    )
    ex.set_defaults(fn=cmd_explain)

    sq = sub.add_parser(
        "sql", help="run ad-hoc Spark SQL over the catalog tables"
    )
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument(
        "--view",
        action="append",
        help="NAME=PARQUET_PATH extra view (repeatable) — e.g. an "
        "offloaded target dir",
    )
    sq.add_argument(
        "--hybrid",
        action="append",
        help="OWNER.TABLE (repeatable): register the exactly-once "
        "hybrid view <owner>_<table>_hybrid from offload metadata "
        "(needs --metadata-dir/--source-root/--target-root)",
    )
    sq.add_argument("--metadata-dir")
    sq.add_argument("--source-root", help="frontend root: <root>/<table>.parquet")
    sq.add_argument("--target-root", help="backend root: <root>/<table>")
    sq.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows",
    )
    sq.set_defaults(fn=cmd_sql)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

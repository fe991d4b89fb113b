"""Offload status report (O8 — offload_status_report.py in the
reference: 4038 LoC of catalog SQL + HTML/CSV/text rendering).

One DataFrame: per offloaded table, what the metadata store says
(offload type, HWM, version) joined with what the backend actually
holds (rows, bytes, files, partitions) and — when the frontend source
is mapped — the reference's offloaded / RETAINED / RECLAIMABLE split
(offload_status_report.py:715-760):

- reclaimable: frontend rows the metadata says have moved
  (``plans/slices.offloaded``, the same split the hybrid view
  serves) — deletable source-side. A FULL offload makes the whole
  source reclaimable; a PREDICATE offload reports NULL (the reference
  also declines: "no current means of calculating" reclaimable space
  for predicate offloads);
- retained: every other frontend row — not offloaded yet, must stay
  in the source.

Frontend byte figures are pro-rated from the row split against the
source files' physical size (the reference reads exact segment sizes
from the RDBMS catalog; files give us the same signal).

Rendering: render_report() emits the reference's summary/detail
levels as text or CSV (offload_status_report.py:2786-2834).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from goe_spark.plans.metadata import MetadataStore
from goe_spark.plans.slices import offloaded

SUMMARY_KEYS = [
    "offloaded_tables",
    "offloaded_rows",
    "offloaded_bytes",
    "offloaded_files",
    "retained_rows",
    "retained_bytes",
    "reclaimable_rows",
    "reclaimable_bytes",
]


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, file_count) under a table path (single-file parquet
    sources count as one data file), markers excluded."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _frontend_split(
    spark: SparkSession, md, source_path: str
) -> tuple[int | None, int | None, int | None, int | None]:
    """(retained_rows, retained_bytes, reclaimable_rows,
    reclaimable_bytes) for one table's frontend source: one aggregate
    counts the source and the rows ``slices.offloaded`` selects."""
    moved = offloaded(md)
    if not moved.reclaimable:
        return None, None, None, None
    row = spark.read.parquet(source_path).agg(
        F.count(F.lit(1)).alias("n"), F.count_if(moved.frontend).alias("moved")
    ).first()
    src_bytes, _files = _dir_stats(source_path)
    # Pro-rate bytes over the row split: file formats do not expose
    # per-slice physical size (the reference reads per-partition
    # segment sizes from the RDBMS catalog instead).
    moved_bytes = src_bytes * row.moved // row.n if row.n else 0
    return row.n - row.moved, src_bytes - moved_bytes, row.moved, moved_bytes


def status_report(
    spark: SparkSession,
    store: MetadataStore,
    table_paths: dict[tuple[str, str], str] | None = None,
    source_paths: dict[tuple[str, str], str] | None = None,
) -> DataFrame:
    """Build the report DataFrame from the metadata store.

    ``table_paths`` maps (owner, table) to the backend table location;
    when present the report adds physical row/byte/file/partition
    counts (count(*) is metadata-only on parquet). ``source_paths``
    maps to the frontend source; when present the report adds the
    retained/reclaimable split.
    """
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("owner", StringType()),
            StructField("table_name", StringType()),
            StructField("offload_type", StringType()),
            StructField("incremental_key", StringType()),
            StructField("incremental_high_value", StringType()),
            StructField("n_offloaded_predicates", IntegerType()),
            StructField("offload_version", IntegerType()),
            StructField("updated_utc", StringType()),
            StructField("offloaded_rows", LongType()),
            StructField("offloaded_bytes", LongType()),
            StructField("offloaded_files", LongType()),
            StructField("offloaded_parts", LongType()),
            StructField("retained_rows", LongType()),
            StructField("retained_bytes", LongType()),
            StructField("reclaimable_rows", LongType()),
            StructField("reclaimable_bytes", LongType()),
        ]
    )
    rows = []
    for owner, table_name in store.list_tables():
        md = store.get(owner, table_name)
        path = (table_paths or {}).get((owner, table_name))
        n_rows = n_bytes = n_files = n_parts = None
        if path and os.path.exists(path):
            final = spark.read.parquet(path)
            n_rows = final.count()
            n_bytes, n_files = _dir_stats(path)
            if "goe_part_key" in final.columns:
                n_parts = final.select("goe_part_key").distinct().count()
        ret_rows = ret_bytes = rec_rows = rec_bytes = None
        src_path = (source_paths or {}).get((owner, table_name))
        if src_path and os.path.exists(src_path):
            ret_rows, ret_bytes, rec_rows, rec_bytes = _frontend_split(
                spark, md, src_path
            )
        rows.append(
            Row(
                owner=owner,
                table_name=table_name,
                offload_type=md.offload_type,
                incremental_key=md.incremental_key,
                incremental_high_value=str(md.incremental_high_value)
                if md.incremental_high_value is not None
                else None,
                n_offloaded_predicates=len(md.offloaded_predicates),
                offload_version=md.offload_version,
                updated_utc=md.updated_utc,
                offloaded_rows=n_rows,
                offloaded_bytes=n_bytes,
                offloaded_files=n_files,
                offloaded_parts=n_parts,
                retained_rows=ret_rows,
                retained_bytes=ret_bytes,
                reclaimable_rows=rec_rows,
                reclaimable_bytes=rec_bytes,
            )
        )
    # Explicit schema always: inference cannot type all-NULL physical
    # stats (no table_paths mapped) or an empty store.
    return spark.createDataFrame(rows, schema)


def execution_report(
    spark: SparkSession,
    history,
    owner: str | None = None,
    table_name: str | None = None,
) -> DataFrame:
    """Per-execution step timings from a reloaded ExecutionHistoryStore
    (plans/history.py) — the reference status report's command-
    execution view over the repo's execution/step tables. One row per
    recorded step, command-level columns repeated."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("execution_id", StringType()),
            StructField("command_type", StringType()),
            StructField("owner", StringType()),
            StructField("table_name", StringType()),
            StructField("status", StringType()),
            StructField("started_utc", StringType()),
            StructField("ended_utc", StringType()),
            StructField("step", StringType()),
            StructField("step_status", StringType()),
            StructField("step_seconds", DoubleType()),
            StructField("step_detail", StringType()),
        ]
    )
    rows = []
    for rec in history.list_executions(owner, table_name):
        for s in rec.steps:
            rows.append(
                Row(
                    execution_id=rec.execution_id,
                    command_type=rec.command_type,
                    owner=rec.owner,
                    table_name=rec.table_name,
                    status=rec.status,
                    started_utc=rec.started_utc,
                    ended_utc=rec.ended_utc,
                    step=s["name"],
                    step_status=s["status"],
                    step_seconds=float(s["seconds"]),
                    step_detail=s["detail"],
                )
            )
    return spark.createDataFrame(rows, schema)


def summarize_report(report: DataFrame) -> dict:
    """The reference's summary level: totals across tables
    (SUMMARY_KEYS, offload_status_report.py:143-154)."""
    agg = report.agg(
        F.count(F.lit(1)).alias("offloaded_tables"),
        F.sum("offloaded_rows").alias("offloaded_rows"),
        F.sum("offloaded_bytes").alias("offloaded_bytes"),
        F.sum("offloaded_files").alias("offloaded_files"),
        F.sum("retained_rows").alias("retained_rows"),
        F.sum("retained_bytes").alias("retained_bytes"),
        F.sum("reclaimable_rows").alias("reclaimable_rows"),
        F.sum("reclaimable_bytes").alias("reclaimable_bytes"),
    ).first()
    return {k: agg[k] for k in SUMMARY_KEYS}


def render_report(
    report: DataFrame, fmt: str = "text", level: str = "summary"
) -> str:
    """Render summary or per-table detail as text, CSV or HTML
    (offload_status_report.py:2786+'s three output formats; the HTML
    here is a dependency-free static table rather than the
    reference's templated dashboard — same information, no template
    engine)."""
    if level not in ("summary", "detail"):
        raise ValueError(f"unknown level: {level}")
    if fmt not in ("text", "csv", "html"):
        raise ValueError(f"unknown format: {fmt}")
    if fmt == "html":
        return _render_html(report, level)
    if level == "summary":
        summary = summarize_report(report)
        if fmt == "csv":
            head = ",".join(SUMMARY_KEYS)
            vals = ",".join(
                "" if summary[k] is None else str(summary[k])
                for k in SUMMARY_KEYS
            )
            return f"{head}\n{vals}\n"
        width = max(len(k) for k in SUMMARY_KEYS)
        return (
            "\n".join(
                f"{k.ljust(width)}  {'' if summary[k] is None else summary[k]}"
                for k in SUMMARY_KEYS
            )
            + "\n"
        )
    cols = report.columns
    rows = report.orderBy("owner", "table_name").collect()
    if fmt == "csv":
        def q(v):
            s = "" if v is None else str(v)
            return f'"{s}"' if ("," in s or '"' in s) else s

        lines = [",".join(cols)]
        lines += [",".join(q(r[c]) for c in cols) for r in rows]
        return "\n".join(lines) + "\n"
    width = max(len(c) for c in cols)
    blocks = []
    for r in rows:
        blocks.append(
            "\n".join(
                f"{c.ljust(width)}  {'' if r[c] is None else r[c]}"
                for c in cols
            )
        )
    return ("\n\n".join(blocks)) + "\n"


def _esc(v) -> str:
    s = "" if v is None else str(v)
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _render_html(report: DataFrame, level: str) -> str:
    """Self-contained HTML status report — one <table>, no external
    assets, safe to open from a shell redirect."""
    if level == "summary":
        summary = summarize_report(report)
        rows = "".join(
            f"<tr><th>{_esc(k)}</th><td>{_esc(summary[k])}</td></tr>"
            for k in SUMMARY_KEYS
        )
        body = f"<table>{rows}</table>"
    else:
        cols = report.columns
        data = report.orderBy("owner", "table_name").collect()
        head = "".join(f"<th>{_esc(c)}</th>" for c in cols)
        trs = "".join(
            "<tr>" + "".join(f"<td>{_esc(r[c])}</td>" for c in cols) + "</tr>"
            for r in data
        )
        body = f"<table><thead><tr>{head}</tr></thead><tbody>{trs}</tbody></table>"
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        "<title>Offload status</title>"
        "<style>table{border-collapse:collapse;font:13px monospace}"
        "td,th{border:1px solid #999;padding:2px 8px;text-align:left}"
        "</style></head><body>" + body + "</body></html>\n"
    )

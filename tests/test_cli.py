"""CLI shell: each subcommand end-to-end over the parquet fixtures.

Runs in-process (main(argv)) against the shared session rather than
subprocess so the suite doesn't pay a JVM start per command.
"""

from __future__ import annotations

import json

import pytest

from goe_spark.cli import main
from tests.conftest import SF_SMALL


@pytest.fixture(autouse=True)
def _use_shared_session(spark, monkeypatch):
    # get_spark returns the active session, so commands reuse `spark`;
    # silence their own log-level churn.
    yield


def test_offload_and_status_roundtrip(tmp_path, capsys):
    rc = main(
        [
            "offload",
            "--owner",
            "sh",
            "--table",
            "orders",
            "--source-dir",
            SF_SMALL,
            "--target-dir",
            str(tmp_path / "final"),
            "--staging-dir",
            str(tmp_path / "stage"),
            "--metadata-dir",
            str(tmp_path / "md"),
            "--partition-column",
            "o_orderdate",
            "--partition-kind",
            "date",
            "--granularity",
            "M",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_staged"] == out["rows_final"] > 0
    assert "FINAL_LOAD" in out["steps"]

    rc = main(["status", "--metadata-dir", str(tmp_path / "md")])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (line["owner"], line["table_name"]) == ("sh", "orders")
    assert line["offload_type"] == "FULL"

    rc = main(["history", "--metadata-dir", str(tmp_path / "md"), "--table", "orders"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    steps = {x["step"]: (x["step_status"], x["step_detail"]) for x in lines}
    # A local parquet target loads straight from the source.
    assert steps["STAGING_TRANSPORT"] == ("skipped", "direct")
    assert steps["SAVE_METADATA"] == ("ok", None)
    assert all(x["status"] == "SUCCESS" for x in lines)


def test_agg_validate_match_and_mismatch(tmp_path, capsys, spark):
    src = f"{SF_SMALL}/region.parquet"
    rc = main(["agg-validate", "--frontend-path", src, "--backend-path", src])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip())["match"] is True

    broken = str(tmp_path / "broken")
    spark.read.parquet(src).limit(3).write.parquet(broken)
    rc = main(["agg-validate", "--frontend-path", src, "--backend-path", broken])
    assert rc == 1
    res = json.loads(capsys.readouterr().out.strip())
    assert res["match"] is False and "row_count" in res["diffs"]


def test_schema_sync_command(tmp_path, capsys, spark):
    front = str(tmp_path / "front")
    back = str(tmp_path / "back")
    df = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    df.write.parquet(back)
    df.selectExpr("*", "cast(1 as int) AS new_col").write.parquet(front)
    rc = main(
        [
            "schema-sync",
            "--table",
            "db.region",
            "--frontend-path",
            front,
            "--backend-path",
            back,
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["new_columns"] == ["new_col"]
    assert res["ddl"] == ["ALTER TABLE db.region ADD COLUMNS (`new_col` int)"]


def test_connect_command(tmp_path, capsys):
    rc = main(
        [
            "connect",
            "--source-dir",
            SF_SMALL,
            "--tables",
            "region,orders",
            "--staging-dir",
            str(tmp_path / "stage"),
            "--metadata-dir",
            str(tmp_path / "md"),
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["ok"] is True
    assert {c["check"] for c in res["checks"]} == {
        "spark_session", "read:region", "read:orders",
        "writable:staging", "writable:metadata",
    }

    rc = main(["connect", "--source-dir", SF_SMALL, "--tables", "nope"])
    assert rc == 1
    res = json.loads(capsys.readouterr().out.strip())
    assert res["ok"] is False


def test_query_command(capsys):
    rc = main(["query", "q6_forecast_revenue", "--sf-dir", SF_SMALL])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.strip())
    assert "revenue" in row

    rc = main(["query", "not_a_query"])
    assert rc == 2


def test_sql_command(tmp_path, capsys, spark):
    """Ad-hoc SQL over the catalog views, extra parquet views via
    --view, and --explain plan output."""
    rc = main(
        [
            "sql",
            "SELECT o_orderstatus, count(*) AS n FROM orders "
            "GROUP BY 1 ORDER BY 1",
            "--sf-dir",
            SF_SMALL,
        ]
    )
    assert rc == 0
    rows = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert {r["o_orderstatus"] for r in rows} == {"F", "O", "P"}
    assert all(r["n"] > 0 for r in rows)

    extra = str(tmp_path / "extra")
    spark.range(5).toDF("k").write.parquet(extra)
    rc = main(
        [
            "sql",
            "SELECT count(*) AS n FROM extra_t",
            "--sf-dir",
            SF_SMALL,
            "--view",
            f"extra_t={extra}",
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip())["n"] == 5

    rc = main(
        [
            "sql",
            "SELECT sum(o_totalprice) FROM orders WHERE o_custkey = 1",
            "--sf-dir",
            SF_SMALL,
            "--explain",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "PushedFilters" in out  # the predicate reaches the scan

    rc = main(["sql", "SELECT 1", "--view", "bad-spec"])
    assert rc == 2


def test_zorder_command_rewrites_in_place(tmp_path, capsys, spark):
    """zorder maintenance: content byte-equal, manifest present, no
    leftover tmp/old dirs, and a second run is idempotent."""
    import os

    from pyspark.sql import functions as F

    src = f"{SF_SMALL}/orders.parquet"
    target = str(tmp_path / "orders")
    spark.read.parquet(src).write.parquet(target)
    before = spark.read.parquet(target).groupBy().agg(
        F.count("*"), F.sum("o_orderkey")
    ).first()

    rc = main(
        [
            "zorder",
            "--target-dir",
            target,
            "--columns",
            "o_custkey,o_totalprice",
            "--n-files",
            "8",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_files"] == 8
    assert os.path.exists(res["manifest"])
    assert [n for n in os.listdir(tmp_path) if "compact" in n] == []
    assert not os.path.exists(os.path.join(target, "._replaced"))
    after = spark.read.parquet(target).groupBy().agg(
        F.count("*"), F.sum("o_orderkey")
    ).first()
    assert after == before

    rc = main(
        [
            "zorder",
            "--target-dir",
            target,
            "--columns",
            "o_custkey,o_totalprice",
            "--n-files",
            "8",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(target).count() == before[0]


def test_curate_command(tmp_path, capsys):
    rc = main(
        [
            "curate",
            "--source-dir",
            SF_SMALL,
            "--work-dir",
            str(tmp_path / "work"),
            "--metadata-dir",
            str(tmp_path / "meta"),
            "--quality-min",
            "0.4",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["final_rows"] > 0
    assert len(res["funnel"]) == 13  # incl. CRAWL/HYGIENE/CLASSIFIER/SPAN stages


def test_heal_command_recovers_crashed_merge_and_zorder(tmp_path, capsys, spark):
    """One heal command completes a staged merge left by a crash and
    finishes the partition swaps of a zorder that died after arming
    its markers."""
    import os
    import shutil

    from goe_spark.plans.compaction import partition_dirs
    from goe_spark.plans.merge_update import MERGE_MARKER, MERGE_STAGING_DIR
    from goe_spark.plans.metadata import atomic_write_json
    from goe_spark.plans.offload import PartitionSpec
    from tests.conftest import crash_swap

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    spec = PartitionSpec(source_column="o_orderdate", kind="date", granularity="M")
    target = str(tmp_path / "t")
    src.withColumn("goe_part_key", spec.expr()).write.partitionBy(
        "goe_part_key"
    ).parquet(target)

    # Crashed merge: staged row + marker, phase A/B never ran.
    victim = src.orderBy("o_orderkey").first()
    upd = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                victim.o_custkey,
                victim.o_orderstatus,
                31337.0,
                victim.o_orderdate,
                victim.o_orderpriority,
            )
        ],
        src.schema,
    )
    upd.withColumn("goe_part_key", spec.expr()).write.parquet(
        os.path.join(target, MERGE_STAGING_DIR)
    )
    atomic_write_json(
        os.path.join(target, MERGE_MARKER),
        {"key_column": "o_orderkey", "partition_col": "goe_part_key"},
    )
    # Interrupted zorder: every partition's marker armed, none swapped.
    with crash_swap("armed"):
        main(["zorder", "--target-dir", target, "--columns", "o_custkey,o_totalprice"])
    capsys.readouterr()

    rc = main(["heal", "--target-dir", target])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["merge_healed"] is True
    assert res["swaps_healed"] == partition_dirs(target)
    from pyspark.sql import functions as F

    got = (
        spark.read.parquet(target)
        .where(F.col("o_orderkey") == victim.o_orderkey)
        .collect()
    )
    assert len(got) == 1 and got[0].o_totalprice == 31337.0
    assert spark.read.parquet(target).count() == src.count()
    assert not os.path.exists(os.path.join(target, MERGE_MARKER))
    assert [n for n in os.listdir(target) if "compact" in n] == []


def test_zorder_partitioned_target_rewrites_per_partition(tmp_path, capsys, spark):
    """A Hive-partitioned target is re-clustered partition by
    partition behind the marker swap — layout preserved, content
    intact."""
    import os

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    target = str(tmp_path / "t")
    from goe_spark.plans.offload import PartitionSpec

    spec = PartitionSpec(source_column="o_orderdate", kind="date", granularity="M")
    src.withColumn("goe_part_key", spec.expr()).write.partitionBy(
        "goe_part_key"
    ).parquet(target)
    rc = main(
        [
            "zorder",
            "--target-dir",
            target,
            "--columns",
            "o_custkey,o_totalprice",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["partitions_rewritten"] > 0
    assert any(d.startswith("goe_part_key=") for d in os.listdir(target))
    assert spark.read.parquet(target).count() == src.count()


def test_heal_discards_stale_zorder_old(tmp_path, capsys, spark):
    """A flat zorder that died after its new table moved in, with the
    old table still set aside inside it: heal drops the old copy and
    the rezordered table stays."""
    import os

    from tests.conftest import crash_swap

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    target = str(tmp_path / "t")
    src.write.parquet(target)
    with crash_swap("moved", nth=2):
        main(["zorder", "--target-dir", target, "--columns", "o_custkey,o_totalprice"])
    capsys.readouterr()
    assert os.path.isdir(os.path.join(target, "._replaced"))
    rc = main(["heal", "--target-dir", target])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"swaps_healed": ["."], "merge_healed": False}
    assert not os.path.exists(os.path.join(target, "._replaced"))
    assert os.path.exists(os.path.join(target, "_zorder_manifest.json"))
    # target content intact
    assert spark.read.parquet(target).count() == src.count()


def test_fold_command(tmp_path, capsys, spark):
    from goe_spark.catalog import load_table
    from goe_spark.streaming.ingest import make_batch_sink, read_streamed_table

    target = str(tmp_path / "t")
    sink = make_batch_sink(target, str(tmp_path / "ck"), str(tmp_path / "md"))
    e = load_table(spark, SF_SMALL, "events").limit(200).cache()
    b0 = e.limit(100)
    sink(b0, 0)
    sink(e.subtract(b0).limit(100), 1)
    total = read_streamed_table(spark, target).count()

    rc = main(["fold", "--target-dir", target, "--keep-last", "1"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["folded"] == 1
    assert read_streamed_table(spark, target).count() == total
    e.unpersist()


def test_fold_rollup_command(tmp_path, capsys, spark):
    from goe_spark.catalog import load_table
    from goe_spark.streaming.rollup import make_rollup_sink, read_rollup

    rollup = str(tmp_path / "r")
    sink = make_rollup_sink(rollup, str(tmp_path / "ck"), str(tmp_path / "md"))
    e = load_table(spark, SF_SMALL, "events").limit(300).cache()
    sink(e.limit(150), 0)
    sink(e.subtract(e.limit(150)), 1)
    before = sorted(map(tuple, read_rollup(spark, rollup).collect()))

    rc = main(["fold", "--target-dir", rollup, "--keep-last", "1", "--rollup"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["folded"] == 1
    assert sorted(map(tuple, read_rollup(spark, rollup).collect())) == before
    e.unpersist()


def test_bloom_and_delete_use_bloom_commands(tmp_path, capsys, spark):
    """`bloom` builds per-partition manifests; `delete --use-bloom`
    then removes rows through the pruned phase-1 scan."""
    import os

    rc = main(
        [
            "offload",
            "--owner",
            "sh",
            "--table",
            "orders",
            "--source-dir",
            SF_SMALL,
            "--target-dir",
            str(tmp_path / "final"),
            "--staging-dir",
            str(tmp_path / "stage"),
            "--metadata-dir",
            str(tmp_path / "md"),
            "--partition-column",
            "o_orderdate",
            "--partition-kind",
            "date",
            "--granularity",
            "M",
        ]
    )
    assert rc == 0
    capsys.readouterr()
    target = str(tmp_path / "final")

    rc = main(["bloom", "--target-dir", target, "--columns", "o_orderkey"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["partitions_indexed"] > 0
    from goe_spark.plans.bloom_skip import BLOOM_MANIFEST_NAME

    assert any(
        os.path.exists(os.path.join(target, d, BLOOM_MANIFEST_NAME))
        for d in os.listdir(target)
        if os.path.isdir(os.path.join(target, d))
    )

    doomed = str(
        spark.read.parquet(target).select("o_orderkey").first()[0]
    )
    before = spark.read.parquet(target).count()
    rc = main(
        [
            "delete",
            "--target-dir",
            target,
            "--key-column",
            "o_orderkey",
            "--values",
            doomed,
            "--use-bloom",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_deleted"] >= 1
    assert spark.read.parquet(target).count() == before - rep["rows_deleted"]


def test_offload_cli_avro_staging(tmp_path, capsys):
    """--staging-format avro goes end-to-end jar-free (pure-Python
    container staging) with real .avro files on disk and a
    partitioned offload on top."""
    import os

    rc = main(
        [
            "offload",
            "--owner", "sh",
            "--table", "region",
            "--source-dir", SF_SMALL,
            "--target-dir", str(tmp_path / "final"),
            "--staging-dir", str(tmp_path / "stage"),
            "--metadata-dir", str(tmp_path / "md"),
            "--staging-format", "avro",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_staged"] == out["rows_final"] == 5
    staged = os.listdir(tmp_path / "stage")
    assert staged and all(f.endswith(".avro") for f in staged)


def test_sql_hybrid_view(tmp_path, capsys, spark):
    """`sql --hybrid OWNER.TABLE` registers the exactly-once hybrid
    relation from offload metadata: a 90/10 RANGE offload's hybrid
    view must return EVERY source row exactly once, spanning the
    boundary (backend serves <= HWM, frontend the complement)."""
    rc = main(
        [
            "offload",
            "--owner", "sh",
            "--table", "orders",
            "--source-dir", SF_SMALL,
            "--target-dir", str(tmp_path / "final" / "orders"),
            "--staging-dir", str(tmp_path / "stage"),
            "--metadata-dir", str(tmp_path / "md"),
            "--partition-column", "o_orderdate",
            "--granularity", "M",
            "--hwm", "1996-06",
        ]
    )
    assert rc == 0
    capsys.readouterr()
    total = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()

    rc = main(
        [
            "sql",
            "SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nk "
            "FROM sh_orders_hybrid",
            "--sf-dir", SF_SMALL,
            "--hybrid", "sh.orders",
            "--metadata-dir", str(tmp_path / "md"),
            "--source-root", SF_SMALL,
            "--target-root", str(tmp_path / "final"),
        ]
    )
    assert rc == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n"] == row["nk"] == total

    # missing roots is a usage error, not a crash
    rc = main(["sql", "SELECT 1", "--hybrid", "sh.orders"])
    assert rc == 2


def test_explain_command(capsys):
    """explain prints the physical plan (scan visible) and, with
    --audit, the per-query hazard summary JSON."""
    rc = main(
        [
            "explain",
            "q6_forecast_revenue",
            "--mode",
            "simple",
            "--audit",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out
    last = out.strip().splitlines()[-1]
    audit = json.loads(last)["audit"]
    assert audit == {
        "md5_in_filter": 0,
        "global_windows": 0,
        "nested_loop_joins": 0,
    }


def test_explain_unknown_query():
    assert main(["explain", "no_such_query"]) == 2


def test_merge_command_with_index_maintenance(tmp_path, capsys, spark):
    """`merge` upserts a CDC parquet batch through the CLI, and
    --maintain-index keeps a minhash index fresh in-pass."""
    import os

    from pyspark.sql import functions as F

    from goe_spark.catalog import load_table
    from goe_spark.operators.minhash_index import (
        ensure_signature_index,
        load_signatures,
    )
    from goe_spark.plans.offload import SYNTHETIC_COL, PartitionSpec

    spec = PartitionSpec("doc_id", "number", granularity=100)
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    target = os.path.join(corpus_dir, "documents.parquet")
    base = load_table(spark, SF_SMALL, "documents")
    base.withColumn(SYNTHETIC_COL, spec.expr()).write.partitionBy(
        SYNTHETIC_COL
    ).parquet(target)
    idx = ensure_signature_index(spark, corpus_dir)

    victim = base.select("doc_id").orderBy("doc_id").first()[0]
    updates_dir = str(tmp_path / "updates")
    base.where(F.col("doc_id") == victim).withColumn(
        "text", F.concat(F.lit("cli merged body "), F.col("text"))
    ).write.parquet(updates_dir)

    rc = main(
        [
            "merge",
            "--target-dir", target,
            "--key-column", "doc_id",
            "--updates", updates_dir,
            "--partition-source-column", "doc_id",
            "--partition-kind", "number",
            "--granularity", "100",
            "--maintain-index", idx,
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] == 1 and out["rows_inserted"] == 0
    got = (
        spark.read.parquet(target)
        .where(F.col("doc_id") == victim)
        .first()["text"]
    )
    assert got.startswith("cli merged body ")
    # index maintained in-pass: the victim's signature reflects the
    # NEW text (one row, present in the overrides store)
    assert (
        load_signatures(spark, idx)
        .where(F.col("doc_id") == victim)
        .count()
        == 1
    )
    assert os.path.isdir(os.path.join(idx, "overrides"))

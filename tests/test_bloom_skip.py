"""Bloom-filter file skipping: no false negatives, real skipping,
driver/engine hash agreement."""

from __future__ import annotations

import os

import hypothesis.strategies as st
import pytest
from hypothesis import given, settings
from pyspark.sql import functions as F

from goe_spark.plans.bloom_skip import (
    BLOOM_MANIFEST_NAME,
    K_HASHES,
    M_BITS,
    _positions_sql,
    build_bloom_manifest,
    prune_files_bloom,
    read_pruned_bloom,
    value_positions,
)


def _write_fixture(spark, path: str):
    """8 files, doc ids range-clustered so a point id lives in one
    file; a lang column with per-file-skewed values."""
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang_"), (F.col("id") % 37).cast("string")).alias(
            "lang"
        ),
    )
    (
        df.repartitionByRange(8, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def test_spark_and_python_positions_agree(spark):
    """The prune-time Python positions must equal the build-time Spark
    positions — THE invariant the no-false-negative property rests on
    — for keys typed to their column as a delete types them: the
    Python value is spelled as Spark's CAST(col AS STRING) spells it
    (5.0 and 1.0E-4 for doubles, 1.50 for a decimal(10,2), a timestamp
    without its fraction's trailing zeros). Doubles take the running
    JVM's spelling: before JDK 19 some have more digits than their
    shortest repr (2.82879384806159008E17)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    from goe_spark.plans.targeted_delete import typed_keys

    cases = [
        (IntegerType(), [0, 1, 42, -7]),
        (LongType(), [999_999_999_999, -(2**62)]),
        (DecimalType(10, 2), [Decimal("1.5"), Decimal("0"), Decimal("-12345678.9")]),
        (DoubleType(), [5, 1.5, 1e-4, 1e16, 123456789.0, -0.25, 0.001]),
        (DoubleType(), [2.82879384806159e17, 1e23, float("nan"), -0.0, 1e-300]),
        (DateType(), [datetime.date(2024, 1, 5), datetime.date(1999, 12, 31)]),
        (TimestampType(), ["2024-01-05 10:00:00.5", "2024-01-05 10:00:00", "1999-12-31 23:59:59.000123"]),
        (TimestampNTZType(), ["2024-01-05 10:00:00.120", "2024-01-05 00:00:00.000001"]),
        (StringType(), ["x", "lang_7", "héllo wörld", "0123"]),
    ]
    for dtype, vals in cases:
        typed = typed_keys(vals, dtype)
        df = spark.createDataFrame([(v,) for v in typed], f"v {dtype.simpleString()}")
        got = [
            [int(p) for p in r.ps]
            for r in df.selectExpr(f"{_positions_sql('v')} AS ps").collect()
        ]
        assert got == [value_positions(v) for v in typed], dtype


@settings(max_examples=25, deadline=None)
@given(st.one_of(st.integers(min_value=-(2**62), max_value=2**62), st.text(max_size=30)))
def test_python_positions_well_formed(v):
    ps = value_positions(v)
    assert len(ps) == K_HASHES
    assert all(0 <= p < M_BITS for p in ps)


def test_no_false_negatives_and_point_lookup_skips(spark, tmp_path):
    path = str(tmp_path / "bloomed")
    _write_fixture(spark, path)
    build_bloom_manifest(spark, path, ["doc_id", "lang"])

    # every row's own file must survive a probe of its value
    rows = (
        spark.read.parquet(path)
        .select("doc_id", F.input_file_name().alias("f"))
        .where(F.col("doc_id").isin([0, 777, 1500, 2222, 3999]))
        .collect()
    )
    for r in rows:
        files, total = prune_files_bloom(path, {"doc_id": r.doc_id})
        assert any(f.endswith(r.f.rsplit("/", 1)[-1]) for f in files), r
        # range-clustered ids: the point probe must actually skip
        assert len(files) < total

    # pruned read returns exactly the probed row after the exact filter
    df, n_read, n_total = read_pruned_bloom(spark, path, {"doc_id": 1500})
    assert df is not None and n_read < n_total
    got = df.where(F.col("doc_id") == 1500).collect()
    assert len(got) == 1 and got[0].doc_id == 1500


def test_conjunction_and_missing_manifest(spark, tmp_path):
    path = str(tmp_path / "bloomed2")
    _write_fixture(spark, path)
    # no manifest yet: everything survives (correct, just unpruned)
    files, total = prune_files_bloom(path, {"doc_id": 3})
    assert len(files) == total > 0

    build_bloom_manifest(spark, path, ["doc_id"])
    # conjunction: un-indexed column makes no claim; indexed one prunes
    files, total = prune_files_bloom(
        path, {"doc_id": 3, "lang": "lang_3"}
    )
    assert 0 < len(files) < total

    # a value outside the domain may prune to zero files (no false
    # negatives required only for PRESENT values); the read contract
    # returns None then
    df, n_read, _ = read_pruned_bloom(spark, path, {"doc_id": -123456789})
    assert df is None or df.where(F.col("doc_id") == -123456789).count() == 0


def test_partitioned_build_and_delete_integration(spark, offloaded_orders):
    """Bloom-bounded takedown: same deletions as the unbounded path,
    phase-1 file set strictly pruned, and the rewritten partition's
    manifest dropped (stale claims die with their files)."""
    import os

    from goe_spark.plans.bloom_skip import (
        BLOOM_MANIFEST_NAME,
        build_bloom_manifest_partitioned,
        prune_partitioned_bloom_in,
    )
    from goe_spark.plans.targeted_delete import delete_rows

    target, src, _ = offloaded_orders
    n_parts = build_bloom_manifest_partitioned(
        spark, target, ["o_orderkey"]
    )
    assert n_parts > 0

    doomed = [r[0] for r in src.select("o_orderkey").limit(3).collect()]
    files, total = prune_partitioned_bloom_in(target, "o_orderkey", doomed)
    assert 0 < len(files) < total  # the probe really skips files

    before = spark.read.parquet(target).count()
    rep = delete_rows(
        spark, target, "o_orderkey", doomed, use_bloom=True
    )
    assert rep.rows_deleted == 3
    after = spark.read.parquet(target)
    assert after.count() == before - 3
    assert after.where(F.col("o_orderkey").isin(doomed)).count() == 0

    # rewritten partitions dropped their manifests; untouched kept
    touched = {d for d, _ in rep.details}
    for d in touched:
        assert not os.path.exists(
            os.path.join(target, d, BLOOM_MANIFEST_NAME)
        )
    untouched_with_manifest = [
        d
        for d in os.listdir(target)
        if os.path.isdir(os.path.join(target, d))
        and d not in touched
        and os.path.exists(os.path.join(target, d, BLOOM_MANIFEST_NAME))
    ]
    assert untouched_with_manifest  # the drop was surgical

    # absent keys: bloom proves no file can match -> zero-cost no-op
    rep2 = delete_rows(
        spark, target, "o_orderkey", [-1, -2], use_bloom=True
    )
    assert rep2.rows_deleted == 0 and rep2.partitions_affected == 0


def test_partitioned_build_skips_leftover_temporary_dir(
    spark, offloaded_orders
):
    """A leftover ``_temporary/0/`` under a partitioned target is
    hidden from Spark's reader, so it is no partition: the build and
    the probe skip it instead of failing to infer its schema."""
    from goe_spark.plans.bloom_skip import (
        build_bloom_manifest_partitioned,
        prune_partitioned_bloom_in,
    )

    target, src, _ = offloaded_orders
    os.makedirs(os.path.join(target, "_temporary", "0"))
    n_parts = len([d for d in os.listdir(target) if "=" in d])
    assert build_bloom_manifest_partitioned(
        spark, target, ["o_orderkey"]
    ) == n_parts
    assert not os.path.exists(
        os.path.join(target, "_temporary", BLOOM_MANIFEST_NAME)
    )
    key = src.select("o_orderkey").first()[0]
    files, total = prune_partitioned_bloom_in(target, "o_orderkey", [key])
    assert 0 < len(files) < total
    assert not any("_temporary" in f for f in files)


def test_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash while the manifest is being dumped leaves the previous
    manifest whole: the next bloom-pruned read still parses it."""
    import json

    path = str(tmp_path / "bloomed3")
    _write_fixture(spark, path)
    before = build_bloom_manifest(spark, path, ["doc_id"])
    pruned = prune_files_bloom(path, {"doc_id": 1500})

    def torn_dump(obj, fh, **kw):
        fh.write(json.dumps(obj)[:100])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        build_bloom_manifest(spark, path, ["doc_id", "lang"])
    monkeypatch.undo()
    with open(os.path.join(path, BLOOM_MANIFEST_NAME)) as fh:
        assert json.load(fh) == before
    assert prune_files_bloom(path, {"doc_id": 1500}) == pruned


def test_partitioned_manifests_equal_flat_builds(spark, tmp_path):
    """The one aggregate behind the partitioned build gives each
    directory the manifest build_bloom_manifest builds on it alone,
    NULL-skipping included (a file whose column is all NULL has no
    filter for it)."""
    import json

    from goe_spark.plans.bloom_skip import build_bloom_manifest_partitioned

    path = str(tmp_path / "parts")
    spark.range(600).selectExpr(
        "IF(id % 7 = 0, NULL, id) AS k",
        "concat('v', id % 13) AS s",
        "IF(id % 4 = 1, NULL, id % 3) AS n",
        "id % 4 AS goe_part_key",
    ).repartition(3).write.partitionBy("goe_part_key").parquet(path)
    cols = ["k", "s", "n"]
    assert build_bloom_manifest_partitioned(spark, path, cols) == 4
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if not d.startswith("goe_part_key="):
            continue
        with open(os.path.join(full, BLOOM_MANIFEST_NAME)) as fh:
            built = json.load(fh)
        assert built == build_bloom_manifest(spark, full, cols), d
    with open(os.path.join(path, "goe_part_key=1", BLOOM_MANIFEST_NAME)) as fh:
        assert all("n" not in entry for entry in json.load(fh).values())


@pytest.mark.parametrize(
    "dtype,key", [("decimal(10,2)", "1.5"), ("double", 5), ("double", 1e-4)]
)
def test_bloom_pruned_delete_matches_unpruned(spark, tmp_path, dtype, key):
    """A bloom-pruned delete deletes what the unpruned one does on a
    decimal or double key, whose Spark string form (1.50, 5.0, 1.0E-4)
    is not Python's str() of the key."""
    import shutil

    from goe_spark.plans.bloom_skip import build_bloom_manifest_partitioned
    from goe_spark.plans.targeted_delete import delete_rows

    plain, pruned = str(tmp_path / "plain"), str(tmp_path / "pruned")
    spark.sql(
        f"SELECT CAST(element_at(array(1.5, 5, 1e-4, 2.25), CAST(id % 4 AS INT) + 1)"
        f" + IF(id < 4, 0, id) AS {dtype}) AS k, id, CAST(id % 2 AS STRING) AS goe_part_key"
        " FROM range(40)"
    ).repartition(4).write.partitionBy("goe_part_key").parquet(plain)
    build_bloom_manifest_partitioned(spark, plain, ["k"])
    shutil.copytree(plain, pruned)

    want = delete_rows(spark, plain, "k", [key]).rows_deleted
    got = delete_rows(spark, pruned, "k", [key], use_bloom=True).rows_deleted
    assert want == got == 1
    assert sorted(spark.read.parquet(pruned).collect()) == sorted(
        spark.read.parquet(plain).collect()
    )

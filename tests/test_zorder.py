"""Z-order clustering + manifest file skipping (plans/zorder.py):
content fidelity, pruning correctness (pruned+filter == full+filter),
multi-dimensional skipping that a linear sort cannot give, temporal
column support, and edge cases (constant column, unknown column)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.zorder import (
    build_manifest,
    prune_files,
    read_pruned,
    write_zordered,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet")


@pytest.fixture(scope="module")
def zpath(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("z") / "orders_z")
    # 64 z-range files => the file grain carries ~3 rank bits per
    # dimension, enough for a 10% range to skip most files.
    rep = write_zordered(
        orders, path, ["o_custkey", "o_totalprice"], n_files=64
    )
    assert rep.n_files == 64
    return path


def test_content_identical(spark, orders, zpath):
    """Layout-only: same rows in, same rows out."""
    back = spark.read.parquet(zpath)
    assert back.count() == orders.count()
    # Decimal-cast sum: float summation order differs across layouts.
    aggs = [
        F.sum("o_orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(20,2)")),
        F.count("*"),
    ]
    assert orders.groupBy().agg(*aggs).first() == back.groupBy().agg(*aggs).first()


def _mid_bounds(orders, col):
    lo, hi = orders.agg(F.min(col), F.max(col)).first()
    span = float(hi) - float(lo)
    return float(lo) + 0.45 * span, float(lo) + 0.55 * span


def test_pruned_read_is_exact(spark, orders, zpath):
    """The manifest never loses a matching row: pruned scan + exact
    filter == full scan + exact filter, on both dimensions at once."""
    c_lo, c_hi = _mid_bounds(orders, "o_custkey")
    p_lo, p_hi = _mid_bounds(orders, "o_totalprice")
    df, n_read, n_total = read_pruned(
        spark,
        zpath,
        {"o_custkey": (c_lo, c_hi), "o_totalprice": (p_lo, p_hi)},
    )
    pred = (
        F.col("o_custkey").between(c_lo, c_hi)
        & F.col("o_totalprice").between(p_lo, p_hi)
    )
    expect = orders.where(pred).count()
    assert df.where(pred).count() == expect
    assert n_read < n_total  # both-dims query skips files


def test_skips_on_every_dimension(spark, orders, zpath, tmp_path):
    """The z-order point: a 10%-selectivity range on EITHER clustered
    column alone skips files. A linear sort on o_custkey serves only
    its leading column — totalprice pruning degenerates to ~0 files
    skipped."""
    c_lo, c_hi = _mid_bounds(orders, "o_custkey")
    p_lo, p_hi = _mid_bounds(orders, "o_totalprice")
    _, n_cust, total = read_pruned(
        spark, zpath, {"o_custkey": (c_lo, c_hi)}
    )
    _, n_price, _ = read_pruned(
        spark, zpath, {"o_totalprice": (p_lo, p_hi)}
    )
    assert n_cust <= total // 2
    assert n_price <= total // 2

    # Control: linear sort layout, same manifest machinery.
    lin = str(tmp_path / "orders_linear")
    (
        orders.repartitionByRange(64, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lin)
    )
    build_manifest(spark, lin, ["o_custkey", "o_totalprice"])
    _, lin_cust, lin_total = read_pruned(
        spark, lin, {"o_custkey": (c_lo, c_hi)}
    )
    _, lin_price, _ = read_pruned(
        spark, lin, {"o_totalprice": (p_lo, p_hi)}
    )
    assert lin_cust <= lin_total // 2  # leading column: fine
    assert lin_price >= lin_total - 1  # trailing column: no skipping
    # ...and the z-layout beats it on that same trailing column.
    assert n_price < lin_price


def test_temporal_column_bounds(spark, orders, tmp_path):
    """Temporal columns rank by epoch micros (the fixture's
    o_orderdate is timestamp); bounds on the rank scale prune and
    lose no rows."""
    path = str(tmp_path / "orders_zd")
    write_zordered(
        orders, path, ["o_orderdate", "o_totalprice"], n_files=8
    )
    rank = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    lo_d, hi_d = orders.agg(F.min(rank), F.max(rank)).first()
    mid = (lo_d + hi_d) // 2
    df, n_read, n_total = read_pruned(
        spark, path, {"o_orderdate": (float(lo_d), float(mid))}
    )
    assert 0 < n_read < n_total
    expect = orders.where(rank.between(lo_d, mid)).count()
    got = df.where(rank.between(lo_d, mid)).count()
    assert got == expect


def test_rejects_string_column(orders, tmp_path):
    with pytest.raises(ValueError, match="numeric/date/timestamp"):
        write_zordered(
            orders, str(tmp_path / "x"), ["o_orderstatus", "o_custkey"]
        )


def test_rejects_bad_arity(orders, tmp_path):
    with pytest.raises(ValueError, match="2..4"):
        write_zordered(orders, str(tmp_path / "x"), ["o_custkey"])


def test_unknown_manifest_column(spark, zpath):
    with pytest.raises(KeyError, match="not in zorder manifest"):
        prune_files(zpath, {"nope": (0.0, 1.0)})


def test_constant_column_never_prunes_wrong(spark, orders, tmp_path):
    """A constant clustered column ranks everything 0; any bound that
    includes the constant keeps all files, one that excludes it drops
    all — never a half-wrong split."""
    path = str(tmp_path / "orders_zc")
    const = orders.withColumn("k", F.lit(7.0))
    write_zordered(const, path, ["k", "o_custkey"], n_files=4)
    _, n_in, total = read_pruned(spark, path, {"k": (6.0, 8.0)})
    _, n_out, _ = read_pruned(spark, path, {"k": (10.0, 20.0)})
    assert n_in == total and n_out == 0


def test_quantile_rank_beats_linear_on_skew(spark, tmp_path):
    """The skew case the quantile option exists for: cube the price so
    ~90% of rows collapse into the lowest linear rank values. A range
    query over the DENSE low region then reads nearly every file under
    linear ranking (all files contain low-region rows) but a narrow
    slice under equi-depth ranking. Pruning stays exact either way."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "skewed", F.pow(F.col("o_totalprice") / 1000.0, 3)
    )
    lin, qnt = str(tmp_path / "lin"), str(tmp_path / "qnt")
    write_zordered(orders, lin, ["o_custkey", "skewed"], n_files=32)
    write_zordered(
        orders, qnt, ["o_custkey", "skewed"], n_files=32, rank="quantile"
    )

    # Query a low-skewed-value band holding ~25% of rows.
    lo, hi = 0.0, float(
        orders.approxQuantile("skewed", [0.25], 0.01)[0]
    )
    n = orders.where(F.col("skewed").between(lo, hi)).count()
    assert n > 0

    df_l, read_l, total_l = read_pruned(spark, lin, {"skewed": (lo, hi)})
    df_q, read_q, total_q = read_pruned(spark, qnt, {"skewed": (lo, hi)})
    pred = F.col("skewed").between(lo, hi)
    assert df_l.where(pred).count() == n  # exactness unchanged
    assert df_q.where(pred).count() == n
    # Equi-depth ranks confine the dense region to few files; linear
    # ranks smear it across most of them.
    assert read_q < read_l
    assert read_q <= total_q // 2


def test_partitioned_zorder_preserves_layout_and_prunes(
    spark, offloaded_orders
):
    """Per-partition re-clustering: partition dirs survive (the
    delete/merge/compact contract), content is identical, the
    partition column still reads back, and manifest pruning skips
    files within partitions."""
    import os

    from goe_spark.plans.zorder import (
        read_pruned_partitioned,
        zorder_partitioned_table,
    )

    target, src, _ = offloaded_orders
    before = spark.read.parquet(target).count()
    part_dirs_before = sorted(
        d for d in os.listdir(target) if d.startswith("goe_part_key=")
    )
    rep = zorder_partitioned_table(
        spark, target, ["o_custkey", "o_totalprice"], n_files=4
    )
    # the set-oriented rewrite (every partition in one write, one
    # marker swap each) must cover EVERY partition exactly once and
    # leave one fresh manifest per partition
    assert rep.partitions_rewritten == len(part_dirs_before)
    from goe_spark.plans.zorder import _mpath

    for d in part_dirs_before:
        assert os.path.exists(_mpath(os.path.join(target, d)))
    part_dirs = [d for d in os.listdir(target) if d.startswith("goe_part_key=")]
    assert part_dirs  # layout intact
    back = spark.read.option("basePath", target).parquet(target)
    assert back.count() == before
    assert "goe_part_key" in back.columns

    lo, hi = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    span = float(hi) - float(lo)
    b = (float(lo) + 0.45 * span, float(lo) + 0.55 * span)
    df, n_read, n_total = read_pruned_partitioned(
        spark, target, {"o_custkey": b}
    )
    assert 0 < n_read < n_total
    pred = F.col("o_custkey").between(*b)
    assert df.where(pred).count() == src.where(pred).count()
    assert "goe_part_key" in df.columns


def test_partitioned_zorder_heals_crashed_swap(spark, offloaded_orders):
    """A marker left mid-swap is completed by the next run before any
    rewrite — compaction's crash contract carried over."""
    import os
    import shutil

    from goe_spark.plans.compaction import (
        _data_files,
        _marker_path,
        _tmp_dir,
    )
    from goe_spark.plans.metadata import atomic_write_json
    from goe_spark.plans.zorder import zorder_partitioned_table

    target, src, _ = offloaded_orders
    d = sorted(
        x for x in os.listdir(target) if x.startswith("goe_part_key=")
    )[0]
    full = os.path.join(target, d)
    old = _data_files(full)
    # Simulate: compacted copy complete in tmp, marker armed, crash.
    df = spark.read.parquet(full)
    tmp = _tmp_dir(target, d)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.coalesce(1).write.parquet(tmp)
    atomic_write_json(
        _marker_path(target, d), {"partition": d, "old_files": old}
    )

    rep = zorder_partitioned_table(
        spark, target, ["o_custkey", "o_totalprice"], n_files=2
    )
    assert rep.partitions_healed == 1
    assert spark.read.parquet(target).count() == src.count()
    assert not os.path.exists(_marker_path(target, d))


def test_partitioned_zorder_files_per_partition_on_skew(spark, tmp_path):
    """The range count is set by the largest partition, so one holding
    most of the rows gets about ``n_files`` files, not its row share of
    ``n_files`` per partition, and no partition more than
    ``n_files + 1``. Content and every manifest stay exact."""
    import json
    import os

    from goe_spark.plans.compaction import _data_files, partition_dirs
    from goe_spark.plans.zorder import _mpath, zorder_partitioned_table

    target = str(tmp_path / "t")
    spark.range(1000).selectExpr(
        "id",
        "CAST(id * 37 % 1000 AS DOUBLE) AS x",
        "CASE WHEN id < 850 THEN 'big' WHEN id < 950 THEN 'mid' ELSE 'small' "
        "END AS goe_part_key",
    ).repartition(3).write.partitionBy("goe_part_key").parquet(target)
    before = sorted(spark.read.parquet(target).collect())
    rep = zorder_partitioned_table(spark, target, ["id", "x"], n_files=4)
    assert rep.partitions_rewritten == 3
    for d in partition_dirs(target):
        full = os.path.join(target, d)
        assert len(_data_files(full)) <= 5, d
        with open(_mpath(full)) as fh:
            written = json.load(fh)
        assert written == build_manifest(spark, full, ["id", "x"])
    assert sorted(spark.read.parquet(target).collect()) == before


# --- manifests from parquet footers ---------------------------------------


def _same_bounds(a, b):
    """Manifest equality with NaN equal to itself (-0.0 == 0.0 as in
    Spark's comparisons)."""

    def norm(m):
        return {
            f: {
                c: ["NaN" if v != v else v for v in lohi]
                for c, lohi in cols.items()
            }
            for f, cols in m.items()
        }

    return norm(a) == norm(b)


def _zorder_one_partition(spark, tmp_path, df, cols, write=None):
    """Zorder a one-partition table holding ``df`` (written by Spark,
    or by ``write(df, dir)``); returns (partition dir, the manifest
    written after the swap, the Spark jobs the zorder ran)."""
    import json
    import os

    from goe_spark.plans.zorder import _mpath, zorder_partitioned_table
    from tests.conftest import tagged_jobs

    root = str(tmp_path / "t")
    part = os.path.join(root, "goe_part_key=a")
    if write is None:
        df.repartition(3).write.parquet(part)
    else:
        os.makedirs(part)
        write(df, part)
    with tagged_jobs(spark) as ids:
        rep = zorder_partitioned_table(spark, root, cols, n_files=2)
    assert rep.partitions_rewritten == 1
    with open(_mpath(part)) as fh:
        return part, json.load(fh), ids


def test_footer_manifest_all_null_file(spark, tmp_path):
    """A file whose clustered column is all NULL has no footer min/max
    for it, only a NULL count: its bounds are [None, None], as
    Spark's."""
    df = spark.createDataFrame(
        [(i, None) for i in range(80)], "k long, price double"
    )
    part, written, ids = _zorder_one_partition(
        spark, tmp_path, df, ["k", "price"]
    )
    assert len(written) == 2
    assert all(b["price"] == [None, None] for b in written.values())
    assert written == build_manifest(spark, part, ["k", "price"])
    assert len(ids) <= 3, len(ids)


def test_footer_manifest_nan_and_negative_zero(spark, tmp_path):
    """parquet-mr orders NaN above every double, as Spark's max does,
    and -0.0 equals 0.0 in both."""
    vals = [float("nan"), -0.0, 0.0, 1.5, -2.5, float("nan")] * 10
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x double"
    )
    part, written, ids = _zorder_one_partition(spark, tmp_path, df, ["k", "x"])
    assert any(b["x"][1] != b["x"][1] for b in written.values())  # NaN max
    assert _same_bounds(written, build_manifest(spark, part, ["k", "x"]))
    assert len(ids) <= 3, len(ids)


def test_footer_manifest_date_column(spark, tmp_path):
    """A date column's footer min/max land on the rank scale as epoch
    days, the same values Spark's datediff gives."""
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit("1995-03-01").cast("date"), ((F.col("id") * 7) % 365).cast("int")
        )
        .alias("d"),
    )
    part, written, ids = _zorder_one_partition(spark, tmp_path, df, ["d", "k"])
    assert written == build_manifest(spark, part, ["d", "k"])
    assert min(b["d"][0] for b in written.values()) == 9190.0  # 1995-03-01
    assert len(ids) <= 3, len(ids)


def test_footer_manifest_falls_back_without_statistics(spark, tmp_path):
    """Footers without min/max answer nothing. Old files written by
    pyarrow without statistics send the linear ranks' min/max to a
    Spark aggregate, and written files without statistics send the
    manifest to one; either way it equals build_manifest."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from goe_spark.plans.compaction import _data_files, footer_facts

    cols = ["o_custkey", "o_totalprice"]
    rows = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(*cols)

    def arrow_no_stats(df, d):
        table = pa.Table.from_pandas(df.toPandas(), preserve_index=False)
        pq.write_table(table, os.path.join(d, "a.parquet"),
                       write_statistics=False)

    part, written, ids = _zorder_one_partition(
        spark, tmp_path / "arrow", rows, cols, write=arrow_no_stats
    )
    assert written == build_manifest(spark, part, cols)
    assert len(ids) > 3, len(ids)  # + the stats aggregate

    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    hadoop.set("parquet.column.statistics.enabled", "false")
    try:
        part, written, _ = _zorder_one_partition(
            spark, tmp_path / "spark", rows, cols
        )
    finally:
        hadoop.unset("parquet.column.statistics.enabled")
    assert footer_facts(part, _data_files(part), cols).bounds is None
    assert written == build_manifest(spark, part, cols)

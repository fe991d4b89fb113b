"""Hybrid view (plans/hybrid_view.py): during a part-complete offload
the union-all relation must see every source row exactly once, for
every offload type's boundary rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goe_spark.plans.hybrid_view import hybrid_view_df, register_hybrid_view
from goe_spark.plans.metadata import MetadataStore
from goe_spark.plans.offload import (
    OffloadConfig,
    OffloadPipeline,
    PartitionSpec,
)
from tests.conftest import SF_SMALL


@pytest.fixture()
def orders(spark):
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet")


def _cfg(tmp_path, **kw):
    return OffloadConfig(
        owner="sh",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        **kw,
    )


def _totals(df):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("s"),
    ).first()
    return row.n, row.s


def test_range_hybrid_sees_every_row_once(spark, orders, tmp_path):
    cfg = _cfg(
        tmp_path,
        partition=PartitionSpec("o_orderdate", "date", "M"),
        hwm="1995-06",
    )
    res = OffloadPipeline(spark, cfg).run(orders)
    assert 0 < res.rows_final < orders.count()  # genuinely part-offloaded

    md = MetadataStore(cfg.metadata_dir).get("sh", "orders")
    hybrid = hybrid_view_df(spark, md, cfg.target_dir, orders)
    assert sorted(hybrid.columns) == sorted(orders.columns)
    assert _totals(hybrid) == _totals(orders)


def test_range_hybrid_tracks_advancing_hwm(spark, orders, tmp_path):
    part = PartitionSpec("o_orderdate", "date", "M")
    for hwm in ("1995-06", "1996-06"):
        cfg = _cfg(tmp_path, partition=part, hwm=hwm)
        OffloadPipeline(spark, cfg).run(orders)
        md = MetadataStore(cfg.metadata_dir).get("sh", "orders")
        hybrid = hybrid_view_df(spark, md, cfg.target_dir, orders)
        assert _totals(hybrid) == _totals(orders)


def test_list_hybrid(spark, orders, tmp_path):
    cfg = _cfg(
        tmp_path,
        list_partition_column="o_orderpriority",
        list_partition_values=["1-URGENT", "2-HIGH"],
    )
    OffloadPipeline(spark, cfg).run(orders)
    md = MetadataStore(cfg.metadata_dir).get("sh", "orders")
    hybrid = hybrid_view_df(spark, md, cfg.target_dir, orders)
    assert _totals(hybrid) == _totals(orders)


def test_predicate_hybrid(spark, orders, tmp_path):
    cfg = _cfg(
        tmp_path,
        offload_predicate='column(o_orderpriority) = string("1-URGENT")',
    )
    OffloadPipeline(spark, cfg).run(orders)
    md = MetadataStore(cfg.metadata_dir).get("sh", "orders")
    hybrid = hybrid_view_df(spark, md, cfg.target_dir, orders)
    assert _totals(hybrid) == _totals(orders)


def test_full_hybrid_is_backend_only(spark, orders, tmp_path):
    cfg = _cfg(tmp_path)
    OffloadPipeline(spark, cfg).run(orders)
    md = MetadataStore(cfg.metadata_dir).get("sh", "orders")
    hybrid = hybrid_view_df(spark, md, cfg.target_dir, orders)
    assert _totals(hybrid) == _totals(orders)


def test_register_hybrid_view_sql(spark, orders, tmp_path):
    cfg = _cfg(
        tmp_path,
        partition=PartitionSpec("o_orderdate", "date", "M"),
        hwm="1995-06",
    )
    OffloadPipeline(spark, cfg).run(orders)
    register_hybrid_view(
        spark,
        MetadataStore(cfg.metadata_dir),
        "sh",
        "orders",
        cfg.target_dir,
        f"{SF_SMALL}/orders.parquet",
    )
    got = spark.sql("SELECT count(*) AS n FROM sh_orders_hybrid").first().n
    assert got == orders.count()


def test_list_status_report_split(spark, orders, tmp_path):
    """A LIST-offloaded table's retained/reclaimable split counts only
    offloaded values as reclaimable — not the whole source."""
    from goe_spark.plans.status_report import status_report

    cfg = _cfg(
        tmp_path,
        list_partition_column="o_orderpriority",
        list_partition_values=["1-URGENT"],
    )
    OffloadPipeline(spark, cfg).run(orders)
    row = status_report(
        spark,
        MetadataStore(cfg.metadata_dir),
        source_paths={("sh", "orders"): f"{SF_SMALL}/orders.parquet"},
    ).first()
    offloaded = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert row.reclaimable_rows == offloaded
    assert row.retained_rows == orders.count() - offloaded
    assert row.retained_rows > 0


def test_native_multicol_range_hybrid(spark, tmp_path):
    """Native (year, month) RANGE key with no synthetic partition:
    the hybrid union must still see every row exactly once, NULL key
    rows included."""
    from goe_spark.plans.hybrid_view import hybrid_view_df
    from goe_spark.plans.metadata import OffloadMetadata

    rows = [
        (1, 2011, 12, 1.0),
        (2, 2012, 1, 1.0),
        (3, 2012, 2, 1.0),
        (4, 2012, 3, 1.0),
        (5, 2013, 1, 1.0),
        (6, None, None, 1.0),  # leading-NULL key: never offloadable
        # Trailing NULL below the boundary: (y < 2012) decides the
        # comparison before the NULL is reached, so the boundary
        # predicate is TRUE and the row IS offloaded — it must appear
        # exactly once (backend-side), not also retained.
        (7, 2011, None, 1.0),
        # Trailing NULL AT the boundary year: the predicate reaches
        # m <= 2 and goes NULL, so the row stays frontend-side.
        (8, 2012, None, 1.0),
    ]
    src = spark.createDataFrame(rows, "id long, y int, m int, v double")
    # Backend holds exactly the boundary-predicate-IS-TRUE slice.
    backend_path = str(tmp_path / "backend")
    src.where("(y < 2012) OR (y = 2012 AND m <= 2)").write.parquet(
        backend_path
    )
    md = OffloadMetadata(
        owner="sh",
        table_name="ym",
        offload_type="RANGE",
        incremental_key="y,m",
        incremental_high_value=(2012, 2),
    )
    hybrid = hybrid_view_df(spark, md, backend_path, src)
    got = sorted(r.id for r in hybrid.collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]


def test_native_multicol_range_hybrid_maxvalue(spark, tmp_path):
    """A MAXVALUE in the trailing position collapses the boundary to
    the leading-column comparison; NULL-leading rows still retain."""
    from goe_spark.plans.hybrid_view import hybrid_view_df
    from goe_spark.plans.metadata import OffloadMetadata
    from goe_spark.plans.partitions import MAXVALUE

    rows = [
        (1, 2011, 12, 1.0),
        (2, 2012, 1, 1.0),
        (3, 2012, None, 1.0),  # y = 2012 decides: offloaded
        (4, 2013, 1, 1.0),
        (5, None, 3, 1.0),  # leading NULL: retained
    ]
    src = spark.createDataFrame(rows, "id long, y int, m int, v double")
    backend_path = str(tmp_path / "backend")
    src.where("y <= 2012").write.parquet(backend_path)
    md = OffloadMetadata(
        owner="sh",
        table_name="ym",
        offload_type="RANGE",
        incremental_key="y,m",
        incremental_high_value=(2012, MAXVALUE),
    )
    hybrid = hybrid_view_df(spark, md, backend_path, src)
    got = sorted(r.id for r in hybrid.collect())
    assert got == [1, 2, 3, 4, 5]


def test_native_range_missing_key_raises(spark, tmp_path):
    """High value without incremental_key is a descriptive error, not
    an AttributeError deep in string parsing."""
    import pytest

    from goe_spark.plans.hybrid_view import hybrid_view_df
    from goe_spark.plans.metadata import OffloadMetadata
    from goe_spark.plans.partitions import PartitionSelectionError

    src = spark.createDataFrame([(1, 2011)], "id long, y int")
    backend_path = str(tmp_path / "backend")
    src.write.parquet(backend_path)
    md = OffloadMetadata(
        owner="sh",
        table_name="ym",
        offload_type="RANGE",
        incremental_key=None,
        incremental_high_value=(2012,),
    )
    with pytest.raises(PartitionSelectionError, match="incremental_key"):
        hybrid_view_df(spark, md, backend_path, src)


# --- exactly once, per offload type -----------------------------------------


def _t(tmp_path, **kw):
    return OffloadConfig(
        owner="sh",
        table_name="t",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "md"),
        **kw,
    )


def _full(spark, src, tmp_path):
    return _t(tmp_path)


def _synthetic_range_with_nulls(spark, src, tmp_path):
    # The NULL-date row has no partition key: it never moves, and the
    # frontend serves it.
    return _t(
        tmp_path, partition=PartitionSpec("d", "date", "M"), hwm="2024-02"
    )


def _list_dates(spark, src, tmp_path):
    import datetime

    return _t(
        tmp_path,
        list_partition_column="d",
        list_partition_values=[datetime.date(2024, 1, 15)],
    )


def _predicate_decimal(spark, src, tmp_path):
    # A double literal reads 1.000000000000000001 as 1.0, so x of row 1
    # would not compare greater; the exact decimal does.
    return _t(
        tmp_path, offload_predicate="column(x) > numeric(1.000000000000000001)"
    )


def _native_multicol_range(spark, src, tmp_path):
    from goe_spark.plans.metadata import OffloadMetadata

    src.where("(y < 2024) OR (y = 2024 AND m <= 2)").write.parquet(str(tmp_path / "final"))
    MetadataStore(str(tmp_path / "md")).save(
        OffloadMetadata(
            owner="sh",
            table_name="t",
            offload_type="RANGE",
            incremental_key="y,m",
            incremental_high_value=(2024, 2),
        )
    )
    return None


@pytest.mark.parametrize(
    "offload",
    [
        _full,
        _synthetic_range_with_nulls,
        _native_multicol_range,
        _list_dates,
        _predicate_decimal,
    ],
)
def test_every_source_row_served_exactly_once(spark, tmp_path, offload):
    """For each offload type the hybrid view serves every source row
    once, and the status report's reclaimable rows are exactly the
    rows ``offloaded(md)`` selects (PREDICATE reports none)."""
    import datetime
    from decimal import Decimal

    from goe_spark.plans.slices import offloaded
    from goe_spark.plans.status_report import status_report

    rows = [
        (1, datetime.date(2023, 12, 31), 2023, 12, Decimal("1.000000000000000010")),
        (2, datetime.date(2024, 1, 15), 2024, 1, Decimal("2")),
        (3, datetime.date(2024, 2, 10), 2024, None, Decimal("3")),
        (4, datetime.date(2024, 3, 5), 2024, 3, Decimal("1.000000000000000001")),
        (5, None, None, 1, None),
    ]
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "id long, d date, y int, m int, x decimal(20,18)"
    ).write.parquet(src_path)
    src = spark.read.parquet(src_path)
    cfg = offload(spark, src, tmp_path)
    if cfg is not None:
        res = OffloadPipeline(spark, cfg).run(src)
        assert res.rows_final > 0
    store = MetadataStore(str(tmp_path / "md"))
    md = store.get("sh", "t")

    hybrid = hybrid_view_df(spark, md, str(tmp_path / "final"), src)
    assert sorted(r.id for r in hybrid.collect()) == [1, 2, 3, 4, 5]

    row = status_report(spark, store, source_paths={("sh", "t"): src_path}).first()
    moved = offloaded(md)
    if md.offload_type == "PREDICATE":
        assert row.reclaimable_rows is None
    else:
        assert row.reclaimable_rows == src.where(moved.frontend).count()
        assert row.retained_rows == 5 - row.reclaimable_rows

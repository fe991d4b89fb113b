"""SCD Type-2 apply: version-chain invariants, idempotence, crash
healing."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from goe_spark.plans.scd2 import (
    IS_CURRENT,
    VALID_FROM,
    VALID_TO,
    scd2_apply,
    scd2_init,
)

D = datetime.date


def _dim(spark, tmp_path):
    path = str(tmp_path / "cust_dim")
    rows = spark.createDataFrame(
        [(1, "gold", "NY"), (2, "silver", "SF"), (3, "gold", "LA")],
        "cust_id long, tier string, city string",
    )
    scd2_init(spark, path, rows, D(2024, 1, 1))
    return path


def _chain_invariants(spark, path):
    """One current row per key; intervals non-overlapping and
    contiguous; every closed row's valid_to equals the successor's
    valid_from."""
    dim = spark.read.parquet(path)
    per_key = {}
    for r in dim.collect():
        per_key.setdefault(r.cust_id, []).append(r)
    for k, versions in per_key.items():
        versions.sort(key=lambda r: r[VALID_FROM])
        currents = [r for r in versions if r[IS_CURRENT]]
        assert len(currents) == 1, (k, versions)
        assert currents[0][VALID_TO] is None
        for a, b in zip(versions, versions[1:]):
            assert a[VALID_TO] == b[VALID_FROM], (k, a, b)
        for r in versions[:-1]:
            assert not r[IS_CURRENT]
    return per_key


def test_apply_new_changed_unchanged(spark, tmp_path):
    path = _dim(spark, tmp_path)
    changes = spark.createDataFrame(
        [
            (1, "platinum", "NY"),  # changed tier
            (2, "silver", "SF"),  # unchanged
            (4, "bronze", "TX"),  # new key
        ],
        "cust_id long, tier string, city string",
    )
    rep = scd2_apply(
        spark, path, changes, "cust_id", ["tier", "city"], D(2024, 6, 1)
    )
    assert (rep.keys_new, rep.keys_changed, rep.keys_unchanged) == (1, 1, 1)
    chains = _chain_invariants(spark, path)
    assert len(chains[1]) == 2  # closed v1 + new current
    assert chains[1][0][VALID_TO] == D(2024, 6, 1)
    assert chains[1][1].tier == "platinum"
    assert len(chains[2]) == 1  # untouched
    assert len(chains[4]) == 1 and chains[4][0][VALID_FROM] == D(2024, 6, 1)
    # point-in-time join semantics: attrs as of 2024-03-01 are the old ones
    asof = (
        spark.read.parquet(path)
        .where(
            (F.col(VALID_FROM) <= F.lit(D(2024, 3, 1)))
            & (
                F.col(VALID_TO).isNull()
                | (F.col(VALID_TO) > F.lit(D(2024, 3, 1)))
            )
        )
        .where(F.col("cust_id") == 1)
        .collect()
    )
    assert len(asof) == 1 and asof[0].tier == "gold"


def test_pure_redelivery_is_noop(spark, tmp_path):
    path = _dim(spark, tmp_path)
    files_before = sorted(os.listdir(path))
    changes = spark.createDataFrame(
        [(1, "gold", "NY")], "cust_id long, tier string, city string"
    )
    rep = scd2_apply(
        spark, path, changes, "cust_id", ["tier", "city"], D(2024, 6, 1)
    )
    assert rep.keys_unchanged == 1 and rep.keys_changed == rep.keys_new == 0
    assert sorted(os.listdir(path)) == files_before  # no write at all


def test_apply_idempotent_and_multi_batch(spark, tmp_path):
    path = _dim(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, "platinum", "NY")], "cust_id long, tier string, city string"
    )
    scd2_apply(spark, path, b1, "cust_id", ["tier", "city"], D(2024, 6, 1))
    rep = scd2_apply(
        spark, path, b1, "cust_id", ["tier", "city"], D(2024, 7, 1)
    )
    assert rep.keys_changed == 0  # same attrs: re-delivery no-op
    b2 = spark.createDataFrame(
        [(1, "platinum", "LA")], "cust_id long, tier string, city string"
    )
    scd2_apply(spark, path, b2, "cust_id", ["tier", "city"], D(2024, 9, 1))
    chains = _chain_invariants(spark, path)
    assert [r.city for r in chains[1]] == ["NY", "NY", "LA"]
    assert len(chains[1]) == 3


def test_duplicate_keys_in_batch_rejected(spark, tmp_path):
    path = _dim(spark, tmp_path)
    bad = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "y")],
        "cust_id long, tier string, city string",
    )
    import pytest

    with pytest.raises(ValueError, match="unique"):
        scd2_apply(
            spark, path, bad, "cust_id", ["tier", "city"], D(2024, 6, 1)
        )


def test_crash_heal_completes_armed_swap(spark, tmp_path):
    """A crash after the marker armed but before the swap: the heal
    finishes the swap; a second heal is a no-op. An apply that died
    before arming leaves the table untouched and its staged copy is
    discarded."""
    from goe_spark.plans.compaction import heal_swap, swap_tmp
    from tests.conftest import crash_swap

    path = _dim(spark, tmp_path)
    healed = spark.read.parquet(path).withColumn("tier", F.lit("healed"))
    with crash_swap("armed"):
        scd2_apply(spark, path, healed.select("cust_id", "tier", "city"),
                   "cust_id", ["tier", "city"], D(2024, 6, 1))
    assert heal_swap(path) is True
    got = {r.tier for r in spark.read.parquet(path).where(F.col(IS_CURRENT)).collect()}
    assert got == {"healed"}
    assert not os.path.exists(swap_tmp(path))
    assert heal_swap(path) is False

    # unarmed leftovers (no marker) are discarded, table untouched
    before = spark.read.parquet(path).count()
    current = spark.read.parquet(path).where(F.col(IS_CURRENT))
    again = current.withColumn("tier", F.lit("again"))
    with crash_swap("staged"):
        scd2_apply(spark, path, again.select("cust_id", "tier", "city"),
                   "cust_id", ["tier", "city"], D(2024, 7, 1))
    assert os.path.isdir(swap_tmp(path))
    assert heal_swap(path) is False
    assert not os.path.exists(swap_tmp(path))
    assert spark.read.parquet(path).count() == before


def test_scd2_cli_roundtrip(spark, tmp_path, capsys):
    """CLI: init a dimension from parquet, apply a change batch."""
    import json as _json

    from goe_spark.cli import main

    base = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "cust_id long, tier string"
    )
    base_p = str(tmp_path / "base")
    base.write.parquet(base_p)
    dim = str(tmp_path / "dim")
    rc = main(
        [
            "scd2",
            "init",
            "--dim-dir",
            dim,
            "--changes",
            base_p,
            "--key-column",
            "cust_id",
            "--effective",
            "2024-01-01",
        ]
    )
    assert rc == 0
    assert _json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "initialized_rows": 2
    }

    ch = spark.createDataFrame(
        [(1, "platinum"), (3, "bronze")], "cust_id long, tier string"
    )
    ch_p = str(tmp_path / "ch")
    ch.write.parquet(ch_p)
    rc = main(
        [
            "scd2",
            "apply",
            "--dim-dir",
            dim,
            "--changes",
            ch_p,
            "--key-column",
            "cust_id",
            "--effective",
            "2024-06-01",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["keys_new"], out["keys_changed"]) == (1, 1)
    _chain_invariants(spark, dim)


def test_scd2_random_batch_sequences_keep_invariants(spark, tmp_path):
    """Property: ANY sequence of change batches (random subsets of
    keys, random attribute values, strictly increasing effective
    dates) maintains the version-chain invariants, and the current
    slice always equals the last-applied value per key."""
    import random

    rng = random.Random(20240814)
    path = str(tmp_path / "dim_prop")
    keys = list(range(1, 8))
    tiers = ["gold", "silver", "bronze", "platinum"]
    init_rows = [(k, rng.choice(tiers), "X") for k in keys]
    scd2_init(
        spark,
        path,
        spark.createDataFrame(
            init_rows, "cust_id long, tier string, city string"
        ),
        D(2024, 1, 1),
    )
    latest = {k: (t, c) for k, t, c in init_rows}
    for month in range(2, 8):
        batch_keys = rng.sample(keys + [100 + month], rng.randint(1, 5))
        rows = [
            (k, rng.choice(tiers), rng.choice(["X", "Y", "Z"]))
            for k in set(batch_keys)
        ]
        scd2_apply(
            spark,
            path,
            spark.createDataFrame(
                rows, "cust_id long, tier string, city string"
            ),
            "cust_id",
            ["tier", "city"],
            D(2024, month, 1),
        )
        for k, t, c in rows:
            latest[k] = (t, c)
        chains = _chain_invariants(spark, path)
        current = {
            k: (vs[-1].tier, vs[-1].city) for k, vs in chains.items()
        }
        assert current == latest

"""Session factory: a live session keeps its settings, and the codegen
class cache holds a working set larger than Spark's 100-entry default."""

from __future__ import annotations

import os

from goe_spark.cli import main
from goe_spark.session import get_spark
from tests.conftest import SF_SMALL

_KEYS = ("spark.sql.ansi.enabled", "spark.sql.shuffle.partitions")


def test_cli_call_keeps_the_callers_session_conf(spark, capsys):
    """An in-process CLI command reuses the live session; it must not
    reset the caller's settings to the factory defaults (the fixture
    runs ANSI-on with 8 shuffle partitions; the defaults are ANSI-off
    with one partition per core)."""
    ansi = os.environ.get("GOE_TEST_ANSI", "1").lower() in ("1", "true")
    before = {k: spark.conf.get(k) for k in _KEYS}
    assert before == {
        "spark.sql.ansi.enabled": str(ansi).lower(),
        "spark.sql.shuffle.partitions": "8",
    }
    src = f"{SF_SMALL}/region.parquet"
    assert main(["agg-validate", "--frontend-path", src, "--backend-path", src]) == 0
    capsys.readouterr()
    assert {k: spark.conf.get(k) for k in _KEYS} == before


def test_live_session_applies_only_what_the_caller_asks(spark):
    before = {k: spark.conf.get(k) for k in _KEYS}
    try:
        s = get_spark(
            "other-app",
            shuffle_partitions=5,
            extra_conf={"spark.sql.ansi.enabled": "false"},
        )
        assert s is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_keeps_a_working_set_of_150(spark):
    """150 distinct generated classes (an integer literal is inlined
    into the generated code, so each projection is its own class),
    then the first 10 again: none of them compiles a second time. With
    Spark's default of 100 entries LRU has evicted them by then."""

    def run(i: int) -> None:
        spark.range(4).selectExpr(f"id * {i} + {i} AS v").collect()

    base = 7_919_000  # literals no other test compiles
    for i in range(150):
        run(base + i)
    n = _compiles(spark)
    for i in range(10):
        run(base + i)
    assert _compiles(spark) == n

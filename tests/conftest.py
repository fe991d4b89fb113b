from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from goe_spark.session import get_spark

    # Driver parity: run the test session ANSI-on (the driver's
    # correctness gate does) so ANSI-semantics bugs (DIVIDE_BY_ZERO,
    # CAST_INVALID_INPUT) surface locally instead of shipping.
    # GOE_TEST_ANSI=0 restores the engine's non-ANSI default.
    ansi = os.environ.get("GOE_TEST_ANSI", "1").lower() in ("1", "true")
    s = get_spark(
        "goe-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.ansi.enabled": "true" if ansi else "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    yield con


@pytest.fixture
def offloaded_orders(spark, tmp_path):
    """Orders offloaded to a month-partitioned parquet target — shared
    by the targeted-delete and merge test suites. Returns
    (target_dir, source_df, PartitionSpec)."""
    from goe_spark.plans.offload import (
        OffloadConfig,
        OffloadPipeline,
        PartitionSpec,
    )

    spec = PartitionSpec(
        source_column="o_orderdate", kind="date", granularity="M"
    )
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cfg = OffloadConfig(
        owner="tpch",
        table_name="orders",
        target_dir=str(tmp_path / "final"),
        staging_dir=str(tmp_path / "staging"),
        metadata_dir=str(tmp_path / "meta"),
        partition=spec,
    )
    OffloadPipeline(spark, cfg).run(src)
    return cfg.target_dir, src, spec


def partition_file_map(path):
    """{partition_dir: {file: mtime}} for byte-stability assertions."""
    out = {}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if "=" in d and not d.startswith(".") and os.path.isdir(full):
            out[d] = {
                f: os.path.getmtime(os.path.join(full, f))
                for f in os.listdir(full)
                if not f.startswith(("_", "."))
            }
    return out


@contextlib.contextmanager
def tagged_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.addJobTag(tag)
    try:
        yield ids
    finally:
        sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        ids.extend(jsc.statusTracker().getJobIdsForTag(tag))


def listing(spark, job: int) -> bool:
    """Whether Spark job ``job`` is one of the parallel listing jobs
    Spark runs for a read of more than 32 paths."""
    desc = spark.sparkContext._jsc.sc().statusStore().job(job).description()
    return desc.isDefined() and desc.get().startswith("Listing leaf files")


def stage_tasks(spark, job: int, writes_only: bool = False) -> list[int]:
    """Task counts of the stages of Spark job ``job``, read from
    Spark's status store; ``writes_only`` keeps the stages that wrote
    output records."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.job(job).stageIds()
    attempts = [store.lastStageAttempt(stages.apply(i)) for i in range(stages.size())]
    return [s.numTasks() for s in attempts if not writes_only or s.outputRecords() > 0]


CRASH_POINTS = ("staged", "armed", "dropped", "moved", "unmarked")


@contextlib.contextmanager
def crash_swap(point: str, nth: int = 1):
    """Make the marker swaps (plans/compaction) started inside the
    block die at ``point``, in the real code:
    - ``staged``: the staged copy is complete, its marker not written;
    - ``armed``: the marker is written, nothing swapped yet;
    - ``dropped``: right after the swap's ``nth`` removal;
    - ``moved``: right after its ``nth`` move (a whole-directory swap
      first moves the old directory aside, then the staged one in);
    - ``unmarked``: swapped, right before the marker is dropped.
    The block must raise the injected ``OSError("crash")``."""
    from goe_spark.plans import compaction

    def crash(*_a, **_k):
        raise OSError("crash")

    real_complete = compaction._complete_swap

    def complete(path, d, old_files):
        if point == "armed":
            crash()
        with pytest.MonkeyPatch.context() as m:
            if point in ("dropped", "moved"):
                name = "_drop" if point == "dropped" else "_move"
                real, left = getattr(compaction, name), [nth]

                def step(*a):
                    real(*a)
                    left[0] -= 1
                    if not left[0]:
                        crash()

                m.setattr(compaction, name, step)
            elif point == "unmarked":
                marker, real_remove = compaction._marker_path(path, d), os.remove

                def remove(p, *a, **k):
                    if p == marker:
                        crash()
                    real_remove(p, *a, **k)

                m.setattr(os, "remove", remove)
            return real_complete(path, d, old_files)

    with pytest.MonkeyPatch.context() as m:
        if point == "staged":
            m.setattr(compaction, "atomic_write_json", crash)
        else:
            m.setattr(compaction, "_complete_swap", complete)
        with pytest.raises(OSError, match="crash"):
            yield

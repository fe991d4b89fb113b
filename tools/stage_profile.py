"""Per-query profile: DSL build vs analysis/planning vs execution for
N warm repetitions, then the stages of the last run — stage wall and
summed executor run/CPU time, task count, input and shuffle bytes.
Tells whether a bench second is driver-side (build, plan), scheduler
latency, shuffle or executor compute (guide §1: measure first).

Usage: python tools/stage_profile.py QUERY... [--sf-dir DIR] [--runs N]

Each run executes under its own Spark job tag and is read back from
the live status store (the Spark UI stays off), the way the write-path
job-budget tests count jobs. Persisted blocks are dropped between
runs, as the bench does.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ms(opt) -> int | None:
    """Epoch millis of a scala Option[Date], or None."""
    return opt.get().getTime() if opt.isDefined() else None


def print_stages(spark, tag: str) -> None:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = list(jsc.statusTracker().getJobIdsForTag(tag))
    stage_ids: set[int] = set()
    for j in jobs:
        ids = store.job(j).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    stages = [store.lastStageAttempt(sid) for sid in sorted(stage_ids)]
    stages = [s for s in stages if s.status().toString() != "SKIPPED"]
    print(f"  jobs={len(jobs)} stages={len(stages)}")
    for s in stages:
        start = _ms(s.firstTaskLaunchedTime()) or _ms(s.submissionTime())
        end = _ms(s.completionTime())
        wall = f"wall={(end - start) / 1e3:6.2f}s " if start and end else ""
        print(
            f"  stage {s.stageId():>4} {wall}runSum={s.executorRunTime() / 1e3:6.2f}s "
            f"cpuSum={s.executorCpuTime() / 1e9:6.2f}s "
            f"tasks={s.numTasks():>3} "
            f"in={s.inputBytes() >> 10:>7}K "
            f"sr={s.shuffleReadBytes() >> 10:>6}K "
            f"sw={s.shuffleWriteBytes() >> 10:>6}K  "
            f"{s.name()[:70]}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from bench import clear_persisted, materialize
    from goe_spark.queries import queries_dict
    from goe_spark.session import get_spark

    spark = get_spark(
        "goe-stageprof", extra_conf={"spark.sql.ansi.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = queries_dict()
    for name in args.names:
        fn = qs[name]
        for i in range(args.runs):
            tag = f"stageprof-{name}-{i}"
            sc.addJobTag(tag)
            try:
                t0 = time.perf_counter()
                df = fn(spark, args.sf_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                materialize(df)
                t3 = time.perf_counter()
            finally:
                sc.removeJobTag(tag)
            print(
                f"{name} run{i}: build={t1 - t0:6.3f}s "
                f"plan={t2 - t1:6.3f}s exec={t3 - t2:6.3f}s "
                f"total={t3 - t0:6.3f}s",
                flush=True,
            )
            if i == args.runs - 1:
                print_stages(spark, tag)
            clear_persisted(spark)


if __name__ == "__main__":
    main()

"""goe-spark benchmark: the GOE write path and a registry slice.

    python3 perfbench/run.py --workload offload --seed 1 --seconds 10 --trace 0

Run from the root of a goe-spark checkout. One run starts a
``local[nproc]`` session through ``goe_spark.session.get_spark``, sets
the workload up three times (``setup_s`` is the median), runs the
workload's untimed warm-up, then repeats its timed command sequence
until ``--seconds`` have passed and the workload's pass count is
reached. ``wall_s`` sums each command's fastest time over the passes.
Output checks run untimed after every pass; a failed check or command
counts in ``failed`` and never aborts the run.

``--trace 1`` adds an untraced and then a traced pass after the timed
ones and reports the per-layer metrics, with the traced pass's wall
time minus the untraced one's as tracing overhead, instead of the
end-to-end ones (see
``perfbench/METRICS.md``). Spans are kept in memory and written to
``.perfbench/<workload>/spans.json`` at exit.

The last stdout line is the result, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the environment (context only, nothing is
normalized by it) and every command's duration.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK_ROOT = os.path.join(REPO, ".perfbench")
SETUP_REPS = 3


def cpu_probe_s() -> float:
    """Fixed single-thread work (chained sha256), median of three."""

    def once() -> float:
        h = hashlib.sha256(b"\x5a" * 64)
        t0 = time.perf_counter()
        for _ in range(300_000):
            h = hashlib.sha256(h.digest())
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return 0.0


def cpu_times() -> tuple[float, float]:
    """(stolen, total) CPU time of the whole machine, from /proc/stat:
    steal is time the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] / os.sysconf("SC_CLK_TCK"), sum(v) / os.sysconf("SC_CLK_TCK")


def git_sha() -> str:
    head = os.path.join(REPO, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(REPO, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def start_spark(app: str, nproc: int, ansi: bool):
    from goe_spark.session import get_spark

    # Spark's block and shuffle files and every temp file stay inside
    # the checkout.
    tmp = os.path.join(WORK_ROOT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if ansi:
        conf["spark.sql.ansi.enabled"] = "true"
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, spec: dict) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS, Runner, count_index_builds

    nproc = len(os.sched_getaffinity(0))
    env = {
        "nproc": nproc,
        "loadavg_before": os.getloadavg(),
        "git_sha": git_sha(),
        "cpu_probe_s": cpu_probe_s(),
    }
    cls = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, args.workload)
    spark = start_spark(f"perfbench-{args.workload}", nproc, getattr(cls, "ansi", False))
    import pyspark

    env["pyspark"] = pyspark.__version__
    env["java"] = spark._jvm.System.getProperty("java.version")
    runners = []
    try:
        wl = cls(spark, work, DATA, args.seed, nproc)
        try:
            setup_s = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                setup_s.append(time.perf_counter() - t0)

            warm = Runner(spark)
            runners.append(warm)
            wl.warm_up(warm)

            timed = Runner(spark)
            runners.append(timed)
            counts: dict = {}
            passes = []
            deadline = time.perf_counter() + args.seconds
            pids = (os.getpid(), jvm_pid() or -1)
            cpu0, (steal0, total0) = sum(map(cpu_seconds, pids)), cpu_times()
            with count_index_builds(counts):
                while True:
                    n0 = len(timed.durations)
                    wl.iteration(timed)
                    passes.append(timed.durations[n0:])
                    if len(passes) >= wl.passes and time.perf_counter() >= deadline:
                        break
            steal1, total1 = cpu_times()
            env["timed_cpu_s"] = sum(map(cpu_seconds, pids)) - cpu0
            env["timed_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1e-9)
            timed.check(
                "index_builds_zero", lambda: counts.get("index_builds", 0) == 0
            )

            layers: dict = {}
            if args.trace:
                # Overhead baseline: an untraced pass right before the
                # traced one, in the same (warm) state.
                base = Runner(spark)
                runners.append(base)
                wl.iteration(base)
                tracer = Tracer()
                traced = Runner(spark, tracer)
                runners.append(traced)
                facts: dict = {}
                traced_counts: dict = {}
                wl.trace_wraps(tracer, facts)
                try:
                    with count_index_builds(traced_counts):
                        wl.iteration(traced, facts)
                finally:
                    tracer.unwrap()
                layers = trace_metrics(
                    wl, traced, tracer, facts, traced_counts, nproc, base
                )
                tracer.dump(os.path.join(work, "spans.json"))
            env["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid() or -1)
            layers["process.peak_rss_mb"] = env["peak_rss_mb"]
        finally:
            wl.close()
    finally:
        stop_spark(spark)
    env["loadavg_after"] = os.getloadavg()

    e2e = {"setup_s": statistics.median(setup_s), "wall_s": pass_wall(passes)}
    commands: dict = {}
    for name, s in timed.durations:
        commands.setdefault(name, []).append(round(s, 4))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "setup_s_each": setup_s,
        "pass_s_each": [sum(s for _, s in p) for p in passes],
        "commands": commands,
        "failures": [f for r in runners for f in r.failures],
    }
    print(json.dumps({"perfbench_detail": detail}))

    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {}
    for m in spec[section]:
        if args.trace:
            v = values.get(m["name"], 0)  # 0: the layer is bypassed here
        else:
            v = values[m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = sum(len(r.failures) for r in runners)
    return {
        "correct": failed == 0,
        "attempted": sum(r.attempted for r in runners),
        "failed": failed,
        "metrics": metrics,
    }


def pass_wall(passes: list[list[tuple[str, float]]]) -> float:
    """One pass of the fixed command sequence: each command's fastest
    time over the timed passes, summed. A command that runs k times in
    a pass is k entries, matched by occurrence. With one pass this is
    the pass's wall time. The fastest, not the median: on a shared VM
    hypervisor steal only ever slows a command down, and it moved the
    per-query median of three passes by 30% between runs."""
    samples: dict[tuple[str, int], list[float]] = {}
    for p in passes:
        seen: dict[str, int] = {}
        for name, s in p:
            seen[name] = seen.get(name, 0) + 1
            samples.setdefault((name, seen[name]), []).append(s)
    return sum(min(v) for v in samples.values())


def trace_metrics(wl, r, tracer, facts, counts, nproc, base) -> dict:
    m = dict(wl.layer_metrics(r, tracer, facts))
    wall = sum(s for _, s in r.durations)
    for k, v in r.engine.items():
        m[f"spark.{k}"] = v
    if wall:
        m["spark.core_util"] = r.engine["executor_run_s"] / (wall * nproc)
    for layer, s in tracer.self_seconds().items():
        m[f"self_s.{layer}"] = s
    m["operators.index_builds"] = counts.get("index_builds", 0)
    m["trace.spans"] = len(tracer.spans)
    m["trace.overhead_s"] = wall - sum(s for _, s in base.durations)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(REPO, "goe_spark"))
        and os.path.isdir(os.path.join(REPO, "tools"))
    ):
        print(
            "perfbench: goe_spark/ and tools/ not found next to perfbench/; "
            "run from the root of a goe-spark checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    os.environ["TZ"] = "UTC"
    time.tzset()
    print(json.dumps(run(args, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

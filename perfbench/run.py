#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_auctions --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout.  The run generates its inputs from
``--seed``, starts a ``local[nproc]`` Spark session through the package's
``get_session``, warms up, then runs timed steps of the workload for
``--seconds`` seconds and checks the program's outputs after each one.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run.  Everything the run writes stays under
``.perfbench_run/`` in the checkout; the work directory is removed at the
end, the result and span files under ``.perfbench_run/out/`` are kept.

Exit codes: 0 after a run that printed a result, 1 when the self-test
fails, 2 when the run cannot start (bad arguments, ``SPARK_GRAFT_CPUS``
above ``nproc``, or the package is not importable).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spans import COUNTERS  # noqa: E402

RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# session restarts timed for setup_s; their median leaves out one that
# met a burst of load from outside
SETUP_REPEATS = 3
# no new timed step starts this long after the process started, so a run
# on a slow box still ends well inside the 180 s a run may take
LAST_STEP_START_S = 110.0
DRIVER_MEMORY = "2g"
FLUSH_POLICY = "no fsync added, no cache dropped: inputs and outputs live in the OS page cache"

END_TO_END = {
    "setup_s": "s",
    "step_cpu_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def resolve_cpus() -> tuple[int, int]:
    """(cpus for ``local[cpus]``, nproc).  ``SPARK_GRAFT_CPUS`` may lower
    the core count but never raise it above what this process may use."""
    nproc = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    if want is None:
        return nproc, nproc
    if not want.isdigit() or not 1 <= int(want) <= nproc:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={want!r} is not a core count in 1..nproc={nproc}"
        )
    return int(want), nproc


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file the run writes (Python, JVM and Spark scratch)
    inside ``work``, and pin the session's core count and heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at JVM start, so the resident
        # size repeats from run to run instead of following GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_jiffies() -> list[int]:
    """The box's CPU time so far from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the box's busy CPU time that the hypervisor took away
    (steal) between two ``cpu_jiffies`` readings."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its Spark JVM."""
    from pyspark import SparkContext

    return (vm_hwm_kb("self") + vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024


def start_session(cpus: int, work: str):
    from cars_bids_data_pipeline_v0__spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=session_conf(work),
    )
    spark.range(1).count()  # the first job: the context is up
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM has exited.  The JVM
    exits when its stdin closes; PySpark alone would leave it ending on
    its own after this process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def restart_times(spark, cpus: int, work: str):
    """Stop the session and start it again ``SETUP_REPEATS`` times.
    This runs after the timed steps, when the JVM has finished compiling
    its start-up code, so a restart repeats from run to run.  Returns the
    live session and each restart's seconds."""
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark.stop()
        spark = start_session(cpus, work)
        times.append(time.perf_counter() - t0)
    return spark, times


def layer_metrics(cls, tracer, steps, session_s: float,
                  warmup_s: float) -> dict[str, float]:
    """Per-layer metrics: the median over the traced steps of every span
    counter and layer extra.  Layers this workload never reaches read 0.
    A registry query's counters other than its self time are summed over
    its pass into ``queries.pass.<counter>``.

    ``trace_overhead_frac`` is the traced wall time over the untraced one,
    minus 1, where the untraced wall time is the traced one less the
    seconds the tracer itself spent reading the status store inside it.
    Measuring the tracer's own time directly keeps the figure free of the
    run-to-run noise a comparison of two separate steps would carry."""
    from perfbench.workloads import per_layer_units

    values = dict.fromkeys(per_layer_units(), 0.0)
    samples: dict[str, list[float]] = {}
    for idx, sp in enumerate(tracer.spans):
        if sp.name in cls.parents:
            samples.setdefault(f"{sp.name}.self_s", []).append(sp.counters["self_s"])
            samples.setdefault(f"{sp.name}.coverage_frac", []).append(
                sp.counters["coverage_frac"]
            )
        if sp.name == "queries.pass":
            kids = [k for k in tracer.spans if k.parent == idx and not k.harness]
            for c in COUNTERS[1:]:
                samples.setdefault(f"queries.pass.{c}", []).append(
                    sum(k.counters[c] for k in kids)
                )
        elif sp.name.startswith("queries."):
            samples.setdefault(f"{sp.name}.self_s", []).append(sp.counters["self_s"])
        elif any(sp.name in kids for kids in cls.parents.values()):
            for c in COUNTERS:
                samples.setdefault(f"{sp.name}.{c}", []).append(sp.counters[c])
    for step in steps:
        for name, v in step.extras.items():
            samples.setdefault(name, []).append(v)
    for name, vs in samples.items():
        values[name] = statistics.median(vs)
    values["session.start_s"] = session_s
    values["session.warmup_s"] = warmup_s
    if steps:
        values["trace_overhead_frac"] = statistics.median(
            [s.wall_s / (s.wall_s - s.trace_s) - 1 for s in steps]
        )
    return values


def end_to_end_metrics(steps, setup_times, amp, rss_mb) -> dict[str, tuple[float, int]]:
    """``{name: (value, sample count)}`` of the untraced run."""
    e2e = {
        "setup_s": (statistics.median(setup_times), len(setup_times)),
        "peak_rss_mb": (rss_mb, 1),
    }
    if steps:
        e2e["step_cpu_s"] = (statistics.median([s.cpu_s for s in steps]), len(steps))
    if amp:
        e2e["write_amp"] = (amp[0], 1)
        e2e["space_amp"] = (amp[1], 1)
    return {k: e2e[k] for k in END_TO_END if k in e2e}


def run(args, cpus: int, nproc: int, t_process: float) -> dict:
    import pyspark

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    work = os.path.join(RUN_DIR, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work, cpus)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cpus, work)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        in_dir = os.path.join(work, "inputs")
        inputs = cls.generate(args.seed, in_dir)
        generate_s = time.perf_counter() - t0
        run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        tracer = Tracer(spark, enabled=args.trace == 1, run_id=run_id)
        wl = cls(spark, work, inputs)
        input_bytes = sum(
            os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(in_dir)
            for n in names
        )

        t0 = time.perf_counter()
        warm = wl.warmup()
        warmup_s = time.perf_counter() - t0
        attempted, failed = warm.attempted, warm.failed

        steps = []
        # amplification is taken after the first timed step, so it does
        # not depend on how many steps fit in --seconds
        amp: tuple[float, float] | None = None
        jiffies0 = cpu_jiffies()
        t_loop = time.perf_counter()
        while wl.has_next() and not warm.error:
            step = wl.step(tracer)
            attempted += step.attempted
            failed += step.failed
            if step.error:
                break
            steps.append(step)
            if amp is None and args.trace == 0:
                amp = (step.written_bytes / step.input_bytes, wl.space_amp())
            if time.perf_counter() - t_loop >= args.seconds:
                break
            if time.perf_counter() - t_process > LAST_STEP_START_S:
                break

        jiffies1 = cpu_jiffies()
        rss_mb = peak_rss_mb()
        spark, setup_times = restart_times(spark, cpus, work)
        result = {
            "facts": {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "cpus": spark.sparkContext.defaultParallelism,
                "nproc": nproc,
                "spark_version": pyspark.__version__,
                "python_version": platform.python_version(),
                "driver_memory": DRIVER_MEMORY,
                "flush_policy": FLUSH_POLICY,
                "input_bytes": input_bytes,
                "loop": "closed",
                "clients": 1,
                "setup_samples_s": setup_times,
                "generate_s": generate_s,
                "warmup_s": warmup_s,
                "step_walls_s": [s.wall_s for s in steps],
                "step_cpus_s": [s.cpu_s for s in steps],
                # contention from outside: a high share stretches wall times
                "steal_frac": steal_frac(jiffies0, jiffies1),
            },
            "failures": wl.failures,
            "attempted": attempted,
            "failed": failed,
        }
        if args.trace == 0:
            result["metrics"] = {
                k: {"value": v, "unit": END_TO_END[k], "n": n}
                for k, (v, n) in end_to_end_metrics(steps, setup_times, amp, rss_mb).items()
            }
        else:
            tracer.finish()
            from perfbench.workloads import per_layer_units

            values = layer_metrics(cls, tracer, steps, session_s, warmup_s)
            result["metrics"] = {
                k: {"value": values[k], "unit": unit, "n": len(steps)}
                for k, unit in per_layer_units().items()
            }
            result["spans"] = tracer.records()
        return result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", help="etl_auctions or dml_lineitem")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check the span accounting and the output checks on tiny inputs")
    args = p.parse_args(argv)
    if not args.self_test and args.workload is None:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    try:
        cpus, nproc = resolve_cpus()
    except ValueError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    try:
        import cars_bids_data_pipeline_v0__spark  # noqa: F401
        import perfbench.workloads  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.self_test:
        from perfbench.selftest import self_test

        return self_test(cpus)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    result = run(args, cpus, nproc, t_process)
    os.makedirs(os.path.join(RUN_DIR, "out"), exist_ok=True)
    out = os.path.join(
        RUN_DIR, "out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    facts = result["facts"]
    print("facts " + json.dumps({k: v for k, v in facts.items() if not isinstance(v, list)}))
    for failure in result["failures"]:
        print(f"FAILED {failure}")
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(f"details {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": m["value"], "unit": m["unit"]}
            for k, m in result["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

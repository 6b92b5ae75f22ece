"""Self-test of the benchmark itself, on tiny inputs (about 2 minutes):

* ``BENCHMARK.json`` names exactly the workloads and metrics the runs emit;
* ``SPARK_GRAFT_CPUS`` above ``nproc`` is refused;
* span accounting: over a traced ETL run, the stage and job counts of the
  spans sum to the totals in Spark's status store, including the jobs
  that ``build_star_schema`` submits from its own threads;
* the output checks: a deliberately wrong expected fact count makes the
  step fail, so the run's failed fraction rises above 0.
"""

from __future__ import annotations

import json
import os
import shutil

from perfbench import gen, run
from perfbench.spans import RAN, StatusStore, Tracer
from perfbench.workloads import (
    QUERIES,
    WORKLOADS,
    EtlAuctions,
    EtlInputs,
    per_layer_units,
)


def _names_match() -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    if sorted(w["name"] for w in bench["workloads"]) != sorted(WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from the runnable ones")
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if e2e != run.END_TO_END:
        problems.append(f"end_to_end metrics differ: {e2e} vs {run.END_TO_END}")
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if layer != per_layer_units():
        problems.append("per_layer metrics differ from the traced run's")
    return problems


def _cpus_refused() -> list[str]:
    old = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)) + 1)
    try:
        run.resolve_cpus()
        return ["SPARK_GRAFT_CPUS above nproc was accepted"]
    except ValueError:
        return []
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_CPUS"]
        else:
            os.environ["SPARK_GRAFT_CPUS"] = old


def _stages_ran(store: StatusStore, first_stage: int) -> int:
    n = 0
    it = store.stage_list().iterator()
    while it.hasNext():
        sd = it.next()
        if sd.stageId() >= first_stage and sd.status().toString() in RAN:
            n += 1
    return n


def _traced_etl(spark, work: str) -> list[str]:
    problems = []
    store = StatusStore(spark)
    store.drain()
    job0, stage0 = store.watermarks()
    tracer = Tracer(spark, enabled=True, run_id="self-test")
    batches = gen.etl_batches(7, os.path.join(work, "inputs"), 3, batch_size=40, files=4)
    batches[2].facts_after += 1  # deliberately wrong expected count
    tables = gen.query_tables(7, os.path.join(work, "tables"))
    wl = EtlAuctions(spark, work, EtlInputs(batches, tables, list(QUERIES)))
    with tracer.span("self-test.warmup"):
        steps = [wl.warmup()]
    steps += [wl.step(tracer), wl.step(tracer)]

    store.drain()
    job1, _ = store.watermarks()
    top = [
        sp for sp in tracer.spans
        if "stages" in sp.counters and not _counted_ancestor(tracer, sp)
    ]
    span_stages = int(sum(sp.counters["stages"] for sp in top))
    store_stages = _stages_ran(store, stage0)
    span_jobs = sum(sp.jobs for sp in top)
    print(f"self-test: spans hold {span_stages} stages and {span_jobs} jobs; "
          f"the status store ran {store_stages} stages and {job1 - job0} jobs")
    if span_stages != store_stages or span_jobs != job1 - job0:
        problems.append("span stage/job counts do not sum to the status store's")
    if sum(sp.counters["stages"] for sp in tracer.spans if sp.name == "gold") == 0:
        problems.append("the gold spans hold no stages")

    failed = [s.failed for s in steps]
    frac = sum(failed) / sum(s.attempted for s in steps)
    print(f"self-test: per-step failures {failed}, failed_frac {frac:.3f}; "
          f"check messages: {wl.failures}")
    if failed != [0, 0, 1] or frac <= 0:
        problems.append("the wrong expected count did not fail exactly its own step")
    return problems


def _counted_ancestor(tracer: Tracer, sp) -> bool:
    while sp.parent is not None:
        sp = tracer.spans[sp.parent]
        if "stages" in sp.counters:
            return True
    return False


def self_test(cpus: int) -> int:
    problems = _names_match() + _cpus_refused()
    work = os.path.join(run.RUN_DIR, f"self-test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run.prepare_env(work, cpus)
    spark = run.start_session(cpus, work)
    try:
        problems += _traced_etl(spark, work)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"self-test FAILED: {p}")
    print("self-test " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0

"""The benchmark's workloads.

Each workload drives the package through its public functions from one
thread, one call after another (a closed loop with one client).  A
workload generates its seeded inputs, runs an untimed warm-up step that
also leaves the state the timed steps build on, then runs timed steps.
After each step it checks the program's outputs; the checks read the
output files with pyarrow, count with the program's own reader, or run
the query's DuckDB oracle, and compare against results computed
independently of the program.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.cache import release_build_caches
from cars_bids_data_pipeline_v0__spark.plans import queries as registry
from cars_bids_data_pipeline_v0__spark.plans.gold import (
    GoldStore,
    build_star_schema,
    seed_state_dim,
)
from cars_bids_data_pipeline_v0__spark.plans.release import release_corpus
from cars_bids_data_pipeline_v0__spark.plans.silver import transform_records
from cars_bids_data_pipeline_v0__spark.sources.ingest import (
    read_raw_auctions,
    read_silver_lake,
)
from cars_bids_data_pipeline_v0__spark.sources.sinks import (
    PARTITION_COL,
    merge_write_partitioned,
    write_text_queue,
)
from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    tx_append_partitioned,
    tx_delete_where,
    tx_history,
    tx_merge_into,
    tx_read,
)

from perfbench import gen
from perfbench.spans import COUNTERS, Tracer
from tools.check_oracle import frame_to_rows


def force(df) -> None:
    """Compute every column of ``df`` and write nothing."""
    df.write.format("noop").mode("overwrite").save()


def file_sizes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def created_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files in ``after`` that ``before`` did not hold."""
    return sum(s for p, s in after.items() if before.get(p) != s)


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process under it: the Spark JVM and its Python workers.  Time the
    hypervisor takes the CPUs away (steal) is not charged to a process, so
    this cost stays put on a contended host where wall time stretches."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = int(fields[11]) + int(fields[12])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows() if os.path.exists(path) else 0


def plain_parquet_bytes(table, path: str) -> int:
    """Bytes of ``table`` written once as one plain snappy parquet file."""
    pq.write_table(table, path, compression="snappy")
    size = os.path.getsize(path)
    os.remove(path)
    return size


@dataclass
class Step:
    """One timed step: its wall time without the output checks, and its
    operations."""

    wall_s: float
    # CPU seconds of the process tree over the same interval
    cpu_s: float
    input_bytes: int
    written_bytes: int
    attempted: int
    failed: int
    # the step raised: the workload's state is unknown, so the run stops
    error: bool = False
    # seconds of the wall time the tracer spent reading the status store
    trace_s: float = 0.0
    extras: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    # layer layout of a traced step: each parent span and its child spans
    parents: dict[str, tuple[str, ...]] = {}
    # layer-specific per-layer metrics and their units
    extras: dict[str, str] = {}

    def __init__(self, spark, work: str, inputs):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.off = Tracer(spark, enabled=False, run_id="")
        self.failures: list[str] = []

    def check(self, tr: Tracer, what: str, got: Callable[[], object], want) -> bool:
        """Compute ``got()`` in a harness span and compare it with
        ``want``; a mismatch is recorded and counted against the step,
        never raised.  Checks run after the step's timed wall."""
        with tr.span("check", harness=True):
            value = got()
        if value != want:
            self.failures.append(f"{self.name}: {what}: got {value}, want {want}")
        return value == want


# Inputs for the warm-up step and at most three timed steps.  A step takes
# about 13-17 s on a 4-core box, so a run makes one timed step; the spare
# inputs keep a faster program from running out before --seconds pass.
STEPS_GENERATED = 4

# --------------------------------------------------------------------------
# etl_auctions
# --------------------------------------------------------------------------

# natural key columns and id column of every gold dimension
DIM_KEYS = {
    "state_dim": (["state_abbr"], "id"),
    "auction_status_dim": (["status"], "id"),
    "reserve_status_dim": (["status"], "id"),
    "body_style_dim": (["body_style"], "id"),
    "seller_type_dim": (["seller_type"], "id"),
    "drivetrain_dim": (["drivetrain"], "id"),
    "transmission_dim": (["transmission"], "id"),
    "city_dim": (["city_name", "state_id"], "id"),
    "vehicle_make_dim": (["make"], "id"),
    "vehicle_model_dim": (["model", "make_id"], "id"),
    "vehicle_dim": (["vin", "auction_id"], "vehicle_id"),
}
# the read-only registry queries of the analytics pass: an aggregate from
# plans.queries, and the corpus quality gate with exact dedup from
# plans.queries_ext; each more query costs about 2 s a run
QUERIES = (
    "q01_pricing_summary",
    "q59_corpus_quality_gate",
)
ORACLE_TABLES = ("lineitem", "documents")


@dataclass
class EtlInputs:
    batches: list[gen.EtlBatch]
    # directory of the tables the query pass reads
    query_dir: str
    # the seeded order of the query pass
    query_order: list[str]


def oracle_rows(query_dir: str, names) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each query's expected result from its DuckDB oracle SQL, as sorted
    column names and rows sorted the way ``frame_to_rows`` sorts them."""
    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{query_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = frame_to_rows([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def same_rows(got, want) -> bool:
    """Order-insensitive equality of two ``frame_to_rows`` results.  A
    float may differ by one unit of a 2-decimal rounding, because the two
    engines sum in different orders."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols or len(grows) != len(wrows):
        return False
    for g, w in zip(grows, wrows):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0100001):
                    return False
            elif a != b:
                return False
    return True


class EtlAuctions(Workload):
    """Incremental raw batches → silver → merge sink + rescrape queue →
    star schema, into one lake and one gold store kept across the run,
    then one pass of read-only registry queries."""

    name = "etl_auctions"
    parents = {
        "etl.batch": ("ingest", "silver", "sinks.merge", "sinks.queue", "gold"),
        "queries.pass": tuple(f"queries.{q}" for q in QUERIES),
    }
    extras = {
        "silver.valid_ratio": "ratio",
        "sinks.merge.partitions": "count",
        "sinks.merge.rewrite_ratio": "ratio",
        "gold.dim_rows_new": "count",
        "ingest.exec_s": "s",
        "silver.exec_s": "s",
    }

    @staticmethod
    def generate(seed: int, out_dir: str) -> EtlInputs:
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        return EtlInputs(
            gen.etl_batches(seed, os.path.join(out_dir, "raw"), STEPS_GENERATED),
            gen.query_tables(seed, os.path.join(out_dir, "tables")),
            order,
        )

    def __init__(self, spark, work, inputs):
        super().__init__(spark, work, inputs)
        self.lake = os.path.join(work, "lake")
        self.gold = os.path.join(work, "gold")
        self.queue = os.path.join(work, "rescrape")
        self.store = GoldStore(spark, self.gold)
        self.builders = registry.queries()
        self.expected: dict = {}
        self.next = 0

    def warmup(self) -> Step:
        seed_state_dim(
            self.store,
            self.spark.createDataFrame(
                [(i + 1, s, a) for i, (s, a) in enumerate(gen.STATES)],
                "id long, state string, state_abbr string",
            ),
        )
        self.expected = oracle_rows(self.inputs.query_dir, QUERIES)
        return self.step(self.off)

    def has_next(self) -> bool:
        return self.next < len(self.inputs.batches)

    def _dim_rows(self) -> int:
        return sum(parquet_rows(self.store.path(d)) for d in DIM_KEYS)

    def step(self, tr: Tracer) -> Step:
        spark, batch = self.spark, self.inputs.batches[self.next]
        queue = os.path.join(self.queue, f"batch{self.next:03d}")
        self.next += 1
        traced = tr.enabled
        dims_before = self._dim_rows() if traced else 0
        before = file_sizes(self.lake, self.gold, self.queue)
        results: dict[str, tuple] = {}
        trace0 = tr.overhead_s
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tr.span("etl.batch", counters=False):
                with tr.span("ingest"):
                    records = read_raw_auctions(spark, batch.path)
                with tr.span("silver"):
                    silver, rescrape = transform_records(records)
                with tr.span("sinks.merge"):
                    touched = merge_write_partitioned(spark, silver, self.lake)
                with tr.span("sinks.queue"):
                    write_text_queue(rescrape, queue)
                with tr.span("gold"):
                    build_star_schema(self.store, read_silver_lake(spark, self.lake))
                    release_build_caches()
            with tr.span("queries.pass", counters=False):
                for name in self.inputs.query_order:
                    with tr.span(f"queries.{name}"):
                        df = self.builders[name](spark, self.inputs.query_dir)
                        results[name] = (df.columns, [tuple(r) for r in df.collect()])
                        release_build_caches()
                        spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001 - a failed step is counted, not fatal
            self.failures.append(f"{self.name}: batch {self.next - 1}: {exc!r}")
            return Step(time.perf_counter() - t0, cpu_seconds() - c0,
                        batch.raw_bytes, 0, 1 + len(QUERIES), 1, error=True)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        written = created_bytes(before, file_sizes(self.lake, self.gold, self.queue))
        failed = 0 if self._check(tr, batch, queue) else 1
        for name, (cols, rows) in results.items():
            failed += not self.check(
                tr, f"{name} rows vs its DuckDB oracle",
                lambda: same_rows(frame_to_rows(cols, rows), self.expected[name]), True,
            )
        step = Step(wall, cpu, batch.raw_bytes, written,
                    1 + len(QUERIES), failed, trace_s=tr.overhead_s - trace0)
        if traced:
            step.extras = self._layer_extras(tr, batch, queue, touched, dims_before)
        return step

    def _check(self, tr: Tracer, batch: gen.EtlBatch, queue: str) -> bool:
        ok = self.check(
            tr, "auction_fact rows",
            lambda: parquet_rows(self.store.path("auction_fact")), batch.facts_after,
        )
        for dim, (keys, id_col) in DIM_KEYS.items():
            df = ds.dataset(self.store.path(dim), format="parquet").to_table(
                columns=[*keys, id_col]
            ).to_pandas()
            ok &= self.check(
                tr, f"{dim} duplicate natural keys",
                lambda: int(df.duplicated(subset=keys).sum()), 0,
            )
            ok &= self.check(
                tr, f"{dim} duplicate ids", lambda: int(df[id_col].duplicated().sum()), 0
            )
        ok &= self.check(tr, "rescrape lines", lambda: _text_lines(queue), batch.invalid)
        return ok

    def _layer_extras(self, tr, batch, queue, touched, dims_before) -> dict:
        new_rows = batch.records - batch.invalid
        in_touched = sum(
            parquet_rows(os.path.join(self.lake, f"{PARTITION_COL}={d}"))
            for d in touched
        )
        extras = {
            "silver.valid_ratio": 1 - _text_lines(queue) / batch.records,
            "sinks.merge.partitions": len(touched),
            "sinks.merge.rewrite_ratio": (in_touched - new_rows) / new_rows,
            "gold.dim_rows_new": self._dim_rows() - dims_before,
        }
        # the ingest and silver spans only build lazy plans; run each plan
        # once more, forced, outside etl.batch to see its execution cost
        with tr.span("probe.ingest"):
            force(read_raw_auctions(self.spark, batch.path))
        with tr.span("probe.silver"):
            force(transform_records(read_raw_auctions(self.spark, batch.path))[0])
        probes = tr.spans[-2:]
        extras["ingest.exec_s"] = probes[0].end - probes[0].start
        extras["silver.exec_s"] = probes[1].end - probes[1].start
        return extras

    def space_amp(self) -> float:
        """Lake bytes ÷ the lake's live rows (latest row per auction)
        written once as plain snappy parquet."""
        table = ds.dataset(self.lake, format="parquet", partitioning="hive").to_table()
        df = table.to_pandas()
        df = df.sort_values(["auction_date", PARTITION_COL]).drop_duplicates(
            "auction_id", keep="last"
        )
        live = pa.Table.from_pandas(df.drop(columns=[PARTITION_COL]), preserve_index=False)
        base = plain_parquet_bytes(live, os.path.join(self.work, "live.parquet"))
        return sum(file_sizes(self.lake).values()) / base


def _text_lines(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(path, name), "rb") as fh:
            n += sum(1 for _ in fh)
    return n


# --------------------------------------------------------------------------
# dml_lineitem
# --------------------------------------------------------------------------

RELEASE_SHARDS = 4


def scan_summary(df) -> tuple[int, float]:
    """Row count and ``l_quantity`` sum of ``df``; folding a hash of every
    column makes the scan read and decode every column."""
    row = df.agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.bit_xor(F.xxhash64(*df.columns))
    ).first()
    return int(row[0]), float(row[1])


def normalized(text: str) -> str:
    """The text as exact deduplication compares it."""
    return " ".join(text.lower().split())


class DmlLineitem(Workload):
    """Append → MERGE → deletion-vector DELETE → full merge-on-read scan
    on one commit-log table partitioned by ``l_returnflag``, then one
    incremental ``release_corpus`` into a second commit-log table, cycle
    after cycle."""

    name = "dml_lineitem"
    parents = {
        "dml.cycle": (
            "txlog.append", "txlog.merge", "txlog.delete", "txlog.scan", "release",
        ),
    }
    extras = {
        "txlog.files_added": "count",
        "txlog.files_removed": "count",
        "txlog.bytes_added": "bytes",
        "txlog.commits": "count",
        "txlog.log_bytes": "bytes",
        "release.released_ratio": "ratio",
    }

    @staticmethod
    def generate(seed: int, out_dir: str) -> gen.DmlInputs:
        return gen.dml_inputs(seed, out_dir, STEPS_GENERATED)

    def __init__(self, spark, work, inputs):
        super().__init__(spark, work, inputs)
        self.table = os.path.join(work, "lineitem_tx")
        self.release_table = os.path.join(work, "released_tx")
        self.shards = os.path.join(work, "shards")
        self.released: set[int] = set()
        self.next = 0

    def warmup(self) -> Step:
        return self.step(self.off)

    def has_next(self) -> bool:
        return self.next < len(self.inputs.cycles)

    def step(self, tr: Tracer) -> Step:
        spark, cyc = self.spark, self.inputs.cycles[self.next]
        self.next += 1
        version0 = self._log_version() if os.path.isdir(self.table) else -1
        before = file_sizes(self.table)
        shards_before = set(os.listdir(self.shards)) if os.path.isdir(self.shards) else set()
        versions: list[int] = []
        done = 0
        trace0 = tr.overhead_s
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tr.span("dml.cycle", counters=False):
                with tr.span("txlog.append"):
                    tx_append_partitioned(
                        spark, spark.read.parquet(cyc.slice_path), self.table,
                        partition_by="l_returnflag",
                    )
                versions.append(self._log_version())
                done += 1
                with tr.span("txlog.merge"):
                    tx_merge_into(
                        spark, self.table, spark.read.parquet(cyc.merge_path),
                        on=["l_orderkey", "l_linenumber"],
                        when_matched_update={"l_extendedprice": "s.l_extendedprice"},
                        when_not_matched_insert=True,
                        partition_by="l_returnflag",
                    )
                versions.append(self._log_version())
                done += 1
                with tr.span("txlog.delete"):
                    tx_delete_where(spark, self.table, cyc.delete_predicate, mode="dv")
                versions.append(self._log_version())
                done += 1
                with tr.span("txlog.scan"):
                    scanned = scan_summary(tx_read(spark, self.table))
                done += 1
                with tr.span("release"):
                    manifest = release_corpus(
                        spark, spark.read.parquet(*cyc.docs_paths),
                        self.release_table, self.shards, num_shards=RELEASE_SHARDS,
                    ).collect()
                done += 1
        except Exception as exc:  # noqa: BLE001 - a failed step is counted, not fatal
            self.failures.append(f"{self.name}: cycle {self.next - 1}: {exc!r}")
            return Step(time.perf_counter() - t0, cpu_seconds() - c0,
                        cyc.submitted_bytes, 0, done + 1, 1, error=True)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        written = created_bytes(before, file_sizes(self.table))
        # the checks run after the timed cycle, each verb's count at the
        # version that verb committed, so no check reads the table
        # between two timed verbs
        failed = 0
        for what, v, want in zip(
            ("append", "merge", "delete"), versions,
            (cyc.after_append, cyc.after_merge, cyc.after_delete),
        ):
            failed += not self.check(
                tr, f"rows after {what} (version {v})",
                lambda v=v: tx_read(spark, self.table, version=v).count(), want,
            )
        failed += not self.check(
            tr, "scan rows and l_quantity sum", lambda: scanned,
            (cyc.after_delete, cyc.quantity_after),
        )
        new_ids, ok = self._check_release(tr, cyc, manifest, shards_before)
        failed += not ok
        step = Step(wall, cpu, cyc.submitted_bytes, written, 5, failed,
                    trace_s=tr.overhead_s - trace0)
        if tr.enabled:
            step.extras = self._layer_extras(version0)
            step.extras["release.released_ratio"] = len(new_ids) / gen.RELEASE_DOCS
        return step

    def _check_release(self, tr, cyc, manifest, shards_before) -> tuple[set[int], bool]:
        """The release table holds each doc id once, only candidates, and
        no two texts equal after normalisation; the shards this release
        wrote hold exactly the docs it added, and the manifest's row
        count is the shards' row count."""
        table = ds.dataset(self.release_table, format="parquet", partitioning="hive")
        ids = table.to_table(columns=["doc_id"])["doc_id"].to_pylist()
        new_ids = set(ids) - self.released
        self.released = set(ids)
        ok = self.check(tr, "doc ids released twice", lambda: len(ids) - len(set(ids)), 0)
        ok &= self.check(
            tr, "released ids outside the candidates",
            lambda: sum(not 0 <= i < cyc.candidates for i in ids), 0,
        )
        texts = {}
        for path in cyc.docs_paths:
            t = pq.read_table(path, columns=["doc_id", "text"])
            texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        ok &= self.check(
            tr, "released exact duplicates",
            lambda: len(ids) - len({normalized(texts[i]) for i in ids if i in texts}), 0,
        )
        written = sorted(set(os.listdir(self.shards)) - shards_before) \
            if os.path.isdir(self.shards) else []
        shard_ids: set[int] = set()
        shard_rows = 0
        for name in written:
            t = ds.dataset(os.path.join(self.shards, name), format="parquet").to_table(
                columns=["doc_id"]
            )
            shard_rows += t.num_rows
            shard_ids.update(pc.unique(t["doc_id"]).to_pylist())
        ok &= self.check(tr, "docs in this release's shards", lambda: shard_ids, new_ids)
        ok &= self.check(
            tr, "manifest rows", lambda: sum(r["n_rows"] for r in manifest), shard_rows
        )
        return new_ids, ok

    def _log_version(self) -> int:
        """Latest committed version, from the commit files' names."""
        names = os.listdir(os.path.join(self.table, "_txlog"))
        return max(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())

    def _layer_extras(self, version0: int) -> dict:
        hist = [
            r for r in tx_history(self.spark, self.table).collect()
            if r["version"] > version0
        ]
        log_dir = os.path.join(self.table, "_txlog")
        return {
            "txlog.files_added": sum(r["files_added"] for r in hist),
            "txlog.files_removed": sum(r["files_removed"] for r in hist),
            "txlog.bytes_added": sum(r["bytes_added"] for r in hist),
            "txlog.commits": len(hist),
            "txlog.log_bytes": sum(file_sizes(log_dir).values()),
        }

    def space_amp(self) -> float:
        """Table bytes ÷ the live rows after the last cycle run, written
        once as plain snappy parquet."""
        live = self.inputs.live_table(self.next - 1)
        base = plain_parquet_bytes(live, os.path.join(self.work, "live.parquet"))
        return sum(file_sizes(self.table).values()) / base


WORKLOADS = {w.name: w for w in (EtlAuctions, DmlLineitem)}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name, in report order, with its unit.  A
    registry query reports only its self time; its other counters are
    summed over the pass into ``queries.pass.<counter>``."""
    units: dict[str, str] = {}
    for wl in WORKLOADS.values():
        for parent, children in wl.parents.items():
            for span in children:
                if span.startswith("queries."):
                    units[f"{span}.self_s"] = "s"
                    continue
                for c in COUNTERS:
                    units[f"{span}.{c}"] = counter_unit(c)
            if parent == "queries.pass":
                for c in COUNTERS[1:]:
                    units[f"{parent}.{c}"] = counter_unit(c)
            units[f"{parent}.self_s"] = "s"
            units[f"{parent}.coverage_frac"] = "ratio"
        units.update(wl.extras)
    units["session.start_s"] = "s"
    units["session.warmup_s"] = "s"
    units["trace_overhead_frac"] = "ratio"
    return units


def counter_unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    return "count"

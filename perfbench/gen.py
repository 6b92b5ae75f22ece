"""Seeded input generation for the benchmark workloads.

Everything here is pure Python/NumPy/pyarrow: no Spark session is needed,
the same seed always yields byte-identical files, and every expected
count the output checks use is computed here, from the generated rows,
independently of the program under test.

* ``etl_batches`` writes raw auction JSON batches in both file vintages
  (dict-of-auctions and list-of-auctions).  The record shape comes from
  ``tests.fixtures.auction``; only the values are varied.
* ``query_tables`` writes the small ``lineitem`` and ``documents``
  tables the ETL workload's registry-query pass reads.
* ``dml_inputs`` writes a TPC-H-shaped ``lineitem`` split into append
  slices, one MERGE source per cycle and one DELETE predicate per cycle,
  and replays the whole cycle sequence on a NumPy model of the table to
  get the live row count after every verb.  It also writes one corpus
  increment per cycle for ``release_corpus``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.fixtures import auction

# --------------------------------------------------------------------------
# etl_auctions
# --------------------------------------------------------------------------

MAKES = [
    "BMW", "Audi", "Ford", "Porsche", "Toyota", "Honda", "Mazda", "Subaru",
    "Nissan", "Lexus", "Volkswagen", "Chevrolet",
]
BODY_STYLES = [
    "Coupe", "Sedan", "SUV/Crossover", "Convertible", "Hatchback", "Wagon",
    "Truck",
]
TRANSMISSIONS = [
    "Manual (6-Speed)", "Manual (5-Speed)", "Automatic (8-Speed)",
    "Automatic (7-Speed)", "Automatic (6-Speed)",
]
DRIVETRAINS = [
    "Rear-wheel drive", "All-wheel drive", "Front-wheel drive", "4WD/AWD",
]
SELLER_TYPES = ["Private party", "Dealer"]
# (state, abbreviation); the ETL workload seeds state_dim with these
STATES = [
    ("Washington", "WA"), ("Florida", "FL"), ("California", "CA"),
    ("Texas", "TX"), ("Oregon", "OR"), ("Colorado", "CO"),
    ("New York", "NY"), ("Arizona", "AZ"), ("Georgia", "GA"),
    ("Illinois", "IL"),
]
INVALID_STATUSES = ["Withdrawn", "Pending review"]
ETL_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
# share of a batch (from the second on) that re-lists the previous batch's
# auctions, and share of the fresh auctions with an invalid status
RELIST_FRAC = 0.10
INVALID_FRAC = 1 / 7


@dataclass
class EtlBatch:
    """One raw batch and what the pipeline must produce from it."""

    path: str
    records: int
    invalid: int
    raw_bytes: int
    # distinct auction ids that have had a valid status in this batch or
    # any earlier one: the auction_fact row count after this batch
    facts_after: int


def _etl_record(rng: random.Random, slug: str, day: float, valid: bool,
                city_pool: int):
    status = (
        rng.choices(
            ["Sold to {}", "Reserve not met, bid to", "Cancelled"],
            weights=[6, 3, 1],
        )[0].format(f"buyer{rng.randrange(500)}")
        if valid
        else rng.choice(INVALID_STATUSES)
    )
    when = ETL_EPOCH + dt.timedelta(days=day)
    make = rng.choice(MAKES)
    n_bids = rng.randrange(9)
    top = rng.randrange(5_000, 150_000)
    _, rec = auction(
        slug,
        year=rng.randrange(1985, 2025),
        status=status,
        date=when.strftime("%Y-%m-%dT%H:%M:%SZ"),
        make=make,
        model=f"{make[:3]}-{rng.randrange(6 + city_pool // 20)}\nSave",
        bids=[f"${top - 250 * j:,}" for j in range(n_bids)],
        highlights_vintage=rng.choice(["struct", "list"]),
    )
    state, abbr = rng.choice(STATES)
    facts = rec["auction_quick_facts"]
    facts["Mileage"] = f"{rng.randrange(1_000, 250_000):,} miles"
    facts["Location"] = f"City{rng.randrange(city_pool)}, {abbr} 9{rng.randrange(10_000):04d}"
    facts["Title Status"] = f"Clean ({abbr})" if rng.random() < 0.8 else f"Salvage ({state})"
    facts["Transmission"] = rng.choice(TRANSMISSIONS)
    facts["Drivetrain"] = rng.choice(DRIVETRAINS)
    facts["Body Style"] = rng.choice(BODY_STYLES)
    facts["Seller Type"] = rng.choice(SELLER_TYPES)
    rec["auction_stats"]["bid_count"] = str(n_bids)
    rec["auction_stats"]["view_count"] = f"{rng.randrange(100, 90_000):,}"
    return rec


def etl_batches(
    seed: int,
    out_dir: str,
    n_batches: int,
    batch_size: int = 1000,
    files: int = 10,
) -> list[EtlBatch]:
    """Write ``n_batches`` raw batch directories under ``out_dir``.

    Batch ``b`` holds ``batch_size`` auctions in ``files`` JSON files;
    every third file is the early dict vintage, the rest the list
    vintage.  From the second batch on, ``RELIST_FRAC`` of the batch
    re-lists auctions of the previous batch under a newer date (always
    valid), and of the fresh auctions ``INVALID_FRAC`` carry a status
    the validity split rejects.  Auction dates advance two days per
    batch inside a seven-day window, so consecutive batches share date
    partitions and the merge sink rewrites existing rows.  City and
    model pools grow per batch, so every batch inserts new dim rows.
    """
    rng = random.Random(seed)
    valid_ids: set[str] = set()
    prev: list[tuple[str, float]] = []
    out: list[EtlBatch] = []
    for b in range(n_batches):
        city_pool = 40 + 15 * b
        n_relist = int(batch_size * RELIST_FRAC) if prev else 0
        recs: list[dict] = []
        invalid = 0
        for slug, day in rng.sample(prev, n_relist):
            day = day + 1 + rng.random() * 3
            recs.append(_etl_record(rng, slug, day, True, city_pool))
            valid_ids.add(slug)
        current: list[tuple[str, float]] = []
        for i in range(batch_size - n_relist):
            slug = f"s{seed % 100_000}b{b:03d}n{i:05d}"
            day = 2 * b + rng.random() * 7
            valid = rng.random() >= INVALID_FRAC
            recs.append(_etl_record(rng, slug, day, valid, city_pool))
            current.append((slug, day))
            if valid:
                valid_ids.add(slug)
            else:
                invalid += 1
        rng.shuffle(recs)
        path = os.path.join(out_dir, f"batch{b:03d}")
        os.makedirs(path, exist_ok=True)
        raw_bytes = 0
        for f in range(files):
            chunk = recs[f::files]
            fp = os.path.join(path, f"raw{f:03d}.json")
            with open(fp, "w") as fh:
                if f % 3 == 0:
                    json.dump({r["auction_url"]: r for r in chunk}, fh)
                else:
                    json.dump(chunk, fh)
            raw_bytes += os.path.getsize(fp)
        out.append(EtlBatch(path, len(recs), invalid, raw_bytes, len(valid_ids)))
        prev = current
    return out


# --------------------------------------------------------------------------
# dml_lineitem
# --------------------------------------------------------------------------

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])
# shifted-key inserts of cycle i use orderkeys above (i + 1) * KEY_SHIFT
KEY_SHIFT = 1_000_000_000
# rows appended per cycle, MERGE source size as a share of them, and the
# modulus of the DELETE predicate (about 1/DELETE_MOD of the live rows)
SLICE_ROWS = 25_000
MERGE_FRAC = 1 / 8
DELETE_MOD = 20
# documents each cycle adds to the release candidates
RELEASE_DOCS = 100


@dataclass
class DmlCycle:
    """Inputs of one DML cycle and the live rows after each verb."""

    slice_path: str
    merge_path: str
    delete_predicate: str
    submitted_bytes: int
    after_append: int
    after_merge: int
    after_delete: int
    # sum of l_quantity over the rows live after the delete
    quantity_after: float
    # release candidates: the corpus increments of this cycle and every
    # earlier one, ids 0 .. candidates - 1
    docs_paths: list[str]
    candidates: int


@dataclass
class DmlInputs:
    cycles: list[DmlCycle]
    # columns of every row any cycle can make live (base rows first, then
    # each cycle's shifted-key inserts, prices as last updated) and, per
    # cycle, the row ids live after its delete -- the untimed
    # plain-parquet base of space_amp
    universe: dict[str, np.ndarray] = field(repr=False)
    live_after: list[np.ndarray] = field(repr=False)

    def live_table(self, cycle: int) -> pa.Table:
        ids = self.live_after[cycle]
        return pa.table(
            {k: v[ids] for k, v in self.universe.items()},
            schema=LINEITEM_SCHEMA,
        )


def _lineitem(rng: np.random.Generator, n_rows: int) -> dict[str, np.ndarray]:
    lines = rng.integers(1, 8, size=n_rows // 2 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum()) - n_rows
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, size=n_rows).astype(np.float64)
    partkey = rng.integers(1, 20_001, size=n_rows)
    price = np.round(quantity * (900 + partkey % 1000 + 0.01 * (partkey % 100)), 2)
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2_400, size=n_rows)
    return {
        "l_orderkey": orderkey,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, size=n_rows).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, size=n_rows) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_rows) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.choice(3, size=n_rows, p=[0.25, 0.5, 0.25])
        ],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, size=n_rows)
        ],
        "l_shipdate": ship.astype("datetime64[us]"),
    }


def _write(cols: dict[str, np.ndarray], ids: np.ndarray, path: str) -> int:
    table = pa.table({k: v[ids] for k, v in cols.items()}, schema=LINEITEM_SCHEMA)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def dml_inputs(seed: int, out_dir: str, n_cycles: int) -> DmlInputs:
    """Write the inputs of ``n_cycles`` DML cycles under ``out_dir``.

    ``lineitem`` has ``n_cycles * SLICE_ROWS`` rows with a unique
    ``(l_orderkey, l_linenumber)`` key.  Whole orders are dealt at random
    to ``n_cycles`` append slices; cycle ``i`` appends slice ``i``.  The
    MERGE source of cycle ``i`` has ``MERGE_FRAC`` of slice ``i``'s size:
    half updates of rows live at that point (``l_extendedprice`` + 1),
    half inserts copied from slice ``i`` under orderkeys shifted past
    every existing key.  Cycle ``i`` then deletes the live rows with
    ``(l_orderkey * 7 + l_linenumber) % DELETE_MOD`` equal to a seeded
    residue.  Each cycle also writes a corpus increment of
    ``RELEASE_DOCS`` documents, some duplicating earlier increments.
    """
    rng = np.random.default_rng(seed)
    doc_rng = random.Random(seed)
    all_docs: list[dict] = []
    docs_paths: list[str] = []
    base = _lineitem(rng, n_cycles * SLICE_ROWS)
    order_slice = rng.integers(0, n_cycles, size=int(base["l_orderkey"][-1] // 4) + 1)
    row_slice = order_slice[base["l_orderkey"] // 4 - 1]
    universe = {k: v.copy() for k, v in base.items()}
    live = np.empty(0, dtype=np.int64)
    cycles: list[DmlCycle] = []
    live_after: list[np.ndarray] = []
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_cycles):
        slice_ids = np.flatnonzero(row_slice == i)
        slice_path = os.path.join(out_dir, f"slice{i:02d}.parquet")
        slice_bytes = _write(base, slice_ids, slice_path)
        live = np.concatenate([live, slice_ids])
        after_append = len(live)

        half = max(1, int(len(slice_ids) * MERGE_FRAC / 2))
        upd = np.sort(rng.choice(live, size=half, replace=False))
        ins = np.sort(rng.choice(slice_ids, size=half, replace=False))
        source = {k: np.concatenate([v[upd], v[ins]]) for k, v in universe.items()}
        source["l_extendedprice"][:half] += 1.0
        source["l_orderkey"][half:] += (i + 1) * KEY_SHIFT
        merge_path = os.path.join(out_dir, f"merge{i:02d}.parquet")
        merge_bytes = _write(source, np.arange(2 * half), merge_path)
        universe["l_extendedprice"][upd] = source["l_extendedprice"][:half]
        n_universe = len(universe["l_orderkey"])
        universe = {k: np.concatenate([v, source[k][half:]]) for k, v in universe.items()}
        live = np.concatenate([live, np.arange(n_universe, n_universe + half)])
        after_merge = len(live)

        residue = int(rng.integers(0, DELETE_MOD))
        key = universe["l_orderkey"] * 7 + universe["l_linenumber"].astype(np.int64)
        live = live[key[live] % DELETE_MOD != residue]
        docs = documents(doc_rng, len(all_docs), RELEASE_DOCS, all_docs)
        all_docs += docs
        docs_paths.append(os.path.join(out_dir, f"docs{i:02d}.parquet"))
        _write_docs(docs, docs_paths[-1])
        cycles.append(DmlCycle(
            slice_path=slice_path,
            merge_path=merge_path,
            delete_predicate=(
                f"(l_orderkey * 7 + l_linenumber) % {DELETE_MOD} = {residue}"
            ),
            submitted_bytes=slice_bytes + merge_bytes,
            after_append=after_append,
            after_merge=after_merge,
            after_delete=len(live),
            quantity_after=float(universe["l_quantity"][live].sum()),
            docs_paths=list(docs_paths),
            candidates=len(all_docs),
        ))
        live_after.append(live.copy())
    return DmlInputs(cycles, universe, live_after)


# --------------------------------------------------------------------------
# documents: the query pass's corpus and the release candidates
# --------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]
# 210 content words from consonant-vowel syllables: texts differ enough
# that near-duplicate detection has real candidates to reject
WORDS = [c1 + v1 + c2 + v2 for c1 in "bdklmst" for v1 in "aeiou" for c2 in "nrv"
         for v2 in "ao"]
SOURCES = [f"src{i}" for i in range(8)]
LANGS = ["en", "de", "fr", "es", "zh"]
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def _text(rng: random.Random) -> str:
    words = [
        rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(WORDS)
        for _ in range(rng.randrange(12, 100))
    ]
    return " ".join(words)


def documents(rng: random.Random, first_id: int, n: int,
              earlier: list[dict] | None = None) -> list[dict]:
    """``n`` documents with ids from ``first_id``.  Besides ordinary text,
    one in ten re-spells a document of ``earlier`` or of this list (case
    and spacing only: an exact duplicate after normalisation), one in ten
    changes one word of one (a near duplicate), and one in twenty fails
    the rule quality gate (too short, or mostly digits)."""
    pool = list(earlier or [])
    docs: list[dict] = []
    for i in range(n):
        roll = rng.random()
        if pool and roll < 0.10:
            text = rng.choice(pool)["text"].upper().replace(" ", "  ")
        elif pool and roll < 0.20:
            words = rng.choice(pool)["text"].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        elif roll < 0.225:
            text = " ".join(rng.choices(WORDS, k=3))
        elif roll < 0.25:
            text = " ".join(str(rng.randrange(10**6)) for _ in range(30))
        else:
            text = _text(rng)
        docs.append({
            "doc_id": first_id + i,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": rng.choice(SOURCES),
            "n_chars": len(text),
        })
        pool.append(docs[-1])
    return docs


def _write_docs(docs: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path,
                   compression="snappy")


# rows of the query pass's lineitem and documents in its corpus
QUERY_LINEITEM_ROWS = 20_000
QUERY_DOCUMENTS = 600


def query_tables(seed: int, out_dir: str) -> str:
    """Write ``lineitem`` and ``documents`` parquet tables in the layout
    the query registry reads (``<dir>/<table>.parquet``) and return the
    directory."""
    os.makedirs(out_dir, exist_ok=True)
    li = _lineitem(np.random.default_rng(seed), QUERY_LINEITEM_ROWS)
    _write(li, np.arange(QUERY_LINEITEM_ROWS), os.path.join(out_dir, "lineitem.parquet"))
    _write_docs(documents(random.Random(seed), 0, QUERY_DOCUMENTS),
                os.path.join(out_dir, "documents.parquet"))
    return out_dir

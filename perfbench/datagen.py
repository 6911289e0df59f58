"""Seeded input generator for the benchmark.

The base database is a TPC-H-ish star schema (the layout of the engine's
test fixtures, without supplier and part: region, nation, customer,
orders, lineitem, events, documents) drawn from a FIXED base seed, so sizes,
fan-outs and value distributions never change between runs. The run
seed then relabels every entity primary key with an affine bijection

    k' = (a * k + b) mod P,    P prime, P > every key,

and every foreign key follows its target's map — including the dangling
``events.user_id`` values that point past the last customer. The
relabelling moves hash placement, node ids, train/test splits and
minibatch assignment (all keyed on ids) while the work per op stays the
same, which is what keeps run-to-run spread low.

``nation`` and ``region`` keep their keys: ``c_nationkey`` is the
trainer's categorical code and sizes its embedding table by the largest
code, so relabelling it would change the model, not just the ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# row counts per scale; "bench" is the measured size, "smoke" the quick
# check of the benchmark itself
SCALES = {
    "bench": dict(customer=500, orders=5000, lines_per_order=4, events=3000, documents=1000),
    "smoke": dict(customer=150, orders=1500, lines_per_order=4, events=1000, documents=320),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

# tables the relational workload reads; documents feed the crawl.
# supplier and part are not generated: each table adds profiling and
# graph jobs to every op, and a run must fit the benchmark's time budget
RELATIONAL_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")
# the crawl's arriving batches: two set up the index, three are timed
CRAWL_BATCHES = 5

# entity tables whose primary key is relabelled, and the FK columns that
# follow each map
RELABEL = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders"},
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
}


def _is_prime(m: int) -> bool:
    if m < 2:
        return False
    i = 2
    while i * i <= m:
        if m % i == 0:
            return False
        i += 1
    return True


def _next_prime(n: int) -> int:
    while not _is_prime(n):
        n += 1
    return n


@dataclass(frozen=True)
class KeyMap:
    """The seeded affine bijection ``k -> (a*k + b) mod p`` on ``[0, p)``."""

    a: int
    b: int
    p: int

    def __call__(self, k: np.ndarray) -> np.ndarray:
        return (self.a * k.astype(np.int64) + self.b) % self.p


def key_maps(seed: int, max_key: int) -> dict[str, KeyMap]:
    """One map per relabelled table, all drawn from ``seed``."""
    p = _next_prime(max_key + 1)
    rng = np.random.default_rng([seed, 7919])
    targets = sorted({t for cols in RELABEL.values() for t in cols.values()})
    return {t: KeyMap(int(rng.integers(1, p)), int(rng.integers(0, p)), p) for t in targets}


def _base_tables(sizes: dict) -> dict[str, dict[str, np.ndarray]]:
    rng = np.random.default_rng(BASE_SEED)
    n_c, n_o = sizes["customer"], sizes["orders"]
    t: dict[str, dict[str, np.ndarray]] = {}
    t["region"] = dict(
        r_regionkey=np.arange(5, dtype=np.int32),
        r_name=np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    )
    t["nation"] = dict(
        n_nationkey=np.arange(25, dtype=np.int32),
        n_name=np.array([f"NATION_{i}" for i in range(25)]),
        n_regionkey=(np.arange(25) % 5).astype(np.int32),
    )
    ck = np.arange(n_c, dtype=np.int64)
    t["customer"] = dict(
        c_custkey=ck,
        c_name=np.array([f"Customer#{i:09d}" for i in ck]),
        c_nationkey=rng.integers(0, 25, n_c).astype(np.int32),
        c_acctbal=np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        c_mktsegment=rng.choice(SEGMENTS, n_c),
    )
    day0 = np.datetime64("1995-01-01", "us")
    t["orders"] = dict(
        o_orderkey=np.arange(n_o, dtype=np.int64),
        o_custkey=rng.integers(0, n_c, n_o).astype(np.int64),
        o_orderstatus=rng.choice(["F", "O", "P"], n_o),
        o_totalprice=np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        o_orderdate=day0 + rng.integers(0, 2555, n_o) * np.timedelta64(1, "D"),
        o_orderpriority=rng.choice(PRIORITIES, n_o),
    )
    lo = np.sort(rng.integers(0, n_o, n_o * sizes["lines_per_order"]))
    # linenumber = 1 + rank of the line within its order; orders keep at
    # most 7 lines so the stack's packed key (orderkey * 8 + linenumber)
    # stays unique
    starts = np.r_[0, np.flatnonzero(np.diff(lo)) + 1]
    rank = np.arange(len(lo)) - np.repeat(starts, np.diff(np.r_[starts, len(lo)]))
    lo, ln = lo[rank < 7], (rank[rank < 7] + 1).astype(np.int32)
    n_l = len(lo)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = dict(
        l_orderkey=lo.astype(np.int64),
        l_linenumber=ln,
        l_quantity=qty,
        l_extendedprice=np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        l_discount=np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        l_tax=np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        l_returnflag=rng.choice(["A", "N", "R"], n_l),
        l_linestatus=rng.choice(["F", "O"], n_l),
        l_shipdate=day0 + rng.integers(1, 2600, n_l) * np.timedelta64(1, "D"),
    )
    n_e = sizes["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = dict(
        event_id=np.arange(n_e, dtype=np.int64),
        ts=ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e)) * np.timedelta64(1, "us"),
        # ~10% of event users have no customer row: dangling FK values
        user_id=rng.integers(0, n_c + n_c // 10, n_e).astype(np.int64),
        event_type=rng.choice(EVENT_TYPES, n_e),
        value=np.round(rng.exponential(50.0, n_e), 2),
        props=np.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_e)]),
    )
    t["documents"] = _documents(rng, sizes["documents"])
    return t


def _documents(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Random-word documents with planted duplicates: ~5% exact copies
    and ~10% one-word edits of an earlier document."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return dict(
        doc_id=np.arange(n, dtype=np.int64),
        text=np.array(texts, dtype=object),
        lang=rng.choice(LANGS, n),
        source=np.array([f"src{i % 20}" for i in range(n)]),
        n_chars=np.array([len(s) for s in texts], dtype=np.int64),
    )


@dataclass
class Inputs:
    """What the generator wrote: the parquet directory, row counts per
    table, and the crawl's arriving batches (doc-id arrays in arrival
    order)."""

    data_dir: str
    row_counts: dict
    crawl_batches: list


def generate(out_dir: str, seed: int, scale: str = "bench") -> Inputs:
    """Write the seeded database under ``out_dir`` (one
    ``<table>.parquet`` per table) and describe it."""
    sizes = SCALES[scale]
    base = _base_tables(sizes)
    # every relabelled key, dangling event users included, lies below
    # the largest table size plus the customer overhang
    max_key = max(len(next(iter(cols.values()))) for cols in base.values()) + sizes["customer"]
    maps = key_maps(seed, max_key)
    for table, mapping in RELABEL.items():
        for col, target in mapping.items():
            base[table][col] = maps[target](base[table][col])

    ids = base["documents"]["doc_id"]
    perm = np.random.default_rng([seed, 104729]).permutation(len(ids))
    crawl_batches = [ids[np.sort(c)] for c in np.array_split(perm, CRAWL_BATCHES)]

    os.makedirs(out_dir, exist_ok=True)
    row_counts = {}
    for table, columns in base.items():
        tbl = pa.table({
            c: pa.array(v.tolist(), pa.string()) if v.dtype == object else v
            for c, v in columns.items()
        })
        pq.write_table(tbl, os.path.join(out_dir, f"{table}.parquet"))
        row_counts[table] = tbl.num_rows
    return Inputs(out_dir, row_counts, crawl_batches)

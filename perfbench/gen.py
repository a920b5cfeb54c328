"""Seeded benchmark inputs.

Two generators, both pure functions of the seed:

- :func:`write_tables` writes the ten fixture tables (schema of FIXTURES.md:
  a TPC-H-ish star schema, the ``events`` time series, the ``documents``
  corpus and the ``embeddings`` vectors) as single-file parquet tables, so
  the registry's ``(spark, sf_dir)`` callables and their DuckDB oracles
  read them exactly like the fixture directories of TESTDATA.md.
- :class:`IngestStream` yields SNMP-style counter rows for the
  ``TSDB/TSDBSet/TSDBVar`` façade: a preloaded history per var, then one
  batch per var and step with slot-jittered timestamps, same-slot
  rewrites, late rows and invalid flags.

Both write only where they are told to; nothing here reads any file.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days_us(first: str, last: str) -> tuple[int, int]:
    lo = np.datetime64(first, "us").astype(np.int64)
    hi = np.datetime64(last, "us").astype(np.int64)
    return int(lo), int(hi)


def _random_days(rng, n: int, first: str, last: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from [first, last]."""
    lo, hi = _days_us(first, last)
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf 0.01 gives 60k
    lineitem rows, 10k events, 500 documents and 500 embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _random_days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.searchsorted(l_order, l_order, side="left")
    linenumber = (np.arange(n_line) - first + 1).astype(np.int32)
    perm = rng.permutation(n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order[perm]),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(linenumber[perm]),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": _random_days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    t["events"] = _events(rng, n_ev, n_users)
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def _events(rng, n: int, n_users: int) -> pa.Table:
    """A month of irregular samples of ``n_users`` × 5 series (series =
    ``user_id/event_type``)."""
    ev_lo, _ = _days_us("2024-01-01", "2024-01-01")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + ev_lo
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n)),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Word-soup docs over a 31-word vocabulary; ~5% are copies of an
    earlier original doc with zero to two ``dup`` tokens appended (the
    fixture's near-duplicate shape: small clusters, no copy-of-copy
    chains)."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(base + " dup" * int(rng.integers(0, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": _choice(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in ten weak clusters (cosine to the own-label
    centroid ≈ 0.15, like the fixture)."""
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = rng.normal(size=(n, dim)) + 1.2 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- façade ingest stream ---------------------------------------------------

COUNTER_MOD = 2**32  # Counter32 wrap


class IngestStream:
    """Seeded SNMP-style counter rows for ``n_vars`` façade vars.

    Every batch is a pure function of ``(seed, var, batch index)``, so a
    run can draw as many steps as its time allows and the same seed still
    regenerates identical rows.  Slot ``i`` of var ``v`` lives at
    ``t0 + i * step`` plus a jitter inside the slot; its counter reading is
    a closed-form function of ``i`` (wrapping at 2³²), so a late row or a
    rewrite is distinguishable from the original by its value.

    Rows are ``(tse, value, flags)`` with flags 1 (valid) or 0 (invalid,
    value None) — the façade's ``insert_batch`` row shape.
    """

    STEP = 300  # seconds per slot
    HISTORY_SLOTS = 2016  # one week of 5 min slots, preloaded
    BATCH_SLOTS = 72  # six hours of new slots per timed batch
    REWRITES = LATE = INVALID = 3  # per batch
    T0 = 1_700_006_400  # a UTC midnight

    def __init__(self, seed: int, n_vars: int):
        self.seed = seed
        self.n_vars = n_vars
        rng = random.Random(f"{seed}/vars")
        # (base reading, mean increment per slot) per var
        self._counter = [
            (rng.randrange(COUNTER_MOD), rng.randrange(10_000, 5_000_000))
            for _ in range(n_vars)
        ]

    def var_paths(self) -> list[str]:
        return [f"router{v}/ifHCInOctets" for v in range(self.n_vars)]

    def reading(self, v: int, i: int) -> float:
        base, inc = self._counter[v]
        wobble = (i * 7919 + v * 104_729) % 1000
        return float((base + i * inc + wobble) % COUNTER_MOD)

    def _row(self, rng: random.Random, v: int, i: int, bump: int = 0):
        tse = self.T0 + i * self.STEP + rng.randrange(self.STEP)
        return (tse, float((int(self.reading(v, i)) + bump) % COUNTER_MOD), 1)

    def history(self, v: int) -> list[tuple]:
        """The preloaded rows of var ``v`` (one batch, slots 0..H-1)."""
        rng = random.Random(f"{self.seed}/{v}/history")
        return [self._row(rng, v, i) for i in range(self.HISTORY_SLOTS)]

    def head_slot(self, k: int) -> int:
        """First slot index written by timed batch ``k``."""
        return self.HISTORY_SLOTS + k * self.BATCH_SLOTS

    def batch(self, v: int, k: int) -> list[tuple]:
        """Timed batch ``k`` of var ``v``: the next ``batch_slots`` slots,
        then same-slot rewrites of some of them (later in the batch, so
        they win), late rows into already-written slots, and invalid
        rows that blank some new slots."""
        rng = random.Random(f"{self.seed}/{v}/{k}")
        lo = self.head_slot(k)
        new = list(range(lo, lo + self.BATCH_SLOTS))
        rows = [self._row(rng, v, i) for i in new]
        for i in rng.sample(new, self.REWRITES):
            rows.append(self._row(rng, v, i, bump=1))
        for i in rng.sample(range(lo), self.LATE):
            rows.append(self._row(rng, v, i, bump=7))
        for i in rng.sample(new, self.INVALID):
            rows.append((self.T0 + i * self.STEP + rng.randrange(self.STEP), None, 0))
        return rows

    def reads(self, k: int, n_read_vars: int) -> list[tuple]:
        """The reads issued after timed batch ``k``: ``(var, select
        window, timerange window)`` for ``n_read_vars`` seeded vars.
        Windows are unaligned on purpose (the façade aligns outward)."""
        rng = random.Random(f"{self.seed}/reads/{k}")
        head = self.T0 + self.head_slot(k + 1) * self.STEP
        out = []
        for v in rng.sample(range(self.n_vars), n_read_vars):
            b = rng.randrange(self.T0, head - 86_400)
            tb = rng.randrange(self.T0, head - 3 * 86_400)
            out.append((v, (b, b + 86_400), (tb, tb + 3 * 86_400)))
        return out

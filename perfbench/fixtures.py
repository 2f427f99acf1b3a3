"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables the library reads (``tables.TABLES``) into
one directory, with the footer schemas ``tables.FIXTURE_SCHEMAS`` pins
and the value shapes of the shipped test data (FIXTURES.md): a TPC-H-ish
star schema, an ``events`` stream ordered by time, short documents over
a small vocabulary with a few near-copies, and unit-norm 64-d
embeddings. The same seed and sizes give byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
N_USERS = 1500


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated fixture set."""

    events: int
    documents: int
    embeddings: int
    customers: int
    orders: int
    lineitems: int

    @property
    def suppliers(self) -> int:
        return max(self.customers // 15, 10)

    @property
    def parts(self) -> int:
        return max(self.customers * 4 // 3, 20)


# "bench": the stream holds three full 1,000-record pages per shard at 8
# shards; the tables are sf0.01-sized. "smoke": a few seconds per workload.
SIZES = {
    "bench": Sizes(24_000, 500, 500, 1_500, 15_000, 60_000),
    "smoke": Sizes(2_000, 80, 80, 150, 1_500, 6_000),
}


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    """Short documents over ``VOCAB``. Near-copies (one word swapped for
    "dup") sit at fixed positions, so that with the even/odd split the
    workloads use, every admitted slice holds the same share of
    near-duplicates of the bootstrapped half (position 19 mod 20 copies
    position 10) and of its own documents (13 copies 11), whatever the
    seed. Copied documents are long enough to be unambiguous."""
    texts: list[str] = []
    for i in range(n):
        r = i % 20
        src = i - 9 if r == 19 else i - 2 if r == 13 else None
        if src is not None:
            words = texts[src].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            lo = 60 if r in (10, 11) else 10
            words = list(rng.choice(VOCAB, int(rng.integers(lo, 101))))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    x = rng.standard_normal((n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row for row in x],
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _events(rng, n: int) -> dict:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + start
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    }


def generate(out_dir: str, seed: int, sizes: Sizes) -> str:
    """Write every fixture table for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        out_dir,
        "region",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    nc = sizes.customers
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": list(rng.choice(SEGMENTS, nc)),
        },
        pa.schema(
            [
                ("c_custkey", i64),
                ("c_name", s),
                ("c_nationkey", i32),
                ("c_acctbal", f64),
                ("c_mktsegment", s),
            ]
        ),
    )
    ns = sizes.suppliers
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
        pa.schema(
            [
                ("s_suppkey", i64),
                ("s_name", s),
                ("s_nationkey", i32),
                ("s_acctbal", f64),
            ]
        ),
    )
    npart = sizes.parts
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, npart)],
            "p_type": list(rng.choice(PART_TYPES, npart)),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 2),
        },
        pa.schema(
            [
                ("p_partkey", i64),
                ("p_name", s),
                ("p_brand", s),
                ("p_type", s),
                ("p_size", i32),
                ("p_retailprice", f64),
            ]
        ),
    )
    no = sizes.orders
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": list(rng.choice(PRIORITIES, no)),
        },
        pa.schema(
            [
                ("o_orderkey", i64),
                ("o_custkey", i64),
                ("o_orderstatus", s),
                ("o_totalprice", f64),
                ("o_orderdate", ts),
                ("o_orderpriority", s),
            ]
        ),
    )
    nl = sizes.lineitems
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": list(rng.choice(["F", "O"], nl)),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        },
        pa.schema(
            [
                ("l_orderkey", i64),
                ("l_partkey", i64),
                ("l_suppkey", i64),
                ("l_linenumber", i32),
                ("l_quantity", f64),
                ("l_extendedprice", f64),
                ("l_discount", f64),
                ("l_tax", f64),
                ("l_returnflag", s),
                ("l_linestatus", s),
                ("l_shipdate", ts),
            ]
        ),
    )
    _write(
        out_dir,
        "events",
        _events(rng, sizes.events),
        pa.schema(
            [
                ("event_id", i64),
                ("ts", ts),
                ("user_id", i64),
                ("event_type", s),
                ("value", f64),
                ("props", s),
            ]
        ),
    )
    _write(
        out_dir,
        "documents",
        _documents(rng, sizes.documents),
        pa.schema(
            [
                ("doc_id", i64),
                ("text", s),
                ("lang", s),
                ("source", s),
                ("n_chars", i64),
            ]
        ),
    )
    _write(
        out_dir,
        "embeddings",
        _embeddings(rng, sizes.embeddings),
        pa.schema(
            [
                ("vec_id", i64),
                ("embedding", pa.list_(pa.float32())),
                ("label", i32),
            ]
        ),
    )
    return out_dir

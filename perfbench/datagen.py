"""Seeded generator for the ten fixture tables the engine reads.

The registered queries read ``region nation customer supplier part
orders lineitem events documents embeddings`` from one directory (see
``catalog.FIXTURE_TABLES``). The benchmark cannot rely on a prepared
fixture directory, so it writes its own: the same schemas, the same
value domains and the same row counts per scale factor as the
TPC-H-ish star schema the engine was built against (uniform keys and
measures, an exponential-gap event stream, a 30-word text corpus with
5% " dup" near-copies, unit-norm 64-d embeddings).

Every value is a pure function of ``(sf, seed)``: the same pair always
writes the same tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _days_since_epoch(d: datetime) -> int:
    return (d - _EPOCH).days


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf0.1: 150k orders, 600k
    lineitems, 100k events, 5000 documents, 2000 embeddings)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng: np.random.Generator, n: int, lo: datetime, hi: datetime) -> pa.Array:
    d0, d1 = _days_since_epoch(lo), _days_since_epoch(hi)
    days = rng.integers(d0, d1 + 1, n).astype(np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, n: int, values, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(values))
    ).dictionary_decode()


def _region(rng, n, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})


def _nation(rng, n, sf):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, n, sf):
    nc = n["customer"]
    return pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, nc, SEGMENTS),
        }
    )


def _supplier(rng, n, sf):
    ns = n["supplier"]
    return pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )


def _part(rng, n, sf):
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, npart, names),
            "p_brand": _pick(rng, npart, [f"Brand#{i}" for i in range(1, 26)]),
            "p_type": _pick(rng, npart, PART_TYPES),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )


def _orders(rng, n, sf):
    no = n["orders"]
    return pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": _pick(rng, no, ("F", "O", "P")),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, no, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, no, PRIORITIES),
        }
    )


def _lineitem(rng, n, sf):
    nl = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, nl, ("A", "N", "R")),
            "l_linestatus": _pick(rng, nl, ("F", "O")),
            "l_shipdate": _dates(rng, nl, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )


def _events(rng, n, sf):
    ne = n["events"]
    span_us = 30 * _DAY_US
    gaps = rng.exponential(span_us / (ne + 1), ne)
    ts = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(
                ts + _days_since_epoch(datetime(2024, 1, 1)) * _DAY_US,
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, max(1, round(15_000 * sf)), ne).astype(np.int64),
            "event_type": _pick(rng, ne, EVENT_TYPES),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def _documents(rng, n, sf):
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-copies: another document's text plus a trailing " dup"
    dups = rng.choice(nd, nd // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, nd))
        while src in dups:
            src = int(rng.integers(0, nd))
        texts[d] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, nd, LANGS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n, sf):
    nv = n["embeddings"]
    x = rng.standard_normal((nv, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(sf: float, seed: int, tables=TABLES) -> dict[str, pa.Table]:
    """The named tables as in-memory arrow tables. Each table draws from
    its own random stream, so a table is the same whichever others are
    generated with it."""
    n = row_counts(sf)
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), n, sf)
        for name in tables
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group snappy parquet file per table,
    ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
            compression="snappy",
        )

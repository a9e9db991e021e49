"""Seeded input generator: a TPC-H-shaped star schema plus the events,
documents and embeddings tables the headline entries read.

Every table is a pure function of ``(seed, sf)``; the same pair always
yields byte-identical parquet files. Row counts follow the fixture
convention of the repository (``sf=0.1`` -> 600k lineitem rows); schemas
and column types match the fixture tables column for column, so every
``__spark_entry__`` query and its ``oracle_sql()`` twin run unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Table sizes at scale factor ``sf`` (documents/embeddings have a
    floor of 500 rows, like the fixture tables)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(20, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts (exact in decimal(18,2), like the fixtures)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    adjectives = np.array(["cold", "small", "large", "bright", "dark", "plain"])
    nouns = np.array(["widget", "gadget", "bolt", "gear", "panel"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 6, npart)], " "),
            nouns[rng.integers(0, 5, npart)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })

    no = n["orders"]
    odate = _EPOCH_1992 + rng.integers(0, 2405, no) * _DAY_US  # 1992-01-01 .. 1998-08-02
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 400000, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    # 1..7 lines per order: (l_orderkey, l_linenumber) is unique.
    per_order = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), per_order)
    nl = len(lok)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lnum = np.arange(nl) - starts + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 122, nl) * _DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship),
    })

    ne = n["events"]
    nusers = max(5, min(nc, int(15_000 * sf)))
    ets = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, nusers, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0, 500, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random word soup over a 30-word vocabulary, with planted exact
    duplicates (1 in 50) and near-duplicates (1 in 10: a copy of an
    earlier document with two words swapped for the marker ``dup``)."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i >= 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.12:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors around ten cluster centres (label = centre)."""
    centres = rng.standard_normal((10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vec = centres[label] + 0.6 * rng.standard_normal((nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

"""Seeded generator for the benchmark's input tables.

Writes the corpus tables (``tables.TABLE_NAMES`` except ``embeddings``,
which no workload reads) as parquet with the same schemas as the engine's
test fixtures: a TPC-H-shaped star schema, an ``events`` stream and the
``documents`` corpus. Every value
comes from one ``numpy`` generator seeded by the caller, so the same
(seed, scale) writes byte-identical files.

Scale ``sf`` follows the fixtures: sf=0.01 is 15 k orders (~60 k lineitem
rows), 1.5 k customers, 10 k events and 500 documents.

The document corpus plants the structure the dedup operators look for:
exact copies that differ only in case and whitespace, near copies with a
few words replaced (Jaccard of 3-gram shingles around 0.4-0.8, so the 0.5
threshold matters), and a small stop-word, punctuation and digit share so
the quality signals are not constant.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "gold", "olive", "steel", "blue", "cool", "large"]
PART_NOUN = ["ring", "widget", "bolt", "tool", "gear", "pole", "valve", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "with"]
LANGS = ["en", "de", "es", "fr"]

DAY_US = 86_400_000_000
EPOCH_1992 = int(dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)

TS = pa.timestamp("us")


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale ``sf`` (lineitem is ~4 x orders)."""
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def _vocab(rng: np.random.Generator, n: int = 400) -> np.ndarray:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "be", "so", "di", "po", "ve", "zu"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), k)))
    return np.array(sorted(words))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
    }
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
    ]
    retail = np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 5, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": retail,
    })
    # customers whose key is a multiple of 3 place no orders (TPC-H's
    # rule), so the q13 outer join has a zero-count group
    buyers = np.array([c for c in range(nc) if c % 3], dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, 2405, no) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), no)]),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 900.0, 500_000.0, no),
        "o_orderdate": pa.array(odate, TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    out["lineitem"] = lineitem_rows(rng, np.arange(no), odate, np_, ns)
    return out


def lineitem_rows(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    orderdates: np.ndarray,
    n_parts: int,
    n_supp: int,
) -> pa.Table:
    """1-7 lines per order, shipped 1-121 days after the order date."""
    per = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, per)
    line = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, m), 2)
    ship = np.repeat(orderdates, per) + rng.integers(1, 122, m) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, m), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(ship, TS),
    })


def events_rows(
    rng: np.random.Generator, first_id: int, n: int, start_us: int, users: int
) -> pa.Table:
    """``n`` events with ids from ``first_id``, ~3.5 minutes apart."""
    ts = start_us + np.cumsum(rng.integers(1, 420_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 100.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _doc_text(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    k = int(rng.integers(20, 90))
    words = list(vocab[rng.integers(0, len(vocab), k)])
    for i in np.flatnonzero(rng.random(k) < 0.12):
        words[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    for i in np.flatnonzero(rng.random(k) < 0.05):
        words[i] = words[i] + (".", ",", "!", "?")[int(rng.integers(0, 4))]
    for i in np.flatnonzero(rng.random(k) < 0.03):
        words[i] = str(int(rng.integers(0, 1000)))
    return words


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """~70% original documents, ~15% exact copies (case/whitespace
    variants), ~15% near copies with 3-15% of their words replaced.
    Copies are made of originals only, so duplicate clusters are stars
    (diameter 2), as near-duplicate clusters of real corpora mostly are."""
    vocab = _vocab(rng)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if i < 10 or r < 0.70:
            originals.append(i)
            texts.append(" ".join(_doc_text(rng, vocab)))
            continue
        src = texts[originals[int(rng.integers(0, len(originals)))]]
        if r < 0.85:
            ws = src.split(" ")
            j = int(rng.integers(0, len(ws)))
            ws[j] = ws[j].upper()
            texts.append("  ".join(ws[:2]) + " " + " ".join(ws[2:]))
        else:
            ws = src.split(" ")
            rate = rng.uniform(0.03, 0.15)
            for j in np.flatnonzero(rng.random(len(ws)) < rate):
                ws[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(ws))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 8, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(
    out_dir: str, seed: int, sf: float, only: list[str] | None = None
) -> dict[str, int]:
    """Write every table (or the ``only`` ones) under ``out_dir``;
    returns row counts. The values do not depend on ``only``."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_rows(
        rng, 0, n["events"], EPOCH_2024, max(10, n["events"] // 200)
    )
    tables["documents"] = documents_table(rng, n["documents"])
    os.makedirs(out_dir, exist_ok=True)
    tables = {k: v for k, v in tables.items() if only is None or k in only}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def digest(out_dir: str) -> str:
    """sha256 over every file name and byte under ``out_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()

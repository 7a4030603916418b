"""Seeded input tables for the benchmark.

``write_tables(out_dir, seed, sf)`` writes one parquet file per table with
the layout of the project's TPC-H-shaped test data (``region nation customer
supplier part orders lineitem events documents``), so the query catalog runs
unchanged on it.  Every value comes from ``numpy.random.Generator(seed)``:
the same seed and scale give byte-identical tables.

Row counts per unit of ``sf`` follow TPC-H (orders 1.5M, 1-7 lines per
order, customer 150k, part 200k, supplier 10k) plus 1M events and 50k
documents.  Documents are word sequences over a small vocabulary; about 3%
are exact copies of an earlier document and about 5% near-copies (a few
words changed, `` dup`` appended), so the dedup stages have work to do.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "old", "red", "small", "green", "cold"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20

_EPOCH = _dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return (_dt.datetime(y, m, d) - _EPOCH).days * _US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with exactly two decimal digits."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def make_documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), n_part),
                       rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10,
                                  2),
    })

    lo, hi = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    o_date = lo + rng.integers(0, (hi - lo) // _US_PER_DAY, n_ord) \
        * _US_PER_DAY
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[j]
                          for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    l_ship = np.repeat(o_date, lines) \
        + rng.integers(1, 122, n_li) * _US_PER_DAY
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(l_ship),
    })

    ev0 = _day_us(2024, 1, 1)
    ev_ts = np.sort(ev0 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev).astype("int64"),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })

    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events,
            "documents": make_documents(rng, n_doc)}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns
    name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in make_tables(seed, sf).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths

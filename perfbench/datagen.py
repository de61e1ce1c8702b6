"""Seeded benchmark inputs, written as single parquet files per table.

The TPC-H-style star schema and the ``events`` table follow the column
names, types and value domains the registry keys and their DuckDB oracles
expect. Row counts depend only on the scale factor and the document count,
never on the seed, so every seed gives the engine the same amount of work;
the seed only changes the values.

The document corpus plants duplicate families: each family is one base
document plus exact copies and near copies (two words replaced), so the
MinHash and SimHash dedup keys have real candidate pairs to verify.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_ORDER_DAY0 = (np.datetime64("1995-01-01", "D") - _EPOCH_DAY).astype(np.int64)
_ORDER_DAYS = int(
    (np.datetime64("2001-08-01", "D") - np.datetime64("1995-01-01", "D")).astype(int)
)
_EVENTS_T0_US = int(
    (np.datetime64("2024-01-01T00:00:00", "us") - np.datetime64("1970-01-01T00:00:00", "us"))
    .astype(np.int64)
)
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# 256 words; each document draws from a 64-word window chosen by its topic,
# so word profiles (and SimHash/MinHash signatures) differ across topics.
_VOCAB = [
    f"{a}{b}"
    for a in (
        "batch part spark line column order small sort fast value scan "
        "hash slow group agg filter query big key window row table stream "
        "merge data vector shuffle plan join scale read write"
    ).split()
    for b in ("", "er", "ing", "ed", "ly", "est", "ware", "set")
]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_N_SOURCES = 20


def _strings(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days_to_ts(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400 * 1_000_000
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events at scale factor ``sf`` (sf=0.1: 600k lineitem rows). Returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _strings(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _strings(
                    rng, [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], n_part
                ),
                "p_brand": _strings(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _strings(rng, _PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
    }

    order_days = _ORDER_DAY0 + rng.integers(0, _ORDER_DAYS + 1, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _strings(rng, _STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_to_ts(order_days),
            "o_orderpriority": _strings(rng, _PRIORITY, n_ord),
        }
    )

    l_order = rng.integers(0, n_ord, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _strings(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _strings(rng, ["F", "O"], n_line),
            "l_shipdate": _days_to_ts(order_days[l_order] + rng.integers(1, 96, n_line)),
        }
    )

    ts = np.sort(_EVENTS_T0_US + rng.integers(0, _EVENTS_SPAN_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 1), n_ev), pa.int64()),
            "event_type": _strings(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


def write_corpus(out_dir: str, seed: int, n_docs: int) -> dict[str, int]:
    """Write ``documents`` with ``n_docs`` rows. One document in 20 is a
    family base; each base gets one exact copy and one near copy that
    replace later documents, so 15% of the corpus sits in duplicate
    families. Returns the row count and the number of planted families."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(_VOCAB, dtype=object)
    topics = rng.integers(0, len(_VOCAB) - 64, n_docs)
    lengths = rng.integers(10, 61, n_docs)
    words = [
        list(vocab[t + rng.integers(0, 64, n)]) for t, n in zip(topics, lengths)
    ]
    n_fam = n_docs // 20
    members = rng.permutation(n_docs)[: 3 * n_fam].reshape(n_fam, 3)
    for base, exact, near in members:
        words[exact] = list(words[base])
        edited = list(words[base])
        for pos in rng.choice(len(edited), 2, replace=False):
            edited[pos] = vocab[topics[base] + rng.integers(0, 64)]
        words[near] = edited
    text = [" ".join(w) for w in words]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": _strings(rng, _LANGS, n_docs),
            "source": _strings(rng, [f"src{i}" for i in range(_N_SOURCES)], n_docs),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    _write(out_dir, "documents", table)
    return {"documents": n_docs, "families": n_fam}

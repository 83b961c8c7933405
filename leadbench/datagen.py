"""Seeded inputs for the benchmark.

The seed picks content only; every size below is fixed, so numbers
taken with different seeds compare. Tables mirror the engine's test
catalog (same names, columns and types as the parquet tables that
``sources.catalog.load`` reads) at the sf0.01 row counts. Sheets are
companies workbooks in the reference's two-column contract.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

# Which catalog tables each workload's queries read.
WORKLOAD_TABLES = {
    "engine": (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents",
    ),
    "enrich": ("customer",),
}

SMALL_SHEET_ROWS = 50
BULK_SHEET_ROWS = 1_500

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "spring", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# The test catalog's 30 words plus a long tail, Zipf-weighted, so that
# two unrelated documents rarely share a token set.
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split() + [f"term{i:03d}" for i in range(300)]
_VOCAB_P = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 0.8
_VOCAB_P /= _VOCAB_P.sum()

_NAME_A = (
    "Acme Blue Bright Cedar Delta Echo Falcon Granite Harbor Iron Juniper Kite "
    "Lumen Maple Nova Orbit Pine Quartz River Summit Terra Umber Vertex Willow "
    "Xenon Yarrow Zenith Amber Birch Cobalt"
).split()
_NAME_B = (
    "Ridge Works Labs Systems Foods Logistics Analytics Partners Motors Health "
    "Capital Studios Robotics Energy Textiles Media"
).split()
_NAME_C = ["Inc", "Group", "Ltd", "Co", "Holdings", "GmbH"]

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _micros(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _date_col(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[int(j)] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[int(j)] for j in rng.choice(len(_VOCAB), k, p=_VOCAB_P)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in rng.permutation(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    for i in range(20, n, 50):  # a few exact duplicates
        vecs[i] = vecs[i - 7]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, names) -> dict[str, pa.Table]:
    """The catalog tables ``names`` for ``seed`` (sizes fixed by ROWS)."""
    rng = np.random.default_rng([seed, 0x5EED])
    n = ROWS
    out: dict[str, pa.Table] = {}
    # Every table draws from the stream in the same order, whichever
    # subset is asked for, so a table's content depends on the seed only.
    gen = {
        "region": lambda: pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": lambda: pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
            }
        ),
        "customer": lambda: pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
            }
        ),
        "supplier": lambda: pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": lambda: pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10.0, 1),
            }
        ),
        "orders": lambda: pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _date_col(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
                "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
            }
        ),
        "lineitem": lambda: pa.table(
            {
                "l_orderkey": pa.array(np.sort(rng.integers(0, n["orders"], n["lineitem"])), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
                "l_shipdate": _date_col(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n["lineitem"]),
            }
        ),
        "events": lambda: pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), pa.int64()),
                "ts": pa.array(
                    np.sort(
                        rng.choice(
                            30 * 86_400_000_000, n["events"], replace=False
                        )
                    )
                    + _micros(dt.datetime(2024, 1, 1)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, 150, n["events"]), pa.int64()),
                "event_type": rng.choice(_EVENT_TYPES, n["events"]).tolist(),
                "value": np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": lambda: _documents(rng, n["documents"]),
        "embeddings": lambda: _embeddings(rng, n["embeddings"]),
    }
    for name, make in gen.items():
        table = make()
        if name in names:
            out[name] = table
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def website(name: str) -> str:
    return "https://" + re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-") + ".example.com"


def company_names(seed: int, n: int, stream: int) -> list[str]:
    """``n`` distinct company names; ``stream`` separates the sheets of one seed."""
    rng = np.random.default_rng([seed, 0xC0, stream + 1])
    space = len(_NAME_A) * len(_NAME_B) * len(_NAME_C) * 1000
    picks = rng.choice(space, n, replace=False)
    names = []
    for p in picks:
        p, num = divmod(int(p), 1000)
        p, c = divmod(p, len(_NAME_C))
        a, b = divmod(p, len(_NAME_B))
        names.append(f"{_NAME_A[a]} {_NAME_B[b]} {num} {_NAME_C[c]}")
    return names


def sheet_rows(seed: int, n: int, stream: int) -> list[list[str]]:
    return [[name, website(name)] for name in company_names(seed, n, stream)]


def pass_sheets(seed: int, pass_no: int) -> list[tuple[str, list[list[str]]]]:
    """The uploads of one enrich pass: a small sheet of its own, then the
    bulk sheet, which every pass uploads again."""
    return [
        ("small", sheet_rows(seed, SMALL_SHEET_ROWS, pass_no)),
        ("bulk", sheet_rows(seed, BULK_SHEET_ROWS, -1)),
    ]


def query_order(seed: int, names: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 0x0D])
    return [names[i] for i in rng.permutation(len(names))]

"""Seeded input generators for the benchmark.

Two inputs:

- ``make_tables``: a TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings`` parquet tables with the column names, physical types
  and value domains the registry queries read. The physical types (for
  example ``events.ts`` as micros TIMESTAMP, not adjusted to UTC) equal
  those of the engine's testdata tables; ``test_perfbench.py`` checks
  that. Row counts scale with ``sf`` like TPC-H (lineitem = 6e6 * sf).
  The tables are fixed for a given (sf, seed) and are written once per
  checkout.
- ``make_text_baskets``: reference-format basket lines (``C<id> i1 i2 ...``)
  with Zipf item popularity, generated from the workload seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "dark"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY = np.timedelta64(1, "D")


def _dates(rng, n, start, days):
    return np.datetime64(start, "us") + rng.integers(0, days, n) * _DAY


def _cents(x):
    return np.round(x, 2)


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def make_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write the ten tables to ``out_dir/<name>.parquet`` (overwrites)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    _write(
        pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        }),
        out_dir, "region",
    )
    _write(
        pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        out_dir, "nation",
    )
    _write(
        pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        out_dir, "customer",
    )
    _write(
        pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }),
        out_dir, "supplier",
    )
    _write(
        pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _cents(900 + (np.arange(n_part) % 1000) / 10),
        }),
        out_dir, "part",
    )
    _write(
        pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng.uniform(1000, 500000, n_ord)),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        out_dir, "orders",
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900, 2100, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
        }),
        out_dir, "lineitem",
    )
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(
        pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _cents(rng.exponential(50, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        out_dir, "events",
    )
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, n_docs)
    ]
    # a few exact and near duplicates, as real corpora have
    for i in range(0, n_docs - 1, 97):
        texts[i + 1] = texts[i]
    for i in range(50, n_docs, 61):
        texts[i] = texts[i - 50] + " dup"
    _write(
        pd.DataFrame({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        out_dir, "documents",
    )
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(
        pd.DataFrame({
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }),
        out_dir, "embeddings",
    )


def make_text_baskets(
    path: str, seed: int, n_baskets: int, n_items: int = 200, zipf_s: float = 1.1
) -> list[str]:
    """Write reference-format basket lines to ``path`` and return them.

    Each line is ``C<id>`` then 20-60 integer item ids. Item popularity is
    Zipf over ``n_items`` ids; a seeded permutation maps popularity ranks
    to ids, so the hot ids land in all three reference item ranges
    (<30, 30-59, >=60) and hot items re-occur within a basket often.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_items + 1) ** zipf_s
    ids = rng.permutation(n_items)
    sizes = rng.integers(20, 61, n_baskets)
    draws = ids[rng.choice(n_items, int(sizes.sum()), p=weights / weights.sum())]
    lines, at = [], 0
    for b, k in enumerate(sizes):
        lines.append(f"C{b} " + " ".join(map(str, draws[at:at + k])))
        at += k
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return lines

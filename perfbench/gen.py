"""Seeded input generation for the benchmark.

Every workload reads only what this module writes, so one ``--seed``
gives one set of inputs. The tables follow the fixture schemas the
engine's queries and oracles are written against (FIXTURES.md): a
TPC-H-ish star schema, an ``events`` stream table whose ``props`` JSON
carries an integer ``k``, a ``documents`` corpus over a small vocabulary
with 5% near-duplicates, and 64-dim unit ``embeddings``. ``sf`` scales
row counts the way the fixture scale factors do (sf0.01 = 10 000 events,
60 000 lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_COLORS = ["red", "blue", "small", "hot", "old", "large", "green", "cold"]
_NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "pipe"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_EVENTS_T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
_EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    us = (lo_d + days).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """``n`` events over 30 days; ``event_id`` and ``ts`` both strictly
    rise, so a time-range segment is also an ``event_id`` range."""
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_US, n)) + np.arange(n) + _EVENTS_T0_US
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:  # every 20th document near-duplicates an earlier one
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2)).tolist()
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 100000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": rng.choice(["R", "A", "N"], n_line),
                "l_linestatus": rng.choice(["O", "F"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": events_table(rng, n_ev, max(150, n_cust // 10)),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def expected_decode(events: pa.Table) -> tuple[int, int]:
    """(messages that verify, sum of ``k`` over them) for a tampered
    topic built from ``events``: tamper corrupts every odd ``event_id``'s
    MAC, so exactly the even ids survive the verify-drop."""
    ids = events["event_id"].to_numpy()
    k = np.array([int(p[6:-1]) for p in events["props"].to_pylist()])
    even = ids % 2 == 0
    return int(even.sum()), int(k[even].sum())

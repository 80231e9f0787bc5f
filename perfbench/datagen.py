"""Synthetic fixture tables for the benchmark.

Writes the ten tables the queries read (schemas: FIXTURES.md) as one
single-row-group snappy parquet file each, like the fixture generation
the queries were written against. Values follow that generation's
shape: uniform keys and categories, exponential event values, unit-norm
float32 embeddings, word-soup documents of which 5% are an earlier
document plus the token ``dup``.

The tables are a function of ``(sf, data_seed)`` only. The benchmark
uses one fixed data seed so that each query's expected fingerprint can
be recorded once; the run's ``--seed`` varies the query order and the
pass paths instead.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_US_PER_DAY = 86_400_000_000


def _days(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    base = (lo - dt.date(1970, 1, 1)).days
    span = (hi - lo).days
    us = (base + rng.integers(0, span + 1, n)) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, n, values) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def build_tables(sf: float, data_seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(data_seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": _i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": _i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": _i64(range(n_part)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": _pick(rng, n_part, [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": _pick(rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                      "SMALL", "STANDARD"]),
        "p_size": _i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": _i64(range(n_ord)),
        "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": _i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": _i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, n_line, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_line, ["F", "O"]),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": _i64(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": _i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, n_ev, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": _i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": _pick(rng, n_doc, ["de", "en", "en", "en", "es", "fr", "zh"]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": _i64([len(s) for s in texts]),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _i64(range(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": _i32(rng.integers(0, 10, n_emb)),
    })
    return t


def ensure_fixture(out_dir: str, sf: float, data_seed: int) -> str:
    """Write the tables to ``out_dir`` unless a complete copy is there.

    The copy is built in a sibling temp directory and renamed into
    place, so an interrupted run never leaves a partial fixture.
    """
    if os.path.isfile(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build_tables(sf, data_seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy")
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir

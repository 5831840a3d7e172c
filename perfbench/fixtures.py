"""Deterministic fixture tables for the benchmark.

Writes the ten tables the query registry reads (TPC-H-style star schema,
``events``, ``documents``, ``embeddings``; one parquet file each, the layout
``catalog.load_table`` expects) plus ``events_raw``, a 90-day event stream
with a few ±inf values that feeds the ETL workload's Method-2 loads.

Row counts scale with ``sf`` the way the engine's test fixtures do (600k
``lineitem`` rows at sf0.1). Everything is drawn from one
``numpy.random.Generator`` seeded with :data:`DATA_SEED`, so a given ``sf``
always yields byte-identical tables: the stored expected query results in
``expected.json`` depend on that.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _events(n: int, days: int, n_users: int, rng, n_inf: int = 0) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offs = rng.integers(0, days * 86_400_000_000, n)
    ts = np.sort(start + offs).astype("datetime64[us]")
    value = np.round(rng.exponential(50.0, n), 2)
    if n_inf:
        at = rng.choice(n, n_inf, replace=False)
        value[at] = np.where(np.arange(n_inf) % 2 == 0, np.inf, -np.inf)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(_EVENT_TYPES, n, rng),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(n: int, rng) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # ~5% near-duplicates: an earlier document plus a "dup" marker, so
        # the dedup/similarity operators find real clusters.
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(_LANGS, n, rng, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    label = rng.integers(0, n_labels, n)
    vec = centers[label] + rng.normal(0.0, 0.8, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All tables for scale factor ``sf``, deterministic in ``sf``."""
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1000))])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(500 * max(1.0, (sf / 0.01) ** 0.6))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array(_keyed_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(-1000.0, 10000.0, n_cust, rng)),
            "c_mktsegment": _pick(_SEGMENTS, n_cust, rng),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array(_keyed_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(-1000.0, 10000.0, n_supp, rng)),
        }
    )
    colors = rng.integers(0, len(_COLORS), n_part)
    nouns = rng.integers(0, len(_NOUNS), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{_COLORS[c]} {_NOUNS[w]}" for c, w in zip(colors, nouns)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(_PTYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": pa.array(_money(1000.0, 500000.0, n_ord, rng)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": _pick(_PRIORITIES, n_ord, rng),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(900.0, 105000.0, n_line, rng)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    t["events"] = _events(n_events, 30, max(1, n_cust // 10), rng)
    t["documents"] = _documents(n_docs, rng)
    t["embeddings"] = _embeddings(n_emb, rng)
    t["events_raw"] = _events(3 * n_events, 90, max(1, n_cust // 10), rng, n_inf=32)
    return t


def ensure(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return their dir.

    A ``_DONE`` marker is written last, so an interrupted build is redone
    rather than read half-written.
    """
    out = os.path.join(root, f"sf{sf:g}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(sf).items():
        tmp = os.path.join(out, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out

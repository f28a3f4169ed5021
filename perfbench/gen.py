"""Seeded input tables for the benchmark.

Writes the ten tables the engine reads (`graft.Tables.names`) as one
parquet file each, with the schemas, value ranges and shapes of the
engine's star-schema test tables: a TPC-H-like core, an `events` stream
over January 2024, word-bag `documents` with ~5 % appended near-duplicates,
and unit-norm 64-d `embeddings`. Every table is drawn from a generator
keyed by (seed, table) and written in a seed-shuffled row order, so the
same seed always gives the same bytes and different seeds give different
keys, values and layouts at the same size.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def sizes(sf):
    """Row counts per table at scale factor `sf` (documents and embeddings
    have a 500-row floor, as in the engine's small test tables)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo, hi, n):
    """`n` midnight timestamps uniform over the inclusive day range."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _build(name, rng, n):
    if name == "region":
        return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    if name == "customer":
        k = n["customer"]
        return {"c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "c_acctbal": _money(rng, -1000, 10000, k),
                "c_mktsegment": rng.choice(SEGMENTS, k)}
    if name == "supplier":
        k = n["supplier"]
        return {"s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "s_acctbal": _money(rng, -1000, 10000, k)}
    if name == "part":
        k = n["part"]
        keys = np.arange(k, dtype=np.int64)
        return {"p_partkey": keys,
                "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, k), rng.choice(NOUNS, k))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
                "p_type": rng.choice(PART_TYPES, k),
                "p_size": rng.integers(1, 51, k).astype(np.int32),
                "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}
    if name == "orders":
        k = n["orders"]
        return {"o_orderkey": np.arange(k, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], k),
                "o_orderstatus": rng.choice(["F", "O", "P"], k),
                "o_totalprice": _money(rng, 1000, 500_000, k),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
                "o_orderpriority": rng.choice(PRIORITIES, k)}
    if name == "lineitem":
        k = n["lineitem"]
        return {"l_orderkey": rng.integers(0, n["orders"], k),
                "l_partkey": rng.integers(0, n["part"], k),
                "l_suppkey": rng.integers(0, n["supplier"], k),
                "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, k),
                "l_discount": rng.integers(0, 11, k) / 100,
                "l_tax": rng.integers(0, 9, k) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], k),
                "l_linestatus": rng.choice(["F", "O"], k),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k)}
    if name == "events":
        k = n["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us")
        month_us = 30 * 86_400 * 1_000_000
        ts = np.sort(start + rng.integers(0, month_us, k).astype("timedelta64[us]"))
        return {"event_id": np.arange(k, dtype=np.int64), "ts": ts,
                "user_id": rng.integers(0, n["users"], k),
                "event_type": rng.choice(EVENT_TYPES, k),
                "value": np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]}
    if name == "documents":
        k = n["documents"]
        texts = []
        for i in range(k):
            if i > 0 and rng.random() < 0.05:
                texts.append(texts[rng.integers(0, i)] + " dup")
            else:
                texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
        return {"doc_id": np.arange(k, dtype=np.int64), "text": texts,
                "lang": rng.choice(LANGS, k, p=LANG_P),
                "source": [f"src{i % 20}" for i in range(k)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    if name == "embeddings":
        k = n["embeddings"]
        v = rng.standard_normal((k, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": np.arange(k, dtype=np.int64),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": rng.integers(0, 10, k).astype(np.int32)}
    raise ValueError(name)


def generate(out_dir, seed, sf):
    """Write every table under `out_dir`; return {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    stats = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        table = pa.table(_build(name, rng, n))
        table = table.take(rng.permutation(table.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats

"""Seeded generator for the benchmark's input tables.

Writes the four fixture tables the workloads read (events, lineitem,
documents, embeddings) as one single-row-group parquet file each, with
the column names and types of the repository's fixtures (FIXTURES.md).
The same (seed, scale) always gives byte-identical tables.

Scale follows the fixtures' scale factors: at sf0.1 there are 100k
events, 600k lineitems, 5,000 documents and 2,000 embeddings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
US = 1_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def events(rng, sf):
    n = int(round(1_000_000 * sf))
    users = max(150, int(round(15_000 * sf)))
    t0 = 1_704_067_200 * US  # 2024-01-01 00:00:00 UTC
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * US, n)) + t0
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us * 1000, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })


def lineitem(rng, sf):
    n = int(round(6_000_000 * sf))
    # (l_orderkey, l_linenumber) is the TPC-H primary key: every order
    # gets 1..7 lines, so each line is one distinct document id
    lines = rng.integers(1, 8, n // 2 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n)) + 1
    lines = lines[:n_orders]
    lines[-1] -= ends[n_orders - 1] - n
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.arange(n) - np.repeat(ends[:n_orders] - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    day0 = np.datetime64("1995-01-02", "ms")
    ship = day0 + rng.integers(0, 2498, n) * np.timedelta64(86_400_000, "ms")
    return pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, max(200, int(200_000 * sf)), n,
                                           dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(10, int(10_000 * sf)), n,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("ms")),
    })


def documents(rng, sf):
    n = max(500, int(round(50_000 * sf)))
    texts = []
    for i in range(n):
        # one doc in twenty is an earlier doc with a marker word appended:
        # the near-duplicates the dedup operators look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, sf):
    n = max(500, int(round(20_000 * sf)))
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


TABLES = {"events": events, "lineitem": lineitem,
          "documents": documents, "embeddings": embeddings}


def generate(out_dir, seed, sf, names=tuple(TABLES)):
    """Write the named tables for (seed, sf) into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(names):
        # one stream per table, so a table does not depend on which
        # other tables were generated before it
        rng = np.random.default_rng([seed, i + list(TABLES).index(name)])
        _write(TABLES[name](rng, sf), os.path.join(out_dir, f"{name}.parquet"))

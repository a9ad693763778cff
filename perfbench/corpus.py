"""Seeded generator for the registry corpus.

Writes the ten tables the registry queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types and value domains of the
project's TPC-H-like test corpus. The same seed and scale give the same
files, byte for byte.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "red", "large", "green"]
PART_NOUN = ["widget", "rod", "anvil", "ring", "gear", "bolt", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "window spark order data column join small line customer query big "
         "stream sort group filter vector").split()
DIM = 64


def _ts(base, seconds):
    return pa.array([base + datetime.timedelta(seconds=int(s)) for s in seconds],
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed, *, customers, orders, parts, suppliers, events,
             documents, embeddings):
    """Write the corpus under out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": rng.choice(SEGMENTS, customers)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers)})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, parts),
                                              rng.choice(PART_NOUN, parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 200) / 10.0, 2)})

    day0 = datetime.datetime(1995, 1, 1)
    span_days = 6 * 365 + 212
    odays = np.sort(rng.integers(0, span_days, orders))
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts(day0, odays * 86400),
        "o_orderpriority": rng.choice(PRIORITIES, orders)})

    per_order = rng.integers(1, 8, orders)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(orders), per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    l_part = rng.integers(0, parts, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odays, per_order) + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (l_part % 200) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": np.where(ship < span_days - 200, "F", "O"),
        "l_shipdate": _ts(day0, ship * 86400)})

    ev_secs = np.sort(rng.uniform(0, 30 * 86400, events))
    tables["events"] = pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array([datetime.datetime(2024, 1, 1) + datetime.timedelta(microseconds=int(s * 1e6))
                        for s in ev_secs], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, events // 66), events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, events),
        "value": _money(rng, 0.01, 330.0, events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]})

    # documents: random word sequences; one in five is a light edit of an
    # earlier document, so the near-duplicate queries have pairs to find
    texts = []
    for i in range(documents):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(documents), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, documents),
        "source": [f"src{s}" for s in rng.integers(0, 20, documents)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors around ten label centroids
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, embeddings)
    vecs = centers[labels] + 0.6 * rng.normal(size=(embeddings, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(embeddings), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

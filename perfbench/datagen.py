"""Deterministic synthetic input tables for the benchmark.

Writes the TPC-H-ish property-graph tables (region, nation, customer,
supplier, part, orders, lineitem) plus the pipeline tables (documents,
embeddings, events) as one parquet file each, with the same column names
and types as the engine's test data. The same scales and seed always yield
byte-identical tables.
"""
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "plain", "steel"]
THINGS = ["widget", "bolt", "ring", "gear", "pipe", "valve", "spring", "nut"]
TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]
VOCAB = ("a the data table row column key value join scan filter sort merge "
         "hash group agg window query spark stream batch line order part "
         "customer vector small big fast slow").split()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def tables(scale, pipeline_scale, seed):
    """Returns {table name: pyarrow.Table}: the graph tables at `scale`, the
    pipeline tables (events, documents, embeddings) at `pipeline_scale`."""
    rnd = random.Random(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 25)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * pipeline_scale)
    n_doc = max(int(50_000 * pipeline_scale), 200)
    n_emb = max(int(50_000 * pipeline_scale), 200)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rnd.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rnd.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rnd.choice(COLORS)} {rnd.choice(THINGS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rnd.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rnd.choice(TYPES) for _ in range(n_part)],
        "p_size": pa.array([rnd.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_part)]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rnd.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rnd.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": _ts([EPOCH_1995 + rnd.randrange(2404) * US_PER_DAY
                            for _ in range(n_ord)]),
        "o_orderpriority": [rnd.choice(PRIORITIES) for _ in range(n_ord)]})
    qty = [float(rnd.randrange(1, 51)) for _ in range(n_li)]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([rnd.randrange(n_ord) for _ in range(n_li)], pa.int64()),
        "l_partkey": pa.array([rnd.randrange(n_part) for _ in range(n_li)], pa.int64()),
        "l_suppkey": pa.array([rnd.randrange(n_supp) for _ in range(n_li)], pa.int64()),
        "l_linenumber": pa.array([rnd.randrange(1, 8) for _ in range(n_li)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rnd.uniform(900, 3000), 2) for q in qty],
        "l_discount": [rnd.randrange(11) / 100 for _ in range(n_li)],
        "l_tax": [rnd.randrange(9) / 100 for _ in range(n_li)],
        "l_returnflag": [rnd.choice("ANR") for _ in range(n_li)],
        "l_linestatus": [rnd.choice("FO") for _ in range(n_li)],
        "l_shipdate": _ts([EPOCH_1995 + rnd.randrange(2600) * US_PER_DAY
                           for _ in range(n_li)])})
    step = 30 * US_PER_DAY // max(n_ev, 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts([EPOCH_2024 + i * step + rnd.randrange(step) for i in range(n_ev)]),
        "user_id": pa.array([rnd.randrange(150) for _ in range(n_ev)], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rnd.uniform(0, 100), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rnd.random() < 0.08:
            # Planted near-duplicate: an earlier document with a few words
            # replaced, so the dedup operators have true pairs to find.
            words = texts[rnd.randrange(i)].split()
            for _ in range(max(1, len(words) // 25)):
                words[rnd.randrange(len(words))] = rnd.choice(VOCAB)
        else:
            words = [rnd.choice(VOCAB) for _ in range(rnd.randrange(10, 90))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in range(n_doc)],
        "source": [f"src{rnd.randrange(20)}" for _ in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_emb):
        lab = rnd.randrange(10)
        v = [c + rnd.gauss(0, 0.6) for c in centroids[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def ensure(data_dir, scale, pipeline_scale, seed):
    """Writes the tables under data_dir unless a complete set is there."""
    marker = os.path.join(data_dir, f"_complete_{scale}_{pipeline_scale}_{seed}")
    if os.path.exists(marker):
        return data_dir
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables(scale, pipeline_scale, seed).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return data_dir

"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the library reads (the TPC-H-like star
schema plus `events`, `documents` and `embeddings`) with the column
names, types and value domains of the repo's reference test data, scaled
by `sf`. The same (seed, sf) always gives byte-identical tables.
"""
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en"] * 44 + ["zh"] * 14 + ["de"] * 14 + ["es"] * 15 + ["fr"] * 13
EMBED_DIM = 64


def _days(start, rng, span_days):
    return start + dt.timedelta(days=rng.randrange(span_days))


def tables(seed, sf):
    """Column dicts for every table, keyed by table name."""
    rng = random.Random(seed)
    n_cust = max(20, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(100, int(1500000 * sf))
    n_events = max(100, int(1000000 * sf))
    n_docs = max(100, int(20000 * sf))
    n_vecs = max(100, int(20000 * sf))
    t = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]}
    t["supplier"] = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]}
    prices = [900.0 + (i % 1000) / 10 for i in range(n_part)]
    t["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [rng.randrange(1, 51) for _ in range(n_part)],
        "p_retailprice": prices}
    d0 = dt.datetime(1995, 1, 1)
    odates = [_days(d0, rng, 2404) for _ in range(n_ord)]
    t["orders"] = {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_ord)],
        "o_orderdate": odates,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]}
    li = {c: [] for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        for ln in range(1, rng.randrange(1, 8) + 1):
            p = rng.randrange(n_part)
            q = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(p)
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * prices[p] * rng.uniform(1.0, 2.33), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randrange(1, 122)))
    t["lineitem"] = li
    e0 = dt.datetime(2024, 1, 1)
    ts = sorted(e0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n_events))
    n_users = max(10, n_cust // 10)
    t["events"] = {
        "event_id": list(range(n_events)), "ts": ts,
        "user_id": [rng.randrange(n_users) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0.01, 500.0), 2) for _ in range(n_events)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)]}
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker word
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randrange(8, 101))))
    t["documents"] = {
        "doc_id": list(range(n_docs)), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(x) for x in texts]}
    vecs, labels = [], []
    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    for _ in range(n_vecs):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.7) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = {"vec_id": list(range(n_vecs)), "embedding": vecs,
                       "label": labels}
    return t


SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
}


def generate(out_dir, seed, sf):
    """Write every table under out_dir (skipped when already complete)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf).items():
        schema = pa.schema(SCHEMAS[name])
        tb = pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema},
                      schema=schema)
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir

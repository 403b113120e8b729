#!/usr/bin/env python3
"""Seeded tables for the analytics operator pass: the ten tables that
`SparkEntry.queries` reads (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), with their column names
and types, at 500 documents, 1,000 events, 500 embeddings and 6,000 line
items. Values are independent draws; the same seed writes the same files.

Usage: python3 perfbench/tables.py <out-dir> <seed>
"""
import datetime
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = (["blue", "cold", "large", "old", "small", "red", "hot", "new"],
              ["anvil", "bolt", "ring", "rod", "widget", "gear", "nut", "pin"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64


def write(out, name, cols):
    """cols: list of (column, arrow type, values)."""
    table = pa.table({c: pa.array(v, type=t) for c, t, v in cols})
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def day(rng, start, span_days):
    return start + datetime.timedelta(days=rng.randrange(span_days))


def main(out, seed):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(out, "region", [("r_regionkey", i32, list(range(5))), ("r_name", s, REGIONS)])
    write(out, "nation", [
        ("n_nationkey", i32, list(range(25))),
        ("n_name", s, [f"NATION_{i}" for i in range(25)]),
        ("n_regionkey", i32, [i % 5 for i in range(25)])])
    write(out, "customer", [
        ("c_custkey", i64, list(range(150))),
        ("c_name", s, [f"Customer#{i:09d}" for i in range(150)]),
        ("c_nationkey", i32, [rng.randrange(25) for _ in range(150)]),
        ("c_acctbal", f64, [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(150)]),
        ("c_mktsegment", s, [rng.choice(SEGMENTS) for _ in range(150)])])
    write(out, "supplier", [
        ("s_suppkey", i64, list(range(10))),
        ("s_name", s, [f"Supplier#{i:09d}" for i in range(10)]),
        ("s_nationkey", i32, [rng.randrange(25) for _ in range(10)]),
        ("s_acctbal", f64, [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(10)])])
    write(out, "part", [
        ("p_partkey", i64, list(range(200))),
        ("p_name", s, [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}" for _ in range(200)]),
        ("p_brand", s, [f"Brand#{rng.randint(1, 25)}" for _ in range(200)]),
        ("p_type", s, [rng.choice(PART_TYPES) for _ in range(200)]),
        ("p_size", i32, [rng.randint(1, 50) for _ in range(200)]),
        ("p_retailprice", f64, [round(900 + i * 0.1, 2) for i in range(200)])])

    base = datetime.datetime(1995, 1, 1)
    write(out, "orders", [
        ("o_orderkey", i64, list(range(1500))),
        ("o_custkey", i64, [rng.randrange(150) for _ in range(1500)]),
        ("o_orderstatus", s, [rng.choice("FOP") for _ in range(1500)]),
        ("o_totalprice", f64, [round(rng.uniform(1000, 500000), 2) for _ in range(1500)]),
        ("o_orderdate", ts, [day(rng, base, 2400) for _ in range(1500)]),
        ("o_orderpriority", s, [rng.choice(PRIORITIES) for _ in range(1500)])])
    n = 6000
    line = {}
    orderkeys = [rng.randrange(1500) for _ in range(n)]
    linenos = []
    for k in orderkeys:
        line[k] = line.get(k, 0) % 7 + 1
        linenos.append(line[k])
    write(out, "lineitem", [
        ("l_orderkey", i64, orderkeys),
        ("l_partkey", i64, [rng.randrange(200) for _ in range(n)]),
        ("l_suppkey", i64, [rng.randrange(10) for _ in range(n)]),
        ("l_linenumber", i32, linenos),
        ("l_quantity", f64, [float(rng.randint(1, 50)) for _ in range(n)]),
        ("l_extendedprice", f64, [round(rng.uniform(900, 105000), 2) for _ in range(n)]),
        ("l_discount", f64, [rng.randint(0, 10) / 100 for _ in range(n)]),
        ("l_tax", f64, [rng.randint(0, 8) / 100 for _ in range(n)]),
        ("l_returnflag", s, [rng.choice("ANR") for _ in range(n)]),
        ("l_linestatus", s, [rng.choice("FO") for _ in range(n)]),
        ("l_shipdate", ts, [day(rng, base, 2500) for _ in range(n)])])

    t0 = datetime.datetime(2024, 1, 1)
    month_us = 30 * 86400 * 10**6
    write(out, "events", [
        ("event_id", i64, list(range(1000))),
        ("ts", ts, sorted(t0 + datetime.timedelta(microseconds=rng.randrange(month_us))
                          for _ in range(1000))),
        ("user_id", i64, [rng.randrange(15) for _ in range(1000)]),
        ("event_type", s, [rng.choice(EVENT_TYPES) for _ in range(1000)]),
        ("value", f64, [round(rng.expovariate(1 / 50), 2) + 0.01 for _ in range(1000)]),
        ("props", s, ['{"k": %d}' % rng.randrange(100) for _ in range(1000)])])

    texts = []
    for i in range(500):
        if i >= 10 and rng.random() < 0.04:
            # a near-duplicate of an earlier doc, for the dedup operators
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99))))
    write(out, "documents", [
        ("doc_id", i64, list(range(500))),
        ("text", s, texts),
        ("lang", s, [rng.choice(LANGS) for _ in range(500)]),
        ("source", s, [f"src{rng.randrange(20)}" for _ in range(500)]),
        ("n_chars", i64, [len(t) for t in texts])])

    vecs = []
    for _ in range(500):
        v = [rng.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    write(out, "embeddings", [
        ("vec_id", i64, list(range(500))),
        ("embedding", pa.list_(pa.float32()), vecs),
        ("label", i32, [rng.randrange(10) for _ in range(500)])])


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], int(sys.argv[2]))

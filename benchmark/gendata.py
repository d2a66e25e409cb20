#!/usr/bin/env python3
"""Seeded generator for the gate tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings).

The column names, parquet types, value domains and row counts per scale
factor are those measured on the seed-42 gate tables the DuckDB oracles
were written against (TESTDATA.md; see benchmark/README.md, "Gate
tables"). All three timestamp columns are written as those tables store
them: INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false). Every value is
drawn from one `random.Random(seed)`, so the same (seed, sf) always
writes the same parquet files.

    python3 benchmark/gendata.py <outDir> <sf> <seed> [documents]
"""
import datetime as dt
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table query scan filter join merge sort "
         "hash group agg key value part line order customer window stream "
         "batch spark vector big small fast slow dup").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["cold", "hot", "red", "old", "large", "small", "blue", "green"]
NOUN = ["gizmo", "anvil", "ring", "widget", "plate", "bolt", "gear", "lamp"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def day(rng, start, ndays):
    return start + dt.timedelta(days=rng.randrange(ndays))


def write(out, name, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                     schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed, n_docs=500):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    k = sf / 0.001
    n_cust, n_supp, n_part = int(150 * k), max(int(10 * k), 10), int(200 * k)
    n_ord, n_line, n_users = int(1500 * k), int(6000 * k), int(15 * k)
    n_events, n_vecs = int(1000 * k), 500
    f = pa.field

    write(out, "region", [f("r_regionkey", I32), f("r_name", STR)],
          list(enumerate(REGIONS)))
    write(out, "nation", [f("n_nationkey", I32), f("n_name", STR),
                          f("n_regionkey", I32)],
          [(i, f"NATION_{i}", i % 5) for i in range(25)])
    write(out, "customer", [f("c_custkey", I64), f("c_name", STR),
                            f("c_nationkey", I32), f("c_acctbal", F64),
                            f("c_mktsegment", STR)],
          [(i, f"Customer#{i:09d}", rng.randrange(25),
            money(rng, -999.99, 9999.99), rng.choice(SEGMENTS))
           for i in range(n_cust)])
    write(out, "supplier", [f("s_suppkey", I64), f("s_name", STR),
                            f("s_nationkey", I32), f("s_acctbal", F64)],
          [(i, f"Supplier#{i:09d}", rng.randrange(25),
            money(rng, -999.99, 9999.99)) for i in range(n_supp)])
    write(out, "part", [f("p_partkey", I64), f("p_name", STR),
                        f("p_brand", STR), f("p_type", STR),
                        f("p_size", I32), f("p_retailprice", F64)],
          [(i, f"{rng.choice(ADJ)} {rng.choice(NOUN)}",
            f"Brand#{rng.randrange(1, 26)}", rng.choice(TYPES),
            rng.randrange(1, 51), round(900 + (i % 1000) / 10, 2))
           for i in range(n_part)])
    d0 = dt.datetime(1995, 1, 1)
    write(out, "orders", [f("o_orderkey", I64), f("o_custkey", I64),
                          f("o_orderstatus", STR), f("o_totalprice", F64),
                          f("o_orderdate", TS), f("o_orderpriority", STR)],
          [(i, rng.randrange(n_cust), rng.choice("FOP"),
            money(rng, 1000, 500000), day(rng, d0, 2405),
            rng.choice(PRIORITIES)) for i in range(n_ord)])
    write(out, "lineitem", [f("l_orderkey", I64), f("l_partkey", I64),
                            f("l_suppkey", I64), f("l_linenumber", I32),
                            f("l_quantity", F64), f("l_extendedprice", F64),
                            f("l_discount", F64), f("l_tax", F64),
                            f("l_returnflag", STR), f("l_linestatus", STR),
                            f("l_shipdate", TS)],
          [(rng.randrange(n_ord), rng.randrange(n_part), rng.randrange(n_supp),
            rng.randrange(1, 8), float(rng.randrange(1, 51)),
            money(rng, 900, 105000), rng.randrange(11) / 100,
            rng.randrange(9) / 100, rng.choice("ANR"), rng.choice("FO"),
            day(rng, d0 + dt.timedelta(days=1), 2499))
           for _ in range(n_line)])
    # event times: uniform over 30 days at microsecond resolution, ids in
    # time order
    t0 = dt.datetime(2024, 1, 1)
    stamps = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n_events))
    events = [(i, t0 + dt.timedelta(microseconds=us), rng.randrange(n_users),
               rng.choice(EVENT_TYPES),
               max(round(rng.expovariate(1 / 50), 2), 0.01),
               f'{{"k": {rng.randrange(100)}}}')
              for i, us in enumerate(stamps)]
    write(out, "events", [f("event_id", I64), f("ts", TS), f("user_id", I64),
                          f("event_type", STR), f("value", F64),
                          f("props", STR)], events)
    docs = []
    for i in range(n_docs):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100)))
        docs.append((i, text, rng.choice(LANGS), f"src{i % 20}", len(text)))
    write(out, "documents", [f("doc_id", I64), f("text", STR), f("lang", STR),
                             f("source", STR), f("n_chars", I64)], docs)
    # unit vectors in random directions; the label is drawn independently
    vecs = []
    for i in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append((i, [x / norm for x in v], rng.randrange(10)))
    write(out, "embeddings", [f("vec_id", I64),
                              f("embedding", pa.list_(pa.float32())),
                              f("label", I32)], vecs)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
             *map(int, sys.argv[4:5]))

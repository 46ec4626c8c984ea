"""Seeded generator for the star-schema parquet tables the enrich and
query-mix workloads read (documents, part, customer, supplier, orders,
nation, region).

The program derives every spatial layer from the table KEYS with closed-form
formulas (graft.sources.WebPagesSynth / Layers / OsmElements), so keys are
always the contiguous range 0..n-1, exactly like the standard sf tables.
The seed drives everything else: document text and language, names,
balances, order customers, statuses and dates. Row counts per scale factor
follow the standard tables (sf0.1: 5k documents, 20k parts, 15k customers,
1k suppliers, 150k orders).

Usage: gen_tables.py <out_dir> <seed> <sf>
"""
import datetime
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
P_WORDS1 = "red green blue large small hot cold dark".split()
P_WORDS2 = "bolt ring nut gear pipe wire plate screw".split()
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def counts(sf):
    return {
        "documents": int(round(50000 * sf)),
        "part": int(round(200000 * sf)),
        "customer": int(round(150000 * sf)),
        "supplier": int(round(10000 * sf)),
        "orders": int(round(1500000 * sf)),
    }


def write(out_dir, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    n = counts(sf)
    r = random.Random(seed)

    docs = [" ".join(r.choice(WORDS) for _ in range(r.randint(10, 100)))
            for _ in range(n["documents"])]
    write(out_dir, "documents", {
        "doc_id": list(range(n["documents"])),
        "text": docs,
        "lang": [r.choice(LANGS) for _ in docs],
        "source": [f"src{i % 20}" for i in range(len(docs))],
        "n_chars": [len(t) for t in docs],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    np_ = n["part"]
    write(out_dir, "part", {
        "p_partkey": list(range(np_)),
        "p_name": [f"{r.choice(P_WORDS1)} {r.choice(P_WORDS2)}" for _ in range(np_)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(np_)],
        "p_type": [r.choice(P_TYPES) for _ in range(np_)],
        "p_size": [r.randint(1, 50) for _ in range(np_)],
        "p_retailprice": [900.0 + (i % 1000) / 10.0 for i in range(np_)],
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    nc = n["customer"]
    write(out_dir, "customer", {
        "c_custkey": list(range(nc)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": [r.randint(0, 24) for _ in range(nc)],
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(nc)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))

    ns = n["supplier"]
    write(out_dir, "supplier", {
        "s_suppkey": list(range(ns)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": [r.randint(0, 24) for _ in range(ns)],
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(ns)],
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                  ("s_acctbal", pa.float64())]))

    no = n["orders"]
    day0 = datetime.datetime(1995, 1, 1)
    write(out_dir, "orders", {
        "o_orderkey": list(range(no)),
        "o_custkey": [r.randrange(nc) for _ in range(no)],
        "o_orderstatus": [r.choice("OFP") for _ in range(no)],
        "o_totalprice": [round(r.uniform(1000.0, 500000.0), 2) for _ in range(no)],
        "o_orderdate": [day0 + datetime.timedelta(days=r.randrange(2400)) for _ in range(no)],
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(no)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]))
    write(out_dir, "region", {
        "r_regionkey": list(range(5)),
        "r_name": REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    return n


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

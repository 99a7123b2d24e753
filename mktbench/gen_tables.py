#!/usr/bin/env python3
"""Deterministic catalog tables for the `catalog` workload.

Writes the ten parquet tables the catalog queries read (`region nation
customer supplier part orders lineitem events documents embeddings`)
in the schemas of the project's TPC-H-ish testdata (TESTDATA.md), at a
given scale factor. Row counts follow the testdata's: lineitem 6M x sf,
orders 1.5M x sf, customer 150k x sf, part 200k x sf, supplier 10k x sf,
events 1M x sf over 15k x sf users, documents 50k x sf, embeddings
20k x sf (at least 500 each). Documents are word salad over the same
31-word vocabulary, with about 5 % planted near-duplicates.

The tables depend only on `--sf` and the fixed DATA_SEED, never on the
benchmark's `--seed`: the expected result digests are committed, and
the seed only permutes query order.

    python3 mktbench/gen_tables.py <out_dir> [--sf 0.01]
"""
import argparse
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def day(base: dt.datetime, rng: random.Random, span_days: int) -> dt.datetime:
    return base + dt.timedelta(days=rng.randrange(span_days))


def write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def generate(out: str, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_evt = n(1_500_000), n(6_000_000), n(1_000_000)
    n_users, n_docs, n_emb = n(15_000), n(50_000, 500), n(20_000, 500)

    rng = random.Random(DATA_SEED)
    write(out, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write(out, "nation", {"n_nationkey": list(range(25)),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))
    write(out, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    write(out, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    write(out, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n_part)]},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    d0 = dt.datetime(1995, 1, 1)
    write(out, "orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_ord)],
        "o_orderdate": [day(d0, rng, 2400) for _ in range(n_ord)],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))
    write(out, "lineitem", {
        "l_orderkey": [rng.randrange(n_ord) for _ in range(n_line)],
        "l_partkey": [rng.randrange(n_part) for _ in range(n_line)],
        "l_suppkey": [rng.randrange(n_supp) for _ in range(n_line)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n_line)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_line)],
        "l_extendedprice": [round(rng.uniform(900.0, 105000.0), 2) for _ in range(n_line)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_line)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
        "l_shipdate": [day(d0, rng, 2500) for _ in range(n_line)]},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))

    # events: ids follow time order over 30 days, like the testdata
    span_us = 30 * 86_400_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(n_evt))
    e0 = dt.datetime(2024, 1, 1)
    write(out, "events", {
        "event_id": list(range(n_evt)),
        "ts": [e0 + dt.timedelta(microseconds=o) for o in offsets],
        "user_id": [rng.randrange(n_users) for _ in range(n_evt)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_evt)],
        "value": [max(0.01, round(rng.expovariate(1 / 50.0), 2)) for _ in range(n_evt)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_evt)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[rng.randrange(i)]
            texts.append(src if rng.random() < 0.5 else src + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 90))))
    write(out, "documents", {
        "doc_id": list(range(n_docs)), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    # embeddings: unit vectors around one centroid per label
    dim = 64
    centroids = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_emb):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 1.5) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    write(out, "embeddings", {"vec_id": list(range(n_emb)), "embedding": vecs,
                              "label": labels},
          pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out_dir, a.sf)


if __name__ == "__main__":
    main()

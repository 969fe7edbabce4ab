"""Seeded tables in the TESTDATA layout for the query mix.

Same table names, columns and parquet types as the TESTDATA tables
(naive TIMESTAMP(MICROS) times, one file and one row group per table),
with the row counts of sf0.01. Value domains follow the TESTDATA tables
so that the graded queries meet the shapes their oracles were written
for. `write(dir, seed)` gives the same files for the same seed.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SF001 = dict(customers=1500, orders=15000, lineitems=60000, parts=2000,
             suppliers=100, events=10000, users=150, documents=500)

VOCAB = ["value", "hash", "batch", "sort", "data", "big", "filter", "fast", "spark",
         "line", "small", "customer", "group", "row", "the", "query", "stream", "key",
         "agg", "scan", "slow", "table", "part", "a", "merge", "window", "order",
         "column", "join", "vector"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

TS = pa.timestamp("us")
DAY = datetime.timedelta(days=1)
Y1995 = datetime.datetime(1995, 1, 1)


def _tables(rnd, sc):
    money = lambda lo, hi: round(lo + rnd.random() * (hi - lo), 2)
    pick = lambda xs: xs[rnd.randrange(len(xs))]
    yield "region", [("r_regionkey", pa.int32()), ("r_name", pa.string())], \
        [(i, f"REGION_{i}") for i in range(5)]
    yield "nation", [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())], \
        [(i, f"NATION_{i}", i % 5) for i in range(25)]
    yield "customer", [("c_custkey", pa.int64()), ("c_name", pa.string()),
                       ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                       ("c_mktsegment", pa.string())], \
        [(i, f"Customer#{i:09d}", rnd.randrange(25), money(-999, 9999), pick(SEGMENTS))
         for i in range(sc["customers"])]
    yield "supplier", [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                       ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())], \
        [(i, f"Supplier#{i:09d}", rnd.randrange(25), money(-999, 9999))
         for i in range(sc["suppliers"])]
    yield "part", [("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())], \
        [(i, f"part {pick(VOCAB)} {i}", f"Brand#{rnd.randint(1, 5)}{rnd.randint(1, 5)}",
          f"{pick(SEGMENTS)} {pick(VOCAB).upper()}", rnd.randint(1, 50), money(900, 2000))
         for i in range(sc["parts"])]
    yield "orders", [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                     ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                     ("o_orderdate", TS), ("o_orderpriority", pa.string())], \
        [(i, rnd.randrange(sc["customers"]), pick("POF"), money(1000, 500000),
          Y1995 + rnd.randrange(2405) * DAY, pick(PRIORITIES))
         for i in range(sc["orders"])]

    def lineitem():
        q = float(rnd.randint(1, 50))
        return (rnd.randrange(sc["orders"]), rnd.randrange(sc["parts"]),
                rnd.randrange(sc["suppliers"]), rnd.randint(1, 7), q,
                round(q * money(900, 2100), 2), rnd.randrange(11) / 100,
                rnd.randrange(9) / 100, pick("ANR"), pick("OF"),
                Y1995 + rnd.randrange(2500) * DAY)
    yield "lineitem", [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                       ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                       ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                       ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                       ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                       ("l_shipdate", TS)], \
        [lineitem() for _ in range(sc["lineitems"])]

    t = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6 // sc["events"]
    events = []
    for i in range(sc["events"]):
        t += datetime.timedelta(microseconds=int(rnd.random() * 2 * span_us))
        events.append((i, t, rnd.randrange(sc["users"]), pick(EVENT_TYPES),
                       money(0, 500), f'{{"k": {rnd.randrange(100)}}}'))
    yield "events", [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                     ("event_type", pa.string()), ("value", pa.float64()),
                     ("props", pa.string())], events

    # a tenth of the corpus restates an earlier document (a copy with one
    # word changed, or an excerpt of it), so the containment and
    # boilerplate queries have families to find
    texts = []
    for i in range(sc["documents"]):
        if i > 10 and rnd.randrange(10) == 0:
            src = pick(texts).split(" ")
            if rnd.random() < 0.5:
                src[rnd.randrange(len(src))] = "dup"
                text = " ".join(src)
            else:
                start = rnd.randrange(len(src) // 2)
                text = " ".join(src[start:start + max(8, len(src) // 2)])
        else:
            text = " ".join(pick(VOCAB) for _ in range(rnd.randint(8, 87)))
        texts.append(text)
    yield "documents", [("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())], \
        [(i, x, pick(LANGS), f"src{rnd.randrange(20)}", len(x)) for i, x in enumerate(texts)]


def write(out_dir, seed, scale=SF001):
    """Write every table as <out_dir>/<name>.parquet; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    counts = {}
    for name, cols, rows in _tables(rnd, scale):
        schema = pa.schema(cols)
        arrays = [pa.array([r[i] for r in rows], type=t) for i, (_, t) in enumerate(cols)]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = len(rows)
    return counts

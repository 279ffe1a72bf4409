"""Seeded input tables for the benchmark, shaped like the repository's test
corpus: the TPC-H-like star schema plus `events`, `documents` and
`embeddings`, one parquet file per table (`<dir>/<table>.parquet`), the
layout graft's battery and its DuckDB oracles read.

At sf 0.1: 600,000 lineitem, 150,000 orders, 15,000 customer, 20,000 part,
1,000 supplier, 100,000 events, 5,000 documents (8-80 words from a 35-word
vocabulary) and 2,000 embeddings (64-d unit float32 vectors). Column types
and value domains follow the corpus: int32 small keys, 2-decimal prices,
midnight dates and event times as timestamp[us] without time zone.

One seed always yields the same files: every table draws from its own
numpy generator seeded with (seed, table index).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(("a the data spark query table row column scan filter join "
                  "group agg sort order key value hash window merge stream "
                  "batch part line vector big small fast slow customer index "
                  "shard cache plan").split())
ALL = ("region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings")


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size) * np.timedelta64(86400 * 10**6, "us")


def _pick(rng, values, size):
    return pa.array(np.array(values)[rng.integers(0, len(values), size)])


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _table(name, rng, sf):
    def n(base):
        return max(1, round(base * sf))
    if name == "region":
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return {"n_nationkey": pa.array(k), "n_name": pa.array([f"NATION_{i}" for i in k]),
                "n_regionkey": pa.array(k % 5)}
    if name in ("customer", "supplier"):
        rows, p = (n(150000), "c") if name == "customer" else (n(10000), "s")
        label = "Customer" if p == "c" else "Supplier"
        cols = {f"{p}_{'custkey' if p == 'c' else 'suppkey'}": pa.array(np.arange(rows, dtype=np.int64)),
                f"{p}_name": pa.array([f"{label}#{i:09d}" for i in range(rows)]),
                f"{p}_nationkey": pa.array(rng.integers(0, 25, rows, dtype=np.int32)),
                f"{p}_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows))}
        if p == "c":
            cols["c_mktsegment"] = _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                               "HOUSEHOLD", "MACHINERY"], rows)
        return cols
    if name == "part":
        rows = n(200000)
        adj = np.array("blue red green hot large small shiny dark pale rusty light heavy smooth".split())
        noun = np.array("anvil bolt ring widget gear".split())
        names = np.char.add(np.char.add(adj[rng.integers(0, len(adj), rows)], " "),
                            noun[rng.integers(0, len(noun), rows)])
        k = np.arange(rows, dtype=np.int64)
        return {"p_partkey": pa.array(k), "p_name": pa.array(names),
                "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, rows).astype(str))),
                "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], rows),
                "p_size": pa.array(rng.integers(1, 51, rows, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 2))}
    if name == "orders":
        rows = n(1500000)
        return {"o_orderkey": pa.array(np.arange(rows, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n(150000), rows, dtype=np.int64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], rows),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, rows)),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, rows)),
                "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                               "4-NOT SPECIFIED", "5-LOW"], rows)}
    if name == "lineitem":
        rows = n(6000000)
        return {"l_orderkey": pa.array(rng.integers(0, n(1500000), rows, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n(200000), rows, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n(10000), rows, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, rows, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, rows).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, rows)),
                "l_discount": pa.array(rng.integers(0, 11, rows) / 100),
                "l_tax": pa.array(rng.integers(0, 9, rows) / 100),
                "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
                "l_linestatus": _pick(rng, ["F", "O"], rows),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, rows))}
    if name == "events":
        rows = n(1000000)
        span_us = 30 * 86400 * 10**6
        ts = np.datetime64("2024-01-01", "us") + np.sort(
            rng.integers(0, span_us, rows)).astype("timedelta64[us]")
        return {"event_id": pa.array(np.arange(rows, dtype=np.int64)),
                "ts": pa.array(ts),
                "user_id": pa.array(rng.integers(0, 1500, rows, dtype=np.int64)),
                "event_type": _pick(rng, ["click", "view", "signup", "purchase", "error"], rows),
                "value": pa.array(np.round(rng.exponential(50, rows), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)])}
    if name == "documents":
        rows = n(50000)
        lens = rng.integers(8, 81, rows)
        words = VOCAB[rng.integers(0, len(VOCAB), lens.sum())]
        ends = np.cumsum(lens)
        texts = [" ".join(words[e - ln:e]) for e, ln in zip(ends, lens)]
        return {"doc_id": pa.array(np.arange(rows, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], rows),
                "source": pa.array(np.char.add("src", rng.integers(0, 20, rows).astype(str))),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}
    if name == "embeddings":
        rows = n(20000)
        v = rng.standard_normal((rows, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": pa.array(np.arange(rows, dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64).cast(
                    pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, rows, dtype=np.int32))}
    raise ValueError(name)


def tables(out_dir, seed, sf=0.1, names=ALL):
    """Writes each named table to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        rng = np.random.default_rng([seed % 2**64, ALL.index(name)])
        pq.write_table(pa.table(_table(name, rng, sf)),
                       os.path.join(out_dir, f"{name}.parquet"))

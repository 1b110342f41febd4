"""Seeded input generator for the perfbench workloads.

Writes the ten tables graft's `Tables.names` registers (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the distributions of `tools/gen_scale.py` (row counts
per scale factor, key ranges, value ranges, category mixes, the
30-word document vocabulary with ~1% near-dups and ~0.2% exact dups),
but every random draw comes from the given seed.
The document and embedding counts are separate parameters so the
llm_pipeline corpus can be much larger than the relational tables.

Output is cached: a directory that already holds a complete set (the
`_DONE` marker) is reused, so generation never lands in a timed or
set-up measurement.
`run.py` calls `ensure()` with each workload's sizes.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJS = ["large", "hot", "blue", "small", "green", "dark", "light",
        "cold", "red", "plain"]
NOUNS = ["ring", "bolt", "gear", "wheel", "pipe", "plate", "rod",
         "cap", "valve", "disk"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big",
         "group", "hash", "customer", "sort", "order", "slow", "line",
         "part", "fast", "the", "row", "agg", "key", "query", "a",
         "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def day_ts_ms(rng, n, start, end):
    """Random midnight timestamps in [start, end], millis resolution."""
    s = np.datetime64(start).astype("datetime64[D]").astype(np.int64)
    e = np.datetime64(end).astype("datetime64[D]").astype(np.int64)
    days = rng.integers(s, e + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[ms]"))


def r2(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, n_doc, n_emb):
    """Yields (name, pyarrow table) for the ten tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    k = np.arange(n_cust)
    yield "customer", pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(r2(rng, -1000, 10000, n_cust)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})

    k = np.arange(n_supp)
    yield "supplier", pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(r2(rng, -1000, 10000, n_supp))})

    k = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array([
            f"{ADJS[i % 10]} {NOUNS[(i // 10) % 10]}" for i in k]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (k % 1000) / 10.0)})

    ok = np.arange(n_ord)
    yield "orders", pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(r2(rng, 1000, 500000, n_ord)),
        "o_orderdate": day_ts_ms(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lkey = np.repeat(ok, lines)
    lno = np.concatenate([np.arange(1, c + 1) for c in lines])
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(r2(rng, 900, 105000, n_li)),
        "l_discount": pa.array(r2(rng, 0, 0.10, n_li)),
        "l_tax": pa.array(r2(rng, 0, 0.08, n_li)),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": day_ts_ms(rng, n_li, "1995-01-02", "2001-11-04")})

    base = np.datetime64("2024-01-01").astype("datetime64[us]")
    offs = np.sort(rng.uniform(0, 30 * 86400 * 1e6, n_ev)).astype(np.int64)
    n_users = max(1, n_cust // 10)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(r2(rng, 0, 560, n_ev)),
        "props": pa.array(
            [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)])})

    vocab = np.array(VOCAB)
    lens = rng.integers(8, 106, n_doc)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in rng.integers(1, n_doc, max(1, n_doc // 100)):
        ws = texts[int(i) - 1].split(" ")
        ws[int(rng.integers(0, len(ws)))] = "dup"
        texts[int(i)] = " ".join(ws)
    for i in rng.integers(1, n_doc, max(1, n_doc // 500)):
        texts[int(i)] = texts[int(i) - 1]
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[
            rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array(
            [f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def ensure(out, seed, sf, n_doc, n_emb):
    """Generates into `out` unless a complete set is already there."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(seed, sf, n_doc, n_emb):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=1_000_000)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


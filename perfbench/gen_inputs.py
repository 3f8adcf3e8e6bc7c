"""Seeded input generators for the benchmark.

`tables` writes the ten parquet tables the engine's query entries read
(the schema `graft.Tables.assertContract` checks), with the shapes of
the fixture generator described in TESTDATA.md: a TPC-H-like star
schema, an `events` stream table, a `documents` corpus with planted
exact and near duplicates, and unit-norm `embeddings`.

`hn_batch` writes one raw Hacker News batch file the way the reference
extract does: a single JSON array of items per file, named
`hn_items_<yyyymmdd_hhmmss>.json`.

The same seed always gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, n_days, size) * DAY_US).astype("timedelta64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(out_dir, seed, sf):
    """Write the ten tables at scale factor `sf` (sf=0.1: 600k lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * DAY_US
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(100, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # about 5% of documents copy an earlier document's text plus " dup":
    # the near-duplicate families the dedup entries look for
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)})


def _zipf_pick(rng, n_values, size, a=1.2):
    return np.minimum(rng.zipf(a, size), n_values) - 1


def hn_batch(path, rng, first_id, n_items, prior_ids, day0):
    """Write one raw batch of about `n_items` items and return its ids.

    Properties the pipeline's contract depends on are planted on
    purpose: ~40% of ids repeat ids of earlier batches (updates), a few
    ids repeat inside the batch (keep-last), ~1% of array elements are
    JSON null, a quarter of the items are not stories, optional keys
    are sometimes missing, URLs mix scheme and host case, and authors
    and domains are Zipf-skewed.
    """
    n_old = int(n_items * 0.4) if len(prior_ids) else 0
    ids = np.concatenate([
        rng.choice(prior_ids, n_old, replace=False) if n_old else
        np.empty(0, np.int64),
        np.arange(first_id, first_id + n_items - n_old, dtype=np.int64)])
    dup = rng.choice(ids, max(1, n_items // 100))
    ids = rng.permutation(np.concatenate([ids, dup]))
    n = len(ids)
    kinds = rng.choice(["story", "comment", "job", "poll"], n,
                       p=[0.75, 0.15, 0.06, 0.04])
    authors = _zipf_pick(rng, 5000, n)
    domains = _zipf_pick(rng, 800, n)
    scheme = rng.choice(["http://", "https://", "HTTPS://", "Http://"], n)
    upper = rng.random(n) < 0.2
    times = day0 + rng.integers(0, 7 * 86400, n)
    scores = rng.integers(0, 500, n)
    desc = rng.integers(0, 300, n)
    n_kids = rng.integers(0, 6, n)
    shape = rng.random((n, 4))
    items = []
    for i in range(n):
        if shape[i, 0] < 0.01:
            items.append(None)
            continue
        host = f"www.site{domains[i]}.com"
        it = {"id": int(ids[i]), "type": str(kinds[i]), "by": f"user{authors[i]}",
              "time": int(times[i]), "title": f"item {ids[i]} title"}
        if shape[i, 1] < 0.9:
            it["url"] = ("" if shape[i, 1] < 0.02 else
                         f"{scheme[i]}{host.upper() if upper[i] else host}/p/{ids[i]}")
        if shape[i, 2] < 0.95:
            it["score"] = int(scores[i])
        if shape[i, 3] < 0.9:
            it["descendants"] = int(desc[i])
            it["kids"] = [int(ids[i]) * 10 + k for k in range(n_kids[i])]
        if kinds[i] != "story":
            it["text"] = "some text"
        items.append(it)
    with open(path, "w") as f:
        json.dump(items, f)
    return ids

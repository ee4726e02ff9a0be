"""Seeded input generator for the graft benchmark.

Everything the engine reads comes from here: a TPC-H-shaped star schema
plus the `events`, `documents` and `embeddings` tables, in the column
layout `graft.Tables` expects, and the operation script of the
lakehouse workload. The same seed gives byte-identical files.

Scale-up is key-shifted replication: the documents and embeddings are
copied `corpus_replicas` times with their keys shifted by `SHIFT` per
copy. Copies are perturbed with seeded noise, which plants
near-duplicates for the dedup operators. A document copy has its last t
words replaced by seeded random words, t drawn per document so that the
copy's 3-shingle Jaccard with its source spreads evenly over
[0.35, 1]: some pairs sit below the 0.5 threshold of `ml_dedup_minhash`,
many just above it, where its banding misses pairs, and the rest far
above. A vector copy gets a small seeded epsilon on each coordinate.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIFT = 100_000_000
EPOCH = dt.datetime(1970, 1, 1)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _days(a, b):
    return (b - a).days


def _ts(rng, n, start, end):
    """Midnight timestamps uniform in [start, end] as timestamp[us]."""
    d = rng.integers(0, _days(start, end) + 1, n)
    us = (np.int64(_days(EPOCH, start)) + d) * 86_400_000_000
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _money(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out, name, table, row_group=65536):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=row_group, compression="snappy")


def _replicate(table, replicas, key, perturb=None):
    parts = []
    for i in range(replicas):
        t = table
        if i:
            t = t.set_column(t.schema.get_field_index(key), key,
                             pa.compute.add(t[key], pa.scalar(i * SHIFT, pa.int64())))
            if perturb is not None:
                t = perturb(t, i)
        parts.append(t)
    return pa.concat_tables(parts)


def star(out, seed, scale):
    """region..lineitem at `scale` (sf-like)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150_000 * scale), 10), max(int(10_000 * scale), 5)
    n_part, n_ord = max(int(200_000 * scale), 20), max(int(1_500_000 * scale), 100)
    n_li = n_ord * 4
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}))
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.rint(rng.uniform(0, 10, n_li)) / 100.0,
        "l_tax": np.rint(rng.uniform(0, 8, n_li)) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    _write(out, "orders", orders)
    _write(out, "lineitem", lineitem)


def events(out, seed, n, users):
    rng = np.random.default_rng([seed, 2])
    start_us = _days(EPOCH, dt.datetime(2024, 1, 1)) * 86_400_000_000
    step = 30 * 86_400_000_000 // n
    ts = start_us + np.arange(n) * step + rng.integers(0, step, n)
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}))


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[at:at + k]))
        at += k
    return out


def corpus(out, seed, n_docs, n_vecs, replicas=1):
    """documents + embeddings; copies carry seeded near-duplicate noise."""
    rng = np.random.default_rng([seed, 3])
    text = _texts(rng, n_docs)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})

    def near_dup_text(t, i):
        # replacing the last t of L words changes t of the L-2 shingles,
        # so the Jaccard is (L-2-t)/(L-2+t) when the new shingles are new
        r = np.random.default_rng([seed, 4, i])
        texts = []
        for s in t["text"].to_pylist():
            ws = s.split(" ")
            n_sh = len(ws) - 2
            j = r.uniform(0.35, 1.0)
            k = min(len(ws), int(round(n_sh * (1.0 - j) / (1.0 + j))))
            tail = [WORDS[w] for w in r.integers(0, len(WORDS), k)]
            texts.append(" ".join(ws[:len(ws) - k] + tail))
        t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
        return t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(s) for s in texts], pa.int64()))

    def near_dup_vec(t, i):
        r = np.random.default_rng([seed, 5, i])
        eps = r.normal(0.0, 0.002, (t.num_rows, 64)).astype(np.float32)
        return t.set_column(t.schema.get_field_index("embedding"), "embedding",
                            pa.array(list(vecs[:t.num_rows] + eps), pa.list_(pa.float32())))

    _write(out, "documents", _replicate(docs, replicas, "doc_id", near_dup_text), 8192)
    _write(out, "embeddings", _replicate(emb, replicas, "vec_id", near_dup_vec), 8192)


def tables(out, seed, size):
    """Every fixture table `graft.Tables` knows, sized by `size`: the
    dedup keys read the corpus, and `graft.Tables.registerAll` (used by
    some of them) needs the rest to exist."""
    os.makedirs(out, exist_ok=True)
    star(out, seed, size["scale"])
    events(out, seed, size["events"], size["users"])
    corpus(out, seed, size["docs"], size["vecs"], size.get("corpus_replicas", 1))


def lake_script(out, seed, rounds, batch):
    """The seeded operation script of the lakehouse workload.

    Per round: an INSERT batch of fresh keys, a MERGE whose source
    updates live keys and inserts fresh ones, and a DELETE of a key
    range. Within one round the three key sets are disjoint, so a change
    feed that delivers the round in one micro-batch is unambiguous.
    Rows are (k BIGINT, p STRING, v BIGINT, note STRING).
    """
    rng = np.random.default_rng([seed, 6])
    os.makedirs(out, exist_ok=True)
    parts = ["p0", "p1", "p2", "p3"]
    live, next_key, ops = set(range(batch * 4)), batch * 4, []

    def rows(keys, tag):
        keys = np.asarray(sorted(keys), np.int64)
        return pa.table({
            "k": pa.array(keys, pa.int64()),
            "p": pa.array([parts[k % 4] for k in keys.tolist()]),
            "v": pa.array(rng.integers(0, 1_000_000, len(keys)), pa.int64()),
            "note": pa.array([f"{tag}-{k}" for k in keys.tolist()])})

    pq.write_table(rows(live, "base"), os.path.join(out, "base.parquet"))
    for r in range(rounds):
        ins = set(range(next_key, next_key + batch))
        next_key += batch
        pool = np.array(sorted(live), np.int64)
        picked = rng.choice(pool, size=min(len(pool), batch), replace=False)
        upd = set(picked[: batch // 2].tolist())
        dl_lo = int(picked[batch // 2])
        dl = {k for k in live if dl_lo <= k < dl_lo + batch // 4} - upd
        new_in_merge = set(range(next_key, next_key + batch // 4))
        next_key += batch // 4
        merge_keys = upd | new_in_merge
        pq.write_table(rows(ins, f"i{r}"), os.path.join(out, f"ins_{r}.parquet"))
        pq.write_table(rows(merge_keys, f"m{r}"), os.path.join(out, f"mrg_{r}.parquet"))
        # the DELETE names an explicit key list: a range predicate would
        # also catch keys the MERGE of this round re-inserted
        ops.append({"round": r, "insert": f"ins_{r}.parquet", "merge": f"mrg_{r}.parquet",
                    "delete": sorted(dl), "part": parts[int(rng.integers(0, 4))]})
        live |= ins | new_in_merge
        live -= dl
    with open(os.path.join(out, "script.json"), "w") as f:
        json.dump({"rounds": ops}, f)

"""Seeded input generator for the benchmark workloads.

Every table has the column names and physical types of the synthetic
TPC-H-style corpus the library's queries are written against (see
FIXTURES.md), with the same value domains, so every catalog query finds
rows to work on. The same (seed, sizes) always produce byte-identical
values. The program only ever sees the parquet files written here.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "new", "cold", "large", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil",
             "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") +
                    offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def star(out_dir, rng, lineitems):
    """region/nation/customer/supplier/part/orders/lineitem, sized by the
    lineitem row count with the TPC-H table ratios."""
    n_orders = lineitems // 4
    n_cust = max(lineitems // 40, 25)
    n_supp = max(lineitems // 600, 10)
    n_part = max(lineitems // 30, 64)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS)
        .take(rng.integers(0, 5, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names).take(rng.integers(0, 64, n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)])
        .take(rng.integers(0, 25, n_part)),
        "p_type": pa.array(PART_TYPES).take(rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(["F", "O", "P"])
        .take(rng.integers(0, 3, n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": pa.array(PRIORITIES)
        .take(rng.integers(0, 5, n_orders))})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, lineitems),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitems).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, lineitems),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"])
        .take(rng.integers(0, 3, lineitems)),
        "l_linestatus": pa.array(["F", "O"])
        .take(rng.integers(0, 2, lineitems)),
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, 2498, lineitems) * DAY_US)})
    return {"lineitem": lineitems, "orders": n_orders, "customer": n_cust,
            "supplier": n_supp, "part": n_part}


def events(out_dir, rng, n, users):
    """A 30-day click stream: ts ascending in event_id order."""
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", offs),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n)),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    return {"events": n, "users": users}


def documents(out_dir, rng, n, dup_share):
    """n documents of random vocabulary words; a `dup_share` fraction are
    near-duplicate copies of an earlier original (a fifth of those are
    exact copies, the rest have ~5% of their words replaced)."""
    texts = []
    n_dup = int(round(n * dup_share))
    dup_at = set(rng.choice(np.arange(1, n), size=n_dup, replace=False)
                 .tolist()) if n_dup else set()
    originals = []
    for i in range(n):
        if i in dup_at and originals:
            words = list(originals[rng.integers(0, len(originals))])
            if rng.random() >= 0.2:
                k = max(1, len(words) // 20)
                for j in rng.choice(len(words), size=k, replace=False):
                    words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[j] for j in
                     rng.integers(0, len(VOCAB), rng.integers(8, 100))]
            originals.append(words)
        texts.append(" ".join(words))
    langs = rng.choice(len(LANGS[0]), size=n, p=LANGS[1])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS[0]).take(langs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return {"documents": n, "dup_share": dup_share, "dup_docs": n_dup}


def embeddings(out_dir, rng, n, dup_share, dim=64, labels=10):
    """n float32 vectors around `labels` cluster centres; a `dup_share`
    fraction are slightly perturbed copies of another vector. Ids are a
    seeded permutation, so the seed picks which vectors get the low ids
    that the serving queries probe with."""
    centres = rng.normal(0.0, 0.12, (labels, dim))
    lab = rng.integers(0, labels, n)
    vec = centres[lab] + rng.normal(0.0, 0.06, (n, dim))
    n_dup = int(round(n * dup_share))
    if n_dup:
        src = rng.integers(0, n, n_dup)
        dst = rng.choice(n, size=n_dup, replace=False)
        vec[dst] = vec[src] + rng.normal(0.0, 0.002, (n_dup, dim))
        lab[dst] = lab[src]
    perm = rng.permutation(n)
    vec, lab = vec[perm].astype(np.float32), lab[perm]
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})
    return {"embeddings": n, "dim": dim, "dup_vectors": n_dup}


def generate(out_dir, seed, spec):
    """Write the tables `spec` asks for; returns the input sizes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    if "lineitem" in spec:
        sizes.update(star(out_dir, rng, spec["lineitem"]))
    if "events" in spec:
        sizes.update(events(out_dir, rng, spec["events"], spec["users"]))
    if "documents" in spec:
        sizes.update(documents(out_dir, rng, spec["documents"],
                               spec["dup_share"]))
    if "embeddings" in spec:
        sizes.update(embeddings(out_dir, rng, spec["embeddings"],
                                spec.get("dup_share", 0.0)))
    return sizes

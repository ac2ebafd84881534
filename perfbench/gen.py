"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed and
scale give byte-identical parquet files (numpy's PCG64 stream, pyarrow's
single-row-group writer, no timestamps in the metadata).

- `gen_tables` writes the TPC-H-shaped star schema the catalogue lines
  read (`region nation customer supplier part orders lineitem events
  documents embeddings`), at scale factor `sf` (sf 0.1 = 600k line
  items).
- `gen_blobs` writes Gaussian blobs (`features: list<float>`) for the
  K-Means pipeline.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "nut", "pipe", "wire"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_EPOCH = datetime.datetime(1970, 1, 1)


def _us(dt):
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy",
                   store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out_dir, sf=0.1, seed=42):
    """Write the ten catalogue tables under `out_dir` as `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 20)
    ts = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  1)}), f"{out_dir}/part.parquet")

    day_us = 86_400 * 1_000_000
    d0 = _us(datetime.datetime(1995, 1, 1))
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(d0 + rng.integers(0, 2405, n_ord) * day_us,
                                ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    lnum = (np.arange(len(okey)) -
            np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    order = rng.permutation(len(okey))
    okey, lnum = okey[order], lnum[order].astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    d1 = _us(datetime.datetime(1995, 1, 2))
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(d1 + rng.integers(0, 2499, n_li) * day_us,
                               ts)}), f"{out_dir}/lineitem.parquet")

    e0 = _us(datetime.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n_ev)) + e0
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    words = np.array(WORDS)
    lens = rng.integers(8, 96, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    # near-duplicates: ~4% of documents copy an earlier one plus a marker
    for i in np.nonzero(rng.random(n_doc) < 0.04)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")

    # isotropic unit vectors; the labels carry no cluster structure
    label = rng.integers(0, 10, n_emb)
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": label.astype(np.int32)}), f"{out_dir}/embeddings.parquet")


def gen_blobs(path, n, dim, k, seed, spread=40.0, sigma=1.0):
    """Write `n` f32 points around `k` seeded centres to one parquet file
    with a single `features: list<float>` column, and next to it
    `init.csv`: the first point of each blob, one per line, as the
    fit's initial centroids (so no cluster starts empty-handed)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.uniform(-spread, spread, (k, dim))
    label = rng.integers(0, k, n)
    pts = (centers[label] + rng.normal(0.0, sigma, (n, dim))).astype(np.float32)
    flat = pa.array(pts.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    _write(pa.table({"features": pa.ListArray.from_arrays(offsets, flat)}),
           path)
    first = [int(np.argmax(label == j)) for j in range(k)]
    with open(os.path.join(os.path.dirname(path), "init.csv"), "w") as f:
        for i in first:
            f.write(",".join(repr(float(x)) for x in pts[i]) + "\n")


def digest(paths):
    """sha256 over the bytes of `paths`, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()

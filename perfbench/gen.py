"""Deterministic fixture generator for the benchmark.

Writes the ten fixture tables the catalog reads (same names, column
names and parquet physical types as the project's test fixtures: one
file and one row group per table) from a fixed generator seed, so every
checkout measures the same data. `amplify` derives the seeded 10x
events/documents inputs of the pipelines workload from that base.

Every directory is published atomically: written under a temporary
name next to its final place, then renamed.
"""
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Table sizes: the shape of the project's sf0.01 fixture.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
USERS = 150
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _days(lo, hi, rng, n):
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return (d0 + off).astype("datetime64[us]")


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _events_cols(n, rng):
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n)).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _texts(n, r):
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB) for _ in range(r.randint(10, 99))))
    return texts


def base(dirpath):
    """Write the fixed base fixture into `dirpath` (must not exist)."""
    rng = np.random.default_rng(BASE_SEED)
    r = random.Random(BASE_SEED)
    n = SIZES
    tmp = dirpath + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(tmp, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"]).tolist()})
    _write(tmp, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2))})
    colors = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(tmp, "part", {
        "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
        "p_name": [f"{r.choice(colors)} {r.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n["part"])])})
    no = n["orders"]
    _write(tmp, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", rng, no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no).tolist()})
    nl = n["lineitem"]
    _write(tmp, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", rng, nl), pa.timestamp("us"))})
    _write(tmp, "events", _events_cols(n["events"], rng))
    texts = _texts(n["documents"], r)
    nd = n["documents"]
    _write(tmp, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 1.2, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(tmp, "embeddings", {
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.rename(tmp, dirpath)


def _mix(seed, *xs):
    """Stable 64-bit hash of the seed and a tuple of ints."""
    h = (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    for x in xs:
        h ^= (x + 0x632BE59BD9B4E019 + (h << 6) + (h >> 2)) & 0xFFFFFFFFFFFFFFFF
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    return h


def amplify(base_dir, dirpath, seed, m):
    """`m` copies of the base events and documents, salted by `seed`.

    Copy 0 is the base; copy k > 0 moves every user to its own id block,
    jitters event times by up to an hour (clamped to the base range) and
    values by up to 5%, and rewrites each document word with probability
    one half, which word being picked by a seeded hash."""
    rng = np.random.default_rng([seed, m])
    tmp = dirpath + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ev = pq.read_table(os.path.join(base_dir, "events.parquet"))
    n = ev.num_rows
    ts0 = ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    lo, hi = ts0.min(), ts0.max()
    parts = []
    for k in range(m):
        ts = ts0 if k == 0 else np.clip(ts0 + rng.integers(-3_600_000_000, 3_600_000_000, n), lo, hi)
        val = ev["value"].to_numpy()
        if k:
            val = np.round(val * rng.uniform(0.95, 1.05, n), 2)
        parts.append(pa.table({
            "event_id": pa.array(ev["event_id"].to_numpy() * m + k),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"].to_numpy() + k * USERS),
            "event_type": ev["event_type"],
            "value": pa.array(val),
            "props": ev["props"]}))
    evs = pa.concat_tables(parts)
    evs = evs.take(pa.array(np.argsort(evs["ts"].to_numpy(), kind="stable")))
    pq.write_table(evs, os.path.join(tmp, "events.parquet"))
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pylist()
    rows = []
    for k in range(m):
        for d in docs:
            text = d["text"]
            if k:
                words = text.split(" ")
                words = [VOCAB[(_mix(seed, d["doc_id"], k, i) >> 40) % len(VOCAB)]
                         if _mix(seed, d["doc_id"], k, i, 1) & 1 else w
                         for i, w in enumerate(words)]
                text = " ".join(words)
            rows.append({"doc_id": d["doc_id"] * m + k, "text": text, "lang": d["lang"],
                         "source": d["source"], "n_chars": len(text)})
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])),
        os.path.join(tmp, "documents.parquet"))
    os.rename(tmp, dirpath)


def tree_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total



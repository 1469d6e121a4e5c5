"""Seeded generator for the parquet tables the ops_mix and idx_rw workloads read.

The tables follow the schema and value ranges of the repository's TPC-H-ish
test data (`TESTDATA.md`: region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), so every `SparkEntry.queries` entry runs unchanged on
them. Sizes scale linearly with `sf`; only the values depend on the seed, so
two seeds give the same amount of work.

`derive_corpus` builds the idx_rw corpus: `copies` re-keyed, perturbed copies
of the base documents and embeddings, the way `ScaleBench` derives its
octaves (word suffix per copy, a +-1 reflection mask per copy).
"""
import hashlib
import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "large", "new", "old", "red", "small", "blue", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "ring", "rod", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIMS = 64
STRIDE = 10_000_000  # id offset per derived copy, as in ScaleBench


def _ts(days_from, n_days, rng, n, sub_day):
    base = np.datetime64(days_from, "us")
    day = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    out = base + day
    if sub_day:
        out = out + rng.integers(0, 86_400_000_000, n).astype("timedelta64[us]")
    return out


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


NAMES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"]


def tables(seed, sf, only=None):
    """The ten tables (or the `only` subset) as pyarrow Tables, a pure
    function of (seed, sf). Each table draws from its own random stream, so
    a subset has the same values as the full set."""
    want = set(only or NAMES)
    out = {}
    for i, name in enumerate(NAMES):
        if name in want:
            out[name] = _table(name, np.random.default_rng([seed, i]), sf)
    return out


def _table(name, rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(10, int(15_000 * sf)), int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)], s),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + rng.uniform(0, 100, n_part), 1), f64)})
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
            "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord, False), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s)})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], s),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)], s),
            "l_shipdate": pa.array(_ts("1995-01-02", 2499, rng, n_line, False), pa.timestamp("us"))})
    if name == "events":
        ts = np.sort(_ts("2024-01-01", 30, rng, n_ev, True))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    if name == "documents":
        texts = _texts(rng, n_docs)
        # a few planted exact duplicates (the sf0.1 test data has ~0.2%)
        for _ in range(max(1, n_docs // 600)):
            a, b = rng.integers(0, n_docs, 2)
            texts[b] = texts[a]
        return pa.table({
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)], s),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64)})
    if name == "embeddings":
        e = rng.standard_normal((n_emb, EMB_DIMS)).astype(np.float32)
        e /= np.linalg.norm(e, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(e), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    raise ValueError(name)


def derive_corpus(base, copies):
    """`copies` re-keyed, perturbed copies of the base documents and
    embeddings (copy 0 is the base itself)."""
    docs, emb = base["documents"], base["embeddings"]
    texts = docs.column("text").to_pylist()
    ids = docs.column("doc_id").to_numpy()
    vec = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    vids = emb.column("vec_id").to_numpy()
    d_parts, e_parts = [], []
    for k in range(copies):
        t = texts if k == 0 else [" ".join(w + f"_{k}" for w in x.split(" ")) for x in texts]
        d_parts.append(pa.table({
            "doc_id": pa.array(ids + k * STRIDE, pa.int64()),
            "text": pa.array(t, pa.string()),
            "lang": docs.column("lang"), "source": docs.column("source"),
            "n_chars": pa.array([len(x) for x in t], pa.int64())}))
        mask = np.array([1.0 if ((k * 2654435761 + j * 40503) >> 7) % 2 == 0 else -1.0
                         for j in range(EMB_DIMS)], np.float32)
        v = vec if k == 0 else vec * mask
        e_parts.append(pa.table({
            "vec_id": pa.array(vids + k * STRIDE, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": emb.column("label")}))
    return {"documents": pa.concat_tables(d_parts), "embeddings": pa.concat_tables(e_parts)}


def encode(tbls):
    """Each table as parquet bytes (one file per table, fixed writer settings)."""
    out = {}
    for name, t in tbls.items():
        buf = io.BytesIO()
        pq.write_table(t, buf, compression="snappy")
        out[name] = buf.getvalue()
    return out


def digest(files):
    h = hashlib.sha256()
    for name in sorted(files):
        h.update(name.encode())
        h.update(files[name])
    return h.hexdigest()

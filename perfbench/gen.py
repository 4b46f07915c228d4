"""Seeded synthetic warehouse tables, in the schema graft's contract
queries read (TPC-H-like star schema, an events table, a document corpus
and its embeddings). The same seed writes the same bytes.

The shapes follow the project's fixture data: documents are 10-100 words
from a 30-word vocabulary, tagged src(id % 20); every 20th document is
an earlier one with " dup" appended and a few are exact copies;
embeddings are 64-d unit vectors with a label in 0..9."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

# The warehouse corpus is the same for every run: a gate trigger that
# absorbs admitted documents costs about four times one that admits none,
# so a corpus drawn per seed would make the verdict mix, and with it the
# run's cost, depend on the seed. The seed orders the queries instead.
CORPUS_SEED = 20240101

# (documents, embeddings, TPC-H scale) per scale
SIZES = {"full": (2000, 2000, 0.01), "tiny": (1000, 1000, 0.001)}


def _ts(rng, lo, hi, n, unit):
    """n timestamps in [lo, hi) at `unit` granularity, as timestamp[us]."""
    lo64, hi64 = np.datetime64(lo, unit), np.datetime64(hi, unit)
    span = int((hi64 - lo64).astype(np.int64))
    v = lo64 + rng.integers(0, span, n).astype(f"timedelta64[{unit}]")
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_docs, n_emb, sf = SIZES[scale]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_ord, "D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", n_li, "D")})
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(rng, "2024-01-01", "2024-01-31", n_ev, "us"),
        "user_id": pa.array(rng.integers(0, max(2, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i % 20 == 11 and i > 20:
            texts.append(texts[int(rng.integers(0, i - 1))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    for i in rng.choice(np.arange(n_docs // 2, n_docs), 8, replace=False):
        if i % 20 != 11:
            texts[i] = texts[int(rng.integers(0, n_docs // 2))]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "fr", "de"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(size=(n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(d, seed, scale):
    os.makedirs(d, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))

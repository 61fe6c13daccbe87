"""Seeded tables for the analytic_mix workload.

Writes the ten tables the named queries read (`Tables.names` in the
engine: a TPC-H-like star schema plus events, documents and
embeddings) as one parquet file each, with the engine's canonical
column types, at about the size of the repository's sf0.01 corpus.
The same seed gives the same bytes.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 200, "embeddings": 300}
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small big query customer stream "
         "filter group vector").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                        "MACHINERY"], n["customer"])},
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)},
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["blue", "red", "hot", "cold", "small", "old", "new"], n["part"]),
                rng.choice(["bolt", "gear", "ring", "rod", "plate", "anvil", "widget"], n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                                 n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)},
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": pa.array(_days(rng, n["orders"], "1995-01-01", "2001-08-01")
                                    .astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], n["orders"])},
    }
    m = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900, 105000),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": pa.array(_days(rng, m, "1995-01-01", "2002-12-31")
                               .astype("datetime64[us]"), pa.timestamp("us"))}
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], e),
        "value": _money(rng, e, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(d)]
    # every 7th document is a near-duplicate of an earlier long original
    # (one word in 40 replaced, 3-shingle Jaccard about 0.85), so the
    # dedup queries find real pairs well above their 0.5 threshold
    originals = [i for i in range(d) if i % 7 and len(texts[i].split()) >= 40]
    for i in range(7, d, 7):
        words = texts[rng.choice([o for o in originals if o < i])].split()
        for j in rng.choice(len(words), len(words) // 40, replace=False):
            words[j] = rng.choice(WORDS)
        texts[i] = " ".join(words)
    out["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, d), "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    return out


def write(seed, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, cols in tables(seed).items():
        t = pa.table(cols)
        pq.write_table(t, out_dir / f"{name}.parquet")
        rows[name] = t.num_rows
    return rows

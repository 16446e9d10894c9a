"""Seeded input generator for the benchmark.

Every table is drawn from one numpy PCG64 stream keyed by (seed, table,
part), so the same seed writes byte-identical parquet files. The program
under test sees only these files.

Shapes follow the fixture schemas in FIXTURES.md (TPC-H-ish star schema,
an ``events`` stream table, a ``documents`` word-soup corpus and unit-norm
``embeddings``); sizes are a scale factor ``sf`` of the sf1 row counts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "gizmo"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_MS = 86_400_000
EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns

# Written exactly like the fixture files: one snappy parquet file per table.
PARQUET_KW = dict(compression="snappy", use_dictionary=True)


def rng(seed, *key):
    """Independent stream per (seed, key...): adding a table or a cycle
    never shifts the draws of another."""
    words = [seed] + [abs(hash_str(k)) if isinstance(k, str) else k for k in key]
    return np.random.Generator(np.random.PCG64(words))


def hash_str(s):
    # stable across interpreters (str.__hash__ is salted per process)
    h = 1469598103934665603
    for b in s.encode():
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **PARQUET_KW)
    return os.path.getsize(path)


def cents(r, lo, hi, n):
    """Money values as exact cents (int64) and the double the file holds."""
    c = r.integers(int(lo * 100), int(hi * 100) + 1, n)
    return c, c / 100.0


def day_ts(r, lo_day, hi_day, n):
    d = r.integers(lo_day, hi_day + 1, n)
    return pa.array(EPOCH_1995 + d * DAY_MS, pa.timestamp("ms"))


def lineitem(r, n, n_orders, n_parts, n_supp):
    qty = r.integers(1, 51, n)
    price_c, _ = cents(r, 900.68, 2099.99, n)
    ext_c = qty * price_c
    cols = {
        "l_orderkey": r.integers(0, n_orders, n),
        "l_partkey": r.integers(0, n_parts, n),
        "l_suppkey": r.integers(0, n_supp, n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": ext_c / 100.0,
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
    }
    t = pa.table(cols)
    t = t.append_column("l_shipdate", day_ts(r, 1, 2499, n))
    return t, qty, ext_c


def documents(r, n):
    """Word soup over the corpus vocabulary, 10-100 words per document;
    ~5% near-duplicates (an earlier text plus a `dup` token) and ~0.2%
    exact re-posts, the duplicate shapes the dedup families probe."""
    texts = []
    n_words = r.integers(10, 101, n)
    picks = r.integers(0, len(VOCAB), int(n_words.sum()))
    kind = r.random(n)
    pos = 0
    vocab = np.array(VOCAB)
    for i in range(n):
        k = n_words[i]
        if i > 0 and kind[i] < 0.002:
            texts.append(texts[r.integers(0, i)])
        elif i > 0 and kind[i] < 0.05:
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[picks[pos:pos + k]]))
        pos += k
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def fixtures(out_dir, seed, sf):
    """The ten fixture tables at scale factor `sf` (sf0.01 ≈ 60k lineitem
    rows), one parquet file each under `out_dir`."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))

    def out(name, table):
        write(table, os.path.join(out_dir, f"{name}.parquet"))

    out("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}))
    out("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    r = rng(seed, "customer")
    out("customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(r, -999.99, 9999.99, n_cust)[1],
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]}))
    r = rng(seed, "supplier")
    out("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(r, -999.99, 9999.99, n_supp)[1]}))
    r = rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out("part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)}))
    r = rng(seed, "orders")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": cents(r, 1000.0, 499999.99, n_ord)[1]})
    orders = orders.append_column("o_orderdate", day_ts(r, 0, 2404, n_ord))
    orders = orders.append_column(
        "o_orderpriority", pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)]))
    out("orders", orders)
    out("lineitem", lineitem(rng(seed, "lineitem"), n_li, n_ord, n_part, n_supp)[0])
    r = rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)) * 1000 + EPOCH_2024_NS
    out("events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}))
    out("documents", documents(rng(seed, "documents"), n_doc))
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out("embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}))


def run_id(cycle):
    """Run ids in the ledger's yyyyMMddHHmmssSSSSSS shape, one per cycle,
    ordered like the cycles."""
    return f"20260101000000{cycle:06d}"


def bulk_snapshots(out_dir, seed, cycles, rows):
    """`cycles` distinct full lineitem snapshots of `rows` rows each, plus
    the per-(run, l_returnflag) aggregate the benchmark's SQL must return:
    count, sum(l_quantity) and sum(l_extendedprice) in exact cents."""
    plan = []
    for c in range(cycles):
        t, qty, ext_c = lineitem(rng(seed, "bulk", c), rows, rows // 4, 20_000, 1_000)
        path = os.path.join(out_dir, f"snap{c:04d}.parquet")
        size = write(t, path)
        flags = np.asarray(t.column("l_returnflag"))
        agg = {}
        for f in ("A", "N", "R"):
            m = flags == f
            agg[f] = [int(m.sum()), int(qty[m].sum()), int(ext_c[m].sum())]
        plan.append({"run_id": run_id(c), "path": path, "bytes": size,
                     "rows": rows, "admitted": rows, "agg": agg})
    return plan


def write_plan(path, plan):
    with open(path, "w") as f:
        json.dump(plan, f)

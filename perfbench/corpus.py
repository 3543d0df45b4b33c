"""Benchmark corpus and tick artifacts, generated locally from fixed seeds.

The corpus has the fixture schema of FIXTURES.md (TPC-H-ish star tables,
`events`, `documents`, `embeddings`; one parquet file with one row group per
table) and the fixture distributions that `graft.Soak` documents:
independent uniforms for the star tables, a 30-token vocabulary plus a
rare `dup` token for documents, unit-norm 64-dim float embeddings. It is
a pure function of (scale, CORPUS_SEED), so its content stamp, and the
reference digests keyed by it, stay valid until the generator changes.

Tick artifacts are the `.parquet` snapshots the ingest loop loads; they are
a pure function of the run seed.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
GENERATOR_VERSION = "1"

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14)
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _cents(rng, lo, hi, n):
    """Exact 2-decimal doubles uniform in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _star(rng, sf):
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPE[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1001.91, 499991.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.68, 104999.91, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li),
                               pa.timestamp("us"))})
    return t


def _events(rng, sf):
    n, n_users = int(1_000_000 * sf), int(15_000 * sf)
    span_us = 30 * 86400 * 1_000_000
    spacing = span_us // n
    ts = (np.datetime64("2024-01-01", "us")
          + (np.arange(n, dtype=np.int64) * spacing
             + rng.integers(0, spacing, n)).astype("timedelta64[us]"))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": (rng.exponential(5000.0, n).astype(np.int64) + 1) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, sf):
    n = max(500, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i % 625 == 624:  # rare exact duplicate, landing in another source
            texts.append(texts[i - 624])
            continue
        toks = [("dup" if rng.random() < 0.001 else VOCAB[j])
                for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 100, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng, sf):
    n = max(500, int(20_000 * sf))
    raw = rng.standard_normal((n, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def content_stamp(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_corpus(out_dir, sf):
    """Generate the corpus into out_dir unless it is already there; return
    its content stamp."""
    marker = os.path.join(out_dir, "_generated")
    params = f"sf={sf} seed={CORPUS_SEED} v={GENERATOR_VERSION}"
    if os.path.exists(marker) and open(marker).read() == params:
        return content_stamp(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    tables = _star(rng, sf)
    tables["events"] = _events(rng, sf)
    tables["documents"] = _documents(rng, sf)
    tables["embeddings"] = _embeddings(rng, sf)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(params)
    return content_stamp(out_dir)


def write_tick_artifacts(out_dir, seed, n_ticks, rows):
    """Seeded snapshot artifacts for the ingest loop. Returns one entry per
    tick: (artifact name, rows) for a tick that publishes one, or (None, 0)
    for a tick that publishes nothing, which exercises the seen-set no-op
    path. Every third tick is a no-op and every artifact has the same row
    count, so the seed changes contents but not the amount of work. Names
    sort in publication order, so the pipeline's lexicographic-latest rule
    picks the new one."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    plan = []
    for tick in range(n_ticks):
        if tick % 3 == 2:
            plan.append((None, 0))
            continue
        name = f"snap_{seed:010d}_{tick:04d}.parquet"
        table = pa.table({
            "id": np.arange(1, rows + 1, dtype=np.int64),
            "account": [f"acct-{k:06d}" for k in rng.integers(0, 100_000, rows)],
            "amount": _cents(rng, -500.0, 5000.0, rows),
            "qty": rng.integers(0, 1000, rows).astype(np.int32)})
        _write(table, os.path.join(out_dir, name))
        plan.append((name, rows))
    return plan

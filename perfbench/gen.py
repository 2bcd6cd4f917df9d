"""Seeded input generators for the benchmark workloads.

Every table mirrors the schema and value distributions of the engine's
test tables (the TPC-H-ish star schema, `events`, `documents` and
`embeddings`), so every registered query runs on them unchanged. The
same seed always yields byte-identical parquet files; sizes depend only
on the arguments, never on the seed, so run cost is seed-independent.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the engine's documents corpus ("dup" marks
# planted near-duplicates)
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
DUP = "dup"
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20


def rng_for(seed, stream):
    """Independent, reproducible random stream per (seed, table)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _texts(rng, n_words):
    words = np.array(VOCAB)
    picks = rng.integers(0, len(VOCAB), int(n_words.sum()))
    out, pos = [], 0
    for k in n_words:
        out.append(" ".join(words[picks[pos:pos + k]]))
        pos += k
    return out


def documents(seed, n, min_words, max_words, dup_frac=0.05, stream="documents"):
    """`documents` table: bags of words, `min_words..max_words` long;
    `dup_frac` of the rows copy an earlier document and append "dup"."""
    rng = rng_for(seed, stream)
    texts = _texts(rng, rng.integers(min_words, max_words + 1, n))
    n_dup = int(n * dup_frac)
    for i in rng.choice(np.arange(n // 2, n), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " " + DUP
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def questions(seed, n):
    """Seeded bags of 2-6 vocabulary tokens (repeats are rare)."""
    rng = rng_for(seed, "questions")
    return _texts(rng, rng.integers(2, 7, n))


def _ts(days_from, days_span, n, rng, whole_days=True):
    base = np.datetime64(days_from, "us")
    if whole_days:
        off = rng.integers(0, days_span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days_span * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def catalog_tables(seed, sf):
    """The TPC-H-ish star schema plus `events`, `documents` and
    `embeddings` at scale factor `sf` (row counts as the test tables)."""
    r = lambda name: rng_for(seed, name)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev = int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r("customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[g.integers(0, 5, n_cust)]})
    g = r("supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    g = r("part")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "),
                              noun[g.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    g = r("orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2400, n_ord, g),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[g.integers(0, 5, n_ord)]})
    g = r("lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_li),
        "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li),
        "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 105000, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2500, n_li, g)})
    g = r("events")
    ts = np.sort(_ts("2024-01-01", 30, n_ev, g, whole_days=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": g.integers(0, max(150, n_cust // 10), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[g.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(g.exponential(50, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    n_docs = max(500, int(50_000 * sf))
    t["documents"] = documents(seed, n_docs, 10, 100)
    n_emb = max(500, int(20_000 * sf))
    g = r("embeddings")
    centers = g.normal(0, 1, (10, 64))
    label = g.integers(0, 10, n_emb)
    v = centers[label] + g.normal(0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return t


def write_tables(tables, out_dir):
    """One single-row-group snappy parquet file per table, as the test
    tables ship."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows), compression="snappy")

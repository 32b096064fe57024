"""Deterministic fixture generator for the graft benchmark.

Writes the ten tables the driver queries read (`region` ... `embeddings`)
as one parquet file each, with the schemas and value shapes of the
project's reference fixtures (FIXTURES.md): a TPC-H-like star schema,
an `events` stream with JSON props, word-soup `documents` of which 5%
are near-duplicates (a copy of an earlier document plus the word `dup`),
and unit-norm 64-dim `embeddings`.

The content depends only on the scale factor: the generator seed is
fixed, so every run at one scale reads byte-identical inputs and the
workload seed only permutes what the benchmark does with them.

Also builds the per-seed `crawl_ingest` inputs (`make_crawl`): a history
slice of a `documents` table (`ensure_documents` writes that table alone,
at a larger scale than the fixtures) and K batches of new documents plus
re-crawls of earlier ones under fresh ids.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.15, 0.4, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _rng(table):
    return np.random.default_rng([GENERATOR_SEED, sum(map(ord, table))])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _word_soup(rng, n_docs):
    texts = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    return texts


def _documents(out, n_docs):
    r = _rng("documents")
    texts = _word_soup(r, n_docs)
    for i in range(1, n_docs):
        if r.random() < 0.05:
            texts[i] = texts[int(r.integers(0, i))].removesuffix(" dup") + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(range(n_docs)),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts])})


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n_supp = max(10, int(round(10_000 * sf)))
    n_cust = max(150, int(round(150_000 * sf)))
    n_part = max(200, int(round(200_000 * sf)))
    n_ord = max(1_500, int(round(1_500_000 * sf)))
    n_line = max(6_000, int(round(6_000_000 * sf)))
    n_ev = max(1_000, int(round(1_000_000 * sf)))
    n_users = max(15, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))

    i32 = lambda xs: pa.array(xs, pa.int32())
    i64 = lambda xs: pa.array(xs, pa.int64())

    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})

    r = _rng("supplier")
    _write(out, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(r.integers(0, 25, n_supp)),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng("customer")
    _write(out, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(r.integers(0, 25, n_cust)),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})

    r = _rng("part")
    _write(out, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": i32(r.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    r = _rng("orders")
    _write(out, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})

    r = _rng("lineitem")
    _write(out, "lineitem", {
        "l_orderkey": i64(r.integers(0, n_ord, n_line)),
        "l_partkey": i64(r.integers(0, n_part, n_line)),
        "l_suppkey": i64(r.integers(0, n_supp, n_line)),
        "l_linenumber": i32(r.integers(1, 8, n_line)),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", 2498, n_line)})

    r = _rng("events")
    micros = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out, "events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(r.integers(0, n_users, n_ev)),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)]})

    _documents(out, n_docs)

    r = _rng("embeddings")
    v = r.standard_normal((n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": i32(r.integers(0, 10, n_emb))})


def ensure(root, sf):
    """Generates the fixtures for `sf` under `root` once; returns the dir."""
    out = os.path.join(root, f"sf{sf}-v{VERSION}")
    stamp = os.path.join(out, "_COMPLETE")
    if not os.path.exists(stamp):
        generate(out, sf)
        open(stamp, "w").close()
    return out


def ensure_documents(root, sf):
    """Generates only the `documents` table for `sf` under `root` once;
    returns the dir."""
    out = os.path.join(root, f"documents-sf{sf}-v{VERSION}")
    stamp = os.path.join(out, "_COMPLETE")
    if not os.path.exists(stamp):
        os.makedirs(out, exist_ok=True)
        _documents(out, max(500, int(round(50_000 * sf))))
        open(stamp, "w").close()
    return out


def make_crawl(docs_dir, out, seed, history, batches, new_per_batch,
               recrawl_per_batch):
    """Writes `history.parquet` and `batch_NN.parquet` under `out`.

    The seed permutes `documents` and so picks which documents form the
    history and which arrive in each batch. Every batch also re-crawls
    earlier documents (history or earlier batches) under fresh ids, with
    one word dropped, so the index has near-duplicates to reject.
    Returns the list of batch names."""
    docs = pq.read_table(os.path.join(docs_dir, "documents.parquet"))
    rows = docs.to_pylist()
    rng = np.random.default_rng([seed, 7])
    order = rng.permutation(len(rows))
    need = history + batches * new_per_batch
    assert need <= len(rows), "crawl sizes exceed the documents table"
    os.makedirs(out, exist_ok=True)
    schema = docs.schema

    def write(name, part):
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(out, f"{name}.parquet"))

    seen = [rows[i] for i in order[:history]]
    write("history", seen)
    next_id = max(r["doc_id"] for r in rows) + 1
    names = []
    for b in range(batches):
        lo = history + b * new_per_batch
        fresh = [rows[i] for i in order[lo:lo + new_per_batch]]
        recrawl = []
        for j in rng.choice(len(seen), recrawl_per_batch, replace=False):
            words = seen[j]["text"].split(" ")
            words.pop(int(rng.integers(0, len(words))))
            text = " ".join(words)
            recrawl.append(dict(seen[j], doc_id=next_id, text=text,
                                n_chars=len(text)))
            next_id += 1
        batch = sorted(fresh + recrawl, key=lambda r: r["doc_id"])
        name = f"batch_{b + 1:02d}"
        write(name, batch)
        names.append(name)
        seen.extend(fresh)
    return names

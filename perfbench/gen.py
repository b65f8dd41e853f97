#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the tables the library reads (the TESTDATA.md schema: region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) plus the benchmark's own side tables, all derived from one
integer seed:

  - documents: a corpus with exact duplicates (case / whitespace
    variants) and planted near-duplicate families (token substitutions
    of a source doc, chained up to three deep). Family membership goes
    to `planted_docs.parquet` so the output checks can use it.
  - embeddings: unit vectors around ten seeded cluster centres.
  - stream.parquet: the micro-batches of stream_ingest. Each batch holds
    fresh items, planted near-dups of earlier items (`planted_of`), and a
    few items carrying the batch's marker term for the read-after-write
    query.
  - ops.json: the seeded read sequence (op kinds in READ_PATTERN order,
    query vector ids, query terms, SQL op picks), the stream markers and
    the input sizes.

The same seed gives byte-identical files; `digests()` returns their
SHA-256 so a run can record what it measured.

Usage: python3 perfbench/gen.py --seed N --out DIR
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes (recorded in ops.json and in every result file)
N_DOCS = 3000
N_VEC = 2000
DIM = 64
N_EVENTS = 20000
N_CUST, N_SUPP, N_PART, N_ORDERS, N_LINES = 1500, 100, 2000, 15000, 60000
STREAM_BATCHES = 40
STREAM_BATCH = 100
VOCAB = 400
STREAM_VOCAB = 4000
STREAM_ID0 = 1_000_000_000

LANGS = ["en", "zh", "es", "fr", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
P_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# the reads that follow each ingested batch, in this order: fixed shares
# of IVF, PQ and ranked-text searches, relational SQL and as-of joins
READ_PATTERN = ["ivf", "sql", "text", "pq", "asof"]


def words(rng, n, lo=3, hi=9):
    letters = np.array(list("abcdefghijklmnoprstuvwy"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if w not in seen and w not in ("the", "a"):
            seen.add(w)
            out.append(w)
    return out


def mutate(rng, toks, vocab, k):
    toks = list(toks)
    for i in rng.choice(len(toks), size=k, replace=False):
        toks[i] = vocab[rng.integers(len(vocab))]
    return toks


def sentence(rng, vocab, n):
    # mild Zipf: the top word is ~3% of tokens, so no 3-shingle turns
    # viral (document frequency past the dedup cap)
    p = 1.0 / (np.arange(len(vocab)) + 10.0)
    toks = [vocab[i] for i in rng.choice(len(vocab), n, p=p / p.sum())]
    # stopwords stay well below the pipeline's 12% quality bar
    for i in np.flatnonzero(rng.random(n) < 0.04):
        toks[i] = "the" if rng.random() < 0.5 else "a"
    return toks


def gen_documents(rng):
    vocab = words(rng, VOCAB)
    texts, family = [], []  # family: (doc_id, family_id, depth)
    fam = 0
    while len(texts) < N_DOCS:
        r = rng.random()
        if r < 0.06 and texts:  # planted near-dup family of 2-3 docs
            base = sentence(rng, vocab, int(rng.integers(40, 90)))
            texts.append(" ".join(base))
            family.append((len(texts) - 1, fam, 0))
            cur = base
            for depth in range(1, int(rng.integers(2, 4))):
                cur = mutate(rng, cur, vocab, 1)
                texts.append(" ".join(cur))
                family.append((len(texts) - 1, fam, depth))
            fam += 1
        elif r < 0.08 and texts:  # exact dup after normalization
            src = texts[int(rng.integers(len(texts)))]
            texts.append("  " + src.upper() + " ")
        else:
            texts.append(" ".join(
                sentence(rng, vocab, int(rng.integers(10, 100)))))
    texts = texts[:N_DOCS]
    family = [f for f in family if f[0] < N_DOCS]
    ids = np.arange(N_DOCS, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    planted = pa.table({
        "doc_id": np.array([f[0] for f in family], dtype=np.int64),
        "family": np.array([f[1] for f in family], dtype=np.int64),
        "depth": np.array([f[2] for f in family], dtype=np.int32),
    })
    return docs, planted, vocab


def gen_embeddings(rng):
    centres = rng.normal(size=(10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, N_VEC)
    v = centres[label] + 0.6 * rng.normal(size=(N_VEC, DIM)) / np.sqrt(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    emb = pa.array(list(v), type=pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(N_VEC, dtype=np.int64),
                     "embedding": emb, "label": label.astype(np.int32)})


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def ts_range(rng, start, days, n):
    t0 = np.datetime64(start, "us")
    off = rng.integers(0, days * 86400 * 1_000_000, n)
    return t0 + off.astype("timedelta64[us]")


def gen_relational(rng):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": money(rng, -999, 9999, N_CUST),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUST)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": money(rng, -999, 9999, N_SUPP)})
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 2)})
    odate = ts_range(rng, "1995-01-01", 2400, N_ORDERS).astype("datetime64[D]")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    lorder = np.sort(rng.integers(0, N_ORDERS, N_LINES))
    linenum = np.zeros(N_LINES, dtype=np.int32)
    for i in range(1, N_LINES):
        linenum[i] = linenum[i - 1] + 1 if lorder[i] == lorder[i - 1] else 0
    ship = odate[lorder] + rng.integers(1, 122, N_LINES).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": lorder.astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINES).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINES).astype(np.int64),
        "l_linenumber": linenum + 1,
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": money(rng, 900, 100000, N_LINES),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINES)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINES)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    ts = np.sort(ts_range(rng, "2024-01-01", 30, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 500, N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": money(rng, 0, 100, N_EVENTS),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)]})
    return t


def gen_stream(rng):
    vocab = words(rng, STREAM_VOCAB, 4, 10)
    batch, ids, texts, planted_of = [], [], [], []
    markers = []
    nid = STREAM_ID0
    for b in range(STREAM_BATCHES):
        marker = f"zq{b}m{int(rng.integers(1 << 30))}"
        markers.append(marker)
        for j in range(STREAM_BATCH):
            toks = None
            src = -1
            if ids and rng.random() < 0.02:
                k = int(rng.integers(len(ids)))
                src = ids[k]
                toks = mutate(rng, texts[k].split(" "), vocab, 1)
            else:
                toks = [vocab[i] for i in rng.integers(0, len(vocab),
                                                      int(rng.integers(60, 100)))]
            if j < 5:
                toks[int(rng.integers(len(toks)))] = marker
                src = -1  # the marker makes it a fresh doc, not a copy
            batch.append(b)
            ids.append(nid)
            texts.append(" ".join(toks))
            planted_of.append(src)
            nid += 1
    tbl = pa.table({
        "batch_id": np.array(batch, dtype=np.int32),
        "item_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "planted_of": np.array(planted_of, dtype=np.int64)})
    return tbl, markers


def gen_ops(rng, doc_vocab):
    ops = []
    for j in range(STREAM_BATCHES * len(READ_PATTERN)):
        kind = READ_PATTERN[j % len(READ_PATTERN)]
        if kind in ("ivf", "pq"):
            ops.append({"kind": kind, "ids": sorted(
                int(i) for i in rng.choice(N_VEC, 8, replace=False))})
        elif kind == "text":
            n = int(rng.integers(2, 4))
            # mid-frequency terms: present in many docs, never all
            ops.append({"kind": kind, "terms": [
                doc_vocab[int(i)] for i in rng.integers(5, 120, n)]})
        else:
            ops.append({"kind": kind, "slot": int(rng.integers(1 << 30))})
    return ops


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    ss = np.random.SeedSequence(seed)
    r_docs, r_emb, r_rel, r_stream, r_ops = [
        np.random.default_rng(s) for s in ss.spawn(5)]
    docs, planted, doc_vocab = gen_documents(r_docs)
    tables = {"documents": docs, "planted_docs": planted,
              "embeddings": gen_embeddings(r_emb)}
    tables.update(gen_relational(r_rel))
    stream, markers = gen_stream(r_stream)
    tables["stream"] = stream
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    sizes = {name: tbl.num_rows for name, tbl in tables.items()}
    meta = {"seed": seed, "sizes": sizes, "markers": markers,
            "stream_batch": STREAM_BATCH,
            "reads_per_batch": len(READ_PATTERN),
            "ops": gen_ops(r_ops, doc_vocab)}
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def digests(out):
    """SHA-256 of every generated file, by file name."""
    res = {}
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as f:
            res[name] = hashlib.sha256(f.read()).hexdigest()
    return res


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
    print(json.dumps(digests(a.out), indent=1))

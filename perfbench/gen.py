"""Seeded input generator for the three benchmark workloads.

Everything graft reads in a run comes from here: the same seed gives
byte-identical parquet files, another seed gives other inputs. The
shapes follow the sf0.1 TPC-H-like tables (15k customers, 150k orders,
documents of ~60 words) so timings stay comparable with the repo's
other sf0.1 figures.

- pipeline_batch: `customer.parquet`, a bootstrap slice of orders in
  `landing/`, and seed-sized later slices in `pending/` that the harness
  moves into `landing/` one per execution (the HWM node's new data);
  plus a small corpus, `documents.parquet` (100 base documents x 5), for
  the curation branch every execution also runs.
- corpus_curation: `documents.parquet`, 500 base documents copied 10
  times (5k documents, the sf0.1 count).
  In both corpora each copy is kept exact, perturbed by two word swaps
  (a near duplicate) or rewritten, with seed-set rates, and every
  document carries a 16-dimensional embedding (`vec`): a copy keeps its
  original's, a near duplicate a slightly perturbed one.
- lakehouse_cdc: `orders_base.parquet` and `batches/batch-NNNNN.parquet`
  change batches (`_op` = U update, I insert, D delete) whose keys are
  always live when the batch applies.
"""

import json
import os
import random
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_ORDERS = 150_000
BOOTSTRAP_ORDERS = 20_000
N_SLICES = 8
N_BASE_DOCS = 500
COPIES = 10
SMALL_BASE_DOCS = 100  # pipeline_batch's curation branch
SMALL_COPIES = 5
EMBED_DIM = 16
N_BATCHES = 12
DOC_WORDS = 60
STOPWORDS = ["of", "to", "in", "is", "it", "on", "as", "at", "by", "be"]
LANGS = ["en", "de", "fr", "es", "zh"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH_US = 694_224_000_000_000  # 1992-01-01T00:00:00Z
ORDER_STEP_US = 1_400_000_000   # 1400 s between consecutive order keys


def _write(table, path, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=row_group_size)


def orders_table(rng, keys, bad_rate=0.0):
    """Orders for `keys`; `bad_rate` of them get a negative price."""
    n = len(keys)
    price = np.round(rng.uniform(900.0, 500_000.0, n), 2)
    if bad_rate:
        price = np.where(rng.random(n) < bad_rate, -price, price)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, n), pa.int64()),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(price, pa.float64()),
        "o_orderdate": pa.array(EPOCH_US + keys * ORDER_STEP_US,
                                pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)], pa.string()),
    })


def gen_pipeline_batch(rng, out):
    null_rate = rng.uniform(0.002, 0.01)
    seg = [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMERS)]
    seg = [None if r < null_rate else s for s, r in zip(seg, rng.random(N_CUSTOMERS))]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, N_CUSTOMERS + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(seg, pa.string()),
    }), f"{out}/customer.parquet")
    bad_rate = rng.uniform(0.001, 0.005)
    keys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    orders = orders_table(rng, keys, bad_rate)
    _write(orders.slice(0, BOOTSTRAP_ORDERS), f"{out}/landing/slice-00000.parquet")
    start = BOOTSTRAP_ORDERS
    sizes = rng.integers(1000, 1251, N_SLICES)
    for i, size in enumerate(sizes, start=1):
        _write(orders.slice(start, int(size)), f"{out}/pending/slice-{i:05d}.parquet")
        start += int(size)
    corpus = gen_corpus(int(rng.integers(1 << 31)), out, SMALL_BASE_DOCS, SMALL_COPIES)
    return {"slices": N_SLICES, "bad_order_rate": bad_rate, "null_segment_rate": null_rate,
            "corpus": corpus}


def _vocab(rnd, n=30_000):
    words = set()
    while len(words) < n:
        words.add("".join(rnd.choices(string.ascii_lowercase, k=rnd.randint(3, 7))))
    return sorted(words)


def _fresh_doc(rnd, vocab):
    words = rnd.choices(vocab, k=DOC_WORDS)
    for _ in range(3):
        words.insert(rnd.randrange(len(words)), rnd.choice(STOPWORDS))
    if rnd.random() < 0.05:  # too short for the Gopher word-count rule
        words = words[:6]
    if rnd.random() < 0.03:  # something for the PII scrubber
        words.insert(rnd.randrange(len(words)), f"user{rnd.randrange(10**6)}@mail.example.com")
    return words


def _embedding(nrng):
    v = nrng.normal(size=EMBED_DIM)
    return v / np.linalg.norm(v)


def gen_corpus(seed, out, n_base, copies):
    """`documents.parquet`: `n_base` documents copied `copies` times, in
    ten row groups, like a crawl drop of ten files."""
    rnd = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = _vocab(rnd)
    exact_rate = rnd.uniform(0.05, 0.15)
    near_rate = rnd.uniform(0.15, 0.30)
    ids, texts, langs, sources, vecs = [], [], [], [], []
    base = [(_fresh_doc(rnd, vocab), _embedding(nrng)) for _ in range(n_base)]
    for copy in range(copies):
        for d, (words, vec) in enumerate(base):
            u = rnd.random()
            if copy == 0 or u < exact_rate:
                w, v = words, vec
            elif u < exact_rate + near_rate:
                w = list(words)
                for _ in range(2):
                    w[rnd.randrange(len(w))] = rnd.choice(vocab)
                v = vec + nrng.normal(scale=0.05, size=EMBED_DIM)
            else:
                w, v = _fresh_doc(rnd, vocab), _embedding(nrng)
            ids.append(copy * n_base + d)
            texts.append(" ".join(w))
            langs.append(LANGS[d % len(LANGS)])
            sources.append(f"src{(d * 7 + copy) % 13}")
            vecs.append(v.astype(np.float32).tolist())
    order = list(range(len(ids)))
    rnd.shuffle(order)  # copies must not sit next to their originals
    _write(pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array([sources[i] for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        "vec": pa.array([vecs[i] for i in order], pa.list_(pa.float32())),
    }), f"{out}/documents.parquet", row_group_size=len(ids) // 10)
    return {"docs": len(ids), "exact_rate": exact_rate, "near_rate": near_rate}


def gen_lakehouse_cdc(rng, out):
    keys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    _write(orders_table(rng, keys), f"{out}/orders_base.parquet")
    # every base key is deleted at most once: key k dies in batch
    # death[k] (or never), and is only updated while still live
    death = np.where(rng.random(N_ORDERS) < 0.001 * N_BATCHES,
                     rng.integers(0, N_BATCHES, N_ORDERS), N_BATCHES)
    next_key = 10_000_001
    for b in range(N_BATCHES):
        deleted = keys[death == b]
        live = keys[death > b]
        updated = np.sort(rng.choice(live, int(len(live) * 0.01), replace=False))
        inserted = np.arange(next_key, next_key + int(rng.integers(300, 700)), dtype=np.int64)
        next_key += len(inserted)
        parts = [orders_table(rng, k).append_column("_op", pa.array([op] * len(k), pa.string()))
                 for k, op in ((updated, "U"), (inserted, "I"), (deleted, "D"))]
        _write(pa.concat_tables(parts), f"{out}/batches/batch-{b:05d}.parquet")
    return {"batches": N_BATCHES}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out` (replaced)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, 7919])
    if workload == "pipeline_batch":
        info = gen_pipeline_batch(rng, out)
    elif workload == "corpus_curation":
        info = gen_corpus(seed, out, N_BASE_DOCS, COPIES)
    elif workload == "lakehouse_cdc":
        info = gen_lakehouse_cdc(rng, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/gen.json", "w") as f:
        json.dump(info, f)
    return info

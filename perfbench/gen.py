"""Seeded input generator for the benchmark workloads.

Every workload's data is a fixed *base* dataset (drawn from BASE_SEED)
that the run's seed then relabels or samples from. So the same seed
gives byte-identical files, and different seeds give the same sizes and
the same per-key count distributions while the keys, the test pairs and
the duplicated documents change.

    recsys   customer/part/orders/lineitem, the star-schema slice that
             `Tables.reviews` joins into (user, business, stars)
    curate   corpus/documents.parquet plus incoming/*.parquet batches,
             built from real documents committed in data/documents.parquet
             (a fixed sample of the sf0.1 documents; docstats.py draws it
             and compares its statistics with the source's)
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Sizes are the same for every seed.
RECSYS = dict(customers=1500, parts=2000, orders=15000, lines_per_order=4)
# The first `docs` sample rows are the base corpus; the rest are the pool
# that novel incoming documents are drawn from. Copies and near-dups are
# planted so that both dedup tiers and the ingest probe have work: the
# source corpus itself has almost none (see README.md).
CURATE = dict(docs=400, exact_copies=40, near_dups=40, batches=4, batch_docs=40)
SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _bijection(rng, n):
    """A seeded permutation of 1..n, as a lookup array indexed by key."""
    perm = np.zeros(n + 1, dtype=np.int64)
    perm[1:] = rng.permutation(n) + 1
    return perm


def gen_recsys(out, seed):
    """Users (customer keys) are relabelled by a seeded bijection; the
    join structure, stars and per-user counts stay those of the base."""
    c = RECSYS
    base = np.random.default_rng(BASE_SEED)
    o_custkey = base.integers(1, c["customers"] + 1, c["orders"])
    n_lines = c["orders"] * c["lines_per_order"]
    l_orderkey = np.repeat(np.arange(1, c["orders"] + 1), c["lines_per_order"])
    l_partkey = base.integers(1, c["parts"] + 1, n_lines)
    l_quantity = base.integers(1, 51, n_lines).astype(np.float64)
    users = _bijection(np.random.default_rng(seed), c["customers"])
    _write(pa.table({"c_custkey": np.arange(1, c["customers"] + 1, dtype=np.int64)}),
           f"{out}/customer.parquet")
    _write(pa.table({"p_partkey": np.arange(1, c["parts"] + 1, dtype=np.int64)}),
           f"{out}/part.parquet")
    _write(pa.table({"o_orderkey": np.arange(1, c["orders"] + 1, dtype=np.int64),
                     "o_custkey": users[o_custkey]}),
           f"{out}/orders.parquet")
    _write(pa.table({"l_orderkey": l_orderkey.astype(np.int64),
                     "l_partkey": l_partkey.astype(np.int64),
                     "l_quantity": l_quantity}),
           f"{out}/lineitem.parquet")
    return n_lines


def _tokens(text):
    return text.split(" ")


def _near_dup(rng, text, vocab):
    """Replace about a tenth of the tokens with other tokens of the
    sample's vocabulary: the md5 changes, most 3-shingles survive."""
    toks = _tokens(text)
    for i in rng.choice(len(toks), size=max(1, len(toks) // 10), replace=False):
        others = [t for t in vocab if t != toks[i]]
        toks[i] = others[rng.integers(len(others))]
    return " ".join(toks)


def gen_curate(out, seed):
    """Corpus = the sample's base documents + seeded exact copies +
    seeded near-dups of them. Each incoming batch = novel documents from
    the sample's pool, exact copies and near-dups of corpus documents, in
    fixed proportions."""
    c = CURATE
    sample = pq.read_table(SAMPLE)
    base, pool = sample.slice(0, c["docs"]), sample["text"].to_pylist()[c["docs"]:]
    vocab = sorted({t for text in base["text"].to_pylist() for t in _tokens(text)})
    rng = np.random.default_rng(seed)
    texts, langs, sources = (base[k].to_pylist() for k in ("text", "lang", "source"))
    for i in rng.choice(c["docs"], c["exact_copies"], replace=False):
        texts.append(texts[i]); langs.append(langs[i]); sources.append(sources[i])
    for i in rng.choice(c["docs"], c["near_dups"], replace=False):
        texts.append(_near_dup(rng, texts[i], vocab)); langs.append(langs[i])
        sources.append(sources[i])
    order = rng.permutation(len(texts))
    corpus = [texts[i] for i in order]
    _write(pa.table({
        "doc_id": np.arange(len(corpus), dtype=np.int64),
        "text": corpus,
        "lang": [langs[i] for i in order],
        "source": [sources[i] for i in order],
        "n_chars": np.array([len(t) for t in corpus], dtype=np.int64),
    }), f"{out}/corpus/documents.parquet")
    rows = len(corpus)
    quarter = c["batch_docs"] // 4
    per_batch = c["batch_docs"] - 2 * quarter
    novel = [pool[i] for i in rng.choice(len(pool), c["batches"] * per_batch, replace=False)]
    next_id = 1_000_000
    for b in range(c["batches"]):
        batch = novel[b * per_batch:(b + 1) * per_batch]
        batch += [corpus[i] for i in rng.choice(len(corpus), quarter, replace=False)]
        batch += [_near_dup(rng, corpus[i], vocab)
                  for i in rng.choice(len(corpus), quarter, replace=False)]
        _write(pa.table({"doc_id": np.arange(next_id, next_id + len(batch), dtype=np.int64),
                         "text": batch}),
               f"{out}/incoming/batch_{b:02d}.parquet")
        next_id += len(batch)
        rows += len(batch)
    return rows


GENERATORS = {"recsys": gen_recsys, "curate": gen_curate}


def generate(workload, out, seed):
    """Write the workload's inputs under `out`; returns (rows, bytes)."""
    rows = GENERATORS[workload](out, seed)
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(out) for f in files)
    return rows, size

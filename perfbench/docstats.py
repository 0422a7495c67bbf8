"""Statistics of a document corpus that decide what curation costs, and
the sample of real documents the `curate` workload is built from.

    python3 perfbench/docstats.py --source SF_DIR/documents.parquet [--seed N]
    python3 perfbench/docstats.py --source SF_DIR/documents.parquet --extract

Prints, for the source documents, the committed sample
(perfbench/data/documents.parquet) and the corpus gen.py makes for the
seed: tokens per document, distinct tokens, the share of exact copies,
near-duplicate pairs (Jaccard of word 3-shingle sets >= 0.5, exact
copies excluded) and MinHash-LSH candidate pairs with `Curate.run`'s
banding (16 hashes, 2 rows per band), both per million document pairs so
that corpora of different sizes compare. The LSH similarity join costs
what the candidate pairs make it. --extract (re)writes the
sample: SAMPLE_DOCS rows drawn from the source with gen.BASE_SEED.
"""

import argparse
import collections
import hashlib
import os
import re
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

SAMPLE_DOCS = 560
SHINGLE_N, HASHES, ROWS_PER_BAND, MIN_JACCARD = 3, 16, 2, 0.5


def shingles(text, n=SHINGLE_N):
    toks = re.sub("[^a-z0-9]+", " ", text.lower()).split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_dup_pairs(sets):
    """Pairs (i, j) of distinct, non-identical shingle sets with Jaccard
    >= MIN_JACCARD, counted through an inverted shingle index."""
    postings = collections.defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            postings[sh].append(i)
    inter = collections.Counter()
    for docs in postings.values():
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                inter[docs[a], docs[b]] += 1
    return sum(1 for (i, j), k in inter.items()
               if sets[i] != sets[j] and k / (len(sets[i]) + len(sets[j]) - k) >= MIN_JACCARD)


def lsh_candidates(sets, seed=0):
    """Distinct document pairs that share at least one LSH band."""
    ids = {}
    docs = [np.array([ids.setdefault(sh, len(ids)) for sh in sorted(s)],
                     dtype=np.int64) for s in sets]
    h = np.random.default_rng(seed).integers(0, 2**62, size=(HASHES, max(1, len(ids))))
    sigs = np.array([h[:, d].min(axis=1) if len(d) else np.full(HASHES, -1) for d in docs])
    pairs = set()
    for b in range(HASHES // ROWS_PER_BAND):
        buckets = collections.defaultdict(list)
        band = sigs[:, b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
        for i, key in enumerate(map(tuple, band)):
            buckets[key].append(i)
        for members in buckets.values():
            pairs.update((members[x], members[y]) for x in range(len(members))
                         for y in range(x + 1, len(members)))
    return len(pairs)


def describe(texts):
    lengths = [len(re.sub("[^a-z0-9]+", " ", t.lower()).split()) for t in texts]
    q1, med, q3 = np.percentile(lengths, [25, 50, 75])
    vocab = {w for t in texts for w in re.sub("[^a-z0-9]+", " ", t.lower()).split()}
    md5 = {hashlib.md5(t.encode()).hexdigest() for t in texts}
    sets = [shingles(t) for t in texts]
    n = len(texts)
    per_million = 1e6 / (n * (n - 1) / 2)
    return {"docs": n, "tokens_q1": q1, "tokens_median": med, "tokens_q3": q3,
            "distinct_tokens": len(vocab), "exact_copy_share": (n - len(md5)) / n,
            "near_dup_pairs_per_1e6": near_dup_pairs(sets) * per_million,
            "lsh_candidates_per_1e6": lsh_candidates(sets) * per_million}


def extract(source):
    table = pq.read_table(source)
    rows = np.sort(np.random.default_rng(gen.BASE_SEED).choice(
        table.num_rows, SAMPLE_DOCS, replace=False))
    os.makedirs(os.path.dirname(gen.SAMPLE), exist_ok=True)
    pq.write_table(table.take(rows), gen.SAMPLE, compression="zstd")
    print(f"wrote {SAMPLE_DOCS} of {table.num_rows} documents to {gen.SAMPLE}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--source", required=True, help="a documents.parquet to compare with")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--extract", action="store_true")
    args = ap.parse_args()
    if args.extract:
        extract(args.source)
        return
    sample = pq.read_table(gen.SAMPLE)["text"].to_pylist()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        gen.generate("curate", d, args.seed)
        corpus = pq.read_table(f"{d}/corpus/documents.parquet")["text"].to_pylist()
        incoming = pq.read_table(f"{d}/incoming")["text"].to_pylist()
    sets = {
        "source": pq.read_table(args.source)["text"].to_pylist(),
        "sample (base corpus)": sample[:gen.CURATE["docs"]],
        f"generated corpus, seed {args.seed}": corpus,
        f"generated corpus + incoming, seed {args.seed}": corpus + incoming,
    }
    rows = {name: describe(texts) for name, texts in sets.items()}
    cols = list(next(iter(rows.values())))
    print("| corpus | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for name, r in rows.items():
        print(f"| {name} | " + " | ".join(f"{r[c]:.4g}" for c in cols) + " |")


if __name__ == "__main__":
    main()

"""Derive a larger `documents` corpus for scaling runs (SCALING.md).

/root/testdata tops out at sf0.1 (5,000 documents) and is read-only,
so the sf1-scale validation corpus is DERIVED: `scale` x 10,000
documents sampled from the sf0.1 corpus's own empirical distributions
— unigram word frequencies and document word-lengths — with a fixed
numpy seed. This reproduces the word-soup generator's statistical
shape (vocabulary, Zipf weights, length profile) without replicating
texts verbatim, which matters because verbatim replicas would plant
artificial near-duplicate clusters and corrupt exactly the pair-join
selectivity the scaling run is supposed to measure.

Near-duplicate structure is planted, matching the measured sf0.1
graph (256 trigram-Jaccard>=0.5 pairs over 5,000 docs): DUP_FRAC of
the documents get one mutated twin (5% of words resampled — trigram
Jaccard ~0.7, comfortably over the 0.5 threshold), so the pair join
and connected-components families keep a non-degenerate, same-density
workload at 10x scale instead of the zero-pair graph independent
resampling would produce.

Output: {out_dir}/documents.parquet with the sf0.1 schema
(doc_id, text, lang, source, n_chars). Used ONLY for performance
scaling measurements — correctness oracles stay on the driver-provided
/root/testdata parquet, untouched.

Usage: python tools/make_scaled_docs.py [out_dir] [n_docs]
       (defaults: <repo>/.scratch/sf1x 50000)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/documents.parquet"
SEED = 42
# derived corpora go to the repo's git-ignored .scratch/
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
DUP_FRAC = 0.025  # fraction of base docs that get one mutated twin
MUTATE_P = 0.05  # per-word resample probability in the twin


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf1x")
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    rng = np.random.default_rng(SEED)

    src = pq.read_table(SRC).to_pandas()
    words = np.concatenate([t.split() for t in src["text"].str.lower()])
    vocab, counts = np.unique(words, return_counts=True)
    probs = counts / counts.sum()
    lengths = src["text"].str.split().str.len().to_numpy()
    langs = src["lang"].to_numpy()
    sources = src["source"].to_numpy()

    n_twins = int(n_docs * DUP_FRAC / (1 + DUP_FRAC))
    n_base = n_docs - n_twins
    doc_lens = rng.choice(lengths, size=n_base, replace=True)
    total = int(doc_lens.sum())
    flat = rng.choice(vocab, size=total, replace=True, p=probs)
    offsets = np.concatenate([[0], np.cumsum(doc_lens)])
    texts = [
        " ".join(flat[offsets[i] : offsets[i + 1]]) for i in range(n_base)
    ]
    # Mutated twins of the first n_twins base docs: resample MUTATE_P of
    # the words -> trigram Jaccard ~ (1-3p)/(1+3p) ~ 0.7, a planted
    # near-dup pair per twin (same shape the real corpus carries).
    for i in range(n_twins):
        w = np.array(texts[i].split())
        mask = rng.random(len(w)) < MUTATE_P
        w[mask] = rng.choice(vocab, size=int(mask.sum()), replace=True, p=probs)
        texts.append(" ".join(w))
    out = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, size=n_docs, replace=True)),
            "source": pa.array(rng.choice(sources, size=n_docs, replace=True)),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64)
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(out, f"{out_dir}/documents.parquet")
    print(
        f"wrote {n_docs} docs ({n_twins} planted near-dup twins, "
        f"{total} base tokens, vocab {len(vocab)}) "
        f"-> {out_dir}/documents.parquet"
    )


if __name__ == "__main__":
    main()

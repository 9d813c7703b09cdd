"""Derive a larger `embeddings` corpus for scaling runs (SCALING.md),
same discipline as make_scaled_docs.py: /root/testdata tops out at
sf0.1 (2,000 x 64-dim unit vectors in 10 label clusters) and is
read-only, so the 10x validation corpus is DERIVED from the source's
own empirical cluster geometry — per-label mean + per-dimension std
(diagonal Gaussian fit), sampled with a fixed seed and re-normalized —
rather than replicated verbatim. Verbatim replication would plant
cos=1.0 duplicates everywhere and corrupt exactly the near-dup/ANN
selectivity the scaling run measures; independent uniform noise would
dissolve the clusters IVF's quantizer trains on.

Near-duplicate structure is planted explicitly, mirroring the doc
corpus's mutated twins: DUP_FRAC of the vectors get one
small-perturbation twin (cos ~ 0.95 after renormalization), so the
embedding near-dup family keeps a same-shaped workload at 10x.

Output: {out_dir}/embeddings.parquet with the sf0.1 schema
(vec_id, embedding list<float>, label int32). Performance runs only —
correctness oracles stay on /root/testdata.

Usage: python tools/make_scaled_embeddings.py [out_dir] [n_vecs]
       (defaults: <repo>/.scratch/sf1x 20000)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/embeddings.parquet"
SEED = 42
# derived corpora go to the repo's git-ignored .scratch/
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
DUP_FRAC = 0.025  # fraction of base vectors that get one twin
TWIN_SIGMA = 0.04  # per-dim twin noise -> cos ~ 0.95 at 64 dims


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf1x")
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    rng = np.random.default_rng(SEED)

    src = pq.read_table(SRC).to_pandas()
    v = np.vstack(src["embedding"].to_numpy()).astype(np.float64)
    labels = src["label"].to_numpy()
    uniq, counts = np.unique(labels, return_counts=True)
    label_p = counts / counts.sum()

    n_twins = int(n_vecs * DUP_FRAC / (1 + DUP_FRAC))
    n_base = n_vecs - n_twins
    new_labels = rng.choice(uniq, size=n_base, replace=True, p=label_p)
    out = np.empty((n_base, v.shape[1]))
    for lab in uniq:
        mask = new_labels == lab
        cluster = v[labels == lab]
        mu, sd = cluster.mean(axis=0), cluster.std(axis=0)
        out[mask] = mu + sd * rng.standard_normal((int(mask.sum()), v.shape[1]))
    out /= np.linalg.norm(out, axis=1, keepdims=True)

    twins = out[:n_twins] + TWIN_SIGMA * rng.standard_normal(
        (n_twins, v.shape[1])
    )
    twins /= np.linalg.norm(twins, axis=1, keepdims=True)
    twin_cos = (out[:n_twins] * twins).sum(axis=1)

    vecs = np.vstack([out, twins]).astype(np.float32)
    all_labels = np.concatenate([new_labels, new_labels[:n_twins]])

    # fidelity report: intra-label cosine similarity, source vs derived
    def intra_cos(mat, labs, k=200, seed=0):
        r = np.random.default_rng(seed)
        sims = []
        for lab in uniq:
            c = mat[labs == lab]
            i = r.integers(0, len(c), size=k)
            j = r.integers(0, len(c), size=k)
            keep = i != j
            sims.append((c[i[keep]] * c[j[keep]]).sum(axis=1))
        return float(np.concatenate(sims).mean())

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(all_labels.astype(np.int32)),
        }
    )
    pq.write_table(table, f"{out_dir}/embeddings.parquet")
    print(
        f"wrote {n_vecs} vecs ({n_twins} planted twins, "
        f"twin cos mean {twin_cos.mean():.3f}) -> {out_dir}/embeddings.parquet\n"
        f"intra-label cos: source {intra_cos(v / np.linalg.norm(v, axis=1, keepdims=True), labels):.3f}, "
        f"derived {intra_cos(vecs.astype(np.float64), all_labels):.3f}"
    )


if __name__ == "__main__":
    main()

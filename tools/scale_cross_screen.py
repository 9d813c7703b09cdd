"""Scale the CORPUS side of the incremental embedding screen
(SCALING.md r7): hold the delta fixed (the sf0.1 `vec_id % 10 == 0`
slice, 200 vectors) and screen it against a corpus that grows 2k ->
20k (the derived 10x corpus from tools/make_scaled_embeddings.py) —
the regime X20d exists for, where the corpus matrix would eventually
stop fitting a driver. Times three paths per corpus with bench.py's
timer (noop sink), min of 2:

- cross_near_dup_pairs_np      (exact BLAS twin; corpus collected)
- cross_near_dup_pairs_banded  (SRP-banded; corpus stays distributed)
- banded with num_planes="auto" (width derived from a corpus count)

plus the self-join `embedding_near_dup_pairs` at the scaled corpus
with num_planes="auto" (the r6 finding-4 law made API).

Usage: python tools/scale_cross_screen.py [scaled_dir]
       (default <repo>/.scratch/emb10x; generated if missing)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from bench import timed
from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table
from data_pipeline_bigquery_to_sftp_server_spark.operators import similarity
from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
SCRATCH = os.path.join(REPO, ".scratch")


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "emb10x")
    if not os.path.exists(os.path.join(scaled, "embeddings.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "make_scaled_embeddings.py"), scaled],
            check=True,
        )
    spark = get_spark(app_name="scale_cross_screen")

    def min2(name, build) -> float:
        return min(timed(spark, name, build)["wall_s"] for _ in range(2))

    delta = load_table(spark, SRC, "embeddings").where(F.col("vec_id") % 10 == 0)
    out: dict[str, dict[str, float]] = {}
    for tag, cdir in (("sf0.1", SRC), ("10x", scaled)):
        corpus = load_table(spark, cdir, "embeddings")
        n = corpus.count()
        row = {
            "corpus_rows": n,
            "exact_np": min2(
                "exact_np",
                lambda: similarity.cross_near_dup_pairs_np(delta, corpus, threshold=0.35)
            ),
            "banded_16": min2(
                "banded_16",
                lambda: similarity.cross_near_dup_pairs_banded(
                    delta, corpus, threshold=0.35, dim=64, num_planes=16, bands=8
                )
            ),
            "banded_auto": min2(
                "banded_auto",
                lambda: similarity.cross_near_dup_pairs_banded(
                    delta, corpus, threshold=0.35, dim=64, num_planes="auto", bands=8
                )
            ),
            "auto_planes": similarity.auto_srp_num_planes(n, 8),
        }
        out[tag] = row
    e10 = load_table(spark, scaled, "embeddings")
    out["self_join_auto_10x"] = {
        "seconds": min2(
            "self_join_auto_10x",
            lambda: similarity.embedding_near_dup_pairs(
                e10, threshold=0.35, dim=64, num_planes="auto"
            )
        ),
        "auto_planes": similarity.auto_srp_num_planes(e10.count(), 4),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one (and its output check) is done.

A workload has ``setup(rep)`` (generation plus any base-table build,
timed and repeated by the runner), ``prepare()`` (the reference models,
untimed), and ``round(i, tracer)``, which runs a fixed mix of timed
operations, checks each output against the models in ``models.py``, and
returns the ``Op`` records. Only the calls into the engine are timed;
read-backs and checks are not.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import gen
import models
import pandas as pd
from pyspark.sql import functions as F
from spans import Tracer

from data_pipeline_bigquery_to_sftp_server_spark import cache, pipeline
from data_pipeline_bigquery_to_sftp_server_spark.functions import text
from data_pipeline_bigquery_to_sftp_server_spark.operators import dedup, merge, pq, relational, similarity
from data_pipeline_bigquery_to_sftp_server_spark.sources import rest


@dataclass
class Op:
    name: str
    seconds: float
    errors: list[str] = field(default_factory=list)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, by walking it."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Timer:
    """Accumulates the seconds spent inside ``with timer:`` blocks."""

    def __init__(self):
        self.seconds = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.seconds += time.perf_counter() - self._t0


def version_agg_cols():
    """The Spark form of ``models.version_agg``."""
    return F.count("*"), F.countDistinct("_id"), F.sum(F.length("subject")), F.max("updatedDatetime")


class TicketSync:
    """The reference's sync run against a versioned ticket table, with
    interactive readers between syncs. A round is one sync (read the
    latest version and split new/existing keys, scan the paginated API,
    fetch details, transform, MOR-upsert with ``upsert_versioned_dv``)
    followed by reads of the table it left: Bloom-pruned point reads of a
    base key, a key the sync inserted, a superseded key and an absent key,
    a time-travel aggregate at an older version, and the table history. Commits accumulate over the rounds of one run, so the
    reads cross a growing history of generations and deletion vectors;
    every run starts from the same freshly built base table."""

    unit = "tickets"
    base_rows = 5_000
    batch = 2_000  # 20 pages x 100, the reference's id cap
    update_share = 0.7
    buckets = 4
    bloom_bits = 1 << 16  # per (bucket, generation) bitmap of the _id point index
    round_s = 12.0  # nominal seconds per round on a 4-core host
    units_per_round = batch

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.dirs_read = self.dirs_total = 0
        self.table_bytes_per_row = 0.0

    def setup(self, rep: int) -> None:
        self.base = gen.base_tickets(self.seed, self.base_rows)
        raw = self.spark.createDataFrame(self.base, pipeline.TICKET_RAW_SCHEMA)
        path = os.path.join(self.work, f"tickets-{rep}")
        merge.versioned_layout_write(
            pipeline.transform_tickets(raw),
            "_id",
            path,
            n_buckets=self.buckets,
            point_cols=("_id",),
            bloom_bits=self.bloom_bits,
        )
        self.path = path

    def prepare(self) -> None:
        self.versions = [models.ticket_model(self.base)]
        self.base_keys = set(self.versions[0])
        self.updated: set[str] = set()

    def round(self, i: int, tracer: Tracer) -> list[Op]:
        return [self._sync(i, tracer)] + self._reads(i, tracer)

    def _sync(self, i: int, tr: Tracer) -> Op:
        spark, path = self.spark, self.path
        batch = gen.sync_batch(self.seed, i, self.base, self.batch, self.update_share)
        files0, bytes0 = dir_stats(path)
        t = Timer()
        with t:
            with tr.span("merge.read_version"):
                target = merge.read_version(spark, path)
            with tr.span("relational.distinct_keys"):
                existing = relational.distinct_keys(target, "_id")
            with tr.span("rest.scan_pages"):
                api_ids = rest.scan_pages(spark, gen.page_fetcher(batch.ids))
            with tr.span("relational.anti_join"):
                n_new = relational.anti_join(api_ids, existing, "_id").count()
            with tr.span("rest.fetch_details"):
                raw = rest.fetch_details(api_ids, batch.details.get, pipeline.TICKET_RAW_SCHEMA)
            with tr.span("pipeline.transform_tickets"):
                staged = pipeline.transform_tickets(raw)
            with tr.span("merge.upsert_versioned_dv"):
                merge.upsert_versioned_dv(spark, path, staged, "_id")
        files1, bytes1 = dir_stats(path)
        tr.add(
            "merge.upsert_versioned_dv",
            files_written=files1 - files0,
            bytes_written_mb=(bytes1 - bytes0) / 2**20,
        )
        # new keys are those absent from the latest version, not from the base
        want_new = sum(k not in self.versions[-1] for k in batch.details)
        self.versions.append(models.apply_batch(self.versions[-1], batch.details))
        self.updated |= batch.details.keys() & self.base_keys
        self.fresh = sorted(batch.details.keys() - self.base_keys)
        rows = [
            tuple(r)
            for r in merge.read_version(spark, path).select("_id", "subject", "updatedDatetime").collect()
        ]
        errors = models.check_table(rows, self.versions[-1])
        if n_new != want_new:
            errors.append(f"new/existing split: {n_new} new, want {want_new}")
        self.table_bytes_per_row = bytes1 / max(len(rows), 1)
        return Op("sync", t.seconds, errors)

    def _reads(self, i: int, tr: Tracer) -> list[Op]:
        spark, path = self.spark, self.path
        rng = random.Random(f"tickets-reads-{self.seed}-{i}")
        latest = self.versions[-1]
        ops = []
        probes = [
            ("base_hit", rng.choice(sorted(self.base_keys - self.updated))),
            ("fresh_hit", rng.choice(self.fresh)),
            ("superseded", rng.choice(sorted(self.updated))),
            ("absent", gen.absent_key(rng, latest)),
        ]
        for kind, key in probes:
            t = Timer()
            with t, tr.span("merge.read_version_point"):
                df = merge.read_version_point(spark, path, "_id", key)
                rows = df.select("_id", "subject", "updatedDatetime").collect()
            self.dirs_read += df.dirs_read
            self.dirs_total += df.dirs_total
            ops.append(Op(f"point_{kind}", t.seconds, models.check_probe(rows, latest, key)))
        n_v = len(self.versions)
        v = rng.randrange(n_v - 1)  # an older version: the latest is read back in full after the sync
        t = Timer()
        with t, tr.span("merge.read_version"):
            got = merge.read_version(spark, path, v).agg(*version_agg_cols()).collect()[0]
        ops.append(Op("time_travel", t.seconds, models.check_version_agg(tuple(got), self.versions[v], v)))
        t = Timer()
        with t, tr.span("merge.table_history"):
            hist = merge.table_history(spark, path).collect()
        got = sorted((h["version"], h["operation"]) for h in hist)
        want = [(0, "WRITE")] + [(v, "MERGE") for v in range(1, n_v)]
        ops.append(Op("history", t.seconds, [] if got == want else [f"history {got} != {want}"]))
        return ops

    def layer_extras(self) -> dict[str, float]:
        return {
            "merge.read_version_point.dirs_read_ratio": self.dirs_read / max(self.dirs_total, 1),
            "merge.read_version.table_bytes_per_row": self.table_bytes_per_row,
        }


class CorpusCuration:
    """LLM-data curation on generated inputs: quality and Gopher signals,
    exact content-hash dedup, MinHash-LSH near-duplicate pairs, complete
    prefix-filtered Jaccard pairs, connected components of the planted
    pair graph; then exact and PQ top-k over a clustered embedding set."""

    unit = "docs"
    n_docs = 1_000
    n_near = 100
    n_dup = 50
    threshold = 0.8
    n_vecs = 5_000
    dim = 64
    n_queries = 200
    ksub = 64
    k = 10
    round_s = 25.0
    units_per_round = n_docs

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.recall_lsh: list[float] = []
        self.recall_ann: list[float] = []

    def setup(self, rep: int) -> None:
        spark = self.spark
        self.corpus = gen.corpus(self.seed, self.n_docs, self.n_near, self.n_dup)
        self.X, self.Q = gen.embeddings(self.seed, self.n_vecs, self.dim, self.n_queries)
        self.docs = spark.createDataFrame(self.corpus.docs, "doc_id long, text string")
        self.vecs = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(self.n_vecs), "embedding": list(self.X)}),
            "vec_id long, embedding array<double>",
        )
        self.queries = spark.createDataFrame(
            pd.DataFrame({"query_id": range(self.n_queries), "query_vec": list(self.Q)}),
            "query_id long, query_vec array<double>",
        )

    def prepare(self) -> None:
        docs = self.corpus.docs
        self.pairs = models.exact_pairs(docs, self.threshold)
        self.groups = models.content_groups(docs)
        self.components = models.components(self.pairs)
        self.quality = {i: models.quality(t) for i, t in docs}
        self.n_words = {i: len(models.normalize(t).split(" ")) for i, t in docs}
        self.top, self.top_scores = models.exact_topk(self.X, self.Q, self.k)
        self.pair_df = self.spark.createDataFrame(sorted(self.pairs), "id_a long, id_b long")

    def round(self, i: int, tr: Tracer) -> list[Op]:
        docs, vecs, queries = self.docs, self.vecs, self.queries
        ops = []

        def stage(name: str, run, check):
            t = Timer()
            with t, tr.span(name):
                out = run()
            ops.append(Op(name, t.seconds, check(out)))
            return out

        stage(
            "text.quality_score",
            lambda: docs.select("doc_id", text.quality_score(F.col("text"))).collect(),
            lambda rows: models.check_values([tuple(r) for r in rows], self.quality, "quality"),
        )
        stage(
            "text.gopher_flags",
            lambda: docs.select("doc_id", text.gopher_flags(F.col("text"))["n_words"]).collect(),
            lambda rows: models.check_values([tuple(r) for r in rows], self.n_words, "n_words"),
        )
        stage(
            "dedup.dedup_by_content_hash",
            lambda: dedup.dedup_by_content_hash(docs).select("keep_doc_id", "dup_count").collect(),
            lambda rows: models.check_groups([tuple(r) for r in rows], self.groups),
        )
        lsh = stage(
            "dedup.minhash_lsh_pairs",
            lambda: [tuple(r) for r in dedup.minhash_lsh_pairs(docs, jaccard_threshold=self.threshold).collect()],
            lambda rows: models.check_pairs(rows, self.pairs, complete=False),
        )
        self.recall_lsh.append(len({(a, b) for a, b, _ in lsh} & self.pairs.keys()) / len(self.pairs))
        stage(
            "dedup.jaccard_pairs_complete",
            lambda: [
                tuple(r)
                for r in dedup.jaccard_pairs_complete(docs, ngram=3, threshold=self.threshold).collect()
            ],
            lambda rows: models.check_pairs(rows, self.pairs, complete=True),
        )
        stage(
            "dedup.connected_components",
            lambda: [tuple(r) for r in dedup.connected_components(self.pair_df).collect()],
            lambda rows: models.check_components(rows, self.components),
        )
        stage(
            "similarity.brute_force_topk_np",
            lambda: [tuple(r) for r in similarity.brute_force_topk_np(vecs, queries, k=self.k).collect()],
            lambda rows: models.check_topk(rows, self.top, self.top_scores),
        )
        index = stage(
            "pq.build_pq_index",
            lambda: pq.build_pq_index(vecs, dim=self.dim, ksub=self.ksub),
            lambda idx: [] if len(idx.codebooks) == idx.m else ["pq: wrong codebook count"],
        )
        ann = stage(
            "pq.pq_topk",
            lambda: [tuple(r) for r in pq.pq_topk(vecs, queries, index, k=self.k).collect()],
            lambda rows: models.check_scores(rows, self.X, self.Q, self.k),
        )
        self.recall_ann.append(models.recall_at_k(ann, self.top))
        cache.clear_operator_caches()  # release this round's persisted shingles and PQ codes
        return ops

    def layer_extras(self) -> dict[str, float]:
        return {}


WORKLOADS = {
    "ticket_sync": TicketSync,
    "corpus_curation": CorpusCuration,
}

"""Registered rows-only queries, checked against independent Python
models at sf0.001: the DuckDB oracle cannot express them (HTMLParser
parsing, SimHash fingerprints, hash-seeded banding), so each test
rebuilds the query's answer another way and compares row for row."""

import html
import re
from html.parser import HTMLParser

import duckdb
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table
from data_pipeline_bigquery_to_sftp_server_spark.operators import dedup
from data_pipeline_bigquery_to_sftp_server_spark.queries import ORACLES, QUERIES

_MASK64 = (1 << 64) - 1


def _html_text(s):
    """The text of ``s`` as the stdlib HTMLParser sees it: entities
    unescaped, text nodes stripped and space-joined, whitespace runs
    collapsed, an empty result as None."""
    if not s:
        return None
    parts = []
    parser = HTMLParser()
    parser.handle_data = lambda d: parts.append(d.strip()) if d.strip() else None
    parser.feed(html.unescape(s))
    parser.close()
    return re.sub(r"\s+", " ", " ".join(parts)).strip() or None


def test_html_clean_matches_htmlparser_text(spark, sf_dir, tmp_path):
    # sf0.001's documents are plain text, so the query also runs over a
    # documents table that carries markup, entities and empty values
    import pyarrow as pa
    import pyarrow.parquet as pq

    marked = [
        "<p>Hello <b>world</b></p>",
        "a &amp; b &lt;c&gt;",
        "<div>\n  two\tlines <br/> here </div>",
        "<script>x = 1;</script>after",
        "<p>   </p>",
        "",
        None,
    ]
    pq.write_table(
        pa.table({"doc_id": list(range(len(marked))), "text": marked}),
        str(tmp_path / "documents.parquet"),
    )
    for d in (sf_dir, str(tmp_path)):
        docs = load_table(spark, d, "documents").select("doc_id", "text")
        want = {r.doc_id: _html_text(r.text) for r in docs.collect()}
        got = {r.doc_id: r.clean for r in QUERIES["html_clean"](spark, d).collect()}
        assert len(got) == len(want) > 0
        assert got == want
    assert want[0] == "Hello world" and want[4] is None and want[6] is None


def _fingerprints(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(dedup.normalize_text(F.col("text")), " ")
    return {
        r.doc_id: r.fp
        for r in d.select("doc_id", dedup.simhash(toks).alias("fp")).collect()
    }


def _hamming_pairs(fps, k):
    ids = sorted(fps)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            dist = bin((fps[a] ^ fps[b]) & _MASK64).count("1")
            if dist <= k:
                out.add((a, b, dist))
    return out


def test_simhash_near_pairs_matches_brute_force_hamming(spark, sf_dir):
    want = _hamming_pairs(_fingerprints(spark, sf_dir), 3)
    got = {
        (r.id_a, r.id_b, r.hamming_dist)
        for r in QUERIES["simhash_near_pairs"](spark, sf_dir).collect()
    }
    assert want, "no pair within distance 3: the check would be vacuous"
    assert got == want


def test_simhash_groups_match_union_find(spark, sf_dir):
    fps = _fingerprints(spark, sf_dir)
    parent = {i: i for i in fps}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in _hamming_pairs(fps, 0):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in fps:
        groups.setdefault(find(i), []).append(i)
    want = {
        (fps[root], len(members), min(members))
        for root, members in groups.items()
        if len(members) > 1
    }
    got = {
        (r.simhash_fp, r.dup_count, r.keep_id)
        for r in QUERIES["simhash_groups"](spark, sf_dir).collect()
    }
    assert want, "no exact SimHash collision: the check would be vacuous"
    assert got == want


def test_incremental_embedding_dups_banded_is_subset_of_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    exact = {
        (a, b): cos
        for a, b, cos in con.sql(ORACLES["incremental_embedding_dups"]).fetchall()
    }
    rows = QUERIES["incremental_embedding_dups_banded"](spark, sf_dir).collect()
    banded = {(r.id_new, r.id_corpus): r.cos_sim for r in rows}
    assert len(banded) == len(rows) > 0
    assert set(banded) <= set(exact)
    assert all(banded[p] == exact[p] for p in banded)
    assert {r.recall_vs_exact for r in rows} == {round(len(banded) / len(exact), 4)}

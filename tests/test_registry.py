"""Registry consistency: the rotation treadmill's invariants, pinned
so a future edit can't silently break the driver window, the bench
headline, or the oracle mapping."""

import bench
from data_pipeline_bigquery_to_sftp_server_spark.queries import ORACLES, QUERIES


def test_driver_window_is_fully_oracle_checked():
    window = list(QUERIES)[:50]
    assert len(window) == 50
    missing = [q for q in window if q not in ORACLES]
    assert not missing, f"slot-1..50 queries without oracles: {missing}"


def test_every_oracle_has_a_query():
    dangling = sorted(set(ORACLES) - set(QUERIES))
    assert not dangling, f"oracles without queries: {dangling}"


def test_bench_headline_names_exist_and_are_unique():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    unknown = sorted(set(bench.HEADLINE) - set(QUERIES))
    assert not unknown, f"bench headline names not in QUERIES: {unknown}"


def test_rows_only_queries_are_the_documented_set():
    # every rows-only query must be approximate/stateful BY CONSTRUCTION
    # (hash-seeded banding, float k-means/codebooks, HTMLParser parity,
    # deep-budget twins) — adding an oracle-expressible query without an
    # oracle should fail here, not at judging
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    documented = {
        "lsh_topk",
        "ivf_topk",
        "ivf_topk_prebuilt",
        "lsh_topk_prebuilt",
        "pq_topk",
        "ivfpq_topk",
        "minhash_pairs",
        "simhash_near_pairs",
        "simhash_groups",
        "embedding_dups",
        "incremental_embedding_dups_banded",
        "hard_negatives_ann",
        "retrieval_mrr_ann",
        "cluster_documents",
        "semantic_dedup_clustered",
        "semantic_dedup_pca",
        "pca_project",
        "html_clean",
        "bpe_fast_deep",
    }
    assert set(rows_only) == documented, (
        f"rows-only drift: +{sorted(set(rows_only) - documented)} "
        f"-{sorted(documented - set(rows_only))}"
    )


def test_every_public_name_is_referenced():
    """Every public top-level function or class of the package is used:
    some Name, Attribute or import in the package, ``bench.py``,
    ``__spark_entry__.py``, ``tools/``, ``perfbench/`` or ``tests/``
    refers to it. Static (AST only, no Spark). A public name nothing
    refers to is dead code: delete it, or give it a caller or a test."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "data_pipeline_bigquery_to_sftp_server_spark"
    defined: dict[str, str] = {}
    for f in sorted(pkg.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defined.setdefault(node.name, str(f.relative_to(root)))
    sources = [*pkg.rglob("*.py"), root / "bench.py", root / "__spark_entry__.py"]
    for d in ("tools", "perfbench", "tests"):
        sources += (root / d).rglob("*.py")
    referenced: set[str] = set()
    for f in sources:
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])
    unused = sorted(
        f"{where}: {name}"
        for name, where in defined.items()
        if name not in referenced
    )
    assert not unused, f"public names nothing refers to: {unused}"

"""Dedup operators (X1/X2): exact, minhash-LSH recall vs brute force,
simhash collisions, jaccard math."""

from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table
from data_pipeline_bigquery_to_sftp_server_spark.operators import dedup


def test_dedup_exact_full_row(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, s string")
    assert dedup.dedup_exact(df).count() == 2
    assert dedup.dedup_exact(df, ["s"]).count() == 2


def test_content_hash_groups_whitespace_case_variants(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    out = dedup.dedup_by_content_hash(df)
    groups = {r.keep_doc_id: r.dup_count for r in out.collect()}
    assert groups == {1: 2, 3: 1}


def test_jaccard_expression(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>")
    val = df.select(dedup.jaccard(F.col("x"), F.col("y")).alias("j")).first().j
    assert abs(val - 0.5) < 1e-12  # 2 common / 4 union


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",)], "t string")
    got = df.select(dedup.shingles(F.col("t"), 3).alias("s")).first().s
    assert got == ["a b"]  # whole text when < n tokens


def test_minhash_recall_against_bruteforce(spark, sf_dir):
    """LSH candidates must recover >=90% of true high-jaccard pairs on
    the sf0.001 documents (trigram shingles, threshold 0.5)."""
    d = load_table(spark, sf_dir, "documents").limit(200)
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            d, ngram=3, threshold=0.5, bucket_col=F.lit(1)
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            d, num_hashes=32, bands=16, ngram=3, jaccard_threshold=0.5
        ).collect()
    }
    assert got <= truth or all(pair in truth for pair in got)  # no false positives (verified)
    if truth:
        assert len(got & truth) / len(truth) >= 0.9


def test_minhash_permutations_pick_distinct_argmin_shingles(spark):
    """Each MinHash permutation must draw its minimum independently:
    over a 200-shingle document the 64 argmin shingles are mostly
    distinct (about 55 expected for independent draws). A hash family
    nearly monotone in the shingle id, like the affine
    ``(a*x + b) mod (2^61 - 1)`` with small ``a``, sends almost every
    permutation to the same few smallest ids. Per-shingle hash vectors
    come from the public minhash_signature over one-element arrays."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(10**9)}" for _ in range(202)]
    doc = spark.createDataFrame([(" ".join(words),)], "text string")
    hs = doc.select(dedup.shingle_hashes(F.col("text")).alias("hs"))
    sig = hs.select(dedup.minhash_signature(F.col("hs"))).first()[0]
    per = [
        r[0]
        for r in hs.select(F.explode("hs").alias("x"))
        .select(dedup.minhash_signature(F.array("x")))
        .collect()
    ]
    assert len(per) == 200 and len(sig) == 64
    argmins = set()
    for i, m in enumerate(sig):
        hits = [j for j, v in enumerate(per) if v[i] == m]
        assert hits, "every signature entry is some shingle's hash"
        argmins.add(hits[0])
    assert len(argmins) >= 40, len(argmins)


def test_minhash_recall_on_planted_near_duplicates(spark):
    """Recall on planted pairs at trigram Jaccard ~0.9 (two words
    substituted far apart in 120-word documents) is >= 0.99 with 64
    hashes in 16 bands at threshold 0.8 — where ideal MinHash misses
    a J=0.9 pair with probability (1 - 0.9^4)^16, about 4e-8."""
    import random

    rng = random.Random(11)
    rows, planted = [], set()
    for i in range(200):
        words = [f"t{rng.randrange(10**9)}" for _ in range(120)]
        dup = list(words)
        for pos in (30, 90):
            dup[pos] = f"x{rng.randrange(10**9)}"
        rows += [(2 * i, " ".join(words)), (2 * i + 1, " ".join(dup))]
        planted.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, num_hashes=64, bands=16, ngram=3, jaccard_threshold=0.8
        ).collect()
    }
    assert len(got & planted) / len(planted) >= 0.99
    assert got <= planted  # random texts share no other trigram sets


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    out = dedup.dedup_simhash(df)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].dup_count == 2 and rows[0].keep_id == 1


def test_size_ratio_pruning_is_lossless(spark):
    """The |A|/|B| >= t prune must not drop any qualifying pair."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e"), (3, "a b")], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dedup.ngram_jaccard_pairs(df, ngram=1, threshold=0.5, bucket_col=F.lit(1)).collect()
    }
    # J(1,2) = 4/5 = 0.8 qualifies; J(1,3)=0.5 qualifies; J(2,3)=2/5 no.
    assert set(got) == {(1, 2), (1, 3)}
    assert abs(got[(1, 2)] - 0.8) < 1e-12


def test_connected_components_chain_transitivity(spark):
    """A~B and B~C must land in one component even with no direct A~C
    edge, and the component label is the minimum member id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_star_contraction_equals_min_label(spark, sf_dir):
    """The general tier must return the identical (node, component)
    frame as min-label propagation — on the mixed fixture graph AND on
    real near-dup pairs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 1)],
        "id_a long, id_b long",
    )
    a = {(r.node, r.component)
         for r in dedup.connected_components(pairs).collect()}
    b = {(r.node, r.component)
         for r in dedup.connected_components_star(pairs).collect()}
    assert a == b

    d = load_table(spark, sf_dir, "documents")
    real = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", ngram=1, threshold=0.5
    )
    a = {(r.node, r.component)
         for r in dedup.connected_components(real).collect()}
    b = {(r.node, r.component)
         for r in dedup.connected_components_star(real).collect()}
    assert a == b


def test_star_contraction_logn_on_long_chain(spark):
    """The capability min-label lacks (r10 verdict #5): a 10k-node
    chain has diameter 10k, so min-label cannot converge in any sane
    budget — star contraction must finish in O(log n) rounds and label
    every node with the chain's minimum."""
    import pytest

    n = 10_000
    chain = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=20)
    labels = dedup.connected_components_star(chain, max_iter=40)
    rows = labels.collect()
    assert labels.cc_rounds <= 25  # log2(10k) ~ 13.3 plus slack
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)


def test_dedup_clusters_matches_union_find(spark, sf_dir):
    """Distributed label propagation over real near-dup pairs must equal
    a driver-side union-find on the same (collected) pair set."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", ngram=1, threshold=0.5
    )
    edges = [(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected: dict[int, set] = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)

    got = {
        r.keep_id: set(r.members)
        for r in dedup.dedup_clusters(pairs).collect()
    }
    assert got == expected
    assert all(k == min(v) for k, v in got.items())


def test_jaccard_pairs_complete_equals_bruteforce(spark, sf_dir):
    """The prefix-filtered pair join (the flagship's scale-safe pair
    generator) must return EXACTLY the brute-force all-pairs answer —
    prefix filtering is recall-complete, not approximate."""
    d = load_table(spark, sf_dir, "documents").limit(200)
    truth = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in dedup.ngram_jaccard_pairs(
            d, ngram=1, threshold=0.5, bucket_col=F.lit(1)
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in dedup.jaccard_pairs_complete(d, ngram=1, threshold=0.5).collect()
    }
    assert got == truth


def test_jaccard_pairs_complete_trigram_threshold_edge(spark):
    """Pairs exactly AT the threshold are kept; below are dropped; the
    rare-prefix join must not miss pairs that share only hot tokens."""
    df = spark.createDataFrame(
        [
            (1, "x x x a b c d"),   # distinct set {x,a,b,c,d}
            (2, "x x x a b c e"),   # J(1,2) = |{x,a,b,c}| / |{x,a,b,c,d,e}| = 4/6
            (3, "q r s t u v w"),
            (4, "q r s t u v z"),   # J(3,4) = 6/8 = 0.75
            (5, "totally different content"),
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs_complete(df, ngram=1, threshold=0.6).collect()}
    assert got == {(1, 2), (3, 4)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir mode (cluster-safe df.checkpoint) must produce the
    identical component labeling as the localCheckpoint default."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    local = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    reliable = {
        r.node: r.component
        for r in dedup.connected_components(
            pairs, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert reliable == local == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_unconverged_raises(spark):
    """A diameter larger than max_iter must raise, never silently return
    partial (wrong) cluster labels."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)
    # and with enough rounds the same chain converges to one component
    comp = {r.node: r.component for r in dedup.connected_components(chain).collect()}
    assert set(comp.values()) == {1}


def test_connected_components_null_endpoints_and_self_pairs(spark):
    """A pair with a NULL endpoint links nothing: the other endpoint
    keeps its own component and NULL comes back once, labeled NULL. A
    self-pair is a singleton node. (Outputs pinned from the two-join
    implementation the one-scan edge build replaced.)"""
    cases = [
        (
            [(1, 2), (2, None), (None, 3), (7, 8)],
            {(1, 1), (2, 1), (3, 3), (7, 7), (8, 7), (None, None)},
        ),
        ([(None, None)], {(None, None)}),
        ([(4, None)], {(4, 4), (None, None)}),
        (
            [(5, 5), (7, 8), (8, 8), (9, 9), (9, 10)],
            {(5, 5), (7, 7), (8, 7), (9, 9), (10, 9)},
        ),
    ]
    for rows, want in cases:
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        got = [tuple(r) for r in dedup.connected_components(pairs).collect()]
        assert len(got) == len(want) and set(got) == want, rows


def _jobs(spark, run) -> int:
    """Spark jobs ``run`` schedules, read off the DAGScheduler's job-id
    counter (the count bench.py's per-item ``jobs`` must match,
    tests/test_bench.py)."""
    sc = spark.sparkContext._jsc.sc()
    before = int(sc.dagScheduler().nextJobId())
    run()
    return int(sc.dagScheduler().nextJobId()) - before


def test_near_dup_job_counts(spark):
    """Job-count pins, collect included: components of a shallow pair
    graph build the edges in one scan and pay one join per round (23
    jobs with the former two-join loop, 10 now); the complete Jaccard
    join computes its shingle base once before AQE fans out (14 jobs
    cold before, 10 now)."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    assert _jobs(spark, lambda: dedup.connected_components(pairs).collect()) <= 10
    docs = spark.createDataFrame(
        [
            (1, "x x x a b c d"),
            (2, "x x x a b c e"),
            (3, "q r s t u v w"),
            (4, "q r s t u v z"),
            (5, "totally different content"),
        ],
        "doc_id long, text string",
    )
    assert (
        _jobs(
            spark,
            lambda: dedup.jaccard_pairs_complete(docs, ngram=1, threshold=0.6).collect(),
        )
        <= 10
    )


def test_simhash_near_pairs_complete_vs_brute_force(spark, sf_dir):
    """The k+1-segment pigeonhole band join must find EXACTLY the pairs
    within Hamming distance k of each other — recall-complete by the
    pigeonhole theorem, precision-exact by the popcount verify."""
    from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(dedup.normalize_text(F.col("text")), " ")
    fps = {
        r.doc_id: r.fp
        for r in d.select("doc_id", dedup.simhash(toks).alias("fp")).collect()
    }
    for k in (0, 3):
        expected = {
            (a, b, bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1"))
            for a in fps
            for b in fps
            if a < b and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= k
        }
        got = {
            (r.id_a, r.id_b, r.hamming_dist)
            for r in dedup.simhash_near_pairs(d, k=k).collect()
        }
        assert got == expected, f"k={k}: {len(got)} vs {len(expected)}"


def test_simhash_near_pairs_rejects_bad_k(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k"):
        dedup.simhash_near_pairs(df, k=64)


def test_connected_components_checkpoint_cleanup(spark, tmp_path):
    """Reliable mode must leave only the final label checkpoint on disk
    (round N-1 and edge files are garbage-collected), scope itself to a
    cc-* subdirectory, and still answer correctly."""
    import os

    base = tmp_path / "cc_gc"
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(pairs, checkpoint_dir=str(base))
    got = {r.node: r.component for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    scoped = [p for p in os.listdir(base) if p.startswith("cc-")]
    assert len(scoped) == 1
    assert labels.cc_checkpoint_path == str(base) + "/" + scoped[0]
    rdd_dirs = []
    for root, dirs, _files in os.walk(base):
        rdd_dirs += [d for d in dirs if d.startswith("rdd-")]
    assert len(rdd_dirs) == 1, rdd_dirs  # only the final labels survive


def test_connected_components_restores_checkpoint_dir(spark, tmp_path):
    """The context-global checkpoint dir must be restored after reliable
    mode: to its previous value when one was set, and cleared when none
    was — never left pointing inside the scoped cc-* dir the caller is
    told to delete."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    jsc = spark.sparkContext._jsc

    # Case 1: no prior dir -> must be cleared, not left at cc-*.
    spark.sparkContext.setCheckpointDir(None)
    dedup.connected_components(pairs, checkpoint_dir=str(tmp_path / "a")).collect()
    assert not jsc.sc().getCheckpointDir().isDefined()

    # Case 2: a prior dir -> must be restored under the original root.
    # (setCheckpointDir nests a fresh UUID per call, so byte-identical
    # restoration is impossible via the public API; what matters is
    # that later checkpoints land under the caller's root, never under
    # the scoped cc-* dir the caller is told to delete.)
    prev = str(tmp_path / "prev_ckpt")
    spark.sparkContext.setCheckpointDir(prev)
    before = jsc.sc().getCheckpointDir().get()
    dedup.connected_components(pairs, checkpoint_dir=str(tmp_path / "b")).collect()
    after = jsc.sc().getCheckpointDir().get()
    assert after.startswith(before)
    assert "/cc-" not in after
    spark.sparkContext.setCheckpointDir(None)  # leave no test residue


def test_curation_pipeline_reliable_checkpoint_hygiene(spark, sf_dir, tmp_path):
    """q_curation_pipeline's reliable mode must (1) match the default
    mode's result, (2) scope the quality checkpoint to a cur-* subdir
    exposed as curation_checkpoint_path, and (3) restore the global
    checkpoint dir before returning."""
    import os

    from data_pipeline_bigquery_to_sftp_server_spark.queries import (
        q_curation_pipeline,
    )

    jsc = spark.sparkContext._jsc
    spark.sparkContext.setCheckpointDir(None)
    base = str(tmp_path / "cur_ckpt")
    default_rows = [tuple(r) for r in q_curation_pipeline(spark, sf_dir).collect()]
    out = q_curation_pipeline(spark, sf_dir, checkpoint_dir=base)
    reliable_rows = [tuple(r) for r in out.collect()]
    assert reliable_rows == default_rows
    assert not jsc.sc().getCheckpointDir().isDefined()
    assert out.curation_checkpoint_path.startswith(base + "/cur-")
    assert os.path.isdir(out.curation_checkpoint_path)


def test_duplicate_ngram_spans_planted_overlap(spark):
    """Two docs share a verbatim 25-token run -> with n=20 exactly the
    25 overlapping positions are flagged in each; unrelated docs and
    short docs report 0."""
    shared = " ".join(f"s{i}" for i in range(25))
    rows = [
        (1, "aa bb " + shared + " cc dd"),
        (2, shared + " zz yy xx"),
        (3, " ".join(f"u{i}" for i in range(40))),  # no overlap
        (4, "tiny doc"),  # shorter than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_ngram_spans(df, n=20).collect()}
    assert out[1].n_dup_tokens == 25 and out[1].n_tokens == 29
    assert out[2].n_dup_tokens == 25 and out[2].n_tokens == 28
    assert out[1].dup_ratio == round(25 / 29, 6)
    assert out[3].n_dup_tokens == 0
    assert out[4].n_dup_tokens == 0 and out[4].dup_ratio == 0.0


def test_duplicate_ngram_spans_within_doc_repeat_not_flagged(spark):
    """A 20-gram repeated WITHIN one doc but in no other doc is not
    cross-document duplication (that's repetition_scores' job)."""
    run = " ".join(f"r{i}" for i in range(20))
    rows = [
        (1, run + " mid " + run),
        (2, " ".join(f"o{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_ngram_spans(df, n=20).collect()}
    assert out[1].n_dup_tokens == 0
    assert out[2].n_dup_tokens == 0


def test_remove_duplicate_spans_drops_only_shared_grams(spark):
    """Two docs share a verbatim 5-gram; removal must drop exactly the
    covered positions in BOTH docs, keep unique text verbatim, and
    leave a doc with no shared grams untouched."""
    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "totally unique words here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicate_spans(df, n=5).collect()
    }
    assert out[1].clean_text == "one two three four five"
    assert out[1].n_removed == 5
    assert out[2].clean_text == "six seven eight nine ten"
    assert out[2].n_removed == 5
    assert out[3].clean_text == rows[2][1]
    assert out[3].n_removed == 0
    assert all(out[i].n_tokens == len(rows[i - 1][1].split()) for i in (1, 2, 3))


def test_incremental_dedup_report_flags_exact_and_near(spark):
    """A new doc identical to a corpus doc -> exact_dup + best match;
    a mutated copy -> near-dup only; a fresh doc -> clean row."""
    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "completely different corpus text about other things entirely"),
    ]
    new_rows = [
        (100, corpus_rows[0][1]),  # verbatim copy
        (101, "alpha beta gamma delta epsilon zeta eta theta iota NOPE"),  # near
        (102, "nothing like anything in the corpus whatsoever truly"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.incremental_dedup_report(new, corpus).collect()
    }
    assert out[100].exact_dup and out[100].best_match_id == 1
    assert out[100].best_jaccard == 1.0 and out[100].n_near_dups == 1
    assert not out[101].exact_dup
    assert out[101].n_near_dups == 1 and out[101].best_match_id == 1
    assert 0.5 <= out[101].best_jaccard < 1.0
    assert not out[102].exact_dup and out[102].n_near_dups == 0
    assert out[102].best_match_id is None and out[102].best_jaccard is None


def test_priority_dedup_keep_policy(spark):
    """r8 X44: one kept copy per content group by (priority, id);
    multiplicity and distinct-source counts ride the kept row."""
    from pyspark.sql import functions as F

    from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import (
        priority_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "crawl", "the same text"),
            (2, "curated", "The  Same   TEXT"),   # same normalized content
            (3, "crawl", "the same text"),
            (4, "crawl", "unique document"),
        ],
        "doc_id long, source string, text string",
    )
    prio = F.when(F.col("source") == "curated", 0).otherwise(1)
    got = {r.doc_id: (r.n_copies, r.n_sources) for r in
           priority_dedup(df, prio).collect()}
    # curated copy (id 2) wins its 3-copy group despite not being min-id
    assert got == {2: (3, 2), 4: (1, 1)}

    # no source column -> no n_sources, policy still honored
    df2 = df.select("doc_id", "text")
    got2 = {r.doc_id for r in priority_dedup(df2, F.lit(0)).collect()}
    assert got2 == {1, 4}  # ties on priority fall back to min id


def test_winnow_fingerprints_guarantees(spark):
    """r8 X47: (a) every w-window of gram positions contains a selected
    fingerprint (coverage), (b) two docs sharing a run of w+k-1 tokens
    share a fingerprint (detection), (c) short docs winnow their single
    partial window, sub-k docs emit nothing."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(50)}" for _ in range(200)]
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w+k-1 tokens
    docs = [
        (1, " ".join(words)),
        (2, " ".join(words[100:]) + " " + shared),
        (3, "one two three four " + shared + " nine ten"),
        (4, "tiny little doc here now"),   # exactly k=5 tokens -> 1 gram
        (5, "too small"),                  # < k tokens -> nothing
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=5, window=4)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    # (c) degenerate sizes
    assert 5 not in by_doc
    assert len(by_doc[4]) == 1 and next(iter(by_doc[4]))[0] == 1
    # (a) coverage: doc 1 has 196 grams; every window [p, p+3] hits a pick
    pos1 = sorted(p for p, _ in by_doc[1])
    n_grams = 200 - 5 + 1
    for start in range(1, n_grams - 4 + 2):
        assert any(start <= p <= start + 3 for p in pos1), start
    # density ~ 2/(w+1): picks well below total grams
    assert len(pos1) < n_grams * 0.6
    # (b) detection: docs 2 and 3 share the 8-token run -> shared fp
    f2 = {f for _, f in by_doc[2]}
    f3 = {f for _, f in by_doc[3]}
    assert f2 & f3
    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in winnow_overlap_pairs(fps, min_shared=1).collect()}
    assert (2, 3) in pairs


def test_minhash_bucket_cap_drops_hot_buckets_only(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    # 12 copies of identical boilerplate (every band is a 12-row hot
    # bucket) + one genuine near-dup pair with distinctive text
    boiler = [(i, "the same boilerplate footer text appears here word " * 3)
              for i in range(12)]
    near = [
        (100, "a distinctive document about alpine marmots and glaciers x"),
        (101, "a distinctive document about alpine marmots and glaciers y"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(df, jaccard_threshold=0.5)
    capped = minhash_lsh_pairs(df, jaccard_threshold=0.5, max_bucket_rows=8)
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp  # small buckets survive
    assert any(a < 12 and b < 12 for a, b in un)  # boilerplate pairs exist
    assert not any(a < 12 and b < 12 for a, b in cp)  # ...and are capped away
    assert cp <= un


def test_winnow_pairs_max_df_prunes_ubiquitous_fps(spark):
    from data_pipeline_bigquery_to_sftp_server_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "one two three four five six seven eight nine ten "
    docs = [(i, shared + f"tail number {i} distinct words here") for i in range(6)]
    docs += [(50, "unique alpha beta gamma delta epsilon zeta eta theta run a"),
             (51, "unique alpha beta gamma delta epsilon zeta eta theta run b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    full = {(r.id_a, r.id_b): r.n_shared for r in winnow_overlap_pairs(fps).collect()}
    cut = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(fps, max_df=3).collect()
    }
    assert (50, 51) in full and (50, 51) in cut
    assert cut[(50, 51)] == full[(50, 51)]  # distinctive overlap untouched
    # the 6-doc shared-prefix clique loses its ubiquitous fingerprints
    assert not any(a < 10 and b < 10 for a, b in cut)
    assert any(a < 10 and b < 10 for a, b in full)

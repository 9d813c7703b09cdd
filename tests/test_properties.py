"""Property-based tests (SURVEY §5: 'hypothesis round-trips — cheap and
catches the quirky NULL rules'). Each property generates a batch of
inputs and runs ONE Spark job over the whole batch."""

import json

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_pipeline_bigquery_to_sftp_server_spark.functions import scalar

SETTINGS = dict(max_examples=8, deadline=None)

# Java \s excludes U+001C-U+001F, Python \s includes them (documented
# divergence in scalar.collapse_whitespace) — generate realistic text.
_ALPHABET = st.characters(
    codec="utf-8", exclude_characters=[chr(c) for c in range(0x1C, 0x20)]
)
texts = st.lists(
    st.one_of(st.none(), st.text(alphabet=_ALPHABET, max_size=40)),
    min_size=1,
    max_size=30,
)
epochs = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**33)),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(epochs)
def test_epoch_formatting_matches_python(spark, values):
    """seconds_to_readable == datetime.utcfromtimestamp formatting, with
    the 0/None -> NULL quirk (reference main.py:234-241)."""
    import datetime

    df = spark.createDataFrame([(v,) for v in values], "epoch bigint")
    got = [
        r.s
        for r in df.select(scalar.seconds_to_readable(F.col("epoch")).alias("s"))
        .orderBy(F.monotonically_increasing_id())
        .collect()
    ]
    for v, s in zip(values, got):
        if v is None or v == 0:
            assert s is None
        else:
            exp = datetime.datetime.fromtimestamp(v, datetime.timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
            assert s == exp


@settings(**SETTINGS)
@given(texts)
def test_collapse_whitespace_idempotent_and_matches_python(spark, values):
    import re

    df = spark.createDataFrame([(v,) for v in values], "t string")
    once = df.select(scalar.collapse_whitespace(F.col("t")).alias("a"))
    twice = once.select("a", scalar.collapse_whitespace(F.col("a")).alias("b"))
    for r, v in zip(twice.collect(), values):
        if v is None:
            assert r.a is None
        else:
            assert r.a == re.sub(r"\s+", " ", v).strip()
            assert r.b == r.a  # idempotent


@settings(**SETTINGS)
@given(st.lists(st.dictionaries(st.sampled_from(["k", "v"]), st.integers(-1000, 1000), max_size=2), min_size=1, max_size=20))
def test_json_roundtrip_lenient(spark, dicts):
    """from_json∘to_json: present keys survive, absent -> NULL fields,
    empty dict -> NULL string (Python falsy rule)."""
    rows = [(json.dumps(d),) for d in dicts]
    df = spark.createDataFrame(rows, "j string")
    parsed = scalar.json_parse(F.col("j"), "k INT, v INT")
    out = df.select(scalar.json_serialize(parsed).alias("s")).collect()
    for d, r in zip(dicts, out):
        if not d:
            assert r.s is None
        else:
            assert json.loads(r.s) == d


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            # quotes, backslash, newline/CR/tab: the repr quote-selection
            # and control-char escape rules, not just happy-path text
            st.text(alphabet="ab'\"\\\n\r\t ", max_size=8),
            max_size=6,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_py_list_str_matches_python_repr(spark, lists_):
    df = spark.createDataFrame([(v,) for v in lists_], "a array<string>")
    out = df.select(scalar.py_list_str(F.col("a")).alias("s")).collect()
    for v, r in zip(lists_, out):
        # exact CPython parity, including "it's" -> double quotes
        assert r.s == str(v), (v, r.s)


# PII fragments to plant: valid emails/phones/IPs plus near-misses that
# must NOT be redacted (missing TLD, letters in octets, short runs).
_PII_BITS = st.sampled_from(
    [
        "bob@x.io",
        "a.b+c@ex-ample.co.uk",
        "not-an-email@",
        "@nope",
        "25-989-741-2988",
        "123-456-7890",
        "12-34",
        "1.2.3.4",
        "10.0.255.1",
        "1.2.3",
        "plain words",
        "x9",
        "1234-5678-9012-3456",
        "1234567890123456",
        "4111 1111 1111 1111",
        "123456789012345",
        "DE89370400440532013000",
        "GB82WEST12345698765432",
        "DE12nope",
        "XX99",
    ]
)
_pii_texts = st.lists(
    st.lists(_PII_BITS, min_size=0, max_size=6).map(" ".join),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(_pii_texts)
def test_pii_redaction_matches_python_re(spark, values):
    """redact_pii / pii_counts == Python re with the identical patterns
    and substitution order — a third engine pinning the claim that the
    patterns sit in the regex subset all three interpret identically."""
    import re

    from data_pipeline_bigquery_to_sftp_server_spark.functions import text as T

    df = spark.createDataFrame([(v,) for v in values], "t string")
    e, cc, ib, p, i = T.pii_counts(F.col("t"))
    got = (
        df.select(
            T.redact_pii(F.col("t")).alias("r"),
            e.alias("e"),
            cc.alias("cc"),
            ib.alias("ib"),
            p.alias("p"),
            i.alias("i"),
        )
        .orderBy(F.monotonically_increasing_id())
        .collect()
    )
    for v, row in zip(values, got):
        s1 = re.sub(T.PII_EMAIL_RE, "<EMAIL>", v)
        s2 = re.sub(T.PII_CC_RE, "<CC>", s1)
        s3 = re.sub(T.PII_IBAN_RE, "<IBAN>", s2)
        s4 = re.sub(T.PII_PHONE_RE, "<PHONE>", s3)
        s5 = re.sub(T.PII_IPV4_RE, "<IP>", s4)
        assert row.r == s5, (v, row.r, s5)
        assert row.e == len(re.findall(T.PII_EMAIL_RE, v))
        assert row.cc == len(re.findall(T.PII_CC_RE, s1))
        assert row.ib == len(re.findall(T.PII_IBAN_RE, s2))
        assert row.p == len(re.findall(T.PII_PHONE_RE, s3))
        assert row.i == len(re.findall(T.PII_IPV4_RE, s4))


_token_counts = st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=20)


@settings(**SETTINGS)
@given(_token_counts)
def test_chunking_covers_every_token_once_per_window(spark, counts):
    """For any document length: chunk count matches the closed form,
    consecutive chunks overlap by exactly size-stride (when a next
    chunk exists), and every token position is covered."""
    import math

    from data_pipeline_bigquery_to_sftp_server_spark.queries import (
        q_chunk_documents,
    )
    import os
    import tempfile

    size, stride = 32, 24
    rows = [
        (i, " ".join(f"t{j}" for j in range(n)) if n else "", "en", 1, "s")
        for i, n in enumerate(counts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long, source string"
    )
    path = tempfile.mkdtemp(prefix="chunk_prop_")
    df.write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))
    out = q_chunk_documents(spark, path)
    per_doc: dict[int, list] = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(counts):
        n_eff = max(n, 1)  # empty text tokenizes to one empty token
        expected_chunks = max(math.ceil((n_eff - size) / stride) + 1, 1)
        chunks = sorted(per_doc[i], key=lambda r: r.chunk_idx)
        assert len(chunks) == expected_chunks, (i, n)
        covered = set()
        for r in chunks:
            start = r.chunk_idx * stride
            covered |= set(range(start, start + r.chunk_tokens))
            assert r.chunk_tokens == min(n_eff - start, size)
        assert covered == set(range(n_eff)), (i, n)


def _union_find_components(pairs) -> set:
    """(node, min reachable node) by a driver union-find over non-NULL
    pairs; a pair with a NULL endpoint links nothing and adds its
    non-NULL endpoint as a node and NULL as a node labeled NULL."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    has_null = False
    for a, b in pairs:
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    find(x)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent} | ({(None, None)} if has_null else set())


@settings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 40)),
            st.one_of(st.none(), st.integers(0, 40)),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_star_contraction_matches_union_find(spark, edges):
    """Both components tiers on arbitrary random graphs (self-loops,
    duplicates, multi-component, chains) must equal a driver union-find:
    min-label propagation on the raw pairs, NULL endpoints and
    self-pairs included, and star contraction on the non-NULL pairs
    between distinct nodes."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators import dedup

    raw = spark.createDataFrame(edges, "id_a long, id_b long")
    got = [tuple(r) for r in dedup.connected_components(raw).collect()]
    want = _union_find_components(edges)
    assert len(got) == len(want) and set(got) == want

    clean = [(a, b) for a, b in edges if a is not None and b is not None and a != b]
    if not clean:
        return
    pairs = spark.createDataFrame(clean, "id_a long, id_b long")
    got = {
        (r.node, r.component)
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert got == _union_find_components(clean)


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="ab|#:N", max_size=4)),
            st.one_of(st.none(), st.text(alphabet="ab|#:N", max_size=4)),
        ),
        min_size=2,
        max_size=8,
        unique=True,
    )
)
def test_row_signature_encoding_injective(spark, rows):
    """Distinct (c1, c2) tuples — including NULL-vs-value shifts and
    values containing the encoding's own delimiter characters — must
    produce distinct row hashes (md5 collisions aside)."""
    from data_pipeline_bigquery_to_sftp_server_spark.operators.reconcile import (
        row_signature,
    )

    df = spark.createDataFrame(
        [(i, c1, c2) for i, (c1, c2) in enumerate(rows)],
        "k long, c1 string, c2 string",
    ).withColumn("k", F.lit(0))  # same key: hash differs only via c1, c2
    hashes = [
        r._rhash for r in row_signature(df, "k", ["c1", "c2"], 4).collect()
    ]
    assert len(set(hashes)) == len(rows)


@settings(max_examples=5, deadline=None)
@given(
    a_iv=st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 40)),
        min_size=1, max_size=10,
    ),
    b_iv=st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 40)),
        min_size=1, max_size=10,
    ),
)
def test_interval_overlap_join_matches_bruteforce_random(spark, a_iv, b_iv):
    """Random interval sets (arbitrary lengths incl. multi-cell spans
    and touching boundaries): the grid-celled join must equal the
    quadratic predicate join with each pair exactly once."""
    import datetime

    from data_pipeline_bigquery_to_sftp_server_spark.operators.asof import (
        interval_overlap_join,
    )

    d0 = datetime.date(2024, 1, 1)

    def mk(rows, pre):
        data = [
            (i, d0 + datetime.timedelta(days=s), d0 + datetime.timedelta(days=s + ln))
            for i, (s, ln) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data, f"{pre}id long, {pre}s date, {pre}e date"
        )

    a, b = mk(a_iv, "a"), mk(b_iv, "b")
    got = sorted(
        (r.aid, r.bid)
        for r in interval_overlap_join(a, b, "as", "ae", "bs", "be", cell_days=7).collect()
    )
    brute = sorted(
        (r.aid, r.bid)
        for r in a.crossJoin(b)
        .where((F.col("as") <= F.col("be")) & (F.col("bs") <= F.col("ae")))
        .collect()
    )
    assert got == brute and len(got) == len(set(got))

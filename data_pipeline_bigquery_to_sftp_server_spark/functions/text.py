"""Text-analysis functions for training-data pipelines (SURVEY §2.11 X5):
tokenization, language-ID heuristic, quality scoring, token counting,
document fingerprinting. All native Column expressions (codegen'd) —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list for quality ratios — public-domain common set.
_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from not"
).split()


def tokenize(col: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count (the fast estimator)."""
    return F.size(tokenize(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word pieces + punctuation via a
    GPT-2-style pre-tokenizer regex (contractions, words, numbers,
    punctuation runs). An upper-bound proxy for LLM token budgets,
    computed natively with regexp_count."""
    pattern = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"
    return F.regexp_count(col, F.lit(pattern))


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are (English) stopwords — one of the
    classic quality signals (C4/Gopher rules)."""
    toks = tokenize(col)
    # filter() keeps duplicate occurrences (array_intersect would dedup).
    hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks)
    )


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(col)
    punct = n - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def mean_word_length(col: Column) -> Column:
    toks = tokenize(col)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme length,
    high punctuation, missing stopwords, outlier word lengths.
    Weights are heuristic (Gopher-rule flavored), deterministic."""
    n_tok = token_count(col).cast("double")
    len_ok = F.when((n_tok >= 5) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    p_ratio = punct_ratio(col)
    punct_ok = F.when(p_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(1.0) - p_ratio)
    mwl = mean_word_length(col)
    mwl_ok = F.when((mwl >= 2) & (mwl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = stopword_ratio(col)
    sw_ok = F.when(sw >= 0.05, F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_ok * 0.4 + punct_ok * 0.2 + mwl_ok * 0.2 + sw_ok * 0.2).alias("quality")


# Tiny per-language marker vocabularies for the n-gram/stopword language
# heuristic. Real systems use trained char-n-gram models (e.g. fastText);
# this is the deterministic, dependency-free stand-in with the same plan
# shape (score per language -> argmax).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "est", "une"],
}


def lang_id(col: Column) -> Column:
    """Heuristic language ID: per-language marker-token hit count,
    argmax wins, ties/no-hits -> 'und'. One pass, native exprs."""
    toks = tokenize(col)
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in _LANG_MARKERS.items()
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: 64-bit rolling-hash-equivalent over
    normalized content (xxhash64 of the canonical text). Used for exact
    dedup joins where carrying full text through a shuffle is too heavy."""
    return F.xxhash64(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


# --- PII scrubbing -----------------------------------------------------------
# Conservative patterns restricted to syntax RE2 (DuckDB) and java.util
# .regex (Spark) interpret identically, so the oracle can replay the
# exact same substitutions. Map-side only — no joins, no shuffle, no
# Python: PII scrubbing at 100 TB is a pure projection.

PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
# Payment-card shape: 4x4 digit groups dash/space separated, or a bare
# 13-19 digit run (the ISO/IEC 7812 PAN length range — covers 15-digit
# Amex and 13-digit legacy Visa, not just 16) whose leading digit is a
# card-network MII (2=new-range Mastercard, 3=Amex/Diners, 4=Visa,
# 5=Mastercard, 6=Discover/UnionPay). The MII gate keeps 13-digit
# epoch-millisecond timestamps (leading 1 until year 2286) and other
# 0/1/7-9-prefixed numeric identifiers out of the redaction; a Luhn
# check can't be expressed in a portable regex, so MII+length is the
# precision/recall point chosen — bare PANs from the five major
# networks all start 2-6. Runs of 20+ digits keep failing the trailing
# \b, so longer numeric ids survive. Applied BEFORE the phone pattern
# so the digit groups are consumed whole (the phone shape can't match
# 4-digit lead groups, but ordering makes the invariant structural, not
# coincidental). A solid IBAN can't lose its digit tail to this
# pattern: the tail follows the country letters with no word boundary
# between them.
PII_CC_RE = r"\b(?:[0-9]{4}[- ]){3}[0-9]{4}\b|\b[2-6][0-9]{12,18}\b"
# IBAN shape: 2 uppercase country letters, 2 check digits, 11-30
# alphanumerics (15-char Norway floor .. 34-char ceiling).
PII_IBAN_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"
# TPC-H phone shape (CC-NNN-NNN-NNNN) plus common US-style NNN-NNN-NNNN.
PII_PHONE_RE = r"\b[0-9]{2,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?\b"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def redact_pii(col: Column) -> Column:
    """Replace emails, payment cards, IBANs, phone numbers, and IPv4
    addresses with typed placeholder tokens (<EMAIL>, <CC>, <IBAN>,
    <PHONE>, <IP>). Order is most-specific-first: an email's domain may
    contain digit runs, and a card's 4-digit groups could otherwise be
    nibbled by the looser phone pattern."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_CC_RE, "<CC>")
    out = F.regexp_replace(out, PII_IBAN_RE, "<IBAN>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")


def pii_counts(col: Column) -> tuple[Column, Column, Column, Column, Column]:
    """(n_emails, n_ccs, n_ibans, n_phones, n_ips) match counts, each
    counted on the text AFTER the preceding substitutions — the same
    chain redact_pii applies — so overlapping matches tally once."""
    after_email = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    after_cc = F.regexp_replace(after_email, PII_CC_RE, "<CC>")
    after_iban = F.regexp_replace(after_cc, PII_IBAN_RE, "<IBAN>")
    after_phone = F.regexp_replace(after_iban, PII_PHONE_RE, "<PHONE>")
    return (
        F.regexp_count(col, F.lit(PII_EMAIL_RE)),
        F.regexp_count(after_email, F.lit(PII_CC_RE)),
        F.regexp_count(after_cc, F.lit(PII_IBAN_RE)),
        F.regexp_count(after_iban, F.lit(PII_PHONE_RE)),
        F.regexp_count(after_phone, F.lit(PII_IPV4_RE)),
    )


# Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", Appendix A1.1 quality filters). The stop-word rule uses
# the paper's own 8-word list, distinct from _STOPWORDS above.
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags(col: Column) -> Column:
    """The published Gopher quality-rule battery as an auditable
    struct: one boolean per rule plus the measured ratios, so a
    curation pipeline can report WHY a document was dropped (and tune
    thresholds) rather than emitting a bare verdict. Rules (Rae et
    al. 2021, A1.1): word count in [50, 100k]; mean word length in
    [3, 10]; symbol-to-word ratio (# and ...) <= 0.1; <= 90% of lines
    bullet-started; <= 30% of lines ellipsis-ended; >= 80% of words
    contain an alphabetic character; >= 2 of the paper's 8 stop words
    present. All native Column expressions over one tokenize + one
    line split — zero-shuffle, codegen'd; threshold comparisons use
    exact integer-ratio arithmetic (engine-portable).
    """
    toks = tokenize(col)
    n_words = F.size(toks).cast("double")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    mwl = total_len / n_words
    n_hash = (
        F.length(col) - F.length(F.regexp_replace(col, r"#", ""))
    ).cast("double")
    n_ellipsis = (
        (F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))) / 3
    ).cast("double")
    sym_ratio = (n_hash + n_ellipsis) / n_words
    lines = F.split(col, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$"))).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike(r"[a-z]"))).cast("double") / n_words
    )
    # distinct stop words present: array_intersect evaluates the token
    # array ONCE — the filter-lambda formulation re-evaluates the doc's
    # tokenize per stop word (the HOF-lambda pitfall dedup.py documents:
    # expressions captured inside a lambda re-run per element).
    stop_hits = F.size(
        F.array_intersect(
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]), toks
        )
    )
    ok_words = (n_words >= 50) & (n_words <= 100_000)
    ok_mwl = (mwl >= 3) & (mwl <= 10)
    ok_sym = sym_ratio <= 0.1
    ok_bullet = bullet_frac <= 0.9
    ok_ellipsis = ellipsis_frac <= 0.3
    ok_alpha = alpha_frac >= 0.8
    ok_stop = stop_hits >= 2
    return F.struct(
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_sym.alias("ok_sym"),
        ok_bullet.alias("ok_bullet"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (
            ok_words & ok_mwl & ok_sym & ok_bullet & ok_ellipsis & ok_alpha & ok_stop
        ).alias("keep"),
    )

"""Seeded input generators. Everything the engine receives in a run is
built here from ``random.Random(seed)`` / ``numpy.random.default_rng``:
the same seed gives byte-identical inputs, another seed different ones.

Nothing here imports the engine; the shapes follow the engine's public
signatures (the ticket raw schema of ``pipeline.TICKET_RAW_SCHEMA``, a
``(doc_id, text)`` corpus, a ``(vec_id, embedding)`` matrix).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

EPOCH0 = 1_600_000_000  # 2020-09-13, so every timestamp is non-zero


def _ticket_id(rng: random.Random) -> str:
    return f"{rng.getrandbits(96):024x}"  # ObjectId-shaped key


def _words(rng: random.Random, vocab: list[str], n: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


_SUBJECT_VOCAB = [f"w{i}" for i in range(500)]


def raw_ticket(rng: random.Random, tid: str, created: int, updated: int) -> dict:
    """One API detail record shaped like the reference's ticket JSON."""
    n_to = rng.randrange(0, 3)
    return {
        "_id": tid,
        "subject": f"re {_words(rng, _SUBJECT_VOCAB, 4)} #{rng.randrange(10**6)}",
        "description": f"<p>{_words(rng, _SUBJECT_VOCAB, 8)}</p><br/>"
        f"<b>{rng.randrange(1000)}</b> &amp; done",
        "createdTimestamp": created,
        "updatedTimestamp": updated,
        "deleted": rng.random() < 0.05,
        "fromEmail": f"user{rng.randrange(5000)}@example.com",
        "fromName": f"User {rng.randrange(5000)}",
        "toEmails": [f"agent{rng.randrange(50)}@example.com" for _ in range(n_to)],
        "tags": [rng.choice(["billing", "bug", "vip", "refund"]) for _ in range(rng.randrange(0, 3))],
        "meta": f'{{"k": "src", "v": "{rng.choice(["web", "mail", "chat"])}"}}',
        "sendEmailFailureCount": rng.randrange(0, 3),
        "discounts": [{"code": f"D{rng.randrange(100)}", "amount": rng.randrange(1, 50)}]
        if rng.random() < 0.2
        else None,
    }


@dataclass
class TicketBatch:
    """One sync run's API view: the paginated id list and the detail
    records behind it (70% updates of existing keys, 30% new keys)."""

    ids: list[str]
    details: dict[str, dict]


def base_tickets(seed: int, n: int) -> list[dict]:
    rng = random.Random(f"tickets-base-{seed}")
    seen: set[str] = set()
    out = []
    while len(out) < n:
        tid = _ticket_id(rng)
        if tid in seen:
            continue
        seen.add(tid)
        created = EPOCH0 + rng.randrange(0, 10**7)
        out.append(raw_ticket(rng, tid, created, created + rng.randrange(1, 10**5)))
    return out


def sync_batch(seed: int, index: int, base: list[dict], size: int, update_share: float) -> TicketBatch:
    """Batch ``index`` of a sync workload. Updates carry a newer
    ``updatedTimestamp`` and a fresh subject (newest-wins is visible)."""
    rng = random.Random(f"tickets-batch-{seed}-{index}")
    n_upd = int(size * update_share)
    olds = rng.sample(base, n_upd)
    details = {}
    for old in olds:
        details[old["_id"]] = raw_ticket(
            rng, old["_id"], old["createdTimestamp"], old["updatedTimestamp"] + rng.randrange(1, 10**6)
        )
    taken = {t["_id"] for t in base}
    while len(details) < size:
        tid = _ticket_id(rng)
        if tid in taken or tid in details:
            continue
        created = EPOCH0 + 10**7 + rng.randrange(0, 10**6)
        details[tid] = raw_ticket(rng, tid, created, created + rng.randrange(1, 10**4))
    ids = list(details)
    rng.shuffle(ids)
    return TicketBatch(ids=ids, details=details)


def page_fetcher(ids: list[str]):
    """``(page, per_page) -> list[dict]`` over a fixed id list, 1-based
    pages like the reference's ``limit=100&page=N``."""

    def fetch(page: int, per_page: int) -> list[dict]:
        lo = (page - 1) * per_page
        return [{"_id": i} for i in ids[lo : lo + per_page]]

    return fetch


def absent_key(rng: random.Random, taken) -> str:
    while True:
        k = _ticket_id(rng)
        if k not in taken:
            return k


# --- corpus ---------------------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    near_pairs: list[tuple[int, int]]  # planted near-duplicates
    dup_groups: list[list[int]]  # planted exact duplicates (modulo case/space)


_DOC_VOCAB = [f"{a}{b}{c}" for a in "bcdfghklmnprstvz" for b in "aeiou" for c in "nrstlmkdp"]
_STOP = ["the", "and", "of", "to", "that", "is", "with", "be", "have"]


def _doc_words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(_STOP) if rng.random() < 0.12 else rng.choice(_DOC_VOCAB) for _ in range(n)]


def corpus(seed: int, n_docs: int, n_near: int, n_dup: int) -> Corpus:
    """``n_docs`` documents of 110-130 words. ``n_near`` of them are
    near-duplicates of an earlier document: 2 words replaced, one in
    each half, which leaves word-trigram Jaccard at 0.89-0.93.
    ``n_dup`` are verbatim copies with different case and spacing."""
    rng = random.Random(f"corpus-{seed}")
    n_orig = n_docs - n_near - n_dup
    docs = [_doc_words(rng, rng.randrange(110, 131)) for _ in range(n_orig)]
    texts: list[str] = [" ".join(w) for w in docs]
    near_pairs, dup_groups = [], []
    srcs = rng.sample(range(n_orig), n_near + n_dup)
    for src in srcs[:n_near]:
        words = list(docs[src])
        half = len(words) // 2
        for j in range(2):
            pos = j * half + rng.randrange(half)
            words[pos] = rng.choice(_DOC_VOCAB) + "x"  # never in vocab: a real change
        near_pairs.append((src, len(texts)))
        texts.append(" ".join(words))
    for src in srcs[n_near:]:
        variant = "  ".join(texts[src].split(" ")).upper() if rng.random() < 0.5 else " " + texts[src].title()
        dup_groups.append([src, len(texts)])
        texts.append(variant)
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    docs_out = sorted((new_id[i], t) for i, t in enumerate(texts))
    return Corpus(
        docs=docs_out,
        near_pairs=[tuple(sorted((new_id[a], new_id[b]))) for a, b in near_pairs],
        dup_groups=[sorted(new_id[i] for i in g) for g in dup_groups],
    )


def embeddings(seed: int, n: int, dim: int, n_queries: int, n_clusters: int = 64):
    """Gaussian-mixture corpus ``(n, dim)`` and queries drawn near random
    corpus points — the clustered shape PQ codebooks are trained for."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    centers = rng.normal(size=(n_clusters, dim))
    X = centers[rng.integers(0, n_clusters, n)] + 0.6 * rng.normal(size=(n, dim))
    Q = X[rng.integers(0, n, n_queries)] + 0.3 * rng.normal(size=(n_queries, dim))
    return X, Q

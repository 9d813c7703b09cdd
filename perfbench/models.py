"""Reference models and output checkers. Every expected value is computed
here, in plain Python/numpy, from the generated inputs alone; no engine
code path is consulted. Each ``check_*`` returns a list of error strings
(empty means the output is exact)."""

from __future__ import annotations

import re
import time

import numpy as np

MAX_ERRORS = 5


def _errs(errors: list[str]) -> list[str]:
    return errors[:MAX_ERRORS] + ([f"... {len(errors) - MAX_ERRORS} more"] if len(errors) > MAX_ERRORS else [])


# --- tickets --------------------------------------------------------------


def readable(epoch_s: int) -> str:
    """``yyyy-MM-dd HH:mm:ss`` in UTC, the table's ``updatedDatetime``."""
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch_s))


def ticket_model(records) -> dict[str, tuple[str, str]]:
    """Key -> (subject, updatedDatetime) for a set of raw records."""
    return {r["_id"]: (r["subject"], readable(r["updatedTimestamp"])) for r in records}


def apply_batch(model: dict, details: dict[str, dict]) -> dict:
    """Newest-wins upsert of a batch into a copy of ``model``."""
    out = dict(model)
    out.update(ticket_model(details.values()))
    return out


def check_table(rows, model: dict) -> list[str]:
    """``rows`` are ``(key, *values)`` tuples of the live table. Exact:
    no lost key, no duplicate key, no extra key, every value current."""
    errors = []
    seen: dict = {}
    for key, *vals in rows:
        if key in seen:
            errors.append(f"duplicate key {key}")
        seen[key] = tuple(vals)
    missing = model.keys() - seen.keys()
    extra = seen.keys() - model.keys()
    errors += [f"lost key {k}" for k in sorted(missing)[:MAX_ERRORS]]
    errors += [f"unexpected key {k}" for k in sorted(extra)[:MAX_ERRORS]]
    for key, vals in seen.items():
        want = model.get(key)
        if want is not None and tuple(want) != vals:
            errors.append(f"key {key}: got {vals}, want {tuple(want)}")
    return _errs(errors)


# --- versioned reads -----------------------------------------------------


def check_probe(rows, model: dict, key: str) -> list[str]:
    want = [(key, *model[key])] if key in model else []
    got = sorted(tuple(r) for r in rows)
    return [] if got == want else [f"probe {key}: got {got}, want {want}"]


def version_agg(model: dict) -> tuple:
    """The time-travel aggregate of the table at ``model``: rows, distinct
    keys, total subject length, newest ``updatedDatetime``."""
    return (
        len(model),
        len(model),
        sum(len(s) for s, _ in model.values()),
        max(u for _, u in model.values()),
    )


def check_version_agg(got: tuple, model: dict, version: int) -> list[str]:
    want = version_agg(model)
    return [] if got == want else [f"v{version}: got {got}, want {want}"]


# --- corpus ---------------------------------------------------------------


def normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


def shingles(text: str, n: int = 3) -> frozenset[str]:
    toks = normalize(text).split(" ")
    if len(toks) < n:
        return frozenset([normalize(text)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def exact_pairs(docs, threshold: float, n: int = 3) -> dict[tuple[int, int], float]:
    """Every pair with word-n-gram Jaccard >= threshold, via an inverted
    index (a pair with J > 0 shares a shingle, so this is complete)."""
    sets = {i: shingles(t, n) for i, t in docs}
    index: dict[str, list[int]] = {}
    for i, s in sets.items():
        for g in s:
            index.setdefault(g, []).append(i)
    cands = set()
    for ids in index.values():
        cands.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1 :])
    out = {}
    for a, b in cands:
        a, b = min(a, b), max(a, b)
        j = jaccard(sets[a], sets[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def check_pairs(rows, want: dict[tuple[int, int], float], complete: bool) -> list[str]:
    """``rows`` are ``(id_a, id_b, jaccard_sim)``. Every returned pair must
    be a true pair with exactly the Python Jaccard; ``complete`` also
    requires every true pair to be returned."""
    errors = []
    got = {}
    for a, b, j in rows:
        if (a, b) in got:
            errors.append(f"duplicate pair {(a, b)}")
        got[(a, b)] = j
        if (a, b) not in want:
            errors.append(f"false pair {(a, b)} sim={j}")
        elif j != want[(a, b)]:
            errors.append(f"pair {(a, b)}: sim {j} != {want[(a, b)]}")
    if complete:
        errors += [f"missed pair {p}" for p in sorted(want.keys() - got.keys())]
    return _errs(errors)


def content_groups(docs) -> dict[int, int]:
    """keep_doc_id -> dup_count for exact dedup on normalized text."""
    groups: dict[str, list[int]] = {}
    for i, t in docs:
        groups.setdefault(normalize(t), []).append(i)
    return {min(ids): len(ids) for ids in groups.values()}


def check_groups(rows, want: dict[int, int]) -> list[str]:
    got = {}
    errors = []
    for keep, count in rows:
        if keep in got:
            errors.append(f"duplicate group {keep}")
        got[keep] = count
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        errors.append(f"{len(diff)} groups differ, e.g. {diff[:3]}")
    return _errs(errors)


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_components(rows, want: dict[int, int]) -> list[str]:
    got = dict(rows)
    if len(got) != len(rows):
        return ["duplicate node in components"]
    if got == want:
        return []
    bad = sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))
    return _errs([f"node {k}: got {got.get(k)}, want {want.get(k)}" for k in bad])


_QUALITY_STOP = set(
    "the a an and or of to in is are was were be been it this that for on with as at by from not".split()
)


def quality(text: str) -> float:
    """``text.quality_score`` restated: length, punctuation, mean word
    length and stop-word terms, summed in the same order."""
    toks = normalize(text).split(" ")
    n = len(toks)
    len_ok = 1.0 if 5 <= n <= 10000 else 0.0
    p = len(re.findall(r"[^\w\s]", text, flags=re.ASCII)) / len(text) if text else 0.0
    punct_ok = 1.0 if p <= 0.2 else 1.0 - p
    mwl = sum(len(t) for t in toks) / n if n else 0.0
    mwl_ok = 1.0 if 2 <= mwl <= 12 else 0.5
    sw = sum(t in _QUALITY_STOP for t in toks) / n if n else 0.0
    sw_ok = 1.0 if sw >= 0.05 else 0.5
    return len_ok * 0.4 + punct_ok * 0.2 + mwl_ok * 0.2 + sw_ok * 0.2


def check_values(rows, want: dict, what: str) -> list[str]:
    got = dict(rows)
    if len(got) != len(rows) or got.keys() != want.keys():
        return [f"{what}: got {len(rows)} rows for {len(got)} ids, want {len(want)}"]
    return _errs([f"{what} {k}: got {got[k]}, want {v}" for k, v in want.items() if got[k] != v])


# --- vectors --------------------------------------------------------------


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k ids ``(nq, k)`` and scores, ties to smaller id."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = Qn @ Xn.T
    ids = np.arange(X.shape[0])
    top = np.stack([np.lexsort((ids, -row))[:k] for row in S])
    return top, np.take_along_axis(S, top, axis=1)


def topk_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """``(query_id, id, cos_sim, rank)`` rows -> rank-ordered lists."""
    out: dict[int, list] = {}
    for q, i, s, r in sorted(rows, key=lambda r: (r[0], r[3])):
        out.setdefault(q, []).append((i, s))
    return out


def check_topk(rows, top: np.ndarray, scores: np.ndarray, tol: float = 1e-5) -> list[str]:
    got = topk_by_query(rows)
    errors = []
    if sorted(got) != list(range(len(top))):
        errors.append(f"queries answered: {len(got)}, want {len(top)}")
    for q, lst in got.items():
        ids = [i for i, _ in lst]
        if q >= len(top) or ids != top[q].tolist():
            errors.append(f"query {q}: ids {ids[:4]}.. != {top[q][:4].tolist() if q < len(top) else None}..")
            continue
        worst = max(abs(s - w) for (_, s), w in zip(lst, scores[q]))
        if worst > tol:
            errors.append(f"query {q}: score off by {worst:.2e}")
    return _errs(errors)


def check_scores(rows, X: np.ndarray, Q: np.ndarray, k: int, tol: float = 1e-5) -> list[str]:
    """Approximate top-k: every returned score is the exact cosine of its
    (query, id) pair, ranks are 1..k, and each query gets k rows."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    errors = []
    for q, lst in topk_by_query(rows).items():
        if len(lst) != k or len({i for i, _ in lst}) != k:
            errors.append(f"query {q}: {len(lst)} rows, want {k} distinct")
        for i, s in lst:
            if abs(float(Qn[q] @ Xn[i]) - s) > tol:
                errors.append(f"query {q} id {i}: score {s} is not the exact cosine")
                break
    return _errs(errors)


def recall_at_k(rows, top: np.ndarray) -> float:
    got = topk_by_query(rows)
    hits = sum(len({i for i, _ in got.get(q, [])} & set(top[q].tolist())) for q in range(len(top)))
    return hits / top.size

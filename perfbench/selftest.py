"""The benchmark's self-test, pure Python and Spark-free: every checker
must reject a corrupted output (a dropped row, a duplicated key, a stale
version, a wrong score), the generators must give byte-identical inputs
for one seed and different inputs for another, and ``BENCHMARK.json``
must name exactly the metrics ``run.py`` reports.

    python3 perfbench/selftest.py

``run.py`` calls ``run()`` before every measurement.
"""

from __future__ import annotations

import json
import os
import pickle
import sys


import gen
import models


def _same_and_seeded(make) -> bool:
    return pickle.dumps(make(1)) == pickle.dumps(make(1)) != pickle.dumps(make(2))


def _generators(problems: list[str]) -> None:
    base = gen.base_tickets(1, 40)
    cases = {
        "base_tickets": lambda s: gen.base_tickets(s, 40),
        "sync_batch": lambda s: vars(gen.sync_batch(s, 0, base, 20, 0.7)),
        "corpus": lambda s: vars(gen.corpus(s, 60, 6, 3)),
        "embeddings": lambda s: [a.tobytes() for a in gen.embeddings(s, 50, 8, 4)],
    }
    problems += [f"generator {name} is not seeded" for name, make in cases.items() if not _same_and_seeded(make)]


def _rejects(problems: list[str], what: str, errors: list[str]) -> None:
    if not errors:
        problems.append(f"checker accepted {what}")


def _accepts(problems: list[str], what: str, errors: list[str]) -> None:
    if errors:
        problems.append(f"checker rejected {what}: {errors[0]}")


def _tickets(problems: list[str]) -> None:
    base = gen.base_tickets(3, 40)
    batch = gen.sync_batch(3, 0, base, 20, 0.7)
    old = models.ticket_model(base)
    want = models.apply_batch(old, batch.details)
    rows = [(k, *v) for k, v in want.items()]
    _accepts(problems, "the exact table", models.check_table(rows, want))
    _rejects(problems, "a dropped row", models.check_table(rows[1:], want))
    _rejects(problems, "a duplicated key", models.check_table(rows + rows[:1], want))
    upd = next(k for k in batch.details if k in old)
    stale = [(k, *old[k]) if k == upd else (k, *v) for k, v in want.items()]
    _rejects(problems, "a stale version", models.check_table(stale, want))


def _versioned_reads(problems: list[str]) -> None:
    base = gen.base_tickets(4, 40)
    v0 = models.ticket_model(base)
    batch = gen.sync_batch(4, 0, base, 20, 0.7)
    v1 = models.apply_batch(v0, batch.details)
    key = next(k for k in batch.details if k in v0)
    _accepts(problems, "the exact probe", models.check_probe([(key, *v1[key])], v1, key))
    _rejects(problems, "a stale probe", models.check_probe([(key, *v0[key])], v1, key))
    _rejects(problems, "a dropped probe row", models.check_probe([], v1, key))
    _rejects(problems, "a duplicated probe row", models.check_probe([(key, *v1[key])] * 2, v1, key))
    _accepts(problems, "the exact aggregate", models.check_version_agg(models.version_agg(v1), v1, 1))
    _rejects(problems, "a stale version's aggregate", models.check_version_agg(models.version_agg(v0), v1, 1))


def _corpus(problems: list[str]) -> None:
    c = gen.corpus(5, 300, 30, 15)
    pairs = models.exact_pairs(c.docs, 0.8)
    planted = set(c.near_pairs) | {tuple(g) for g in c.dup_groups}
    if set(pairs) != planted:
        problems.append(f"corpus: {len(pairs)} true pairs, {len(planted)} planted")
    near = [pairs[p] for p in c.near_pairs]
    if not all(0.88 <= j <= 0.93 for j in near):
        problems.append(f"corpus: near-duplicate Jaccard outside 0.88-0.93: {min(near)}-{max(near)}")
    rows = [(a, b, j) for (a, b), j in pairs.items()]
    _accepts(problems, "the exact pairs", models.check_pairs(rows, pairs, complete=True))
    _rejects(problems, "a dropped pair", models.check_pairs(rows[1:], pairs, complete=True))
    _rejects(problems, "a duplicated pair", models.check_pairs(rows + rows[:1], pairs, complete=False))
    (a, b, j), rest = rows[0], rows[1:]
    _rejects(problems, "a wrong similarity", models.check_pairs([(a, b, j - 1e-9)] + rest, pairs, complete=False))
    groups = models.content_groups(c.docs)
    grows = list(groups.items())
    _accepts(problems, "the exact groups", models.check_groups(grows, groups))
    _rejects(problems, "a dropped group", models.check_groups(grows[1:], groups))
    _rejects(problems, "a duplicated group", models.check_groups(grows + grows[:1], groups))
    comp = models.components(pairs)
    crows = list(comp.items())
    _accepts(problems, "the exact components", models.check_components(crows, comp))
    _rejects(problems, "a dropped node", models.check_components(crows[1:], comp))
    _rejects(problems, "a duplicated node", models.check_components(crows + crows[:1], comp))
    q = {i: models.quality(t) for i, t in c.docs}
    qrows = list(q.items())
    _accepts(problems, "the exact quality", models.check_values(qrows, q, "quality"))
    _rejects(problems, "a wrong quality", models.check_values([(0, q[0] + 0.2)] + qrows[1:], q, "quality"))
    _rejects(problems, "a dropped quality row", models.check_values(qrows[1:], q, "quality"))


def _vectors(problems: list[str]) -> None:
    X, Q = gen.embeddings(6, 300, 8, 5)
    top, scores = models.exact_topk(X, Q, 4)
    rows = [(q, int(top[q, r]), float(scores[q, r]), r + 1) for q in range(5) for r in range(4)]
    _accepts(problems, "the exact top-k", models.check_topk(rows, top, scores))
    _rejects(problems, "a dropped top-k row", models.check_topk(rows[1:], top, scores))
    _rejects(problems, "a duplicated top-k row", models.check_topk(rows + rows[:1], top, scores))
    q0, i0, s0, r0 = rows[0]
    _rejects(problems, "a wrong top-k score", models.check_topk([(q0, i0, s0 + 1e-4, r0)] + rows[1:], top, scores))
    _accepts(problems, "exact approximate scores", models.check_scores(rows, X, Q, 4))
    _rejects(problems, "a wrong approximate score", models.check_scores([(q0, i0, s0 + 1e-4, r0)] + rows[1:], X, Q, 4))
    _rejects(problems, "a dropped approximate row", models.check_scores(rows[1:], X, Q, 4))
    if models.recall_at_k(rows, top) != 1.0 or models.recall_at_k(rows[4:], top) != 0.8:
        problems.append("recall_at_k miscounts")


def _benchmark_json(problems: list[str]) -> None:
    import run

    path = os.path.join(run.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        spec = json.load(f)
    if {m["name"]: m["unit"] for m in spec["end_to_end"]} != run.END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
    if {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} != run.per_layer():
        problems.append("BENCHMARK.json per_layer differs from run.per_layer()")


def run() -> list[str]:
    problems: list[str] = []
    for part in (_generators, _tickets, _versioned_reads, _corpus, _vectors, _benchmark_json):
        part(problems)
    return problems


if __name__ == "__main__":
    found = run()
    print("\n".join(found) or "self-test passed")
    sys.exit(1 if found else 0)

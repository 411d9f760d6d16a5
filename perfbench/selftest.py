"""Self-test of the benchmark's checks: each accepts the reference output and
rejects a deliberately perturbed one (a dropped pair, a swapped label, a rank
off by 1e-6, ...). Plain Python, no Spark.

Usage: python3 perfbench/selftest.py   (exits 1 on the first check that
accepts a perturbed output or rejects a correct one)
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, errors: list[str], should_fail: bool) -> None:
    ok = bool(errors) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {'rejected' if errors else 'accepted'}"
          + (f" ({errors[0]})" if errors else ""))
    if not ok:
        FAILURES.append(name)


def relational() -> None:
    frame = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.0, 3.25]})
    expect("frame: identical", checks.check_frame("q", frame, frame.iloc[::-1]), False)
    changed = frame.copy()
    changed.loc[1, "v"] = 2.0000001
    expect("frame: value changed", checks.check_frame("q", changed, frame), True)
    expect("frame: row dropped", checks.check_frame("q", frame.iloc[:2], frame), True)


def graph(rng: np.random.Generator) -> None:
    users = rng.integers(0, 40, 600)
    hours = rng.integers(0, 30, 600)
    types = rng.integers(0, 3, 600)
    weights = checks.cooccurrence_edges(users, hours, types)
    edges = list(weights)
    verts = {v for e in edges for v in e}

    labels = checks.union_find_labels(verts, edges)
    expect("components: reference", checks.check_equal("cc", labels, dict(labels)), False)
    swapped = dict(labels)
    a, b = sorted(verts)[:2]
    swapped[a], swapped[b] = labels[b] + 1, labels[a]
    expect("components: swapped label", checks.check_equal("cc", swapped, labels), True)
    isolated = checks.union_find_labels(verts | {10_000}, edges)
    expect("components: extra vertex", checks.check_equal("cc", isolated, labels), True)

    src, dst, w = checks.normalized_sym(weights)
    ranks = checks.pagerank(src, dst, w)
    expect("pagerank: reference", checks.check_ranks("pr", ranks, ranks, len(src)), False)
    off = dict(ranks)
    off[a] += 1e-6
    expect("pagerank: rank off by 1e-6", checks.check_ranks("pr", off, ranks, len(src)), True)
    seeds = sorted(verts)[:3]
    ppr = checks.pagerank(src, dst, w, teleport={s: 1 / 3 for s in seeds})
    expect("ppr: reference", checks.check_ranks("ppr", ppr, ppr, len(src)), False)
    expect("ppr: plain ranks given", checks.check_ranks("ppr", ranks, ppr, len(src)), True)

    dist = checks.bfs_distances(checks.adjacency(edges), seeds)
    expect("bfs: reference", checks.check_bfs(dist, dist, edges), False)
    far = dict(dist)
    key = next(k for k, d in far.items() if d > 0)
    far[key] += 2
    expect("bfs: distance off by 2", checks.check_bfs(far, dist, edges), True)


def dedup(rng: np.random.Generator) -> None:
    texts = gen.make_corpus(rng, 150, 20)
    docs = dict(enumerate(texts))
    pairs = checks.jaccard_pairs(docs, 0.04, 0.02 * len(docs))
    assert pairs, "the generated corpus has no near-duplicate pairs"
    labels = checks.union_find_labels(docs, pairs)
    expect("dedup labels: reference", checks.check_equal("labels", labels, dict(labels)), False)
    # Drop a pair whose removal splits a cluster (a pair of two documents
    # that no other pair links): the labels must change, and be caught.
    degree = checks.degrees(pairs)
    lone = next(p for p in pairs if degree[p[0]] == 1 and degree[p[1]] == 1)
    fewer = checks.union_find_labels(docs, [p for p in pairs if p != lone])
    expect("dedup labels: a pair dropped", checks.check_equal("labels", fewer, labels), True)


def similarity(rng: np.random.Generator) -> None:
    corpus = rng.normal(size=(200, 16)).astype(np.float32)
    ids = np.arange(200)
    queries = {1000 + i: rng.normal(size=16).astype(np.float32) for i in range(5)}
    exact = checks.cosine_topk(ids, corpus, list(queries), np.stack(list(queries.values())), 5)
    vectors = {int(i): corpus[i] for i in ids}

    def cos(q, i):
        q, v = queries[q].astype(np.float64), vectors[i].astype(np.float64)
        return float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))

    result = {q: [(i, cos(q, i)) for i in want] for q, want in exact.items()}
    errs, _ = checks.check_topk(result, vectors, queries, exact, 0.9)
    expect("topk: exact result", errs, False)
    bent = copy.deepcopy(result)
    q0 = next(iter(bent))
    bent[q0][0] = (bent[q0][0][0], bent[q0][0][1] + 1e-3)
    errs, _ = checks.check_topk(bent, vectors, queries, exact, 0.9)
    expect("topk: cosine off by 1e-3", errs, True)
    short = {q: hits[:3] for q, hits in result.items()}
    errs, _ = checks.check_topk(short, vectors, queries, exact, 0.9)
    expect("topk: recall 0.6", errs, True)


def main() -> int:
    rng = np.random.default_rng(7)
    relational()
    graph(rng)
    dedup(rng)
    similarity(rng)
    print(f"{len(FAILURES)} failing" if FAILURES else "all checks behave")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())

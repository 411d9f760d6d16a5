"""Reference computations made apart from the program, and the checks that
compare the program's outputs with them.

Everything here is plain Python or numpy over the generated input files; no
Spark. Each ``check_*`` function returns a list of failure messages (empty
when the output is correct), so a run can report every mismatch at once and
the self-test can assert that a perturbed output is rejected.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

# ---------------------------------------------------------------- relational


def canon_rows(df) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form of a pandas frame: columns sorted by
    name, cells stringified (floats by ``repr``, nulls as ``<null>``), rows
    sorted."""
    import pandas as pd

    def column(values) -> list[str]:
        if values.dtype.kind in "iub":  # no nulls, no floats
            return values.astype(str).tolist()
        return ["<null>" if pd.isna(v) else repr(v) if isinstance(v, float) else str(v)
                for v in values.tolist()]

    cols = [column(df[c]) for c in sorted(df.columns)]
    return sorted(zip(*cols))


def check_frame(name: str, actual, expected) -> list[str]:
    """Row count, column names and the order-insensitive content of a query
    result against the DuckDB oracle's."""
    if len(actual) != len(expected):
        return [f"{name}: {len(actual)} rows, oracle {len(expected)}"]
    if sorted(actual.columns) != sorted(expected.columns):
        return [f"{name}: columns {sorted(actual.columns)} != {sorted(expected.columns)}"]
    if canon_rows(actual) != canon_rows(expected):
        return [f"{name}: values differ from the oracle"]
    return []


# --------------------------------------------------------------------- graph


def cooccurrence_edges(users, hours, types) -> dict[tuple[int, int], int]:
    """Undirected co-occurrence edges ``(u, v) -> weight`` with ``u < v``:
    users are linked once per (hour, event_type) bucket they share."""
    import pandas as pd

    seen = pd.DataFrame({"u": users, "h": hours, "t": types}).drop_duplicates()
    pairs = seen.merge(seen, on=["h", "t"])
    pairs = pairs[pairs["u_x"] < pairs["u_y"]]
    weight = pairs.groupby(["u_x", "u_y"]).size()
    return {(int(a), int(b)): int(x) for (a, b), x in weight.items()}


def adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    return adj


def union_find_labels(vertices, edges) -> dict[int, int]:
    """Component label (the minimum member id) of every vertex."""
    parent = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def degrees(edges) -> dict[int, int]:
    deg: dict[int, int] = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    return dict(deg)


def bfs_distances(adj, landmarks) -> dict[tuple[int, int], int]:
    """Hop distance ``(vertex, landmark) -> d`` for every reachable pair."""
    out = {}
    for lm in landmarks:
        dist = {lm: 0}
        frontier = [lm]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        out.update({(v, lm): d for v, d in dist.items()})
    return out


def normalized_sym(weights: dict[tuple[int, int], int]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Both orientations of every edge, weight divided by the source's
    total weight: ``(src, dst, w)`` arrays."""
    pairs = np.array(list(weights), dtype=np.int64).reshape(-1, 2)
    x = np.array(list(weights.values()), dtype=float)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]])
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
    w = np.concatenate([x, x])
    total = np.bincount(src, weights=w)
    return src, dst, w / total[src]


def pagerank(src, dst, w, teleport: dict[int, float] | None = None,
             alpha: float = 0.15, iters: int = 5, scale: float = 1e14) -> dict[int, float]:
    """Power iteration with each contribution quantized to ``1/scale`` (the
    program's deterministic-sum contract). ``teleport`` switches to
    personalized PageRank: restart mass goes to its keys only."""
    verts = np.array(sorted(set(src.tolist()) | set(dst.tolist()) | set(teleport or ())))
    n = len(verts)
    si, di = np.searchsorted(verts, src), np.searchsorted(verts, dst)
    if teleport:
        tele = np.array([teleport.get(int(v), 0.0) for v in verts])
    else:
        tele = np.full(n, 1.0 / n)
    pr = tele.copy()
    for _ in range(iters):
        q = np.floor(pr[si] * w * scale + 0.5).astype(np.int64)
        sums = np.zeros(n, dtype=np.int64)
        np.add.at(sums, di, q)
        pr = (1.0 - alpha) * (sums / scale) + alpha * tele
    return dict(zip(verts.tolist(), pr.tolist()))


def check_equal(what: str, actual: dict, expected: dict) -> list[str]:
    if actual == expected:
        return []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    wrong = [k for k in expected.keys() & actual.keys() if actual[k] != expected[k]]
    return [f"{what}: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong"
            + (f" (e.g. {wrong[0]}: {actual[wrong[0]]} != {expected[wrong[0]]})" if wrong else "")]


def check_ranks(what: str, actual: dict, expected: dict, n_edges: int, tol: float = 1e-9) -> list[str]:
    """Ranks equal the reference within ``tol`` and sum to 1 within the
    quantization error of the contribution sums (1e-14 per edge)."""
    errors = []
    if actual.keys() != expected.keys():
        errors.append(f"{what}: vertex sets differ ({len(actual)} vs {len(expected)})")
    else:
        worst = max(abs(actual[v] - expected[v]) for v in expected)
        if worst > tol:
            errors.append(f"{what}: rank off by {worst:.3g} (> {tol})")
    total = math.fsum(actual.values())
    if abs(total - 1.0) > n_edges * 1e-14 + 1e-12:
        errors.append(f"{what}: ranks sum to {total!r}, not 1")
    return errors


def check_bfs(actual: dict, expected: dict, edges) -> list[str]:
    errors = check_equal("shortest_paths", actual, expected)
    by_lm: dict[int, dict[int, int]] = defaultdict(dict)
    for (v, lm), d in actual.items():
        by_lm[lm][v] = d
    for lm, dist in by_lm.items():
        for a, b in edges:
            if a in dist and b in dist and abs(dist[a] - dist[b]) > 1:
                errors.append(f"shortest_paths: edge ({a},{b}) spans {dist[a]} and {dist[b]} hops from {lm}")
                return errors
    return errors


# --------------------------------------------------------------------- dedup


def tokens(text: str) -> list[str]:
    """The program's normalization: lower, keep [a-z0-9 ], split on spaces."""
    return re.sub(r"[^a-z0-9 ]", "", text.strip().lower()).split()


def shingles(text: str, n: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard_pairs(docs: dict[int, str], threshold: float, cap: float, n: int = 3) -> dict[tuple[int, int], float]:
    """Exact pairs ``(a, b) -> jaccard`` with ``a < b`` and Jaccard at or
    above ``threshold``, over the shingle universe without shingles held by
    more than ``cap`` documents. Pairs that share no shingle cannot reach a
    positive threshold, so only pairs that share one are scored."""
    sets = {d: shingles(t, n) for d, t in docs.items()}
    holders: dict[str, list[int]] = defaultdict(list)
    for d, s in sets.items():
        for g in s:
            holders[g].append(d)
    kept = {g: ds for g, ds in holders.items() if len(ds) <= cap}
    size: dict[int, int] = defaultdict(int)
    for ds in kept.values():
        for d in ds:
            size[d] += 1
    shared: dict[tuple[int, int], int] = defaultdict(int)
    for ds in kept.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[(a, b)] += 1
    out = {}
    for (a, b), s in shared.items():
        j = s / (size[a] + size[b] - s)
        if j >= threshold:
            out[(a, b)] = j
    return out


# ---------------------------------------------------------------- similarity


def cosine_topk(corpus_ids, corpus, query_ids, queries, k: int) -> dict[int, list[int]]:
    """Exact top-k neighbours by cosine (ties to the smaller id)."""
    c = corpus.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    out = {}
    for qid, q in zip(query_ids, queries.astype(np.float64)):
        sims = c @ (q / np.linalg.norm(q))
        order = np.lexsort((corpus_ids, -sims))
        out[int(qid)] = [int(corpus_ids[i]) for i in order[:k]]
    return out


def check_topk(result: dict[int, list[tuple[int, float]]], vectors: dict[int, np.ndarray],
               queries: dict[int, np.ndarray], exact: dict[int, list[int]],
               recall_floor: float, tol: float = 1e-5) -> tuple[list[str], float]:
    """Reported cosines match numpy and recall@k against the exact top-k is
    at or above ``recall_floor``. Returns (errors, recall)."""
    errors = []
    hits = total = 0
    for qid, want in exact.items():
        got = result.get(qid, [])
        q = queries[qid].astype(np.float64)
        for nid, cos in got:
            v = vectors[nid].astype(np.float64)
            ref = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            if abs(cos - ref) > tol:
                errors.append(f"ivf_topk: cosine({qid},{nid}) = {cos}, numpy {ref}")
                break
        hits += len(set(want) & {nid for nid, _ in got})
        total += len(want)
    recall = hits / total if total else 1.0
    if recall < recall_floor:
        errors.append(f"ivf_topk: recall@k {recall:.3f} below the floor {recall_floor}")
    return errors, recall

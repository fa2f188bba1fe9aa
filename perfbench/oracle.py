"""Exact answers the benchmark checks the program's outputs against.

Nothing here runs on Spark or calls the library's hashing code: shingle
sets are computed from the shingle definition in plain Python, so a defect
in the Arrow/pandas signature path cannot hide itself in the check.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

from lsh_search_go_spark.config import MERSENNE31, POLY_CHAR_MULT, POLY_COMBINE_MULT


_WS = re.compile("[ \t\n\x0b\f\r]+")
_COMMENT = re.compile("#[^\n]*")


def shingles(text: str, cfg) -> np.ndarray:
    """Sorted distinct shingle hashes of one document, written out from the
    definition: strip ``#`` comments, lowercase, split on whitespace, hash
    each token by a base-31 polynomial over its characters mod 2^31-1, and
    combine each window of ``shingle_k`` token hashes by a base-1000003
    polynomial mod 2^31-1."""
    if cfg.strip_comments:
        text = _COMMENT.sub(" ", text)
    if cfg.lowercase:
        text = text.lower()
    p, k = MERSENNE31, cfg.shingle_k
    th = []
    for tok in _WS.split(text):
        if tok:
            h = 0
            for ch in tok:
                h = (h * POLY_CHAR_MULT + ord(ch)) % p
            th.append(h)
    out = set()
    for i in range(len(th) - k + 1):
        h = 0
        for v in th[i:i + k]:
            h = (h * POLY_COMBINE_MULT + v) % p
        out.add(h)
    return np.array(sorted(out), dtype=np.int64)


def shingle_sets(rows: list[dict], cfg) -> dict[str, np.ndarray]:
    """doc_id → shingle set for synth rows (repo, path, commit, content)."""
    from lsh_search_go_spark.synth import doc_id_of

    return {doc_id_of(r["repo"], r["path"], r["commit"]):
            shingles(r[cfg.content_col], cfg) for r in rows}


def jaccard_counts(a: np.ndarray, b: np.ndarray) -> tuple[int, int]:
    """(|a ∩ b|, |a ∪ b|) of two sorted distinct arrays."""
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter, len(a) + len(b) - inter


def similar_pairs(sets: dict[str, np.ndarray], threshold: float
                  ) -> dict[tuple[str, str], tuple[int, int]]:
    """Every pair (src < dst) with Jaccard ≥ ``threshold`` → (inter, uni),
    by a prefix-filtered set-similarity join (Chaudhuri et al. 2006).

    Tokens are ranked rarest first; a set of size n only needs its first
    ``n - ceil(t·n) + 1`` tokens indexed, because two sets with Jaccard ≥ t
    must share a token inside both prefixes.  Candidates also pass the size
    filter ``min ≥ t·max`` before the exact count."""
    freq: dict[int, int] = defaultdict(int)
    for s in sets.values():
        for h in s.tolist():
            freq[h] += 1
    index: dict[int, list[str]] = defaultdict(list)
    out: dict[tuple[str, str], tuple[int, int]] = {}
    for doc in sorted(sets, key=lambda d: len(sets[d])):
        s = sets[doc]
        n = len(s)
        if n == 0:
            continue
        ranked = sorted(s.tolist(), key=lambda h: (freq[h], h))
        prefix = ranked[: n - math.ceil(threshold * n - 1e-9) + 1]
        seen = set()
        for h in prefix:
            for other in index[h]:
                if other in seen:
                    continue
                seen.add(other)
                m = len(sets[other])
                if m < threshold * n:       # sets arrive in size order
                    continue
                inter, uni = jaccard_counts(s, sets[other])
                if inter >= threshold * uni:
                    out[(min(doc, other), max(doc, other))] = (inter, uni)
            index[h].append(doc)
    return out


def components(ids, pairs) -> dict[str, str]:
    """Union-find over ``pairs``: id → smallest id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {i: find(i) for i in parent}


def check_pairs(pairs: list[tuple], sets: dict[str, np.ndarray],
                threshold: float) -> list[str]:
    """Re-verify emitted (src, dst[, inter, uni]) pairs exactly; returns one
    message per pair that is not a true duplicate or reports a wrong count."""
    bad = []
    for p in pairs:
        src, dst = p[0], p[1]
        if src not in sets or dst not in sets or src >= dst:
            bad.append(f"unknown or non-canonical pair {src}/{dst}")
            continue
        inter, uni = jaccard_counts(sets[src], sets[dst])
        if uni == 0 or inter < threshold * uni:
            bad.append(f"pair {src[:8]}/{dst[:8]} has Jaccard {inter}/{uni}")
        elif len(p) >= 4 and (p[2], p[3]) != (inter, uni):
            bad.append(f"pair {src[:8]}/{dst[:8]} reports {p[2]}/{p[3]}, "
                       f"exact {inter}/{uni}")
    return bad


def check_topk(rows, Q: np.ndarray, X: np.ndarray, k: int,
               max_dist: float) -> list[str]:
    """Re-check (query_id, rank, neighbor_id, dist) rows of an L2 top-k:
    exact distances, the inclusive threshold, ranks 1..n in distance order."""
    bad = []
    by_q: dict[int, list] = defaultdict(list)
    for qid, rank, nid, dist in rows:
        by_q[int(qid)].append((int(rank), int(nid), float(dist)))
    for qid, res in by_q.items():
        res.sort()
        if [r for r, _, _ in res] != list(range(1, len(res) + 1)) or len(res) > k:
            bad.append(f"query {qid}: ranks {[r for r, _, _ in res]}")
            continue
        nids = np.array([n for _, n, _ in res])
        got = np.array([d for _, _, d in res])
        exact = np.sqrt(((X[nids] - Q[qid]) ** 2).sum(1))
        if not np.allclose(got, exact, rtol=1e-6, atol=1e-6):
            bad.append(f"query {qid}: distances differ from exact L2")
        if (got > max_dist + 1e-6).any() or (np.diff(got) < -1e-9).any():
            bad.append(f"query {qid}: distances unordered or over max_dist")
    return bad


def eps_recall(rows, gt_ids: np.ndarray, gt_dist: np.ndarray,
               query_ids, epsilon: float = 0.05) -> float:
    """The reference's position-aligned ε rule (metrics.py): a returned
    neighbor at rank r counts when it is in the query's true top-k and its
    distance is within (1+ε) of the true rank-r distance.  Mean over
    ``query_ids`` of hits ÷ k; a query with no result row scores 0."""
    by_q: dict[int, list] = defaultdict(list)
    for qid, rank, nid, dist in rows:
        by_q[int(qid)].append((int(rank), int(nid), float(dist)))
    k = gt_ids.shape[1]
    total = 0.0
    for qid in query_ids:
        truth = set(gt_ids[qid].tolist())
        hits = sum(1 for rank, nid, dist in by_q.get(int(qid), [])
                   if rank <= k and nid in truth
                   and dist <= (1.0 + epsilon) * gt_dist[qid, rank - 1])
        total += hits / k
    return total / max(len(query_ids), 1)

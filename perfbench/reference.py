"""Independent numpy answers the benchmark checks the library against.

Scores follow the library's documented conventions: L2 distance and BM25
(K1 = 1.2, B = 0.75, IDF = ln((N − df + 0.5)/(df + 0.5) + 1), query terms
counted with multiplicity) rounded to 6 decimals; distances rank
ascending, BM25 descending, ties broken by ascending id. Comparisons allow
1e-5 on scores, so two documents whose scores differ by less than that may
legitimately swap ranks.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

K1, B = 1.2, 0.75
TOL = 1e-5


def l2(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    return np.round(np.sqrt(((mat - q) ** 2).sum(axis=1)), 6)


def topk(ids: np.ndarray, scores: np.ndarray, k: int, descending: bool = False):
    """[(id, score)] of the k best, ties by ascending id."""
    key = -scores if descending else scores
    order = np.lexsort((ids, key))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


class BM25Ref:
    """Exact BM25 over a token-list corpus."""

    def __init__(self, ids, token_lists):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.tf = [Counter(t) for t in token_lists]
        self.dl = np.array([len(t) for t in token_lists], dtype=np.float64)
        self.n = len(self.ids)
        self.avgdl = float(self.dl.sum() / self.n) if self.n else 0.0
        self.df: Counter = Counter()
        self.postings: dict[str, list[int]] = defaultdict(list)
        for row, c in enumerate(self.tf):
            self.df.update(c.keys())
            for t in c:
                self.postings[t].append(row)

    def scores(self, query_tokens: list[str]) -> dict[int, float]:
        acc: dict[int, float] = defaultdict(float)
        for t in query_tokens:  # duplicates contribute twice
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            for row in self.postings[t]:
                tf = self.tf[row][t]
                norm = tf + K1 * (1 - B + B * self.dl[row] / self.avgdl)
                acc[row] += idf * tf * (K1 + 1) / norm
        return {int(self.ids[r]): round(s, 6) for r, s in acc.items()}

    def topk(self, query_tokens, k):
        s = self.scores(query_tokens)
        if not s:
            return []
        ids = np.fromiter(s.keys(), dtype=np.int64)
        return topk(ids, np.fromiter(s.values(), dtype=np.float64), k, descending=True)


def aggregate(per_query: list[list[tuple[int, float]]], k: int, descending: bool):
    """Cross-query sum over per-query top-k lists, then top-k."""
    acc: dict[int, float] = defaultdict(float)
    for res in per_query:
        for i, s in res:
            acc[i] += s
    if not acc:
        return []
    ids = np.fromiter(acc.keys(), dtype=np.int64)
    sc = np.round(np.fromiter(acc.values(), dtype=np.float64), 6)
    return topk(ids, sc, k, descending=descending)


def same_ranking(got, want, true_score) -> bool:
    """``got`` equals ``want`` up to near-ties: same length, no id twice,
    the same score at every rank, and every returned id scored by the
    reference as the library scored it. Together these admit only the
    reference's ranking with near-tied documents swapped."""
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    for (gi, gs), (_, ws) in zip(got, want):
        ts = true_score(gi)
        if abs(gs - ws) > TOL or ts is None or abs(ts - gs) > TOL:
            return False
    return True


def recall_at_k(got_ids, ids, scores, k: int) -> float:
    """Share of the exact top-k found; every document tying the k-th exact
    score counts as a true neighbour."""
    order = np.lexsort((ids, scores))
    if len(order) == 0:
        return 1.0
    kth = scores[order[min(k, len(order)) - 1]]
    truth = set(int(i) for i in ids[scores <= kth + TOL])
    hit = len(set(int(i) for i in got_ids[:k]) & truth)
    return min(1.0, hit / min(k, len(order)))


GOPHER_STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it", "on", "for"}


def gopher_keep(toks: list[str]) -> bool:
    """The Gopher quality rules at ``gopher_rules``' default knobs: 30 to
    10000 words, mean word length 3 to 10, at least 2 distinct stopwords,
    the commonest word at most 12.5% of the words."""
    n = len(toks)
    if not 30 <= n <= 10000:
        return False
    mean_len = round(sum(len(t) for t in toks) / n, 6)
    top = max(toks.count(t) for t in set(toks))
    return (3.0 <= mean_len <= 10.0 and len(set(toks) & GOPHER_STOPWORDS) >= 2
            and round(top / n, 6) <= 0.125)


def shingle_sets(token_lists, n: int = 3) -> list[set[str]]:
    out = []
    for toks in token_lists:
        if not toks:
            out.append(set())
            continue
        out.append({" ".join(toks[i:i + n]) for i in range(max(1, len(toks) - n + 1))})
    return out


def largest_shingle_bucket(token_lists, n: int = 3) -> int:
    """The number of documents sharing the commonest word n-gram: the hot
    key of every shingle self-join (exact jaccard, minhash bands)."""
    c: Counter = Counter()
    for s in shingle_sets(token_lists, n):
        c.update(s)
    return max(c.values()) if c else 0


def jaccard_pairs(ids, token_lists, n: int = 3, min_jaccard: float = 0.3):
    """Exact {(a, b): jaccard} for a < b sharing a shingle, jaccard ≥ min."""
    sets = shingle_sets(token_lists, n)
    buckets: dict[str, list[int]] = defaultdict(list)
    for row, s in enumerate(sets):
        for sh in s:
            buckets[sh].append(row)
    inter: Counter = Counter()
    for rows in buckets.values():
        for x in range(len(rows)):
            for y in range(x + 1, len(rows)):
                inter[(rows[x], rows[y])] += 1
    out = {}
    for (x, y), c in inter.items():
        j = round(c / (len(sets[x]) + len(sets[y]) - c), 6)
        if j >= min_jaccard:
            a, b = sorted((int(ids[x]), int(ids[y])))
            out[(a, b)] = j
    return out

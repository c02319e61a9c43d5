"""Oracles that run outside the engine, in numpy, over the generated rows.

Every check returns ``None`` when the engine's answer is right and a short
reason string when it is not.  Ties are handled by comparing against the
oracle's k-th best value rather than demanding one particular id order.
"""

from __future__ import annotations

import re

import numpy as np

K1, B = 1.2, 0.75  # the BM25 constants the program documents (tantivy's)
REL_TOL = 1e-6


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


class Corpus:
    """The rows present in a table at one moment, with derived arrays."""

    def __init__(self, rows: dict[str, np.ndarray]):
        self.ids = rows["id"]
        self.pos = {int(i): p for p, i in enumerate(self.ids)}
        self.vec = rows["vector"].astype(np.float64)
        self.cat = rows["cat"]
        self.toks = [re.split("[^a-z0-9]+", d.lower()) for d in rows["doc"]]
        self.toks = [[t for t in ts if t] for ts in self.toks]
        self.dl = np.array([len(t) for t in self.toks], dtype=np.float64)

    def l2(self, q: np.ndarray, squared: bool = False) -> np.ndarray:
        d2 = ((self.vec - q.astype(np.float64)) ** 2).sum(axis=1)
        return d2 if squared else np.sqrt(d2)

    def exact_topk(self, q: np.ndarray, k: int) -> list[int]:
        order = np.lexsort((self.ids, self.l2(q, squared=True)))
        return [int(self.ids[i]) for i in order[:k]]

    def bm25(self, query: str) -> np.ndarray:
        """Table-global BM25 (OR) of every row; 0 where no term matches."""
        terms = list(dict.fromkeys(t for t in re.split("[^a-z0-9]+", query.lower()) if t))
        n = float(len(self.toks))
        avgdl = float(self.dl.mean())
        score = np.zeros(len(self.toks))
        for t in terms:
            tf = np.array([ts.count(t) for ts in self.toks], dtype=np.float64)
            df = float((tf > 0).sum())
            idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
            norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl / avgdl))
            score = score + np.where(tf > 0, idf * norm, 0.0)
        return score


def check_vector(corpus: Corpus, q, k: int, got: list[tuple[int, float]],
                 cat: int | None = None) -> str | None:
    """Exact top-k by SQL ``distance()``, which is squared L2 (MyScale's L2
    metric): ids and distances must match numpy."""
    d = corpus.l2(np.asarray(q), squared=True)
    keep = np.ones(len(d), bool) if cat is None else corpus.cat == cat
    want_n = min(k, int(keep.sum()))
    if len(got) != want_n:
        return f"vector: {len(got)} rows, want {want_n}"
    kth = np.sort(d[keep])[want_n - 1]
    for gid, gd in got:
        p = corpus.pos.get(int(gid))
        if p is None or not keep[p]:
            return f"vector: id {gid} not eligible"
        if not _close(gd, d[p]):
            return f"vector: id {gid} distance {gd} != {d[p]}"
        if d[p] > kth + REL_TOL * max(1.0, kth):
            return f"vector: id {gid} not in the exact top-{k}"
    return None


def recall(corpus: Corpus, q, k: int, got_ids: list[int]) -> float:
    exact = set(corpus.exact_topk(np.asarray(q), k))
    return len(exact & {int(i) for i in got_ids}) / float(len(exact))


def check_ann(corpus: Corpus, q, k: int, got: list[tuple[int, float]]) -> str | None:
    """Approximate top-k: structure and true (Euclidean) distances, not
    membership."""
    if not 0 < len(got) <= k:
        return f"ann: {len(got)} rows"
    if len({int(i) for i, _ in got}) != len(got):
        return "ann: duplicate ids"
    d = corpus.l2(np.asarray(q))
    for gid, gd in got:
        p = corpus.pos.get(int(gid))
        if p is None:
            return f"ann: unknown id {gid}"
        if not _close(gd, d[p]):
            return f"ann: id {gid} distance {gd} != {d[p]}"
    return None


def check_text(corpus: Corpus, query: str, k: int,
               got: list[tuple[int, float]]) -> str | None:
    """BM25 top-k over every row present: ids and scores must match, so a
    score computed from stale corpus statistics shows."""
    s = corpus.bm25(query)
    matched = int((s > 0).sum())
    want_n = min(k, matched)
    if len(got) != want_n:
        return f"text: {len(got)} rows, want {want_n}"
    kth = np.sort(s)[::-1][want_n - 1] if want_n else 0.0
    for gid, gs in got:
        p = corpus.pos.get(int(gid))
        if p is None:
            return f"text: unknown id {gid}"
        if not _close(gs, s[p]):
            return f"text: id {gid} score {gs} != {s[p]}"
        if s[p] < kth - REL_TOL * max(1.0, kth):
            return f"text: id {gid} not in the BM25 top-{k}"
    return None


def check_hybrid(corpus: Corpus, k: int, got: list[tuple[int, float]]) -> str | None:
    """RSF fusion: at most k distinct known ids, scores in [0, 1], sorted."""
    if not 0 < len(got) <= k:
        return f"hybrid: {len(got)} rows"
    ids = [int(i) for i, _ in got]
    if len(set(ids)) != len(ids) or any(i not in corpus.pos for i in ids):
        return "hybrid: duplicate or unknown ids"
    scores = [float(s) for _, s in got]
    if any(not -1e-9 <= x <= 1.0 + 1e-9 for x in scores):
        return "hybrid: score outside [0, 1]"
    if any(a < b - 1e-12 for a, b in zip(scores, scores[1:])):
        return "hybrid: scores not in descending order"
    return None

"""Exhaustive BM25 oracle over the generated corpus, written without the
engine's scoring code.

The oracle tokenizes each page's text with the engine's documented
analyzer spec (lower-case, split on runs of non letters/digits), builds
dense per-term posting arrays with numpy, and scores every candidate
document for a query. Expected results are ordered by score desc, then
doc id asc, and compared with the engine's rows at 4 decimals.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import regex

K1 = 1.2
B = 0.75
_SPLIT = regex.compile(r"[^\p{L}\p{N}]+")
_Q4 = Decimal("0.0001")


def tokenize(text: str | None) -> list[str]:
    if not text:
        return []
    return [t for t in _SPLIT.split(text.lower()) if t]


def idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def round4(x: float) -> float:
    """Half-up rounding of the shortest decimal form, as Spark's round."""
    return float(Decimal(repr(float(x))).quantize(_Q4, rounding=ROUND_HALF_UP))


def bm25(w: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


class Oracle:
    """Posting arrays for one set of documents.

    ``docs`` is a frame with columns ``url``, ``doc_id`` and ``tokens``
    (a list of terms per document); other columns (``lang``, field
    values) ride along for filters and facets."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs.reset_index(drop=True)
        toks = self.docs["tokens"].tolist()
        self.n = len(toks)
        self.doc_ids = self.docs["doc_id"].to_numpy(dtype=np.int64)
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=self.n)
        self.dl = lens.astype(np.float64)
        self.total_tokens = int(lens.sum())
        self.avgdl = self.total_tokens / self.n if self.n else 0.0
        flat = [t for ts in toks for t in ts]
        codes, vocab = pd.factorize(pd.Series(flat, dtype=object), sort=True)
        self.vocab = list(vocab)
        self.term_code = {t: i for i, t in enumerate(self.vocab)}
        doc_of_tok = np.repeat(np.arange(self.n, dtype=np.int64), lens)
        key = codes.astype(np.int64) * max(self.n, 1) + doc_of_tok
        uk, tf = np.unique(key, return_counts=True)
        self.p_term = uk // max(self.n, 1)
        self.p_doc = uk % max(self.n, 1)
        self.p_tf = tf.astype(np.int64)
        self.ptr = np.searchsorted(self.p_term, np.arange(len(self.vocab) + 1))
        self.df = np.diff(self.ptr)
        self.cf = np.add.reduceat(self.p_tf, self.ptr[:-1]) if len(self.vocab) else (
            np.zeros(0, dtype=np.int64)
        )

    # --- corpus statistics ------------------------------------------------
    def term_df(self, term: str) -> int:
        c = self.term_code.get(term)
        return 0 if c is None else int(self.df[c])

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        c = self.term_code.get(term)
        if c is None:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        lo, hi = self.ptr[c], self.ptr[c + 1]
        return self.p_doc[lo:hi], self.p_tf[lo:hi]

    def n_postings(self) -> int:
        return int(self.p_tf.size)

    # --- scoring ----------------------------------------------------------
    def or_scores(self, terms) -> tuple[np.ndarray, np.ndarray]:
        """(score, matched distinct terms) for every document."""
        score = np.zeros(self.n)
        matched = np.zeros(self.n, dtype=np.int64)
        for t in sorted(set(terms)):
            idx, tf = self.postings(t)
            if idx.size == 0:
                continue
            w = idf(self.n, idx.size)
            score[idx] += bm25(w, tf, self.dl[idx], self.avgdl)
            matched[idx] += 1
        return score, matched

    def contains_any(self, terms) -> np.ndarray:
        mask = np.zeros(self.n, dtype=bool)
        for t in set(terms):
            mask[self.postings(t)[0]] = True
        return mask

    def synonym_scores(self, qterms, synonyms: dict[str, list[str]]) -> np.ndarray:
        """Each query term and its synonyms score as one pseudo-term: tf is
        the sum of member tfs, idf comes from the largest member df. Groups
        are scored independently, so a term listed in two groups counts in
        both."""
        score = np.zeros(self.n)
        for g in sorted(set(qterms)):
            members = sorted({g} | set(synonyms.get(g, ())))
            dfs = [self.term_df(m) for m in members if self.term_df(m) > 0]
            if not dfs:
                continue
            tf = np.zeros(self.n, dtype=np.int64)
            for m in members:
                idx, mtf = self.postings(m)
                tf[idx] += mtf
            hit = np.flatnonzero(tf)
            score[hit] += bm25(idf(self.n, max(dfs)), tf[hit], self.dl[hit], self.avgdl)
        return score

    def ranked(self, score: np.ndarray, mask: np.ndarray, k: int,
               round_first: bool = False) -> list[tuple[int, float]]:
        """Top k of the masked docs as (doc_id, score rounded to 4 places),
        ordered by score desc then doc id asc. ``round_first`` orders by the
        rounded score (scorers that round before the cut)."""
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return []
        s = score[cand]
        if round_first:
            s = np.array([round4(x) for x in s])
        order = np.lexsort((self.doc_ids[cand], -s))[:k]
        top = cand[order]
        return [(int(self.doc_ids[i]), round4(score[i])) for i in top]

    def phrase_docs(self, slots: list[str], slop: int = 0) -> np.ndarray:
        """Row indices of docs holding ``slots`` in order with at most
        ``slop`` extra tokens between them in total."""
        cand = None
        for t in slots:
            idx = set(self.postings(t)[0].tolist())
            cand = idx if cand is None else cand & idx
        hits = []
        for i in sorted(cand or ()):
            if _has_chain(self.docs.at[i, "tokens"], slots, slop):
                hits.append(i)
        return np.asarray(hits, dtype=np.int64)


def _has_chain(toks: list[str], slots: list[str], slop: int) -> bool:
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        pos.setdefault(t, []).append(i)
    # best[p] = least gap budget used by a chain ending at position p
    best = {p: 0 for p in pos.get(slots[0], [])}
    for t in slots[1:]:
        nxt: dict[int, int] = {}
        for p in pos.get(t, []):
            for q, used in best.items():
                if q < p and used + (p - q - 1) <= slop:
                    u = used + (p - q - 1)
                    if u < nxt.get(p, slop + 1):
                        nxt[p] = u
        best = nxt
        if not best:
            return False
    return bool(best)


def same_rows(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Doc ids equal in order and scores equal at 4 decimals."""
    if len(got) != len(want):
        return False
    return all(
        gd == wd and abs(round4(gs) - ws) < 1e-9
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def ordered_shape(got: list[tuple[int, float]], k: int, n_match: int,
                  allowed: set[int]) -> bool:
    """≤ k distinct rows, exactly min(k, n_match) of them, scores
    non-increasing, and every doc satisfies the match predicate."""
    if len(got) != min(k, n_match):
        return False
    ids = [d for d, _ in got]
    if len(set(ids)) != len(ids) or not set(ids) <= allowed:
        return False
    scores = [s for _, s in got]
    return all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))

"""Exhaustive numpy BM25 oracle: the rank-identity reference for the
engine's scorers (FIXTURES.md §2).

It writes the BM25 arithmetic out itself instead of calling
``kafka_es_spark.operators.bm25``, so a change to the engine's formula
shows up as a mismatch here. The float64 op order is the engine's, and
per-term contributions add in sorted-term order from 0.0, as the engine's
per-doc pooling does, so scores are bit-identical."""

import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75


def exhaustive_topk_numpy(
    doc_terms: pd.DataFrame, query_terms: list[str], k: int = 10
) -> list[tuple[int, float]]:
    """Brute-force BM25 over a pandas (doc_id, terms:list[str]) frame:
    top-k (doc_id, score), score desc then doc_id asc."""
    qs = sorted(set(query_terms))
    n = len(doc_terms)
    dls = doc_terms["terms"].map(len).to_numpy(dtype=np.int64)
    avgdl = float(dls.mean()) if n else 0.0
    ids = doc_terms["doc_id"].to_numpy(dtype=np.int64)
    scores = np.zeros(n, dtype=np.float64)
    for q in qs:
        tf = doc_terms["terms"].map(
            lambda ts: int((np.asarray(ts, dtype=object) == q).sum())
        ).to_numpy(dtype=np.int64)
        df = int((tf > 0).sum())
        if df == 0:
            continue
        w = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        mask = tf > 0
        t = tf[mask].astype(np.float64)
        dl = dls[mask].astype(np.float64)
        scores[mask] += w * t * (K1 + 1.0) / (t + K1 * (1.0 - B + B * dl / avgdl))
    hit = scores > 0
    rows = sorted(zip(ids[hit], scores[hit]), key=lambda e: (-e[1], e[0]))
    return [(int(d), float(s)) for d, s in rows[:k]]

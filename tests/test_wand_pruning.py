"""Per-range scorer tests against brute force (pure numpy, no Spark).

``blockmax_topk_vectorized`` (OR, window-level block-max pruning) and
``counted_range_topk`` (AND, minimum_should_match, search_after) must be
bit-identical to exhaustive scorers that add each doc's contributions in
cursor-index order.
"""

import numpy as np

from kafka_es_spark.operators.wand import (
    _Cursor, blockmax_topk_vectorized, counted_range_topk, round_half_up,
)


def mk_cursor(ids, contribs):
    """A _Cursor built directly from raw postings and contributions."""
    c = object.__new__(_Cursor)
    c.ids = np.asarray(ids, dtype=np.int64)
    c.contrib = np.asarray(contribs, dtype=np.float64)
    return c


def brute_topk(raw, k):
    """Exhaustive scorer accumulating per-doc contributions in cursor-index
    order, so results must be bit-identical to the range scorers."""
    docs = sorted({int(d) for ids, _ in raw for d in ids})
    out = []
    for d in docs:
        s = 0.0
        for ids, con in raw:
            j = int(np.searchsorted(ids, d))
            if j < len(ids) and ids[j] == d:
                s += float(con[j])
        out.append((d, s))
    out.sort(key=lambda e: (-e[1], e[0]))
    return out[:k]


def brute_topk_excl(raw, k, excluded=None):
    out = [
        (d, s)
        for d, s in brute_topk(raw, 10**9)
        if excluded is None or d not in excluded
    ]
    return out[:k]


def test_vectorized_matches_bmw_and_bruteforce():
    """blockmax_topk_vectorized must be bit-identical to the brute-force
    scorer on random layouts, including with tombstone exclusions."""
    rng = np.random.default_rng(99)
    for trial in range(300):
        n_terms = int(rng.integers(2, 5))
        raw = []
        for _ in range(n_terms):
            n = int(rng.integers(1, 20))
            ids = np.sort(rng.choice(8000, size=n, replace=False))
            con = np.round(rng.uniform(0.1, 5.0, size=n), 3)
            raw.append((ids.tolist(), con.tolist()))
        k = int(rng.integers(1, 6))
        excluded = None
        if trial % 3 == 0:
            pool = sorted({d for ids, _ in raw for d in ids})
            excluded = frozenset(pool[:: max(1, len(pool) // 3)])
        want = brute_topk_excl(raw, k, excluded)
        cursors = [mk_cursor(ids, con) for ids, con in raw]
        got = blockmax_topk_vectorized(cursors, k, excluded=excluded, wbits=3)
        assert got == want, f"vector trial={trial}"


# ---------------------------------------------------------------------------
# Conjunctive (AND) mode — posting-list intersection semantics
# ---------------------------------------------------------------------------


def brute_and_topk(raw, k):
    """Docs present in EVERY list, scored in cursor-index order."""
    common = set(int(d) for d in raw[0][0])
    for ids, _ in raw[1:]:
        common &= set(int(d) for d in ids)
    out = []
    for d in sorted(common):
        s = 0.0
        for ids, con in raw:
            j = int(np.searchsorted(ids, d))
            s += float(con[j])
        out.append((d, s))
    out.sort(key=lambda e: (-e[1], e[0]))
    return out[:k]


def test_conjunctive_matches_brute_intersection():
    rng = np.random.default_rng(5)
    for trial in range(20):
        raw = []
        for _ in range(rng.integers(2, 5)):
            n = int(rng.integers(3, 40))
            ids = np.sort(rng.choice(100, size=n, replace=False))
            con = np.round(rng.uniform(0.1, 3.0, size=n), 6)
            raw.append((ids.astype(np.int64), con))
        cursors = [mk_cursor(ids, con) for ids, con in raw]
        k = int(rng.integers(1, 8))
        got = counted_range_topk(cursors, k, len(cursors), None)
        want = brute_and_topk(raw, k)
        assert got == want, f"trial {trial}"


def test_conjunctive_empty_on_disjoint_lists():
    raw = [
        ([1, 3, 5], [1.0, 1.0, 1.0]),
        ([2, 4, 6], [1.0, 1.0, 1.0]),
    ]
    cursors = [mk_cursor(i, c) for i, c in raw]
    assert counted_range_topk(cursors, 5, len(cursors), None) == []


def test_conjunctive_excluded_docs_skipped():
    raw = [
        ([1, 2, 3], [3.0, 2.0, 1.0]),
        ([1, 2, 3], [3.0, 2.0, 1.0]),
    ]
    cursors = [mk_cursor(i, c) for i, c in raw]
    got = counted_range_topk(cursors, 2, len(cursors), frozenset({1}))
    assert got == [(2, 4.0), (3, 2.0)]


def brute_msm_topk(raw, k, m, round_to=None, after=None):
    """Docs matching >= m lists, scored in cursor-index order; with
    ``round_to`` ranked on the rounded score, with ``after=(score, doc)``
    only the rows strictly after it."""
    from collections import Counter

    cnt = Counter()
    for ids, _ in raw:
        for d in ids:
            cnt[int(d)] += 1
    out = []
    for d in sorted(d for d, c in cnt.items() if c >= m):
        s = 0.0
        for ids, con in raw:
            j = int(np.searchsorted(ids, d))
            if j < len(ids) and ids[j] == d:
                s += float(con[j])
        if round_to is not None:
            s = float(round_half_up(np.float64(s), round_to))
        out.append((d, s))
    out.sort(key=lambda e: (-e[1], e[0]))
    if after is not None:
        out = [e for e in out if (-e[1], e[0]) > (-after[0], after[1])]
    return out[:k]


def test_msm_matches_brute_counting():
    rng = np.random.default_rng(9)
    for trial in range(20):
        n_lists = int(rng.integers(2, 6))
        raw = []
        for _ in range(n_lists):
            n = int(rng.integers(3, 40))
            ids = np.sort(rng.choice(80, size=n, replace=False))
            con = np.round(rng.uniform(0.1, 3.0, size=n), 6)
            raw.append((ids.astype(np.int64), con))
        cursors = [mk_cursor(ids, con) for ids, con in raw]
        k = int(rng.integers(1, 8))
        m = int(rng.integers(1, n_lists + 1))
        got = counted_range_topk(cursors, k, m, None)
        want = brute_msm_topk(raw, k, m)
        assert got == want, f"trial {trial} m={m}"
        # search_after: the rounded ranking, strictly after a random row
        # of the full rounded order (or before all of them)
        full = brute_msm_topk(raw, 10**9, m, round_to=4)
        after = None
        if full:
            i = int(rng.integers(-1, len(full)))
            if i >= 0:
                after = (full[i][1], full[i][0])
        got = counted_range_topk(cursors, k, m, None, round_to=4, after=after)
        want = brute_msm_topk(raw, k, m, round_to=4, after=after)
        assert got == want, f"trial {trial} m={m} after={after}"
    # boundary equivalence: m=n is AND
    cursors = [mk_cursor(ids, con) for ids, con in raw]
    assert counted_range_topk(cursors, 50, len(raw), None) == brute_and_topk(
        raw, 50
    )

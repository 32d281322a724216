"""X7/X8 — distributed BM25 top-k with block-max WAND pruning.

Query plan (SURVEY.md §3.3):

1. tokenize the query with the document analyzer;
2. look the query terms' df up in the term dictionary a cached
   ``Searcher`` loaded at open (``Searcher.doc_freqs``: pure driver work,
   no Spark job; a one-shot or over-cap reader collects the ≤|q| rows of
   ``term_stats`` instead) → idf per term, with N/avgdl from
   ``stats.json``;
3. read posting segments with ``term IN qterms AND bucket IN qbuckets`` —
   both predicates push into the parquet scan (bucket prunes row groups of
   other term-hash buckets; the files are sorted by term within buckets so
   min/max stats prune precisely);
4. group segments by ``seg`` (doc range): every doc lives in exactly one
   range, so per-range top-k followed by a global TakeOrdered(k) is the
   EXACT global top-k — ranges score in parallel with no cross-talk. A
   cached Searcher holds postings and range_dls hash-partitioned by
   ``seg``, so the cogroup plans with no Exchange and, with step 2 done in
   the driver, a query is one Spark job;
5. inside each range, one numpy pass over per-term cursors (decoded doc
   ids and their BM25 contributions). OR queries use window-level
   block-max pruning (``blockmax_topk_vectorized``: the WAND / block-max
   principle of Broder et al. and Ding & Suel, see PAPERS.md, applied to
   doc-id windows): a window is scored only if the sum of its per-term
   contribution maxima can reach the k-th best score θ. AND,
   minimum_should_match and search_after count the CLAUSES each doc
   matched in one exhaustive pass (``counted_range_topk``, ``_seg_hits``)
   and keep the docs at the floor. A clause is one query term, or a
   group of terms ORed (a clause list, as query_string's ``+`` groups
   pass). Every seg kernel shares one match front end
   (``Searcher._match``: floor, absent-term rules) and one per-range
   match core (``_seg_match``: by-term grouping, the floor early-out,
   the must_not decode, the tombstone drop). Ties break score desc,
   doc_id asc.

Rank-identity discipline: every scorer takes its contributions from
``bm25.contrib`` and pools them per doc with ``_pool``, which adds each
doc's contributions in sorted-term order starting from 0.0 (np.bincount
adds in element order). So topk, topk_many, search_after_topk,
relational_scores, terms_set_topk and synonym_topk give bit-identical
float64 scores for the same doc, equal to a sequential per-term sum.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_es_spark.operators import aggs
from kafka_es_spark.operators.spimi import (
    decode_ids, decode_range_dls, decode_segment, gather_dls,
)
from kafka_es_spark.operators.bm25 import contrib, contrib_col, idf, idf_col
from kafka_es_spark.plans.build_index import read_relation
from kafka_es_spark.session import local_frame

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _seg_dls(key, dpdf: pd.DataFrame) -> tuple[int, np.ndarray]:
    """Seg-cogroup kernel preamble: the seg's decoded range-dl array
    (dl_base, dl_arr). Postings for a doc range with no dl rows are never
    a legal state (dls derive from the same docmap); returning empty
    would silently drop the range's docs (ADVICE r3 #3), so it raises.
    Every gather from the array goes through ``gather_dls``."""
    if len(dpdf) == 0:
        raise ValueError(
            f"seg {key} has postings but no range-dl rows — "
            "corrupt or mixed-layout index"
        )
    return decode_range_dls(dpdf.to_dict("records"))


def _pool(
    ids: np.ndarray, vals: np.ndarray, excluded: frozenset[int] | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-doc pooling of one range's term-ordered postings: the distinct
    doc ids (ascending), how many postings each has, and the sum of its
    ``vals``. np.bincount adds in element order, so a doc's sum runs in
    input order from 0.0 — the order ``np.add.at`` and a sequential loop
    use; callers concatenate their inputs term by term in sorted-term
    order. ``excluded`` doc ids (delete tombstones) are dropped."""
    uids, inv, cnt = np.unique(ids, return_inverse=True, return_counts=True)
    sums = np.bincount(inv, weights=vals, minlength=uids.size)
    if excluded:
        dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
        keep = ~np.isin(uids, dead)
        uids, cnt, sums = uids[keep], cnt[keep], sums[keep]
    return uids, cnt, sums


class _Cursor:
    """One query term's postings within a doc range (possibly several
    segment rows from different shards/epochs, concatenated in doc order):
    the doc ids and their BM25 contributions. Per-posting dl is gathered
    from the range dl array (``dl_arr[doc_id - dl_base]``, the norms
    analogue)."""

    __slots__ = ("ids", "contrib")

    def __init__(self, rows: list[dict], w: float, avgdl: float, codec: str,
                 dl_base: int, dl_arr: np.ndarray):
        rows = sorted(rows, key=lambda r: r["first_docid"])
        ids_l, tf_l = [], []
        for r in rows:
            i, tfs = decode_segment(r, codec)
            ids_l.append(i)
            tf_l.append(tfs)
        self.ids = np.concatenate(ids_l)
        dls = gather_dls(self.ids, dl_base, dl_arr)
        self.contrib = contrib(np.concatenate(tf_l), dls, w, avgdl)


def _seg_cursors(key, by_term: dict[str, list[dict]], dpdf: pd.DataFrame,
                 weights: dict[str, float], avgdl: float,
                 codec: str) -> list[_Cursor]:
    """One seg-cogroup group's cursors: one per weighted term with rows
    in the group, in sorted-term order."""
    dl_base, dl_arr = _seg_dls(key, dpdf)
    return [
        _Cursor(by_term[t], weights[t], avgdl, codec, dl_base, dl_arr)
        for t in sorted(weights)
        if t in by_term
    ]


class _Match(NamedTuple):
    """A match request resolved against the index (``Searcher._match``).

    ``clauses``: each clause's terms present in the index (ORed within
    the clause); ``need``: how many clauses a hit must match; ``neg``:
    the negated terms; ``weights``: the scored terms' weights — every
    clause term, plus any term that only adds score. ``plain``: each
    clause is one distinct term and the clause terms are the scored
    terms, so a doc's posting count over the scored terms IS its clause
    count."""

    clauses: list[list[str]]
    need: int
    neg: list[str]
    weights: dict[str, float]
    plain: bool


def _seg_match(pdf: pd.DataFrame, m: _Match, excluded: frozenset[int] | None,
               codec: str):
    """The match core of every seg kernel: one seg group's segment rows
    by term, and the doc ids the group drops — ``excluded`` (tombstones)
    plus every doc of a negated term, decoded from the same pruned scan.
    None when fewer than ``m.need`` clauses have postings in the group:
    no doc there can qualify, so nothing is decoded."""
    by_term: dict[str, list[dict]] = {}
    for r in pdf.to_dict("records"):
        by_term.setdefault(r["term"], []).append(r)
    if sum(any(t in by_term for t in c) for c in m.clauses) < m.need:
        return None
    neg = [decode_ids(r, codec) for t in m.neg for r in by_term.get(t, ())]
    if neg:
        excluded = (excluded or frozenset()) | frozenset(
            np.concatenate(neg).tolist()
        )
    return by_term, excluded


def _clause_counts(uids: np.ndarray, term_ids: dict[str, np.ndarray],
                   clauses: list[list[str]]) -> np.ndarray:
    """How many of ``clauses`` each of ``uids`` (ascending) matched: a
    doc counts once per clause however many of its terms it holds."""
    hit = [
        np.unique(np.concatenate([term_ids[t] for t in c if t in term_ids]))
        for c in clauses
        if any(t in term_ids for t in c)
    ]
    ids, n = np.unique(np.concatenate(hit), return_counts=True)
    at = np.minimum(np.searchsorted(ids, uids), ids.size - 1)
    return np.where(ids[at] == uids, n[at], 0)


def _seg_hits(key, pdf: pd.DataFrame, dpdf: pd.DataFrame | None, m: _Match,
              excluded: frozenset[int] | None, codec: str, avgdl: float):
    """One seg group's hits: the docs that match at least ``m.need``
    clauses and are not dropped (``_seg_match``), as ascending doc ids,
    their clause counts and their BM25 sums over the scored terms
    (pooled in sorted-term order, as every scorer pools).
    ``dpdf=None`` is the no-score mode: only the clause terms' doc ids
    are decoded (no dl gather, no tf decode) and the sums are 0."""
    g = _seg_match(pdf, m, excluded, codec)
    if g is None:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    by_term, dead = g
    if dpdf is None:
        terms = sorted({t for c in m.clauses for t in c if t in by_term})
        ids = [np.concatenate([decode_ids(r, codec) for r in by_term[t]])
               for t in terms]
        vals = [np.zeros(i.size) for i in ids]
    else:
        cursors = _seg_cursors(key, by_term, dpdf, m.weights, avgdl, codec)
        terms = [t for t in sorted(m.weights) if t in by_term]
        ids, vals = [c.ids for c in cursors], [c.contrib for c in cursors]
    uids, cnt, sums = _pool(np.concatenate(ids), np.concatenate(vals), dead)
    if not m.plain:
        cnt = _clause_counts(uids, dict(zip(terms, ids)), m.clauses)
    keep = cnt >= m.need
    return uids[keep], cnt[keep], sums[keep]


def _pool_cursors(
    cursors: list[_Cursor], excluded: frozenset[int] | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``_pool`` over whole cursors, in their order."""
    return _pool(
        np.concatenate([c.ids for c in cursors]),
        np.concatenate([c.contrib for c in cursors]),
        excluded,
    )


def blockmax_topk_vectorized(
    cursors: list[_Cursor],
    k: int,
    excluded: frozenset[int] | None = None,
    wbits: int = 11,
) -> list[tuple[int, float]]:
    """Exact per-range top-k with window-level block-max pruning, fully
    numpy — the vectorized formulation of BMW's pruning principle: a
    doc-id window is evaluated only if the sum of per-cursor score upper
    bounds inside it can reach θ; everything else is skipped wholesale.

    Two passes: (1) evaluate the highest-upper-bound windows (geometric
    growth) until k docs are scored → θ = k-th best; (2) evaluate every
    remaining window whose upper bound ≥ θ (ties included, same as WAND's
    pivot condition). Docs in never-evaluated windows provably score < θ.
    Scores are bit-identical to the exhaustive scorers: per-doc
    contributions pool in cursor-index order (``_pool``). Upper bounds
    are per-window maxima of the *exact* decoded contributions.

    Python-loop cost is O(#cursors + log(#windows)) per range instead of
    O(#postings) — the constant-factor fix for sub-second serving at large
    ranges (VERDICT r1 §perf)."""
    if not cursors or k <= 0:
        return []
    W = np.int64(wbits)
    base = min(int(c.ids[0]) >> wbits for c in cursors)
    top = max(int(c.ids[-1]) >> wbits for c in cursors)
    nw = top - base + 1
    ub = np.zeros(nw, dtype=np.float64)
    wins_per_cursor = []
    for c in cursors:
        w_of = (c.ids >> W) - base
        wins_per_cursor.append(w_of)
        bnd = np.flatnonzero(np.diff(w_of)) + 1
        starts = np.concatenate([[0], bnd])
        ub[w_of[starts]] += np.maximum.reduceat(c.contrib, starts)

    order = np.argsort(-ub, kind="stable")

    def eval_mask(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        sels = [mask[w_of] for w_of in wins_per_cursor]
        uids, _, sc = _pool(
            np.concatenate([c.ids[s] for c, s in zip(cursors, sels)]),
            np.concatenate([c.contrib[s] for c, s in zip(cursors, sels)]),
            excluded,
        )
        return uids, sc

    n_live = int((ub > 0).sum())
    j = min(1, n_live)
    mask1 = np.zeros(nw, dtype=bool)
    uids, sc = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    while j > 0:
        mask1[:] = False
        mask1[order[:j]] = True
        uids, sc = eval_mask(mask1)
        if uids.size >= k or j >= n_live:
            break
        j = min(n_live, 2 * j)
    if uids.size > k:
        theta = float(-np.partition(-sc, k - 1)[k - 1])
    elif uids.size == k:
        theta = float(sc.min())
    else:
        theta = -np.inf
    mask2 = (ub >= theta) & (ub > 0) & ~mask1
    if mask2.any():
        u2, s2 = eval_mask(mask2)
        uids = np.concatenate([uids, u2])
        sc = np.concatenate([sc, s2])
    if uids.size == 0:
        return []
    sel = np.lexsort((uids, -sc))[:k]
    return [(int(uids[i]), float(sc[i])) for i in sel]


def round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """SQL ROUND (HALF_UP for positive values) — the serving-score
    rounding rule, applied inside the pagination scorer so cursor
    comparisons see exactly what the client saw."""
    scale = 10.0 ** digits
    return np.floor(x * scale + 0.5) / scale


def snippet(qterms, window: int, length: int):
    """The highlight snippet of the ``text`` column: ``length`` characters
    starting ``window`` before the first case-insensitive occurrence of
    any of ``qterms`` (the earliest across terms), clamped to the text
    start; the text's first ``length`` characters when none occurs."""
    big = F.lit(2_000_000_000)
    lower_t = F.lower(F.col("text"))
    ps = [
        F.when(F.instr(lower_t, F.lit(t)) > 0, F.instr(lower_t, F.lit(t)))
        .otherwise(big)
        for t in qterms
    ]
    first = ps[0] if len(ps) == 1 else F.least(*ps)
    start = F.greatest(F.lit(1), first - F.lit(int(window)))
    return F.when(
        first < big, F.substring(F.col("text"), start, F.lit(int(length)))
    ).otherwise(F.substring(F.col("text"), F.lit(1), F.lit(int(length))))


def counted_range_topk(
    cursors: list[_Cursor],
    k: int,
    need: int,
    excluded: frozenset[int] | None,
    round_to: int | None = None,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Top-k over one doc range of the docs that match at least ``need``
    of the cursors' terms: 1 is OR, ``len(cursors)`` is AND (ES
    bool.must), anything between is minimum_should_match. One exhaustive
    vectorized pass: a bound over "any ≥ need subset" is much weaker than
    the OR bound, ``_Cursor`` has decoded every posting already (so an
    intersection plan saves no decode), and a range holds ≤ 2^seg_bits
    postings per term by construction.

    search_after: ``round_to`` ranks on the rounded serving score and
    ``after=(score, doc_id)`` keeps only rows strictly after it in
    (score desc, doc_id asc) order. Block-max pruning would be unsound
    there — a θ seeded from the unfiltered top-k would prune docs that
    qualify after the cursor."""
    if not cursors or k <= 0:
        return []
    uids, cnt, sc = _pool_cursors(cursors, excluded)
    keep = cnt >= need
    uids, sc = uids[keep], sc[keep]
    if round_to is not None:
        sc = round_half_up(sc, round_to)
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        m = (sc < s_a) | ((sc == s_a) & (uids > d_a))
        uids, sc = uids[m], sc[m]
    sel = np.lexsort((uids, -sc))[:k]
    return [(int(uids[i]), float(sc[i])) for i in sel]


# Above this many term_stats rows (all partials, from the parquet footers)
# a cached Searcher keeps no in-memory dictionary. The dict costs about
# 130 bytes per term (46,403 terms: 5.8 MB), so the cap bounds it near
# 130 MB.
DOC_FREQS_MAX_ROWS = 1_000_000


def _term_dictionary(ts_dir: str):
    """The term_stats partials as a pyarrow dataset, or None when they
    hold more than ``DOC_FREQS_MAX_ROWS`` rows (the footers' row counts;
    no data is read to find that out)."""
    import pyarrow.dataset as ds

    dset = ds.dataset(ts_dir, format="parquet", partitioning="hive")
    return None if dset.count_rows() > DOC_FREQS_MAX_ROWS else dset


def _load_doc_freqs(ts_dir: str, terms=None) -> dict[str, int] | None:
    """term → df summed over the term_stats partials, read with pyarrow
    (no Spark job): every term, or only those of ``terms`` present in the
    index. None above ``DOC_FREQS_MAX_ROWS`` rows."""
    import pyarrow.dataset as ds

    dset = _term_dictionary(ts_dir)
    if dset is None:
        return None
    flt = None if terms is None else ds.field("term").isin(list(terms))
    agg = dset.to_table(columns=["term", "df"], filter=flt).group_by(
        "term"
    ).aggregate([("df", "sum")])
    return dict(zip(agg["term"].to_pylist(), agg["df_sum"].to_pylist()))


def index_doc_freqs(spark: SparkSession, index_dir: str, terms) -> dict[str, int]:
    """Index-level df of each of ``terms`` present in the index, for the
    scorers that hold no Searcher: a pyarrow read of the matching
    ``term_stats`` rows, or above ``DOC_FREQS_MAX_ROWS`` the pushed-down
    Spark collect a Searcher without a dictionary makes."""
    ts_dir = os.path.join(index_dir, "term_stats")
    terms = sorted(set(terms))
    if not terms:
        return {}
    dfs = _load_doc_freqs(ts_dir, terms)
    if dfs is not None:
        return dfs
    rows = (
        read_relation(spark, ts_dir)
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def index_prefix_terms(
    spark: SparkSession, index_dir: str, prefix: str, limit: int
) -> list[str]:
    """The first ``limit`` distinct index terms starting with ``prefix``,
    in alphabetic order (the match_phrase_prefix expansion rule): a
    pyarrow read of the matching ``term`` values, or above
    ``DOC_FREQS_MAX_ROWS`` a Spark scan of ``term_stats``."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    ts_dir = os.path.join(index_dir, "term_stats")
    dset = _term_dictionary(ts_dir)
    if dset is not None:
        col = dset.to_table(
            columns=["term"],
            filter=pc.starts_with(ds.field("term"), pattern=prefix),
        ).column("term")
        return sorted(set(col.to_pylist()))[: int(limit)]
    rows = (
        read_relation(spark, ts_dir)
        .filter(F.col("term").startswith(prefix))
        .select("term")
        .distinct()
        .orderBy("term")
        .limit(int(limit))
        .collect()
    )
    return [r["term"] for r in rows]


class Searcher:
    """Query engine over an index dataset — the amortization a serving
    engine does with its open index readers. At open it loads stats.json
    and, with ``cache=True`` (the default):

    * persists the segment rows (``segs``) and range dls hash-partitioned
      by ``seg`` into ``spark.sql.shuffle.partitions`` partitions, so once
      they are materialized (by the first query) every seg cogroup reads
      them with no Exchange;
    * loads the term dictionary (term → df, summed over the term_stats
      partials) with pyarrow, so ``doc_freqs`` and every query's idf
      weights cost no Spark job. An index with more than
      ``DOC_FREQS_MAX_ROWS`` term_stats rows keeps no dictionary.

    Cached or not, every index relation (postings, term_stats, range_dls
    and the docmap) is resolved once, at open, with its schema read from a
    parquet footer (``build_index.read_relation``), so no query runs a
    schema-inference job. ``docmap`` is that relation, not persisted:
    every url join and stored-field read of every query class plans on it.

    A query is then one Spark job. ``cache=False`` (one-shot readers such
    as ``wand_topk``) persists nothing and loads no dictionary: the
    cogroup shuffles the pruned parquet scan by seg, and ``doc_freqs``
    collects the pushed-down ``term_stats`` rows. The
    ``term_stats`` DataFrame stays available for dictionary scans (prefix,
    fuzzy, wildcard expansion). A Searcher sees the index as it was at
    open, its docmap included (the file listing is fixed when the relation
    is resolved): reopen it after ``append_epoch`` or ``compact_index``."""

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        from kafka_es_spark.operators.compaction import recover_swap_dirs
        from kafka_es_spark.operators.deletes import read_tombstone_ids
        from kafka_es_spark.plans.build_index import (
            BUCKET_SCHEME, check_format, load_stats,
        )

        self.spark = spark
        self.index_dir = index_dir

        if not os.path.exists(os.path.join(index_dir, "stats.json")):
            raise FileNotFoundError(
                f"no index dataset at {index_dir!r} (stats.json missing) — "
                "build one with plans.build_index / jobs/build_index.py"
            )
        # a crash inside a compaction swap window leaves a relation under
        # X.old with no X — repair before reading anything
        recover_swap_dirs(index_dir)
        # pending delete tombstones persisted in the index (_deletes/):
        # applied to every query from this Searcher — the format enforces
        # the exclusion, callers need not thread the set through
        self.persistent_excluded = read_tombstone_ids(spark, index_dir)
        st = load_stats(index_dir)
        check_format(index_dir, st)
        self.n_docs, self.avgdl, self.codec = st["n_docs"], st["avgdl"], st["codec"]
        self.seg_bits = int(st.get("seg_bits", 17))
        # prune only when the index explicitly records the scheme this query
        # side computes (md5 hash32) — a legacy/mixed-scheme index falls back
        # to unpruned scans instead of silently skipping segments (ADVICE r2)
        self.n_term_buckets = (
            st.get("n_term_buckets")
            if st.get("bucket_scheme") == BUCKET_SCHEME
            else None
        )
        # without the position stream: parquet projects pos_blob out of
        # every term query's scan and of the serving cache (positional
        # queries read it through operators.positions)
        self.segs = read_relation(
            spark, os.path.join(index_dir, "postings")
        ).drop("pos_blob")
        # term_stats holds PARTIALS (unit=base + one per streaming epoch;
        # doc sets are disjoint so df/cf sum exactly) — aggregate per term
        ts_dir = os.path.join(index_dir, "term_stats")
        self.term_stats = (
            read_relation(spark, ts_dir)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        # the norms analogue: tiny (1-2 bytes/doc), resident while serving
        self.range_dls = read_relation(spark, os.path.join(index_dir, "range_dls"))
        # not persisted: a corpus-sized relation that queries only join on
        # a hit set would hold memory for every open Searcher
        self.docmap = read_relation(spark, os.path.join(index_dir, "docmap"))
        self._cached = cache
        # term → df, read once at open so a query's weights cost no job;
        # None (one-shot readers, or a dictionary over the row cap) means
        # doc_freqs runs the pushed-down term_stats collect instead
        self._dfs = _load_doc_freqs(ts_dir) if cache else None
        if cache:
            # cached hash-partitioned by seg, as a seg cogroup requires: every
            # query's cogroup then reads both sides with no Exchange. Not
            # applied uncached, where the cogroup's own exchange does the
            # same work and a repartition would add one to the paths that do
            # not group by seg (_postings_rows)
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            self.segs = self.segs.repartition(n_parts, "seg").persist()
            self.term_stats = self.term_stats.persist()
            self.range_dls = self.range_dls.repartition(n_parts, "seg").persist()

    def doc_freqs(self, terms) -> dict[str, int]:
        """Index-level df of each of ``terms`` present in the index (absent
        terms are left out), summed over the term_stats partials. A cached
        Searcher answers from the dictionary it loaded at open; otherwise
        one pushed-down ``term_stats`` collect."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        if self._dfs is not None:
            return {t: self._dfs[t] for t in terms if t in self._dfs}
        rows = self.term_stats.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    def _query_segs(self, terms) -> DataFrame:
        """Segment rows for the query terms, with term-bucket pruning pushed
        into the scan: the bucket hash is the portable md5 hash32, computed
        driver-side, so `bucket IN (...)` skips whole files of non-query
        buckets (plus row-group min/max pruning on `term` within files)."""
        segs = self.segs.filter(F.col("term").isin(list(terms)))
        if self.n_term_buckets:
            from kafka_es_spark.operators.dedup import hash32_py

            bs = sorted({hash32_py(t) % self.n_term_buckets for t in terms})
            segs = segs.filter(F.col("bucket").isin(bs))
        return segs

    def close(self) -> None:
        if self._cached:
            self.segs.unpersist()
            self.term_stats.unpersist()
            self.range_dls.unpersist()

    def _query_dls(self, segs: DataFrame) -> DataFrame:
        """Range-dl rows for the doc ranges the query touches.

        Small index (≤1024 ranges total — from n_docs/2^seg_bits, pure
        driver arithmetic, no job): return the whole (persisted) relation;
        the cogroup only materializes groups and a per-query seg-list
        collect would cost more than it prunes. Large index: one tiny job
        over the (pruned, persisted) segment rows yields the query's seg
        list and the IN filter prunes the range_dls scan the same way
        buckets prune postings. Head-term queries touch every range —
        above 10k segs the filter is skipped (full scan is the right plan
        there anyway, and a 10⁵-literal IN list would bloat the plan)."""
        n_segs_total = (self.n_docs + (1 << self.seg_bits) - 1) >> self.seg_bits
        if n_segs_total <= 1024:
            return self.range_dls
        qsegs = [r["seg"] for r in segs.select("seg").distinct().collect()]
        dls = self.range_dls
        if 0 < len(qsegs) <= 10_000:
            dls = dls.filter(F.col("seg").isin(qsegs))
        return dls

    def topk(self, query: str, k: int = 10, round_to: int | None = 4,
             with_url: bool = False, fetch_k: int | None = None,
             exclude_doc_ids: set[int] | None = None,
             exclude_urls: DataFrame | None = None,
             mode: str = "or",
             min_should_match: int | None = None,
             must_not: str | None = None,
             boosts: dict[str, float] | None = None) -> DataFrame:
        """fetch_k > k widens the per-range heaps and the final limit so a
        caller can re-rank with its own tie-break (e.g. corpus doc id at a
        rounded-score boundary) without losing tied candidates.

        ``mode="and"`` switches to conjunctive semantics (ES bool.must,
        SURVEY §2.8 X8's other half): a doc must contain EVERY query term.
        A term absent from the whole index ⇒ empty result; per range the
        counting scorer keeps the docs on every posting list. Scores of
        surviving docs are identical to OR-mode scores (same contributions,
        same accumulation order).

        ``min_should_match=m`` (ES bool minimum_should_match) requires a
        doc to match at least m of the query's distinct terms — m=1 is
        plain OR, m=#terms is AND; intermediate m uses the vectorized
        counting scorer (counted_range_topk). Mutually exclusive with
        mode="and" (which is the m=#terms special case).

        ``must_not`` (ES bool.must_not): a doc containing ANY of the
        negated string's terms is excluded from the result, regardless of
        how well it matches the positive terms; negated terms contribute
        nothing to the score (ES runs must_not clauses in filter context).
        Negated posting lists are read through the same pruned scan as the
        positive ones and decoded per doc range, so the per-task exclusion
        set is bounded by the range size (2^seg_bits docs) — never a global
        collect. A pure-negation query (no positive terms) is rejected: ES
        expresses that as match_all + must_not, and this engine has no
        match_all scorer by design (it would be a full corpus scan).

        ``boosts`` (ES ``term^boost``): per-term query-time weight
        multipliers applied to the idf — driver arithmetic only, every
        scorer and its block-max bounds inherit the scaled weight.

        exclude_doc_ids / exclude_urls (a DataFrame with a ``url`` column)
        are X9 delete tombstones, enforced INSIDE the scorer (skipped at
        full-evaluation time, so per-range top-k stays exact); index stats
        are unchanged — ES semantics between delete and segment merge. The
        tombstone set is collected and shipped in the UDF closure: it is
        small by contract (pending deletes since the last rebuild)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        qterms = sorted(set(tokenize_py(query)))
        if must_not and not qterms and tokenize_py(must_not):
            raise ValueError(
                "pure-negation query: must_not requires at least one "
                "positive term (ES match_all + must_not is a full "
                "corpus scan — not a top-k posting-list query)"
            )
        weights = None
        if boosts:
            # query-time boosts (ES term ^boost): scale the term weight —
            # pure driver arithmetic, the scorers are boost-agnostic
            weights = {
                t: w * float(boosts.get(t, 1.0))
                for t, w in self._query_weights(qterms).items()
            }
        m = self._match(query, mode, min_should_match, must_not, weights)
        if m is None:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        excluded = (
            frozenset(int(d) for d in (exclude_doc_ids or ()))
            | self.persistent_excluded
        )
        if exclude_urls is not None:
            hits = self.docmap.join(
                F.broadcast(exclude_urls.select("url").distinct()), "url"
            ).select("doc_id").collect()
            excluded = excluded | frozenset(int(r["doc_id"]) for r in hits)
        k = max(k, fetch_k or 0)

        def rank(cursors, dead):
            if m.need > 1:
                return counted_range_topk(cursors, k, m.need, dead)
            return blockmax_topk_vectorized(cursors, k, excluded=dead)

        ranged = self._ranked(m, excluded or None, rank)
        return self._finish_topk(ranged, k, round_to, None, with_url)

    def _ranked(self, m: _Match, excluded: frozenset[int] | None,
                rank) -> DataFrame:
        """The seg cogroup behind ``topk`` and ``search_after_topk``: per
        seg group, ``rank(cursors, dropped doc ids)`` → [(doc_id, score)]
        over the match core's (``_seg_match``) cursors of the scored
        terms. ``m`` is a query string's (``m.plain``), so the rankers'
        per-doc cursor count is its clause count."""
        avgdl, codec = self.avgdl, self.codec

        def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            g = _seg_match(pdf, m, excluded, codec)
            top = [] if g is None else rank(
                _seg_cursors(key, g[0], dpdf, m.weights, avgdl, codec), g[1]
            )
            return pd.DataFrame(top, columns=["doc_id", "score"])

        return self._score_cogroup(
            sorted(set(m.weights) | set(m.neg)), score_range, TOPK_SCHEMA
        )

    def prefix_topk(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES prefix-query analogue: expand the prefix against the term
        dictionary (``index_prefix_terms``: a driver-side pyarrow read of
        term_stats, no Spark job below ``DOC_FREQS_MAX_ROWS``) to the first
        ``max_expansions`` terms in ALPHABETIC order (the
        match_phrase_prefix expansion rule — deterministic, unlike
        df-ranked rewrites), then score the expansion as a plain OR
        disjunction through the standard block-max path. Scores are
        regular BM25 over the expanded terms (Lucene's scoring-boolean
        rewrite), so the result is oracle-checkable."""
        terms = index_prefix_terms(
            self.spark, self.index_dir, prefix, max_expansions
        )
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def fuzzy_topk(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 1,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES fuzzy-query analogue: expand ``term`` against the term
        dictionary to every term within Levenshtein distance
        ``max_edits``, then score the expansion as a BM25 OR disjunction
        (Lucene's scoring-boolean rewrite — same rewrite prefix_topk
        uses, so results stay oracle-checkable; ES's default
        blended-idf rewrite is a scoring variant of the same expansion).

        Expansion is deterministic: candidates ordered by (edit distance
        asc, term asc), capped at ``max_expansions`` (ES default 50). The
        dictionary scan stays JVM-side — ``F.levenshtein`` over
        term_stats, pre-pruned by a ``startswith(prefix)`` pushdown when
        ``prefix_length > 0`` (the ES prefix_length knob: at web scale an
        unanchored scan touches the whole vocabulary, so a nonzero prefix
        is the scale path) and a cheap ``abs(len(t) - len(term))``
        length filter that eliminates most candidates before the O(len²)
        distance."""
        cand = self.term_stats.select("term").filter(
            F.abs(F.length("term") - len(term)) <= int(max_edits)
        )
        if prefix_length > 0:
            cand = cand.filter(F.col("term").startswith(term[:prefix_length]))
        rows = (
            cand.withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= int(max_edits))
            .orderBy("dist", "term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def wildcard_topk(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES wildcard-query analogue: ``*`` matches any run, ``?`` one
        character. The pattern maps 1:1 onto SQL LIKE (``%`` / ``_`` —
        literal %/_ in terms are escaped), so the dictionary scan stays a
        JVM-side LIKE over term_stats; expansion is deterministic
        (alphabetic, capped at max_expansions) and scored as a BM25 OR —
        the same scoring-boolean rewrite prefix/fuzzy use. A leading
        ``*`` forces a full dictionary scan (ES warns identically); an
        anchored prefix before the first wildcard is sargable."""
        like = (
            pattern.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace("*", "%").replace("?", "_")
        )
        rows = (
            self.term_stats.filter(F.col("term").like(like))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def search_after_topk(
        self,
        query: str,
        k: int = 10,
        after: tuple[float, int] | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        round_to: int = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES search_after deep pagination: return the k rows strictly
        AFTER ``after=(score, doc_id)`` in (score desc, doc_id asc)
        order; ``after=None`` is page 1. Ranking keys on the ROUNDED
        serving score — the cursor a client passes back is what it was
        shown, so the sort key must round identically (round_to is
        therefore required here, unlike topk). Per-range scoring is
        exhaustive (see counted_range_topk: pruning against a cursor-
        filtered θ is unsound); stateless between pages, like
        search_after and unlike scroll contexts."""
        m = self._match(query, mode, min_should_match, must_not)
        if m is None:
            return local_frame(self.spark, [], TOPK_SCHEMA)

        def rank(cursors, dead):
            return counted_range_topk(cursors, k, m.need, dead, round_to, after)

        ranged = self._ranked(m, self.persistent_excluded or None, rank)
        return self._finish_topk(ranged, k, None, None, with_url)

    def matching_doc_ids(
        self,
        query: str | list[str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """All doc ids matching the query (ES filter context / the doc set
        behind ``_count`` and aggregations): OR = union of the query
        terms' posting lists, AND = intersection, min_should_match = docs
        on >= m lists; minus must_not docs and pending tombstones.
        ``query`` and ``weights`` as in ``_match``; only the keys of
        ``weights``, the terms present in the index, are used, so
        term_stats is not collected again.

        The no-score mode of the ``matched_scores`` kernel (``_seg_hits``
        with no dl rows): no range_dls read and no tf decode — one pruned
        postings scan grouped by doc range, output one row per matching
        doc. A doc lives in one range, so ranges are disjoint and need no
        dedup."""
        return self._hits(
            self._match(query, mode, min_should_match, must_not, weights),
            score=False,
        )

    def match_count(self, query: str, mode: str = "or",
                    min_should_match: int | None = None,
                    must_not: str | None = None) -> DataFrame:
        """ES ``_count`` analogue: one row ``(n_hits)`` — the number of
        live docs matching the query under the given bool semantics."""
        return self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        ).agg(F.count("*").alias("n_hits"))

    def facet_terms(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES terms-aggregation analogue (``aggs: {terms: {field: ...}}``):
        bucket the docs matching ``query`` by ``field`` and return the top
        ``size`` buckets as (value, doc_count), ordered doc_count desc
        then value asc (deterministic tie-break; ES orders _count desc).

        Aggregations run over ALL matching docs — the hit set comes from
        ``matching_doc_ids`` (posting-list algebra, no scoring), joined to
        the docmap for urls and to ``field_values`` (a (url, field)
        relation, e.g. the source table) for the bucket key. Both joins
        key on high-cardinality columns and reduce to a tiny
        (#distinct-values)-row aggregate — the classic shuffle-then-
        partial-agg plan; Catalyst broadcasts whichever side is small."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [field], field_values)
        return aggs.terms(j, [field], size=size)

    def terms_metric_agg(
        self,
        query: str,
        field_values: DataFrame,
        bucket_field: str,
        metric_field: str,
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES terms aggregation with metric SUB-aggregations — the
        canonical nested-agg request (``terms`` buckets each carrying
        ``avg``/``sum``/``min``/``max`` of a second field). Same plan as
        facet_terms (hit set → docmap → field join → tiny aggregate);
        the metrics ride the same partial aggregation, so the nested
        request costs exactly one more column per metric, not a second
        pass."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [bucket_field, metric_field], field_values)
        subs = aggs.metric_columns({
            f"{kind}_v": (kind, metric_field)
            for kind in ("avg", "sum", "min", "max")
        })
        return aggs.terms(j, [bucket_field], subs, size=size)

    def index_stats(self) -> DataFrame:
        """ES ``_stats`` analogue computed from the index relations
        alone: one row (n_docs, n_deleted, n_terms, n_postings, sum_tf,
        avgdl). n_docs/avgdl come from the manifest corpus stats,
        n_deleted from pending tombstones, n_terms from the term
        dictionary, n_postings/sum_tf from a full decode of the posting
        segments (one pass over the index — the same cost class as ES
        force-merge accounting; never run per query). Everything except
        byte sizes is relationally checkable against the raw corpus,
        which makes this the index-integrity probe: a mismatch vs the
        corpus-side oracle means the index lost or duplicated
        postings."""
        from kafka_es_spark.operators.deletes import read_tombstone_ids

        spark = self.spark
        n_deleted = len(read_tombstone_ids(spark, self.index_dir) or ())
        n_terms = self.term_stats.count()
        segs = read_relation(spark, os.path.join(self.index_dir, "postings"))
        p = self._postings_rows(segs.drop("pos_blob")).agg(
            F.count("*").alias("n_postings"),
            F.sum("tf").alias("sum_tf"),
        ).collect()[0]
        return local_frame(
            spark,
            [(
                int(self.n_docs), int(n_deleted), int(n_terms),
                int(p["n_postings"]), int(p["sum_tf"]),
                float(round(self.avgdl, 4)),
            )],
            "n_docs long, n_deleted long, n_terms long, n_postings long, "
            "sum_tf long, avgdl double",
        )

    def _live(self, frame: DataFrame) -> DataFrame:
        """``frame`` without the docs the index's pending tombstones
        delete."""
        if not self.persistent_excluded:
            return frame
        return frame.filter(
            ~F.col("doc_id").isin(sorted(self.persistent_excluded))
        )

    def _agg_input(
        self,
        hits: DataFrame | None,
        cols: list[str] | None,
        field_values: DataFrame | None = None,
        how: str = "inner",
    ) -> DataFrame:
        """The input relation of every aggregation: ``hits`` (one row per
        doc_id, any other columns kept; None = every live doc, the
        ``global`` scope) joined to each doc's url and ``cols`` values.

        ``field_values=None`` reads ``cols`` from the docmap's STORED
        fields (the ES doc-values path — fields persisted at build via
        ``build_index(store_fields=...)``, plus ``dl``, which every index
        stores): one join on the dense doc id, no external table, no
        second url-keyed shuffle. Otherwise ``cols`` come from the
        external (url, ...) relation ``field_values`` joined on url
        (``how``: "left" keeps hits it has no row for, their values
        null); a col it lacks is read from the stored fields, and
        ``cols=None`` takes all of its columns. A ``hits`` that already
        carries ``url`` skips the docmap when it needs no stored field."""
        dm = self.docmap
        ext = set(field_values.columns) if field_values is not None else set()
        if cols is not None:
            cols = [c for c in dict.fromkeys(cols) if c not in ("doc_id", "url")]
        stored = [c for c in cols or () if c not in ext]
        missing = [c for c in stored if c not in dm.columns]
        if missing:
            raise ValueError(
                f"fields {missing} are not stored in this index's docmap "
                f"(stored: {sorted(set(dm.columns) - {'doc_id'})}); "
                "build with store_fields=(...) or pass field_values"
            )
        if hits is None:
            j = self._live(dm.select("doc_id", "url", *stored))
        elif "url" in hits.columns and not stored:
            j = hits
        else:
            url = [] if "url" in hits.columns else ["url"]
            j = hits.join(dm.select("doc_id", *url, *stored), "doc_id")
        if field_values is None:
            return j
        if cols is not None:
            field_values = field_values.select(
                "url", *[c for c in cols if c in ext]
            )
        return j.join(field_values, "url", how)

    def highlight_topk(
        self,
        query: str,
        docs_text: DataFrame,
        k: int = 10,
        window: int = 40,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """ES highlight analogue: top-k hits with a snippet centered on
        the FIRST occurrence of any query term (case-insensitive; ties
        between terms resolve to the earliest position, so the choice is
        deterministic). ``docs_text`` is a (url, text) relation; snippet
        = ``2*window`` characters starting ``window`` before the match
        (clamped to the text start). Pure Column expressions — the
        per-term ``instr`` probes and the substring run JVM-side on only
        the k hit rows after the top-k join, never on the corpus."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        qterms = sorted(set(tokenize_py(query)))
        out = self.topk(
            query, k=k, round_to=round_to, with_url=True, fetch_k=fetch_k,
            mode=mode,
        )
        # LEFT join: a hit whose url is missing from docs_text keeps its
        # rank with a null snippet (ES never drops a hit because the
        # highlighter had nothing to read)
        j = out.join(docs_text.select("url", "text"), "url", "left")
        return j.select(
            "doc_id", "url", "score",
            snippet(qterms, window, 2 * int(window)).alias("snippet"),
        ).orderBy(F.col("score").desc(), F.col("doc_id").asc())

    def _postings_rows(self, segs: DataFrame) -> DataFrame:
        """Decode posting segments to a relational (doc_id, term, tf)
        DataFrame — the bridge from the compressed index to plain
        Catalyst joins/aggregations. Streamed per Arrow batch in
        mapInPandas; cost O(postings of the segments passed in)."""
        codec = self.codec

        def explode_segs(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids_l, tf_l, terms_l = [], [], []
                for r in pdf.to_dict("records"):
                    ids, tfs = decode_segment(r, codec)
                    ids_l.append(ids)
                    tf_l.append(tfs)
                    terms_l.append(np.full(ids.size, r["term"], dtype=object))
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_l),
                        "term": np.concatenate(terms_l),
                        "tf": np.concatenate(tf_l).astype(np.int64),
                    }
                )

        return segs.mapInPandas(
            explode_segs, "doc_id long, term string, tf long"
        )

    def _dl_rows(self, segs: DataFrame) -> DataFrame:
        """Decode the touched ranges' dl arrays to relational
        (doc_id, dl) rows (one applyInPandas per doc range)."""

        def decode_dls(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            base, arr = decode_range_dls(pdf.to_dict("records"))
            return pd.DataFrame(
                {
                    "doc_id": base + np.arange(arr.size, dtype=np.int64),
                    "dl": arr.astype(np.int64),
                }
            )

        return self._query_dls(segs).groupBy("seg").applyInPandas(
            decode_dls, "doc_id long, dl long"
        )

    def top_hits(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        buckets: int = 5,
        per_bucket: int = 2,
        round_to: int | None = 4,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        tie=None,
    ) -> DataFrame:
        """ES terms aggregation with a ``top_hits`` sub-aggregation: for
        the top ``buckets`` field buckets (doc_count desc, value asc),
        the ``per_bucket`` best-scoring hits — rows (field, doc_count,
        rnk, url, score) ordered by bucket rank then hit rank.

        Plan: the scored hit set (``relational_scores``, one postings
        pass that applies the match floor and must_not) ⨝ docmap ⨝
        field_values is the bucketed relation; ranking is a window
        partitioned BY THE BUCKET KEY — per-bucket local sorts, never a
        global one — and bucket selection is a tiny (#distinct
        values)-row aggregate broadcast back. ``tie`` optionally
        overrides the within-bucket tie-break column (default internal
        doc_id; pass e.g. a corpus id derived from the url when comparing
        against an external ranking).
        Scores are OR-mode BM25 sums over the doc's matched query terms
        — on an AND/msm hit set every doc matched its scoring terms, so
        these equal the bool-query scores ES reports in top_hits."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        if not tokenize_py(query) or self.n_docs == 0 or self.avgdl == 0:
            return local_frame(
                self.spark, [], f"{field} string, doc_count long, "
                "rnk long, url string, score double",
            )
        scored = self.relational_scores(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        j = self._agg_input(scored, [field], field_values)
        if round_to is not None:
            j = j.withColumn("score", F.round("score", round_to))
        return aggs.top_hits(j, field, buckets, per_bucket, tie)

    def explain(
        self,
        query: str,
        urls: list[str],
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES ``_explain`` API analogue: the per-(doc, term) BM25 score
        breakdown for specific documents — rows (url, term, tf, dl, idf,
        contrib), one per query term the doc contains.

        Plan: the named docs resolve through the docmap to a tiny
        broadcast dimension; posting segments of the query terms decode
        relationally (shared `_postings_rows`) and the broadcast join
        discards everything but the explained docs before the dl/weight
        joins — cost O(postings of the query terms) scan, no corpus
        access, exactly what explaining against an inverted index
        costs. Tombstoned docs yield no rows (a deleted doc has no
        score to explain)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        out_cols = "url string, term string, tf long, dl long, idf double, contrib double"
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return local_frame(spark, [], out_cols)
        weights = self._query_weights(qterms)
        if not weights:
            return local_frame(spark, [], out_cols)
        dm = (
            self.docmap
            .filter(F.col("url").isin(list(urls)))
            .select("doc_id", "url")
        )
        dm = self._live(dm)
        segs = self._query_segs(list(weights))
        w_df = local_frame(
            spark, [(t, float(w)) for t, w in sorted(weights.items())],
            "term string, w double",
        )
        out = (
            self._postings_rows(segs)
            .join(F.broadcast(dm), "doc_id")
            .join(self._dl_rows(segs), "doc_id")
            .join(F.broadcast(w_df), "term")
            .select(
                "url", "term", "tf", "dl",
                F.col("w").alias("idf"),
                contrib_col(
                    F.col("w"), F.col("tf"), F.col("dl"), self.avgdl
                ).alias("contrib"),
            )
        )
        if round_to is not None:
            out = out.withColumn("idf", F.round("idf", round_to)).withColumn(
                "contrib", F.round("contrib", round_to)
            )
        return out

    def more_like_this(
        self,
        url: str,
        docs_text: DataFrame,
        k: int = 10,
        max_query_terms: int = 10,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``more_like_this`` query analogue: select the source doc's
        ``max_query_terms`` most representative terms by tf·idf (ES's
        "interesting terms", Lucene MoreLikeThis) and run them as a BM25
        OR query, excluding the source doc from the results
        (``include: false``, the MLT default).

        Term selection re-analyzes the doc's text (the ES path when no
        term vectors are stored): tokenize ONE doc, join its ≤doc-length
        vocabulary against the index term_stats for df, rank by tf·idf
        with term-asc tie-break, keep terms passing min_term_freq /
        min_doc_freq. The collect is bounded by the source doc's
        vocabulary — never corpus-sized. Scoring then rides the normal
        block-max WAND path."""
        from kafka_es_spark.functions.tokenize import tokens

        src = docs_text.filter(F.col("url") == url).select("text")
        tf_rows = (
            src.select(F.explode(tokens("text")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("tf"))
            .filter(F.col("tf") >= int(min_term_freq))
            .join(self.term_stats.select("term", "df"), "term")
            .filter(F.col("df") >= int(min_doc_freq))
            .collect()
        )
        ranked = sorted(
            tf_rows,
            key=lambda r: (-(int(r["tf"]) * idf(self.n_docs, int(r["df"]))), r["term"]),
        )[: int(max_query_terms)]
        terms = [r["term"] for r in ranked]
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        # over-fetch one slot: the source doc itself scores high and is
        # dropped post-ranking
        out = self.topk(
            " ".join(terms), k=max(k, fetch_k or 0) + 1, round_to=round_to,
            with_url=True,
        ).filter(F.col("url") != url)
        if not with_url:
            out = out.select("doc_id", "score")
        return out.limit(max(k, fetch_k or 0))

    def suggest(
        self,
        text: str,
        max_edits: int = 1,
        size: int = 5,
        suggest_mode: str = "missing",
        prefix_length: int = 1,
    ) -> DataFrame:
        """ES term-suggester analogue (``suggest: {text, term: {...}}``):
        for each input token, dictionary terms within ``max_edits``
        Levenshtein edits ranked (distance asc, doc freq desc, term asc),
        top ``size`` per input — rows (input, suggestion, dist, freq,
        rnk). ``suggest_mode``: 'missing' suggests only for tokens absent
        from the dictionary (the ES default), 'popular' only corrections
        with strictly higher df than the input term, 'always' for every
        token.

        Plan: inputs are a tiny broadcast dimension against the term
        dictionary scan; the prefix anchor and a ±max_edits length band
        prune the dictionary BEFORE the Levenshtein evaluation (the
        Lucene FuzzySuggester pre-filter), and the per-input window
        ranks |inputs|·candidates rows — no corpus access at all."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        toks = sorted(set(tokenize_py(text)))
        out_cols = (
            "input string, suggestion string, dist long, freq long, rnk long"
        )
        if not toks:
            return local_frame(spark, [], out_cols)
        if suggest_mode not in ("missing", "popular", "always"):
            raise ValueError(f"unknown suggest_mode: {suggest_mode!r}")
        present = self.doc_freqs(toks)
        if suggest_mode == "missing":
            toks = [t for t in toks if t not in present]
            if not toks:
                return local_frame(spark, [], out_cols)
        inputs = local_frame(
            spark, [(t, present.get(t, 0)) for t in toks], "input string, in_df long"
        )
        cand = (
            self.term_stats.select("term", "df")
            .join(
                F.broadcast(inputs),
                (F.length("term") >= F.length("input") - int(max_edits))
                & (F.length("term") <= F.length("input") + int(max_edits))
                & (
                    F.substring("term", 1, int(prefix_length))
                    == F.substring("input", 1, int(prefix_length))
                )
                & (F.col("term") != F.col("input")),
            )
            .withColumn("dist", F.levenshtein("term", "input").cast("long"))
            .filter(F.col("dist") <= int(max_edits))
        )
        if suggest_mode == "popular":
            cand = cand.filter(F.col("df") > F.col("in_df"))
        w = Window.partitionBy("input").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
        return (
            cand.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= int(size))
            .select(
                "input",
                F.col("term").alias("suggestion"),
                "dist",
                F.col("df").alias("freq"),
                "rnk",
            )
            .orderBy("input", "rnk")
        )

    def phrase_suggest(
        self,
        text: str,
        docs_text: DataFrame | None = None,
        max_edits: int = 1,
        per_slot: int = 5,
        max_errors: int = 1,
        size: int = 5,
        prefix_length: int = 1,
        round_to: int = 4,
    ) -> DataFrame:
        """ES phrase-suggester analogue (``suggest: {phrase: {...}}``):
        whole-input corrections ranked by a bigram language model over
        the corpus, instead of the term suggester's per-token view.

        Per input slot, candidates are dictionary terms within
        ``max_edits`` (the original term rides along at distance 0 —
        forced if absent from the dictionary, so a slot can always stay
        unchanged), capped at ``per_slot`` by (dist, df desc, term). A
        candidate phrase changes at most ``max_errors`` slots (the ES
        knob); phrases score ``Σ ln P(tᵢ|tᵢ₋₁)`` under the corpus bigram
        LM with Laplace (+1) smoothing — the same model lm_perplexity
        trains — rounded for engine portability.

        Plan at 10^12 docs: the dictionary scan is pruned by prefix +
        length band exactly as ``suggest``. LM counts come from the
        index-time ``bigram_stats`` relation when the index carries one
        (build_bigram_stats — each suggest call is then a candidate-pair
        lookup against a (prev, cur)-sorted parquet relation, NO corpus
        scan); otherwise from a per-query corpus pass over ``docs_text``
        joined against a BROADCAST candidate-pair dimension (≤ per_slot²
        · slots rows). Everything collected is query-sized (candidates,
        pair counts, source counts, one scalar V). Phrase enumeration is
        driver-side over ≤ Σ|candᵢ|^max_errors combos — bounded by the
        input length, never the corpus.

        Output: (suggestion, score, n_changed), score desc."""
        from kafka_es_spark.functions.tokenize import tokenize_py, tokens

        spark = self.spark
        toks = tokenize_py(text)
        if len(toks) < 2:
            raise ValueError("phrase_suggest needs >= 2 tokens (bigram LM)")
        if max_errors < 0:
            raise ValueError("max_errors must be >= 0")

        slots = local_frame(
            spark, [(i, t) for i, t in enumerate(toks)], "slot long, input string"
        )
        cand = (
            self.term_stats.select("term", "df")
            .join(
                F.broadcast(slots),
                (F.length("term") >= F.length("input") - int(max_edits))
                & (F.length("term") <= F.length("input") + int(max_edits))
                & (
                    F.substring("term", 1, int(prefix_length))
                    == F.substring("input", 1, int(prefix_length))
                ),
            )
            .withColumn("dist", F.levenshtein("term", "input").cast("long"))
            .filter(F.col("dist") <= int(max_edits))
        )
        w = Window.partitionBy("slot").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
        top = (
            cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= int(per_slot))
            .select("slot", "term", "dist")
            .collect()
        )
        by_slot: dict[int, list[tuple[str, int]]] = {}
        for r in top:
            by_slot.setdefault(int(r["slot"]), []).append(
                (r["term"], int(r["dist"]))
            )
        for i, t in enumerate(toks):  # original always available, dist 0
            cands = by_slot.setdefault(i, [])
            if t not in {c for c, _ in cands}:
                cands.append((t, 0))
            by_slot[i] = sorted(
                {(c, 0 if c == t else d) for c, d in cands},
                key=lambda e: (e[1], e[0]),
            )

        # bigram/unigram counts for ONLY the candidate pairs
        pairs = sorted({
            (a, b)
            for i in range(len(toks) - 1)
            for a, _ in by_slot[i]
            for b, _ in by_slot[i + 1]
        })
        pair_dim = local_frame(spark, pairs, "prev string, cur string")
        srcs = sorted({a for a, _ in pairs})
        bs_dir = os.path.join(self.index_dir, "bigram_stats")
        if os.path.isdir(bs_dir):
            # index-time LM (build_bigram_stats): candidate-pair lookups
            # against the persisted partials — the `prev IN srcs` filter
            # pushes into the (prev, cur)-sorted parquet scan, so a
            # suggest call reads a few row groups, never the corpus.
            # U(prev) = Σ_cur B(prev, cur) by construction.
            rel = read_relation(spark, bs_dir).filter(F.col("prev").isin(srcs))
            # ONE collect for pair counts, unigram counts AND the V scalar
            # (r6: three sequential collect jobs → one union job — each
            # local-mode job costs a fixed ~0.3 s of scheduling, so the
            # per-suggest latency is job-count-bound, guide §1/§2.6)
            pair_agg = (
                rel.join(F.broadcast(pair_dim), ["prev", "cur"])
                .groupBy("prev", "cur").agg(F.sum("n").alias("n"))
                .select(F.lit("pair").alias("kind"), "prev", "cur", "n")
            )
            uni_agg = rel.groupBy("prev").agg(F.sum("n").alias("n")).select(
                F.lit("uni").alias("kind"), "prev",
                F.lit(None).cast("string").alias("cur"), "n",
            )
            # V = dictionary size; term_stats is already per-term unique
            v_agg = self.term_stats.agg(
                F.count(F.lit(1)).alias("n")
            ).select(
                F.lit("v").alias("kind"),
                F.lit(None).cast("string").alias("prev"),
                F.lit(None).cast("string").alias("cur"), "n",
            )
            rows = pair_agg.unionByName(uni_agg).unionByName(v_agg).collect()
            big = {
                (r["prev"], r["cur"]): int(r["n"])
                for r in rows if r["kind"] == "pair"
            }
            uni = {
                r["prev"]: int(r["n"]) for r in rows if r["kind"] == "uni"
            }
            v = int(next(r["n"] for r in rows if r["kind"] == "v"))
        elif docs_text is not None:
            tk = docs_text.select(
                "url", F.posexplode(tokens("text")).alias("pos", "cur")
            )
            winp = Window.partitionBy("url").orderBy("pos")
            tr = tk.withColumn("prev", F.lag("cur").over(winp)).filter(
                F.col("prev").isNotNull()
            )
            big = {
                (r["prev"], r["cur"]): int(r["n"])
                for r in tr.join(F.broadcast(pair_dim), ["prev", "cur"])
                .groupBy("prev", "cur").agg(F.count("*").alias("n")).collect()
            }
            uni = {
                r["prev"]: int(r["n"])
                for r in tr.filter(F.col("prev").isin(srcs))
                .groupBy("prev").agg(F.count("*").alias("n")).collect()
            }
            v = int(
                docs_text.select(F.explode(tokens("text")).alias("t"))
                .agg(F.countDistinct("t")).collect()[0][0]
            )
        else:
            raise ValueError(
                "phrase_suggest needs the index's bigram_stats relation "
                "(plans.build_index.build_bigram_stats) or a docs_text "
                "corpus to derive the LM from"
            )

        import math

        def lp(a: str, b: str) -> float:
            return math.log((big.get((a, b), 0) + 1) / (uni.get(a, 0) + v))

        results: list[tuple[str, float, int]] = []

        def rec(i: int, chosen: list[str], changed: int) -> None:
            if i == len(toks):
                s = sum(lp(chosen[j - 1], chosen[j]) for j in range(1, len(chosen)))
                results.append((" ".join(chosen), round(s, round_to), changed))
                return
            for c, _ in by_slot[i]:
                dc = changed + (c != toks[i])
                if dc <= max_errors:
                    rec(i + 1, chosen + [c], dc)

        rec(0, [], 0)
        out = sorted(results, key=lambda e: (-e[1], e[0]))[: int(size)]
        return local_frame(
            spark, out, "suggestion string, score double, n_changed long"
        )

    def mget(
        self,
        urls: list[str],
        field_values: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``_mget`` analogue: one row per requested url — (url,
        found, doc_id[, stored fields]). Tombstoned docs report
        found=false (a deleted doc is gone from every read path).

        Plan: the request list is a tiny broadcast dimension; the
        docmap (and optional field relation) streams past it in an
        inner join — the big sides are never shuffled and their scans
        prune on the broadcast keys — then the ≤|urls|-row results
        left-join back onto the request list to materialize the
        found=false rows."""
        spark = self.spark
        req = local_frame(spark, [(u,) for u in urls], "url string")
        dm = self.docmap.select("url", "doc_id")
        dm = self._live(dm)
        hit = dm.join(F.broadcast(req), "url")
        out = req.join(hit, "url", "left").select(
            "url", F.col("doc_id").isNotNull().alias("found"), "doc_id"
        )
        if field_values is not None:
            # fields attach only to FOUND (live) docs — a tombstoned doc
            # still present in the source table must not leak its fields
            fv_hit = field_values.join(
                F.broadcast(hit.select("url")), "url"
            )
            out = out.join(fv_hit, "url", "left")
        return out

    def _query_weights(self, qterms: list[str]) -> dict[str, float]:
        """idf per query term present in the index: the one ``doc_freqs``
        lookup a scorer makes (absent terms carry no weight)."""
        return {
            t: idf(self.n_docs, df) for t, df in self.doc_freqs(qterms).items()
        }

    def relational_scores(
        self,
        query: str | list[str],
        weights: dict[str, float] | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """BM25 scores of every live doc in the query's hit set, as a
        relational (doc_id, score) DataFrame (unrounded), one row per doc
        — the building block multi-field scoring and the DSL compose
        over. The hit set follows ``matching_doc_ids``: OR, ``mode="and"``
        or ``min_should_match`` over the query's clauses, minus
        ``must_not`` docs and pending tombstones; a hit's score is the
        OR-mode sum over the scored terms it contains. ``query`` and
        ``weights`` as in ``_match``: a list of clause strings makes each
        clause a group of terms a doc matches with any of them, and only
        the keys of ``weights``, the terms present in the index, are
        scored.

        The match floor and the negation apply inside the one seg-cogroup
        kernel of ``matched_scores``, so a scored clause reads its
        postings once and needs no ``matching_doc_ids`` gate."""
        return self.matched_scores(
            query, weights, mode, min_should_match, must_not
        ).drop("_matched")

    def matched_scores(
        self,
        query: str | list[str],
        weights: dict[str, float] | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """``relational_scores`` with a third column, ``_matched``: how
        many of the query's clauses the doc matched (for a query string,
        how many of its terms) — the input of a per-doc match floor
        (terms_set's ``minimum_should_match_field``).

        One seg-cogroup: postings and range-dls are both seg-organized and
        a doc lives in exactly ONE range, so per-range numpy scoring (dl
        gathered position-indexed, per-doc sums pooled in term-lex order)
        yields final rows with no doc-keyed shuffle — the same plan shape
        and per-doc sums as topk. The match floor, the negated terms
        (decoded from the same pruned scan) and the tombstones apply in
        the kernel, ``_seg_hits``."""
        return self._hits(
            self._match(query, mode, min_should_match, must_not, weights),
            score=True,
        )

    def _match(
        self,
        query: str | list[str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        weights: dict[str, float] | None = None,
    ) -> _Match | None:
        """The one match front end of the seg kernels: resolve a request
        to its present clause terms, negated terms and floor ``need``.

        ``query``: a string, one clause per distinct term, or a list of
        clause strings, each matching a doc that holds any of its terms.
        A hit matches every clause (``mode="and"``), at least
        ``min_should_match`` of them, or else one, and holds no
        ``must_not`` term. ``weights``: the scored terms' weights when the
        caller already has them — a clause term missing from it is absent
        from the index, and a term in no clause adds score without
        counting toward the floor; else the clause terms' idfs.

        None when no doc can match: no clause, an empty index, or fewer
        clauses with a present term than the floor needs (so an AND term
        absent from the whole index empties the result)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        msm = min_should_match
        if msm is not None and (msm < 1 or mode == "and"):
            raise ValueError(
                "min_should_match must be >= 1 and combines with mode='or' "
                "(mode='and' IS min_should_match=#terms)"
            )
        if isinstance(query, str):
            clauses = [[t] for t in sorted(set(tokenize_py(query)))]
        else:
            clauses = [sorted(set(tokenize_py(q))) for q in query]
        if not clauses or self.n_docs == 0 or self.avgdl == 0:
            return None
        if weights is None:
            weights = self._query_weights(
                sorted({t for c in clauses for t in c})
            )
        present = [[t for t in c if t in weights] for c in clauses]
        need = msm if msm is not None else (
            len(clauses) if mode == "and" else 1
        )
        if sum(1 for c in present if c) < need:
            return None
        plain = all(len(c) <= 1 for c in present) and sorted(
            t for c in present for t in c
        ) == sorted(weights)
        neg = sorted(set(tokenize_py(must_not))) if must_not else []
        return _Match(
            present, need, neg, {t: float(w) for t, w in weights.items()},
            plain,
        )

    def _hits(self, m: _Match | None, score: bool) -> DataFrame:
        """The frame of ``matched_scores`` (``score``) or of
        ``matching_doc_ids``: one ``_seg_hits`` kernel, over the seg
        cogroup of postings and range dls when it scores, else over the
        postings alone."""
        schema = "doc_id long, score double, _matched long" if score else (
            T.StructType([T.StructField("doc_id", T.LongType(), False)])
        )
        if m is None:
            return local_frame(self.spark, [], schema)
        avgdl, codec = self.avgdl, self.codec
        excluded = self.persistent_excluded or None
        cols = ["doc_id", "score", "_matched"] if score else ["doc_id"]

        def kernel(key, pdf, dpdf):
            uids, cnt, sums = _seg_hits(key, pdf, dpdf, m, excluded, codec, avgdl)
            return pd.DataFrame(
                {"doc_id": uids, "score": sums, "_matched": cnt}
            )[cols]

        if score:
            return self._score_cogroup(
                sorted(set(m.weights) | set(m.neg)), kernel, schema
            )
        terms = sorted({t for c in m.clauses for t in c} | set(m.neg))
        return self._query_segs(terms).groupBy("seg").applyInPandas(
            lambda key, pdf: kernel(key, pdf, None), schema
        )

    def _score_cogroup(self, terms, kernel, schema: str) -> DataFrame:
        """Run a per-range numpy ``kernel(key, pdf, dpdf)`` over ONE
        seg-cogroup of the query terms' posting segments (pdf: raw segment
        rows of one seg) and that seg's range-dl rows (dpdf) — the
        zero-doc-shuffle frame every relational scorer shares (guide §2.4:
        postings and range-dls are both seg-organized and a doc lives in
        exactly one range, so the per-doc result needs no doc_id-keyed
        exchange at all; same plan shape as relational_scores / topk).
        The r6 rewrite target for the former ``_postings_rows ⨝ _dl_rows``
        doc_id-join sites: that shape shuffled decoded posting-sized rows
        twice by doc_id and hash-aggregated them (3 Exchanges per site)."""
        segs = self._query_segs(list(terms))
        dls = self._query_dls(segs)
        return (
            segs.groupBy("seg")
            .cogroup(dls.groupBy("seg"))
            .applyInPandas(kernel, schema)
        )

    def range_filtered_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        lo: float,
        hi: float,
        k: int = 10,
        round_to: int | None = 4,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES bool {must: match, filter: range} analogue: top-k of docs
        matching the query whose numeric ``field`` lies in [lo, hi].
        Filter context NEVER changes scoring stats — idf comes from the
        index term_stats and avgdl from the global stats, exactly as ES
        keeps index-level stats under filters.

        Plan: ``relational_scores`` scores the query's hit set (match
        floor and must_not applied in its one seg-cogroup); the hits join
        the docmap for their url and semi-join the field_values urls in
        range (the predicate pushed into the scan). Cost ~ O(postings of
        the query terms) for one postings pass; both joins are hit-sized
        equi-joins Catalyst is free to broadcast."""
        k = max(k, fetch_k or 0)
        dm = self.docmap.select("doc_id", "url")
        allowed = field_values.filter(
            (F.col(field) >= lo) & (F.col(field) <= hi)
        ).select("url")
        out = (
            self.relational_scores(
                query, mode=mode, min_should_match=min_should_match,
                must_not=must_not,
            )
            .join(dm, "doc_id")
            .join(allowed, "url", "left_semi")
            .select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def significant_terms(
        self,
        query: str,
        docs_text: DataFrame,
        size: int = 10,
        min_doc_count: int = 3,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES significant_terms-aggregation analogue: terms over-
        represented in the hit set vs the whole index, scored with the
        JLH heuristic ``(fg% − bg%) · (fg% / bg%)`` (the ES default).
        ``docs_text`` is a (url, text) relation for the foreground
        re-tokenize; the BACKGROUND document frequencies come from the
        index's own term_stats — no second corpus pass. Returns the top
        ``size`` rows (term, fg_count, bg_count, sig_score), score desc
        then term asc; ``min_doc_count`` prunes the noise floor before
        ranking (ES default 3).

        Plan: hit set → docmap → text join, one tokenize+explode of the
        HIT docs only (foreground is usually a small fraction of the
        corpus), distinct-per-doc aggregation to fg df, broadcast-sized
        join against the term_stats aggregate. The only corpus-sized
        input is the pre-existing index metadata."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.significant_terms(
            self._agg_input(hits, ["text"], docs_text), self.term_stats,
            self.n_docs, size, min_doc_count,
        )

    def agg_histogram(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        interval: float,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES histogram-aggregation analogue: bucket the matching docs'
        numeric ``field`` into fixed-width intervals — (bucket,
        doc_count) rows with bucket = floor(value / interval) · interval,
        ordered by bucket asc (ES histogram key order). Empty buckets are
        omitted (ES min_doc_count=1 behavior). One shuffle to the tiny
        (#buckets)-row aggregate after the hit/field joins."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [field], field_values).select(
            aggs.histogram_key(field, interval).cast("long").alias("bucket")
        )
        return aggs.terms(j, ["bucket"], order=[])

    def agg_stats(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES stats-aggregation analogue: one row (n_docs_agg, min_v,
        max_v, sum_v, avg_v) over the matching docs' numeric ``field`` —
        a pure partial-aggregate plan (map-side combine, single tiny
        reduce)."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.stats(self._agg_input(hits, [field], field_values), field)

    def sort_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        k: int = 10,
        ascending: bool = False,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES sort-by-field analogue (``sort: [{field: desc}]``): the top
        ``k`` docs of the query's hit set ordered by a stored field
        instead of ``_score`` (``reference/src/main/.../BulkAction.kt``
        delegates this to ES's doc-values sort).

        Scoring is skipped entirely — filter-context hit set from posting
        algebra, one join chain to the field value, then a global
        TakeOrdered of ``max(k, fetch_k)`` rows: O(hits) with no
        range_dls read and no tf decode, the exact plan ES runs when
        ``track_scores=false``. ``fetch_k`` over-fetches so a caller
        re-ranking on an external tie key (corpus id from the url) keeps
        every member of a field-value tie group at the k boundary."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [field], field_values)
        order = F.col(field).asc() if ascending else F.col(field).desc()
        return (
            j.select("doc_id", "url", field)
            .orderBy(order, F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )

    def agg_cardinality(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        exact: bool = False,
        rsd: float = 0.05,
    ) -> DataFrame:
        """ES cardinality-aggregation analogue: one row ``(value_count)``
        — the number of distinct ``field`` values among the matching
        docs. ES's cardinality agg is approximate by design (HLL++,
        precision_threshold); the default here is Spark's
        ``approx_count_distinct`` — the same HyperLogLog++ family, one
        pass, constant sketch memory per partition, mergeable map-side —
        which is the only shape that holds at 10^12 docs. ``exact=True``
        switches to ``count(DISTINCT field)`` (a shuffle keyed on the
        value — fine for low-cardinality fields and for oracle
        checking)."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.cardinality(
            self._agg_input(hits, [field], field_values), field, exact, rsd
        )

    def agg_percentiles(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        percents: list[float],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        exact: bool = True,
        accuracy: int = 10000,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES percentiles-aggregation analogue: one ``(pct, value)`` row
        per requested percentile of the matching docs' numeric ``field``,
        ordered by pct. ``exact=True`` uses Spark's exact ``percentile``
        (linear interpolation on the sorted values — the quantile_cont
        contract, oracle-reproducible); ES's own agg is approximate by
        design (t-digest), and the matching scale path here is
        ``exact=False`` → ``percentile_approx`` (mergeable sketch,
        constant memory per partition — the only shape that holds when
        the hit set doesn't fit an aggregation buffer). Reference parity:
        the reference delegates percentile aggs to ES's t-digest
        (`reference/src/main/.../BulkAction.kt` index ops)."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        out = aggs.percentiles(
            self._agg_input(hits, [field], field_values), field, percents,
            percents, exact, accuracy,
        )
        if round_to is not None:
            out = out.withColumn("value", F.round("value", round_to))
        return out.orderBy("pct")

    def agg_percentile_ranks(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        values: list[float],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES percentile_ranks aggregation (the percentiles inverse): for
        each requested value v, the percentage of matching docs whose
        ``field`` <= v — one (value, pct) row per v, value-ordered. ES
        computes this from the t-digest CDF; here the EXACT CDF (share of
        values <= v), the same exact-tier choice agg_percentiles makes,
        so the SQL oracle is a conditional count.

        Plan: one aggregate row of |values| conditional sums + the total
        (all map-side combinable over the hit-join scan), unpivoted with
        ``stack`` — #values output rows, no second shuffle."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        out = aggs.named_counts(
            self._agg_input(hits, [field], field_values),
            [(f"CAST({float(v)!r} AS DOUBLE)", F.col(field) <= F.lit(float(v)))
             for v in values],
            key="value", extra={"_n": F.count(F.lit(1)).cast("double")},
        ).select(
            "value",
            (F.lit(100.0) * F.col("doc_count") / F.col("_n")).alias("pct"),
        )
        if round_to is not None:
            out = out.withColumn("pct", F.round("pct", round_to))
        return out.orderBy("value")

    def scripted_metric(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        map_script: str,
        reduce: str = "sum",
        mode: str = "or",
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES scripted_metric aggregation, the painless-arithmetic subset:
        ``map_script`` is a SQL expression over the hit row (the map
        phase), Spark's partial aggregation IS the combine phase (per-
        partition partial ``reduce`` states, exactly the scripted_metric
        combine contract), and the final merge is the reduce phase. One
        (value) row out.

        Reduce portability: the mapped value is rounded to 6 dp and cast
        to DECIMAL(38,6) before a sum/avg reduce, so the result is EXACT
        and independent of partitioning/summation order — a float64 sum
        would drift with partition count and break both the two-
        parallelism identity and the SQL oracle. min/max need no cast."""
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [field], field_values
        )
        mapped = F.expr(map_script)
        if reduce in ("sum", "avg"):
            mapped = F.round(mapped, 6).cast("decimal(38,6)")
            agg = F.sum(mapped) if reduce == "sum" else F.avg(mapped)
        elif reduce == "min":
            agg = F.min(mapped)
        elif reduce == "max":
            agg = F.max(mapped)
        else:
            raise ValueError(f"unknown scripted_metric reduce: {reduce!r}")
        out = j.agg(agg.cast("double").alias("value"))
        if round_to is not None:
            out = out.withColumn("value", F.round("value", round_to))
        return out

    def random_score_topk(
        self,
        query: str,
        seed: int,
        k: int = 10,
        mode: str = "or",
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES function_score random_score (seeded): a deterministic
        uniform [0,1) score per (doc, seed) — ES hashes the seed with the
        doc's field (default _seq_no; deployments pin ``field: _id`` for
        stable sampling). Here hash32(url:seed)/2^32 — the repo's portable
        md5 hash, so the same doc gets the same score on any engine, any
        parallelism, any index rebuild (urls are stable; internal ids are
        not). The standard use is a deterministic random sample of the
        hit set; top-k by the random score IS that sample.

        Plan: hit set → docmap join → pure-Column hash arithmetic →
        TakeOrdered. No RNG state, no shuffle beyond the hit join."""
        from kafka_es_spark.operators.dedup import hash32

        hits = self.matching_doc_ids(query, mode=mode)
        dm = self.docmap
        score = hash32(
            F.concat(F.col("url"), F.lit(f":{int(seed)}"))
        ) / F.lit(float(2**32))
        if round_to is not None:
            score = F.round(score, round_to)
        out = (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", score.alias("score"))
        )
        out = self._live(out)
        return out.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(k))

    def agg_random_sampler(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        probability: float = 0.1,
        seed: int = 42,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES ``random_sampler`` aggregation: the metric sub-agg runs over
        a probability-sampled subset of the hit set and doc_count scales
        back by 1/p (how ES serves dashboard aggs over 10^12 docs at
        interactive latency). ES samples per-shard with a seeded RNG;
        here membership is the portable md5 uniform over the url
        (``hash32(url:seed)/2^32 < p``) — same sample on any engine,
        parallelism, or rebuild, and the oracle replays it exactly.

        One row: (sampled_docs, doc_count_est, sum_v_est, avg_v) —
        doc_count/sum scale by 1/p (Horvitz-Thompson), avg is the plain
        sample mean (already unbiased). Plan: hit set → docmap join →
        pushable hash predicate → one partial aggregate."""
        if not 0.0 < probability <= 1.0:
            raise ValueError(f"probability must be in (0, 1], got {probability}")
        from kafka_es_spark.operators.dedup import hash32

        j = self._agg_input(
            self.matching_doc_ids(query, mode), [field], field_values
        )
        u = hash32(F.concat(F.col("url"), F.lit(f":{int(seed)}"))) / F.lit(
            float(2**32)
        )
        s = j.filter(u < F.lit(float(probability)))
        inv = 1.0 / float(probability)
        return s.agg(
            F.count(field).alias("sampled_docs"),
            F.round(F.count(field) * F.lit(inv), 0)
            .cast("long").alias("doc_count_est"),
            F.round(F.sum(field) * F.lit(inv), round_to).alias("sum_v_est"),
            F.round(F.avg(field), round_to).alias("avg_v"),
        )

    def runtime_field_topk(
        self,
        query: str,
        field_values: DataFrame | None,
        runtime_expr: str,
        where: str | None = None,
        k: int = 10,
        mode: str = "or",
        stored_cols: tuple[str, ...] = (),
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES runtime fields (runtime_mappings): a field computed at
        QUERY time from other fields by a script — here ``runtime_expr``,
        a SQL expression over the hit row — usable in filter context
        (``where``, over the computed column ``rf``) and as the sort key,
        exactly the search-request runtime_mappings contract (no index
        change, no reindex). ``field_values=None`` reads ``stored_cols``
        from the docmap's stored fields (the doc-values path).

        Plan: the expression is a pure Column over the hit join —
        Catalyst folds it into the scan projection; the filter on it runs
        before the TakeOrdered. Nothing materializes corpus-wide."""
        # dl (always stored) rides along — token-count-normalized runtime
        # fields are the common case
        cols = ["dl", *(
            stored_cols if field_values is None else field_values.columns
        )]
        j = self._agg_input(
            self.matching_doc_ids(query, mode), cols, field_values
        )
        rf = F.expr(runtime_expr).cast("double")
        if round_to is not None:
            rf = F.round(rf, round_to)
        out = j.select("doc_id", "url", rf.alias("rf"))
        if where is not None:
            out = out.filter(where)
        out = self._live(out)
        return out.orderBy(F.col("rf").desc(), F.col("url").asc()).limit(int(k))

    def agg_ranges(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        ranges: list[tuple[float | None, float | None]],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES range-aggregation analogue: one ``(range_key, doc_count)``
        row per requested range over the matching docs' numeric
        ``field``. ES semantics: ``from`` inclusive, ``to`` exclusive,
        open ends allowed (key rendered ``*-100``/``100-400``/``400-*``),
        ranges may overlap (each bucket counts independently), and every
        requested range appears even at doc_count 0. Plan: conditional
        inner join of the hit set against the broadcast tiny ranges
        relation (O(hits x n_ranges) predicate work, no extra shuffle
        beyond the (n_ranges)-row aggregate), then a left join back from
        the ranges relation to restore empty buckets."""

        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.ranges(
            self._agg_input(hits, [field], field_values), F.col(field),
            aggs.range_rows(ranges),
        ).select(F.col("key").alias("range_key"), "doc_count").orderBy(
            "range_key"
        )

    def agg_ip_range(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        ranges: list,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``ip_range`` aggregation (IPv4 subset): buckets are CIDR
        strings (``"10.0.0.0/9"`` — the block, to-exclusive) or
        ``(from_ip, to_ip)`` tuples (from inclusive, to exclusive, None
        open ends), overlapping allowed, empty buckets kept — the
        agg_ranges contract over the ip field's sortable uint32 form.
        Range parsing is driver-side (ipaddress stdlib); the per-row
        work is one Column split/arithmetic + the broadcast conditional
        join."""
        import ipaddress

        from kafka_es_spark.functions.textstats import ipv4_to_long

        rows = []
        for r in ranges:
            if isinstance(r, str):
                net = ipaddress.ip_network(r, strict=True)
                rows.append((r, int(net.network_address),
                             int(net.network_address) + net.num_addresses))
            else:
                rows += aggs.range_rows(
                    [r], str, lambda a: int(ipaddress.IPv4Address(a))
                )
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [field], field_values
        )
        return aggs.ranges(
            j, ipv4_to_long(F.col(field)), rows, bound="long"
        ).select(F.col("key").alias("range_key"), "doc_count").orderBy(
            "range_key"
        )

    def field_caps(self) -> DataFrame:
        """The ES ``_field_caps`` API: one row per queryable field —
        (field, type, searchable, aggregatable, stored). The analyzed
        ``text`` field is searchable but not aggregatable (no doc
        values, exactly ES's text type); docmap stored columns are
        aggregatable doc-values fields. Pure metadata: one docmap
        schema read, no data scan."""
        dm = self.docmap
        rows = [("text", "text", True, False, False),
                ("url", "keyword", True, True, True),
                ("dl", "long", False, True, True)]
        for f_ in dm.schema.fields:
            if f_.name in ("doc_id", "url", "dl"):
                continue
            rows.append((f_.name, f_.dataType.simpleString(),
                         False, True, True))
        return local_frame(
            self.spark, rows,
            "field string, type string, searchable boolean, "
            "aggregatable boolean, stored boolean",
        )

    def validate_query(self, query: str, mode: str = "or") -> dict:
        """The ES ``_validate/query?explain=true`` API: analyze the query
        without running it — returns validity, the analyzed terms, which
        are present in the term dictionary, and the Lucene-style
        rewrite description. Driver-side only (one ≤|q|-row term_stats
        probe), never a postings scan."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        if mode not in ("or", "and"):
            return {"valid": False, "error": f"unknown mode {mode!r}"}
        terms = sorted(set(tokenize_py(query)))
        if not terms:
            return {"valid": False, "error": "query analyzes to no terms"}
        present = sorted(self.doc_freqs(terms))
        op = " +" if mode == "and" else " "
        return {
            "valid": True,
            "terms": terms,
            "indexed_terms": present,
            "explanation": op.join(f"text:{t}" for t in terms).strip(),
        }

    def agg_filters(
        self,
        query: str,
        field_values: DataFrame,
        filters: dict[str, str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES filters-aggregation analogue: named predicate buckets over
        the hit set — ``filters`` maps bucket name -> SQL predicate over
        ``field_values`` columns; docs may land in several buckets.
        Single-pass plan: one conditional-sum aggregate row (map-side
        combine, no per-bucket scan), unpivoted to ``(filter_key,
        doc_count)`` rows with ``stack``."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.named_counts(
            self._agg_input(hits, None, field_values),
            [(f"'{n}'", F.expr(filters[n])) for n in sorted(filters)],
            key="filter_key",
        ).orderBy("filter_key")

    def agg_extended_stats(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES extended_stats-aggregation analogue: the ``agg_stats`` row
        plus sum_of_squares, variance and std_deviation (population
        variance, ES's default). Same single partial-aggregate plan —
        the extra moments are one more map-side column each.

        Portability contract: sum and sum-of-squares accumulate as exact
        int64 (the field is integral), and the derived doubles are
        spelled as the one expression shape ``sq/n − (s/n)·(s/n)`` so an
        oracle computing the identical IEEE ops bit-matches before the
        4dp rounding (same discipline as the BM25 score oracles)."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.extended_stats(
            self._agg_input(hits, [field], field_values), field
        )

    def agg_weighted_avg(
        self,
        query: str,
        field_values: DataFrame,
        value_field: str,
        weight_field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES weighted_avg-aggregation analogue: one row ``(sum_w,
        weighted_avg)`` — Σ(value·weight)/Σ(weight) over the hit set.
        Both sums accumulate as exact int64 (integral fields), so the
        single double division is engine-portable before rounding."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [value_field, weight_field], field_values)
        base = j.agg(
            F.sum(F.col(value_field) * F.col(weight_field))
            .cast("long").alias("sum_vw"),
            F.sum(weight_field).cast("long").alias("sum_w"),
        )
        return base.selectExpr(
            "sum_w",
            "round(CAST(sum_vw AS DOUBLE) / sum_w, 4) AS weighted_avg",
        )

    def agg_value_count(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES value_count + missing aggregations in one row:
        ``(value_count, missing_count)`` — hits with a non-null ``field``
        vs hits where it is null (the ``missing`` agg counts docs the
        value_count skips; together they partition the hit set)."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.value_counts(
            self._agg_input(hits, [field], field_values), field
        )

    def agg_rare_terms(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        max_doc_count: int = 1,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES rare_terms aggregation: the LONG-TAIL inverse of terms —
        buckets whose doc_count is ≤ ``max_doc_count``, ordered count
        asc then value asc. ES approximates with a CuckooFilter to
        bound memory; this implementation is exact — the aggregate is
        the same tiny (#distinct-values)-row relation facet_terms
        builds, and the rarity filter is a post-aggregation predicate
        Catalyst keeps in the same stage, so exactness costs nothing
        extra at any corpus size."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.terms(
            self._agg_input(hits, [field], field_values), [field],
            order=[F.col("doc_count").asc()], max_doc_count=max_doc_count,
        )

    def agg_multi_terms(
        self,
        query: str,
        field_values: DataFrame | None,
        fields: list[str],
        size: int = 10,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES multi_terms aggregation: terms buckets keyed on the
        COMPOUND value of several fields (the ES answer to "group by
        two columns"), top ``size`` by doc_count desc then the key
        fields asc. Plan identical to facet_terms — one hash aggregate
        keyed on the field tuple; compound keys add no extra shuffle.

        With ``field_values=None`` every field must be stored in the
        docmap (the doc-values path: one dense-id join)."""
        if len(fields) < 2:
            raise ValueError("multi_terms needs >= 2 fields (use facet_terms)")
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.terms(
            self._agg_input(hits, fields, field_values), fields, size=size
        )

    def agg_adjacency_matrix(
        self,
        query: str,
        field_values: DataFrame,
        filters: dict[str, str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES adjacency_matrix aggregation: named predicate buckets PLUS
        every pairwise intersection — bucket ``a&b`` counts docs
        matching both predicates (ES key syntax). Zero-doc buckets are
        omitted, exactly as ES omits them.

        Single-pass plan like agg_filters: one conditional-sum
        aggregate row covering all names and pairs (O(n²) COLUMNS, not
        rows or passes — ES caps n at 100 for the same quadratic
        reason), unpivoted with stack. The hit-set scan happens once
        regardless of filter count."""
        if len(filters) > 50:
            raise ValueError(
                "adjacency_matrix is quadratic in filter count; "
                f"{len(filters)} > 50 (ES caps at 100)"
            )
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        names = sorted(filters)
        named = []
        for i, n in enumerate(names):
            named.append((f"'{n}'", F.expr(filters[n])))
            for m in names[i + 1:]:
                named.append(
                    (f"'{n}&{m}'", F.expr(filters[n]) & F.expr(filters[m]))
                )
        return (
            aggs.named_counts(self._agg_input(hits, None, field_values), named)
            .filter(F.col("doc_count") > 0)
            .orderBy("key")
        )

    def agg_top_metrics(
        self,
        query: str,
        field_values: DataFrame | None,
        sort_field: str,
        metric_field: str,
        size: int = 1,
        sort: str = "desc",
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES top_metrics aggregation: the metric value(s) carried by the
        ``size`` hit-set docs with the largest (``sort="desc"``) or
        smallest sort-field value — "what was X on the row where Y
        peaked". Ties break on url asc (ES picks arbitrarily; this is
        deterministic). Plan: hit fields → TakeOrderedAndProject — the
        limit rides the sort, no full-sort shuffle at any corpus size."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, [sort_field, metric_field], field_values)
        key = F.col(sort_field).desc() if sort == "desc" else F.col(sort_field).asc()
        return (
            j.orderBy(key, F.col("url").asc())
            .select(
                F.col("url"),
                F.col(sort_field).alias("sort_value"),
                F.col(metric_field).alias("metric_value"),
            )
            .limit(int(size))
        )

    def terms_enum(self, prefix: str, size: int = 10) -> DataFrame:
        """ES ``_terms_enum`` API: index-dictionary terms starting with
        ``prefix``, term-ordered, with their doc frequencies — no postings
        are touched. Like ES, the df reflects the built index: pending
        tombstones don't lower it until merge. A cached Searcher answers
        from the dictionary it loaded at open (no Spark job); otherwise the
        prefix predicate pushes into the term_stats scan and the top-
        ``size`` rides a TakeOrdered, so cost is O(matching dictionary
        rows)."""
        if self._dfs is not None:
            rows = sorted(
                (t, int(df)) for t, df in self._dfs.items()
                if t.startswith(prefix)
            )[: int(size)]
            return local_frame(self.spark, rows, "term string, doc_count long")
        return (
            self.term_stats.filter(F.col("term").startswith(prefix))
            .select("term", F.col("df").cast("long").alias("doc_count"))
            .orderBy("term")
            .limit(int(size))
        )

    def matrix_stats(
        self,
        query: str,
        field_values: DataFrame,
        fields: list[str],
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES matrix_stats aggregation over the filter-context hit set:
        one row per ordered field pair ``(field_x, field_y)`` carrying
        the hit count, mean of x, the POPULATION covariance, and the
        correlation; diagonal rows (x == x) give each field's variance.

        Every moment composes from power sums (Σx, Σx², Σxy) gathered in
        ONE hash aggregation over the hit-joined field relation — no
        sample-bias variants, so any engine reproduces the numbers; the
        pair expansion is a union of selects over the single tiny agg
        row, never a second pass over the data."""
        from functools import reduce as _reduce

        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        j = self._agg_input(hits, fields, field_values)
        sums = [F.count(F.lit(1)).cast("long").alias("n")]
        for fx in fields:
            x = F.col(fx).cast("double")
            sums.append(F.sum(x).alias(f"s1_{fx}"))
        for fx in fields:
            for fy in fields:
                x = F.col(fx).cast("double")
                y = F.col(fy).cast("double")
                sums.append(F.sum(x * y).alias(f"sxy_{fx}_{fy}"))
        row = j.agg(*sums)
        outs = []
        for fx in fields:
            for fy in fields:
                n = F.col("n").cast("double")
                mx = F.col(f"s1_{fx}") / n
                my = F.col(f"s1_{fy}") / n
                cov = F.col(f"sxy_{fx}_{fy}") / n - mx * my
                vx = F.col(f"sxy_{fx}_{fx}") / n - mx * mx
                vy = F.col(f"sxy_{fy}_{fy}") / n - my * my
                outs.append(
                    row.select(
                        F.lit(fx).alias("field_x"),
                        F.lit(fy).alias("field_y"),
                        F.col("n"),
                        mx.alias("mean_x"),
                        cov.alias("covariance"),
                        (cov / F.sqrt(vx * vy)).alias("correlation"),
                    )
                )
        return _reduce(lambda a, b: a.unionByName(b), outs).orderBy(
            "field_x", "field_y"
        )

    def terms_set_topk(
        self,
        query: str,
        field_values: DataFrame,
        m_field: str,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES terms_set query: bool.should over the query terms where the
        minimum_should_match comes from a PER-DOCUMENT field
        (``minimum_should_match_field``) — doc d matches iff it contains
        >= m(d) of the terms; survivors keep their OR-mode BM25 scores
        (global min_should_match is the constant-m special case, served
        by ``topk(min_should_match=...)``).

        Plan: ``matched_scores`` (per-doc BM25 score and matched-term
        count in one seg-cogroup) → dense-id docmap join to the m field →
        filter → TakeOrdered. The m relation joins url-keyed like every
        field relation; no driver collect anywhere."""
        dm = self.docmap
        out = (
            self.matched_scores(query)
            .join(dm.select("doc_id", "url"), "doc_id")
            .join(field_values.select("url", m_field), "url")
            .filter(F.col("_matched") >= F.col(m_field))
        )
        score = (
            F.round(F.col("score"), round_to) if round_to is not None
            else F.col("score")
        )
        cols = ["doc_id", "url", score.alias("score")] if with_url else [
            "doc_id", score.alias("score")
        ]
        return (
            out.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def constant_score_topk(
        self, query: str, boost: float = 1.0, k: int = 10, mode: str = "or",
        min_should_match: int | None = None, must_not: str | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES constant_score query: filter-context matching — every
        matching live doc scores exactly ``boost`` (no BM25, no idf, so
        the filter is cacheable in ES; here it is the no-decode
        matching_doc_ids scan). Equal scores make ES's order arbitrary;
        the deterministic choice at the k cut is doc id asc, or url asc
        with ``with_url`` (url is stable across index builds, internal
        ids are not)."""
        hits = self.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        if with_url:
            dm = self.docmap
            return (
                hits.join(dm.select("doc_id", "url"), "doc_id")
                .select("doc_id", "url", F.lit(float(boost)).alias("score"))
                .orderBy("url")
                .limit(int(k))
            )
        return (
            hits.select("doc_id", F.lit(float(boost)).alias("score"))
            .orderBy("doc_id")
            .limit(int(k))
        )

    def span_or_topk(
        self,
        terms: list[str],
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES span_or query over span_term clauses: a doc matches when ANY
        clause's term occurs, and Lucene's SpanOrQuery scores it with ONE
        combined SimScorer — sloppy freq = total matching spans in the doc
        (for single-term clauses exactly tf_a + tf_b + …) and idf = the SUM
        of the clause terms' idfs (SpanWeight.buildSimWeight collects every
        clause's TermStatistics into one Similarity.scorer). That is NOT
        the BooleanQuery OR score (which saturates each term's tf
        separately); a doc with 5×'data' + 5×'query' scores like 10
        occurrences of one pseudo-term. Terms absent from the index
        contribute no idf (their TermStates carry docFreq 0).

        Plan: posting segments of the clause terms only (bucket-pruned
        scan), decode to (doc_id, term, tf) rows, ONE hash aggregation to
        tf totals, dl joined from the same segments' range_dls, TakeOrdered
        for the k cut — cost O(postings of the clause terms), no corpus
        scan, no position stream read (single-term spans never
        overlap, so span freq is exactly the postings tf sum)."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        toks: list[str] = []
        for t in terms:
            a = tokenize_py(t)
            if len(a) != 1:
                raise ValueError(
                    f"span_or clauses must each analyze to one term (got "
                    f"{t!r} -> {a})"
                )
            toks.append(a[0])
        toks = sorted(set(toks))
        empty = (
            "doc_id long, url string, score double" if with_url
            else "doc_id long, score double"
        )
        if len(toks) < 1 or self.n_docs == 0 or self.avgdl == 0:
            return local_frame(spark, [], empty)
        dfs = self.doc_freqs(toks)
        w = sum(idf(self.n_docs, df) for df in dfs.values())
        if not dfs:
            return local_frame(spark, [], empty)
        # r6: one seg-cogroup pools the span freq (Σ tf over the clause
        # terms, exact in float64) and scores per doc in numpy — the old
        # tf-aggregate ⨝ dl_rows doc_id-shuffle chain (3 Exchanges) is
        # gone (guide §2.4). One contribution per doc with the combined
        # clause weight.
        avgdl, codec = self.avgdl, self.codec
        wf = float(w)

        def score_range(key, pdf, dpdf):
            if len(pdf) == 0:
                return pd.DataFrame(
                    {"doc_id": pd.Series(dtype=np.int64),
                     "score": pd.Series(dtype=np.float64)}
                )
            dl_base, dl_arr = _seg_dls(key, dpdf)
            ids_l, tf_l = [], []
            for r in pdf.to_dict("records"):
                ids, tfs = decode_segment(r, codec)
                ids_l.append(ids)
                tf_l.append(tfs)
            uids, _, tfp = _pool(np.concatenate(ids_l), np.concatenate(tf_l))
            sc = contrib(tfp, gather_dls(uids, dl_base, dl_arr), wf, avgdl)
            return pd.DataFrame({"doc_id": uids, "score": sc})

        out = self._score_cogroup(
            toks, score_range, "doc_id long, score double"
        )
        out = self._live(out)
        score = F.col("score")
        if round_to is not None:
            score = F.round(score, round_to)
        cols = ["doc_id", "url"] if with_url else ["doc_id"]
        if with_url:
            dm = self.docmap.select("doc_id", "url")
            out = out.join(dm, "doc_id")
        return (
            out.select(*cols, score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def agg_sampler(
        self,
        query: str,
        field_values: DataFrame | None,
        field: str,
        shard_size: int = 100,
        dedup_field: str | None = None,
        max_docs_per_value: int = 1,
        fetch_k: int | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """ES sampler / diversified_sampler aggregation: run the metric
        sub-agg (count/avg/min/max of ``field``) over only the
        ``shard_size`` BEST-SCORING hits instead of the whole hit set —
        the cheap-preview pattern for expensive sub-aggs. With
        ``dedup_field`` it is the diversified_sampler: at most
        ``max_docs_per_value`` docs per dedup value enter the sample
        (best-scoring ones win), de-biasing a dominant key.

        Determinism: candidates order by (rounded score desc, url asc) —
        url, not internal doc id, so the choice is reproducible across
        index builds. Plain sampler: WAND top-k candidates (``fetch_k``,
        default 3×shard_size, must cover the tie group at the cut — the
        topk contract). Diversified: a dominant value can fill ANY
        truncated top, so candidates are ALL scored hits
        (relational_scores — one pruned postings aggregation, the ES
        shard-local streaming dedup equivalent; OR-mode only, like ES);
        the per-value window partitions by the dedup value, so no
        single-partition sort ever sees the full hit set. Either way the
        sub-agg runs over <= shard_size rows."""
        cols = [field] + ([dedup_field] if dedup_field else [])
        if dedup_field:
            if mode != "or":
                raise ValueError(
                    "diversified_sampler streams the OR-mode hit set "
                    "(ES semantics); mode='and' is not supported"
                )
            top = self.relational_scores(query).withColumn(
                "score", F.round("score", 4)
            )
        else:
            top = self.topk(
                query, k=fetch_k or 3 * int(shard_size), round_to=4,
                with_url=True, fetch_k=fetch_k or 3 * int(shard_size),
                mode=mode,
            )
        j = self._agg_input(top, cols, field_values)
        if dedup_field:
            wd = Window.partitionBy(dedup_field).orderBy(
                F.col("score").desc(), F.col("url").asc()
            )
            j = (
                j.withColumn("_rn", F.row_number().over(wd))
                .filter(F.col("_rn") <= int(max_docs_per_value))
                .drop("_rn")
            )
        # top shard_size of the de-biased candidates: TakeOrdered, not a
        # global row_number window — with a high-cardinality dedup field
        # the per-value cap still leaves ~n_values rows, and a single
        # unpartitioned WindowExec would pull them all through one task
        sample = j.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(shard_size))
        x = F.col(field).cast("double")
        return sample.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.avg(x), 4).alias("avg_value"),
            F.min(x).alias("min_value"),
            F.max(x).alias("max_value"),
        )

    def synonym_topk(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES query-time synonyms (match through a synonym_graph filter →
        Lucene SynonymQuery): each query term and its synonyms score as
        ONE pseudo-term — tf = Σ tf over the group's members present in
        the doc, idf from the group's MAX member df (the SynonymQuery /
        BlendedTermQuery convention: a group is one concept, the
        commonest member sets its rarity). Scores therefore never exceed
        a single-term match's saturation — synonyms widen recall without
        double-counting the concept.

        Plan: one pruned postings scan over all member terms →
        (doc, group) tf roll-up and the BM25 sum in two hash
        aggregations; group map and idf weights broadcast (queries are
        small). Pending tombstones excluded as everywhere."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms = sorted(set(tokenize_py(query)))
        empty = "doc_id long, url string, score double" if with_url else (
            "doc_id long, score double"
        )
        if not qterms or self.n_docs == 0 or self.avgdl == 0:
            return local_frame(spark, [], empty)
        groups = {t: sorted({t} | set(synonyms.get(t, ()))) for t in qterms}
        all_terms = sorted({m for ms in groups.values() for m in ms})
        ts = self.doc_freqs(all_terms)
        weights = {}
        for g, ms in groups.items():
            dfs = [ts[m] for m in ms if m in ts]
            if dfs:
                weights[g] = idf(self.n_docs, max(dfs))
        if not weights:
            return local_frame(spark, [], empty)
        member_rows = sorted(
            (m, g)
            for g, ms in groups.items()
            if g in weights
            for m in ms
            if m in ts
        )
        # r6: one seg-cogroup does the whole group roll-up in numpy — pool
        # tf per (doc, group) (exact in float64), one BM25 contribution per
        # (doc, group) with the group's blended weight, pool per doc in
        # group-lex order. The old chain (postings ⨝ gmap → (doc, grp)
        # hash agg → ⨝ dl_rows → ⨝ w_df → doc hash agg) paid THREE
        # doc_id/grp-keyed Exchanges for data already co-organized by doc
        # range (guide §2.4). With no synonyms every group is one term and
        # the scores equal topk's bit for bit.
        grp_names = sorted(weights)
        gidx = {g: i for i, g in enumerate(grp_names)}
        warr_py = [float(weights[g]) for g in grp_names]
        # a term may sit in several groups (a query term listed as another
        # term's synonym): it contributes its tf to EACH of them
        term2g: dict[str, list[int]] = {}
        for m, g in member_rows:
            term2g.setdefault(m, []).append(gidx[g])
        avgdl, codec = self.avgdl, self.codec

        def score_range(key, pdf, dpdf):
            empty_pdf = pd.DataFrame(
                {"doc_id": pd.Series(dtype=np.int64),
                 "score": pd.Series(dtype=np.float64)}
            )
            if len(pdf) == 0:
                return empty_pdf
            dl_base, dl_arr = _seg_dls(key, dpdf)
            warr = np.asarray(warr_py, dtype=np.float64)
            ng = warr.size
            keys_l, tf_l = [], []
            for r in pdf.to_dict("records"):
                gs = term2g.get(r["term"])
                if gs is None:  # not a member term (defensive; segs pruned)
                    continue
                ids, tfs = decode_segment(r, codec)
                for g in gs:  # one (doc, group) key per membership
                    keys_l.append(ids * ng + g)
                    tf_l.append(tfs)
            if not keys_l:
                return empty_pdf
            # (doc, group) key doc * ng + g sorts doc-major, group-minor
            pk, _, p_tf = _pool(np.concatenate(keys_l), np.concatenate(tf_l))
            p_ids, p_g = pk // ng, pk % ng
            con = contrib(
                p_tf, gather_dls(p_ids, dl_base, dl_arr), warr[p_g], avgdl
            )
            uids, _, scores = _pool(p_ids, con)
            return pd.DataFrame({"doc_id": uids, "score": scores})

        out = self._score_cogroup(
            sorted({m for m, _ in member_rows}), score_range,
            "doc_id long, score double",
        )
        out = self._live(out)
        score = (
            F.round(F.col("score"), round_to) if round_to is not None
            else F.col("score")
        )
        if with_url:
            dm = self.docmap
            out = out.join(dm.select("doc_id", "url"), "doc_id")
            cols = ["doc_id", "url", score.alias("score")]
        else:
            cols = ["doc_id", score.alias("score")]
        return (
            out.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def feature_boost_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        kind: str = "saturation",
        pivot: float = 1.0,
        boost: float = 1.0,
        origin: float = 0.0,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
        mode: str = "or",
    ) -> DataFrame:
        """ES rank_feature / distance_feature queries: a bool.should
        clause that ADDS a bounded feature-derived term to the BM25 sum —
        ``kind='saturation'`` (rank_feature default) adds
        ``boost · x/(x + pivot)``; ``kind='distance'`` (distance_feature)
        adds ``boost · pivot/(pivot + |x − origin|)``. Both terms are
        bounded by ``boost``, so they re-rank within relevance ties
        rather than swamping text relevance — exactly why ES recommends
        them over multiplicative function_score for popularity/recency/
        proximity signals (function_score_topk covers the multiplicative
        family).

        Plan: relational BM25 scores (one seg-cogroup; ``mode="and"``
        applies in it) → dense-id docmap join → url-keyed field join → one Column
        expression → TakeOrdered. The feature join touches only hit
        rows."""
        scores = self.relational_scores(query, mode=mode)
        dm = self.docmap
        j = scores.join(dm.select("doc_id", "url"), "doc_id").join(
            field_values.select("url", field), "url"
        )
        x = F.col(field).cast("double")
        if kind == "saturation":
            extra = F.lit(float(boost)) * x / (x + F.lit(float(pivot)))
        elif kind == "distance":
            extra = (
                F.lit(float(boost))
                * F.lit(float(pivot))
                / (F.lit(float(pivot)) + F.abs(x - F.lit(float(origin))))
            )
        else:
            raise ValueError(f"unknown feature kind {kind!r}")
        total = F.col("score") + extra
        score = F.round(total, round_to) if round_to is not None else total
        cols = ["doc_id", "url", score.alias("score")] if with_url else [
            "doc_id", score.alias("score")
        ]
        return (
            j.select(*cols)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def pinned_topk(
        self,
        query: str,
        pinned_urls: list[str],
        k: int = 10,
        round_to: int | None = 4,
        mode: str = "or",
    ) -> DataFrame:
        """ES pinned query: the given docs rank FIRST in the given order
        (position i scores the Lucene pin constant 1.7e308/2 minus i in
        spirit — here rank-encoded as ``1e9 − i``, far above any BM25
        score), organic hits follow with their normal scores; a pinned
        doc never appears twice. Pins are ids by definition (a curated
        list), so the broadcast side is tiny.

        Plan: the organic top-k path unchanged (WAND over the index) ⟕
        an anti-join against the pin list + a tiny union. Cost = one
        topk + |pins| lookups."""
        pins = [(u, float(1e9 - i)) for i, u in enumerate(pinned_urls)]
        spark = self.spark
        pin_df = local_frame(spark, pins, "url string, score double")
        dm = self.docmap
        pin_rows = pin_df.join(dm.select("doc_id", "url"), "url")
        pin_rows = self._live(pin_rows)
        organic = self.topk(
            query, k=int(k) + len(pins), round_to=round_to,
            fetch_k=3 * (int(k) + len(pins)), with_url=True, mode=mode,
        ).join(F.broadcast(pin_df.select("url")), "url", "left_anti")
        return (
            pin_rows.select("doc_id", "url", "score")
            .unionByName(organic.select("doc_id", "url", "score"))
            .orderBy(F.col("score").desc(), F.col("url").asc())
            .limit(int(k))
        )

    def geo_bounding_box(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        top: float,
        left: float,
        bottom: float,
        right: float,
        k: int = 100,
        mode: str = "or",
    ) -> DataFrame:
        """ES geo_bounding_box query (filter context over a geo_point):
        hit docs whose (lat, lon) falls inside the box. A geo_point on
        Spark is two double columns, so the box is four pushable
        comparisons; a box crossing the ANTIMERIDIAN (left > right) is
        the OR of the two lon half-ranges, exactly ES's wrap semantics.
        Deterministic url-ordered k cut (equal membership has no
        natural order)."""
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        lat, lon = F.col(lat_field), F.col(lon_field)
        cond = (lat <= F.lit(float(top))) & (lat >= F.lit(float(bottom)))
        if left <= right:
            cond = cond & (lon >= F.lit(float(left))) & (
                lon <= F.lit(float(right))
            )
        else:  # antimeridian crossing
            cond = cond & (
                (lon >= F.lit(float(left))) | (lon <= F.lit(float(right)))
            )
        return (
            j.filter(cond)
            .select(
                "doc_id", "url",
                lat.cast("double").alias("lat"),
                lon.cast("double").alias("lon"),
            )
            .orderBy("url")
            .limit(int(k))
        )

    def geo_centroid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_centroid aggregation: arithmetic mean of the hit set's
        coordinates — one aggregate row (doc_count, lat, lon). ES
        accumulates on the flat projection for geo_points (no spherical
        weighting); identical here. One hash aggregation over the
        hit-joined field relation."""
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.avg(F.col(lat_field).cast("double")), round_to).alias(
                "lat"
            ),
            F.round(F.avg(F.col(lon_field).cast("double")), round_to).alias(
                "lon"
            ),
        )

    def nested_topk(
        self,
        query: str,
        field_values: DataFrame,
        nested_col: str,
        predicate: str,
        k: int = 10,
        mode: str = "or",
        min_matches: int = 1,
    ) -> DataFrame:
        """ES nested query (score_mode=sum over constant-score inner hits):
        hit docs where at least ``min_matches`` elements of the
        ``array<struct>`` column satisfy ``predicate`` — a SQL boolean over
        the element bound as ``x`` (e.g. ``"x.kind = 'a' AND x.size >=
        70"``). The predicate applies PER ELEMENT, the nested-vs-flattened
        distinction ES's nested type exists for: a doc whose one element
        has kind='a' and another has size>=70 does NOT match. Score = the
        matching-element count (sum of 1.0 per inner hit).

        Plan: ``size(filter(arr, x -> pred))`` is a single in-row JVM
        higher-order function — the nested evaluation adds NO shuffle and
        no explode; only the hit-set join moves data. Contrast
        has_child_topk, where children are separate rows and a count
        aggregation is unavoidable."""
        matched = F.expr(
            f"size(filter({nested_col}, x -> ({predicate})))"
        ).cast("long")
        out = (
            self._agg_input(self.matching_doc_ids(query, mode), None, field_values)
            .select("doc_id", "url", matched.alias("score"))
            .filter(F.col("score") >= int(min_matches))
        )
        out = self._live(out)
        return out.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(int(k))

    def nested_terms_reverse_nested(
        self,
        query: str,
        field_values: DataFrame,
        nested_col: str,
        key_expr: str,
        size: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``nested`` agg + ``terms`` + ``reverse_nested``: bucket the
        hit docs' nested elements by ``key_expr`` (SQL over the element
        bound as ``x``), reporting per bucket BOTH document contexts —
        ``doc_count`` = nested elements in the bucket (the nested agg's
        context) and ``parent_count`` = distinct ROOT docs owning >= 1
        such element (the reverse_nested jump back up). Buckets rank
        element count desc then key asc, top ``size``.

        Plan: the hit set joins the nested relation, ONE in-row explode
        (Generate — no shuffle), then one hash aggregation computing
        count + approx-free count(DISTINCT url) together; the distinct
        rides the same aggregate, bounded by #buckets × #parents."""
        base = (
            self._agg_input(self.matching_doc_ids(query, mode), None, field_values)
            .select("url", F.explode(nested_col).alias("x"))
            .select("url", F.expr(key_expr).alias("key"))
        )
        return aggs.terms(base, ["key"], [
            F.countDistinct("url").cast("long").alias("parent_count")
        ], size=size)

    def geo_distance(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        origin_lat: float,
        origin_lon: float,
        radius_km: float,
        k: int = 100,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_distance query + ``sort: _geo_distance``: hit docs whose
        point lies within ``radius_km`` of the origin, nearest first.
        Distance is the haversine arc (ES ``arc`` distance_type,
        GeoUtils mean earth radius ~6371 km; here R = 6371.0 so the SQL
        oracle states the identical closed form). The formula is pure
        Column arithmetic — sin/cos/asin on two pushable double columns —
        so the radius filter runs scan-side and the sort is a TakeOrdered
        over the filtered set, never a global sort. Rounded to ``round_to``
        so cross-engine libm ulps can't flip compares.

        Reference parity: ES geo_distance query + geo sort; the query-hit
        intersection mirrors geo_bounding_box above."""
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        dist = F.round(
            aggs.haversine_km(lat_field, lon_field, origin_lat, origin_lon),
            round_to,
        ).alias("distance_km")
        return (
            j.select(
                "doc_id", "url",
                F.col(lat_field).cast("double").alias("lat"),
                F.col(lon_field).cast("double").alias("lon"),
                dist,
            )
            .filter(F.col("distance_km") <= F.lit(float(radius_km)))
            .orderBy(F.col("distance_km").asc(), F.col("url").asc())
            .limit(int(k))
        )

    def geotile_grid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        zoom: int = 6,
        size: int = 20,
        mode: str = "or",
    ) -> DataFrame:
        """ES geotile_grid aggregation: bucket hit points into Web-Mercator
        map tiles at ``zoom``; keys are "z/x/y" strings, buckets ordered by
        doc_count desc then key asc, top ``size`` kept (ES's terms-like
        ordering). x is linear in lon; y uses the Mercator projection with
        ES's latitude clamp (±85.05112878). The tile fraction is rounded to
        9 decimals BEFORE floor on both engines, so a libm ulp on
        tan/ln can never flip a tile at a bucket boundary.

        One hash aggregation over the hit-joined points (≤ 4^zoom groups,
        partial map-side combine) → TakeOrdered(size). Scales as a plain
        distributed count-by-key."""
        n = float(1 << int(zoom))
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        rad = 3.141592653589793 / 180.0
        lat = F.least(
            F.lit(85.05112878),
            F.greatest(F.lit(-85.05112878), F.col(lat_field).cast("double")),
        )
        lon = F.col(lon_field).cast("double")
        xf = F.round((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n), 9)
        latr = lat * F.lit(rad)
        merc = F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
        yf = F.round(
            (F.lit(1.0) - merc / F.lit(3.141592653589793))
            / F.lit(2.0) * F.lit(n),
            9,
        )
        clamp = lambda c: F.least(  # noqa: E731 — tile index ∈ [0, 2^z-1]
            F.lit(int(n) - 1), F.greatest(F.lit(0), F.floor(c).cast("long"))
        )
        key = F.concat_ws(
            "/", F.lit(str(int(zoom))),
            clamp(xf).cast("string"), clamp(yf).cast("string"),
        )
        return aggs.terms(j.select(key.alias("key")), ["key"], size=size)

    def geohash_grid(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        precision: int = 4,
        size: int = 20,
        mode: str = "or",
    ) -> DataFrame:
        """ES geohash_grid aggregation: bucket hit points into geohash
        cells at ``precision`` chars (1–6 here); buckets ordered by
        doc_count desc then key asc, top ``size`` (the terms-like cut,
        like geotile_grid above).

        A geohash is the base-32 rendering of bit-INTERLEAVED lon/lat
        quantizations (lon takes the even bit positions from the MSB —
        ceil(5p/2) lon bits, floor(5p/2) lat bits at precision p). The
        interleave is a fixed sum of (bit >> j) · 2^i terms, generated
        here as pure Column arithmetic — shiftright/&/× only, no UDF —
        so it runs scan-side in whole-stage codegen and the aggregation
        is a plain distributed count-by-key (≤ 32^p groups, map-side
        combine). Cell fractions round to 9 dp before floor, the same
        libm-ulp guard the Mercator tile math uses."""
        p = int(precision)
        if not 1 <= p <= 6:
            raise ValueError("geohash precision must be in [1, 6]")
        nbits = 5 * p
        lon_bits = (nbits + 1) // 2
        lat_bits = nbits // 2
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        clampc = lambda c, n: F.least(  # noqa: E731 — cell ∈ [0, 2^b-1]
            F.lit((1 << n) - 1),
            F.greatest(F.lit(0), F.floor(c).cast("long")),
        )
        lonq = clampc(
            F.round(
                (F.col(lon_field).cast("double") + F.lit(180.0))
                / F.lit(360.0) * F.lit(float(1 << lon_bits)),
                9,
            ),
            lon_bits,
        )
        latq = clampc(
            F.round(
                (F.col(lat_field).cast("double") + F.lit(90.0))
                / F.lit(180.0) * F.lit(float(1 << lat_bits)),
                9,
            ),
            lat_bits,
        )
        j = j.select(lonq.alias("_lon"), latq.alias("_lat"))
        # interleaved code: geohash bit i (MSB-first, even i ← lon)
        code = F.lit(0).cast("long")
        for i in range(nbits):
            src, blen, rank = (
                ("_lon", lon_bits, i // 2) if i % 2 == 0
                else ("_lat", lat_bits, i // 2)
            )
            bit = F.shiftright(F.col(src), blen - 1 - rank).bitwiseAND(
                F.lit(1)
            )
            code = code + bit * F.lit(1 << (nbits - 1 - i))
        alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        key = F.concat(*[
            F.substring(
                F.lit(alpha),
                (
                    F.shiftright(
                        F.col("_code"), nbits - 5 * (m + 1)
                    ).bitwiseAND(F.lit(31)) + 1
                ).cast("int"),
                1,
            )
            for m in range(p)
        ])
        return aggs.terms(
            j.select(code.alias("_code")).select(key.alias("key")), ["key"],
            size=size,
        )

    def geo_bounds(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_bounds aggregation: the tightest non-wrapping envelope
        of the hit set's points — one row (doc_count, top, left, bottom,
        right) = (max lat, min lon, min lat, max lon). ES only emits a
        dateline-wrapped box for geo_shape fields with wrap_longitude;
        geo_point fields get exactly these four extrema. One hash
        aggregation with full map-side combine — four comparisons per
        row, no shuffle beyond the 1-row reduce."""
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        lat = F.col(lat_field).cast("double")
        lon = F.col(lon_field).cast("double")
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.max(lat), round_to).alias("top"),
            F.round(F.min(lon), round_to).alias("left"),
            F.round(F.min(lat), round_to).alias("bottom"),
            F.round(F.max(lon), round_to).alias("right"),
        )

    def geo_polygon(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        vertices: list[tuple[float, float]],
        k: int = 100,
        mode: str = "or",
    ) -> DataFrame:
        """ES geo_polygon query (filter context): hit docs whose point
        lies inside the closed polygon given as [(lat, lon), …] — the
        classic even-odd ray cast (PNPOLY): cast a ray in +lon and count
        edge crossings; odd ⇒ inside. Each edge test unrolls to one
        boolean Column — edge slopes are DRIVER-computed literals, so
        the per-row math is a compare + one multiply-add (horizontal
        edges can never straddle the ray and are skipped), all
        whole-stage codegen, pushable into the scan. Points exactly on
        an edge follow the ray convention (same on every engine — the
        arithmetic is identical IEEE ops). Deterministic url-ordered k
        cut like geo_bounding_box."""
        if len(vertices) < 3:
            raise ValueError("geo_polygon needs >= 3 vertices")
        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        y = F.col(lat_field).cast("double")
        x = F.col(lon_field).cast("double")
        cnt = F.lit(0)
        vs = [(float(a), float(b)) for a, b in vertices]
        for (y1, x1), (y2, x2) in zip(vs, vs[1:] + vs[:1]):
            if y1 == y2:
                continue  # horizontal edge: straddle is impossible
            slope = (x2 - x1) / (y2 - y1)
            straddle = (F.lit(y1) > y) != (F.lit(y2) > y)
            xi = F.lit(slope) * (y - F.lit(y1)) + F.lit(x1)
            cnt = cnt + (straddle & (x < xi)).cast("int")
        return (
            j.filter(cnt % 2 == 1)
            .select(
                "doc_id", "url",
                y.alias("lat"), x.alias("lon"),
            )
            .orderBy("url")
            .limit(int(k))
        )

    def terms_lookup(
        self,
        lookup: DataFrame,
        lookup_id,
        k: int = 100,
        id_col: str = "id",
        terms_col: str = "terms",
        max_terms: int = 1024,
    ) -> DataFrame:
        """ES terms query with TERMS LOOKUP: the term list is fetched
        from another document's array field at query time (the
        follow-list/blocklist pattern — "docs matching any term stored
        on entity X"), then matched in filter context with constant
        score 1.0 (the ES terms-query rewrite), deterministic url-
        ordered cut.

        The lookup fetch is a 1-row pushed-down id probe (ES GETs the
        doc; 65,536-term cap — ``max_terms`` mirrors it and raises past
        the cap, because a million-term closure belongs in a JOIN
        against the lookup relation, not in a literal IN list)."""
        rows = (
            lookup.filter(F.col(id_col) == lookup_id)
            .select(terms_col)
            .collect()
        )
        if not rows:
            return local_frame(
                self.spark, [], "doc_id long, url string, score double"
            )
        terms = sorted({t for t in (rows[0][terms_col] or []) if t})
        if len(terms) > int(max_terms):
            raise ValueError(
                f"terms lookup fetched {len(terms)} terms > max_terms="
                f"{max_terms}; join against the lookup relation instead"
            )
        if not terms:
            return local_frame(
                self.spark, [], "doc_id long, url string, score double"
            )
        hits = self.matching_doc_ids(" ".join(terms), mode="or")
        dm = self.docmap
        return (
            hits.join(dm.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", F.lit(1.0).alias("score"))
            .orderBy("url")
            .limit(int(k))
        )

    def geo_distance_rings(
        self,
        query: str,
        field_values: DataFrame,
        lat_field: str,
        lon_field: str,
        origin_lat: float,
        origin_lon: float,
        rings: list[tuple[float | None, float | None]],
        mode: str = "or",
        round_to: int = 4,
    ) -> DataFrame:
        """ES geo_distance AGGREGATION: bucket hit docs into concentric
        distance rings around an origin — (ring_key, from inclusive, to
        exclusive, doc_count), every requested ring present even at 0,
        rings may overlap (each counts independently) — the range-agg
        contract applied to the haversine distance (same closed form as
        the geo_distance query; distance rounded to ``round_to`` before
        the ring test so bucket edges are engine-stable).

        Plan: the distance is scan-side Column arithmetic; bucketing is
        a conditional join against the broadcast tiny rings relation +
        one (n_rings)-row aggregate, then a left join back restores
        empty rings — identical cost shape to agg_ranges."""

        j = self._agg_input(
            self.matching_doc_ids(query, mode), [lat_field, lon_field],
            field_values,
        )
        dist = F.round(
            aggs.haversine_km(lat_field, lon_field, origin_lat, origin_lon),
            round_to,
        )
        return aggs.ranges(j, dist, aggs.range_rows(rings)).select(
            F.col("key").alias("ring"), F.col("lo").alias("km_from"),
            F.col("hi").alias("km_to"), "doc_count",
        ).orderBy(F.col("km_from").asc_nulls_first())

    def sayt_topk(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES search_as_you_type: like match_bool_prefix, but the
        trailing-prefix expansion resolves against the MATERIALIZED
        edge-ngram relation (``build_edge_ngrams``) with an EQUALITY
        lookup — the index-time form ES's search_as_you_type field
        implements with its ``._index_prefix`` subfield. At a 10⁹-term
        dictionary the difference is a pushed-down point predicate on a
        gram-sorted relation vs a LIKE range scan; past max_gram it
        falls back to the dictionary prefix scan, exactly ES's fallback
        to a plain prefix query. Expansion stays alphabetic-capped and
        deduplicated; scoring is the same BM25 OR as bool_prefix_topk."""
        import json

        from kafka_es_spark.functions.tokenize import tokenize_py

        toks = tokenize_py(query)
        if not toks:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        fixed, pre = toks[:-1], toks[-1]
        en_dir = os.path.join(self.index_dir, "edge_ngrams")
        meta_p = os.path.join(self.index_dir, "edge_ngrams_meta.json")
        if not (os.path.isdir(en_dir) and os.path.exists(meta_p)):
            raise ValueError(
                f"index at {self.index_dir} has no edge_ngrams/ relation — "
                "run build_edge_ngrams first (search_as_you_type is an "
                "index-time feature)"
            )
        with open(meta_p) as fh:
            meta = json.load(fh)
        if meta["min_gram"] <= len(pre) <= meta["max_gram"]:
            rows = (
                read_relation(self.spark, en_dir)
                .filter(F.col("gram") == pre)
                .select("term")
                .orderBy("term").limit(int(max_expansions)).collect()
            )
            exp = [r["term"] for r in rows]
        else:  # ES falls back to a prefix query outside the gram range
            exp = index_prefix_terms(
                self.spark, self.index_dir, pre, max_expansions
            )
        terms = sorted(set(fixed) | set(exp))
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def bool_prefix_topk(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES match_bool_prefix query: every analyzed term except the
        last becomes a term ``should`` clause, and the LAST term matches
        as a prefix — the type-ahead query over a standard index (vs
        search_as_you_type's dedicated edge-ngram field, whose index-time
        expansion this replaces at query time). The prefix expands
        against the term dictionary to the first ``max_expansions``
        terms in alphabetic order (same deterministic rewrite as
        prefix_topk), the union is deduplicated, and the whole
        disjunction scores as plain BM25 OR through the block-max path
        (Lucene's scoring-boolean rewrite keeps it oracle-checkable).

        The dictionary probe is ``index_prefix_terms`` (as prefix_topk);
        everything after is the standard pruned top-k plan."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        toks = tokenize_py(query)
        if not toks:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        fixed, pre = toks[:-1], toks[-1]
        exp = index_prefix_terms(self.spark, self.index_dir, pre, max_expansions)
        terms = sorted(set(fixed) | set(exp))
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def has_child_topk(
        self,
        children: DataFrame,
        child_filter: str,
        parent_col: str = "parent_url",
        k: int = 10,
        min_children: int = 1,
    ) -> DataFrame:
        """ES has_child query (join field): live parent docs with >=
        ``min_children`` children matching the filter-context child
        predicate, scored by matching-child count — ES's score_mode over
        constant-score children (sum of 1.0 per child) IS the count;
        none/min/max/avg all collapse to it. ``children`` carries
        ``parent_col`` (the join-field parent routing key = the parent's
        url); ``child_filter`` is a SQL predicate over the child row.

        Plan: child predicate pushes into the child scan → ONE
        parent-keyed count aggregation (bounded by #parents with
        matches, not #children) → dense-id docmap join → TakeOrdered.
        No per-child shuffle beyond the one count agg; tombstoned
        parents drop like every query path."""
        matched = (
            children.filter(child_filter)
            .groupBy(F.col(parent_col).alias("url"))
            .agg(F.count(F.lit(1)).cast("long").alias("score"))
            .filter(F.col("score") >= int(min_children))
        )
        dm = self.docmap
        out = matched.join(dm.select("doc_id", "url"), "url")
        out = self._live(out)
        # url tiebreak, not internal doc id: urls are stable across index
        # builds, internal dense ids are not
        return (
            out.select("doc_id", "url", "score")
            .orderBy(F.col("score").desc(), F.col("url").asc())
            .limit(int(k))
        )

    def has_parent_children(
        self,
        parent_query: str,
        children: DataFrame,
        parent_col: str = "parent_url",
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES has_parent query (join field): child rows whose parent doc
        matches the parent query — filter context, score=false (the ES
        default), so the parent side is the no-decode matching_doc_ids
        set. Plan: parent hit set → docmap urls (bounded by #hits) →
        LEFT SEMI join into the child relation on the routing key; AQE
        broadcasts the url set when small, and the child side never
        shuffles more than that one join."""
        hits = self.matching_doc_ids(
            parent_query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        dm = self.docmap
        urls = hits.join(dm.select("doc_id", "url"), "doc_id").select(
            F.col("url").alias(parent_col)
        )
        return children.join(urls, parent_col, "left_semi")

    def children_agg(
        self,
        parent_query: str,
        children: DataFrame,
        child_field: str,
        parent_col: str = "parent_url",
        size: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES ``children`` aggregation (join field): inside a parent-side
        query, step DOWN to the matching parents' children and bucket
        them by ``child_field`` — doc_count counts CHILD docs (the agg
        switches document context; ES children agg semantics). Buckets
        rank count desc then key asc (ES terms order), top ``size``.

        Plan: parent hit set → docmap urls (bounded by #hits) → LEFT
        SEMI into the child relation on the routing key → one hash
        aggregation over ≤ #distinct child_field values. The child side
        shuffles once, for the count agg."""
        kids = self.has_parent_children(
            parent_query, children, parent_col=parent_col, mode=mode
        )
        return aggs.terms(
            kids.select(F.col(child_field).alias("key")), ["key"], size=size
        )

    def parent_agg(
        self,
        children: DataFrame,
        child_filter: str,
        field_values: DataFrame,
        field: str,
        parent_col: str = "parent_url",
        size: int = 10,
    ) -> DataFrame:
        """ES ``parent`` aggregation (join field): from a child-side
        filter, step UP to the distinct live parents owning >= 1 matching
        child and bucket them by a parent field — doc_count counts
        PARENT docs, each parent once no matter how many children hit
        (the dedup is the whole point of the context switch).
        ``field_values`` is a (url, field) parent relation.

        Plan: child predicate pushes into the child scan → distinct
        routing keys (bounded by #parents with matches) → docmap join
        drops tombstoned parents → field join → one small hash agg."""
        parents = (
            children.filter(child_filter)
            .select(F.col(parent_col).alias("url"))
            .distinct()
        )
        dm = self.docmap.select("doc_id", "url")
        live = parents.join(dm, "url")
        live = self._live(live)
        j = self._agg_input(live, [field], field_values)
        return aggs.terms(j.select(F.col(field).alias("key")), ["key"], size=size)

    def collapse_topk(
        self,
        query: str,
        field_values: DataFrame,
        collapse_field: str,
        k: int = 10,
        mode: str = "or",
        round_to: int | None = 4,
        ext_id_col: str | None = None,
    ) -> DataFrame:
        """ES field-collapsing analogue (``collapse: {field}``): the hit
        list keeps only the best-scoring doc per ``collapse_field`` value
        (ties → lowest doc id), ranked by that doc's score; ``group_hits``
        carries the collapsed group's total hit count (the inner_hits
        cardinality). Plan: the relational score set joins docmap + the
        field, then ONE window partitioned by the collapse value — the
        window key is the field, so skew is bounded by the largest field
        group, and the final global sort is over ≤ #distinct-values rows.

        Scores round BEFORE ranking (the serving-score discipline:
        what's compared is what a client is shown). ``ext_id_col`` names
        a caller-provided stable doc identifier in ``field_values``
        (e.g. the corpus id behind the url); when given, tie-breaks rank
        on it and the output ``doc_id`` carries it — internal dense ids
        are an index detail a client never sees."""
        if mode != "or":
            raise ValueError("collapse_topk scores OR-mode (ES default)")
        scores = self.relational_scores(query)
        if round_to is not None:
            scores = scores.withColumn("score", F.round("score", round_to))
        dm = self.docmap.select("doc_id", "url")
        fv_cols = ["url", collapse_field] + (
            [ext_id_col] if ext_id_col else []
        )
        j = scores.join(dm, "doc_id").join(field_values.select(*fv_cols), "url")
        idc = ext_id_col or "doc_id"
        grp = Window.partitionBy(collapse_field)
        w = grp.orderBy(F.col("score").desc(), F.col(idc).asc())
        return (
            j.withColumn("rnk", F.row_number().over(w))
            .withColumn("group_hits", F.count(F.lit(1)).over(grp))
            .filter(F.col("rnk") == 1)
            .select(
                collapse_field, F.col(idc).alias("doc_id"), "score",
                "group_hits",
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(int(k))
        )

    def boosting_topk(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.3,
        k: int = 10,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES boosting-query analogue: docs are scored by the positive
        query; docs ALSO matching the negative query stay in the results
        but with score × ``negative_boost`` (demotion, not exclusion —
        the contrast with bool.must_not). Plan: the positive relational
        score set left-joins the negative filter-context id set (posting
        algebra, no scoring) — one broadcast-sized join on doc_id, then
        the usual rounded top-k. ``with_url``/``fetch_k`` follow the
        topk contract (over-fetch so a caller re-ranking on an external
        tie key keeps boundary tie groups)."""
        pos = self.relational_scores(positive)
        neg = self.matching_doc_ids(negative).withColumn("_neg", F.lit(True))
        out = pos.join(neg, "doc_id", "left").withColumn(
            "score",
            F.col("score")
            * F.when(F.col("_neg"), F.lit(float(negative_boost)))
            .otherwise(F.lit(1.0)),
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        out = (
            out.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if with_url:
            dm = self.docmap.select("doc_id", "url")
            out = out.join(dm, "doc_id").select("doc_id", "url", "score")
        return out

    def regexp_topk(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES regexp-query analogue: the pattern runs against the term
        dictionary (anchored match — ES regexp is implicitly anchored,
        so the pattern is wrapped ``^(?:...)$``), expansion is
        deterministic (alphabetic, capped at max_expansions) and scored
        as a BM25 OR — the same scoring-boolean rewrite the other
        multi-term queries use. Keep patterns to the RE2-compatible
        subset (classes, alternation, ``.*+?`` quantifiers) so any
        engine's regex library agrees on the match set."""
        rows = (
            self.term_stats
            .filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .select("term")
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        return self.topk(
            " ".join(terms), k=k, round_to=round_to, with_url=with_url,
            fetch_k=fetch_k,
        )

    def function_score_topk(
        self,
        query: str,
        field_values: DataFrame,
        field: str,
        k: int = 10,
        factor: float = 1.0,
        modifier: str = "ln1p",
        boost_mode: str = "multiply",
        mode: str = "or",
        fetch_k: int | None = None,
        round_to: int | None = 4,
        with_url: bool = False,
    ) -> DataFrame:
        """ES function_score with a field_value_factor function: rescore
        the query's BM25 hits by a function of a stored numeric field —
        ``func = modifier(factor * field)`` with modifiers none / ln1p
        (ln(1+x)) / log1p (log10(1+x)) / sqrt / square / reciprocal,
        combined per ``boost_mode`` (multiply / sum / max / min /
        replace). Docs missing the field drop out (inner join), matching
        ES's missing-value error unless a `missing` default is supplied
        upstream in ``field_values``. Plan: relational BM25 scores
        (O(postings of the query terms)) joined through the docmap to
        the field relation, one TakeOrdered k — never materializes
        non-matching docs."""
        mods = {
            "none": lambda c: c,
            "ln1p": lambda c: F.log(F.lit(1.0) + c),
            "log1p": lambda c: F.log10(F.lit(1.0) + c),
            "sqrt": F.sqrt,
            "square": lambda c: c * c,
            "reciprocal": lambda c: F.lit(1.0) / c,
        }
        if modifier not in mods:
            raise ValueError(f"unknown field_value_factor modifier: {modifier!r}")
        combines = {
            "multiply": lambda s, f_: s * f_,
            "sum": lambda s, f_: s + f_,
            "max": lambda s, f_: F.greatest(s, f_),
            "min": lambda s, f_: F.least(s, f_),
            "replace": lambda s, f_: f_,
        }
        if boost_mode not in combines:
            raise ValueError(f"unknown function_score boost_mode: {boost_mode!r}")
        scores = self.relational_scores(query)
        dm = self.docmap.select("doc_id", "url")
        j = (
            scores.join(dm, "doc_id")
            .join(field_values.select("url", field), "url")
        )
        func = mods[modifier](F.lit(float(factor)) * F.col(field).cast("double"))
        total = combines[boost_mode](F.col("score"), func)
        out = (
            j.select("doc_id", "url", total.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if not with_url:
            out = out.drop("url")
        return out

    def agg_composite(
        self,
        query: str,
        field_values: DataFrame,
        sources: list[str],
        size: int = 10,
        after: tuple | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES composite-aggregation analogue: paginate through ALL
        distinct value combinations of ``sources`` (bucket key tuple,
        ascending) over the hit set, ``size`` buckets per page, resuming
        strictly after the ``after`` key tuple — the ES pattern for
        exhaustively walking a high-cardinality bucket space without one
        giant terms response. Stateless-cursor shape (like
        search_after): each page is an independent job, the after-tuple
        predicate pushes into the aggregate, and the per-page result is
        size rows — so walking 10^9 buckets never materializes them in
        one response."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.composite(
            self._agg_input(hits, None, field_values), sources, size, after
        )

    def rescore_topk(
        self,
        query: str,
        rescore_query: str,
        k: int = 10,
        window: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """ES rescore API analogue: take the top ``window`` docs of the
        base query (by rounded serving score — the deterministic window
        boundary both engine and oracle agree on), re-score them as
        ``query_weight * base + rescore_weight * secondary`` where the
        secondary score is the rescore query's BM25 (0 for window docs
        it doesn't match — ES's rescore-window semantics), and return
        the top ``k`` of the window (requires k <= window, as in ES
        where hits below the window keep their base order). The classic
        use is a cheap broad match re-ranked by an expensive secondary
        query evaluated on only ``window`` docs. Plan: two
        relational-score sets (each O(postings of its terms)), window =
        one TakeOrdered, blend = one broadcast-sized left join."""
        if k > window:
            raise ValueError(f"k={k} must be <= window={window}")
        base = self.relational_scores(query)
        win = (
            base.withColumn("r", F.round("score", 4))
            .orderBy(F.col("r").desc(), F.col("doc_id").asc())
            .limit(int(window))
            .select("doc_id", F.col("score").alias("base_score"))
        )
        sec = self.relational_scores(rescore_query).select(
            "doc_id", F.col("score").alias("sec_score")
        )
        total = (
            F.lit(float(query_weight)) * F.col("base_score")
            + F.lit(float(rescore_weight)) * F.coalesce(F.col("sec_score"), F.lit(0.0))
        )
        out = win.join(sec, "doc_id", "left").select(
            "doc_id", total.alias("score")
        )
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def query_string_topk(
        self,
        qs: str,
        k: int = 10,
        max_expansions: int = 50,
        slop: int = 0,
        round_to: int | None = 4,
        with_url: bool = False,
        fetch_k: int | None = None,
    ) -> DataFrame:
        """Lucene/ES ``query_string`` analogue over the documented subset
        ``+clause`` (must) / ``-clause`` (must_not) / bare clause (should)
        / ``"a b"`` quoted phrases / trailing-``*`` prefix clauses — no
        field prefixes or parens (single analyzed field per index here;
        multi-field routing is ``multi_match_topk``'s job).

        Semantics follow Lucene's BooleanQuery: the score is the BM25 sum
        over EVERY positive term the doc matches (must terms score too;
        prefix clauses expand alphabetically capped at ``max_expansions``
        and score as a scoring-boolean rewrite, exactly like
        ``prefix_topk``); a doc qualifies iff it matches at least one
        expansion of every must clause, every must phrase, no must_not
        term, and no must_not phrase. Phrase clauses are filter-context
        (``phrase_match_ids`` — they gate but don't score, the
        constant-score ES filter shape) and read the postings' positions.

        Plan: one seg-cogroup over the positive and ``-`` terms'
        postings (``relational_scores``): the ``+`` clauses are its
        clauses, every one of which a hit matches, the bare terms only add
        score, and the ``-`` terms drop their docs in the same kernel.
        Quoted phrases then left-semi / left-anti join their positional
        hit sets. No corpus scan anywhere."""
        import re

        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        must_groups: list[list[str]] = []   # each: doc must match >= 1
        should_terms: list[str] = []
        not_terms: list[str] = []
        must_phrases: list[str] = []
        not_phrases: list[str] = []
        for sign, phrase, psign, word in re.findall(
            r'([+-]?)"([^"]*)"|([+-]?)(\S+)', qs
        ):
            if phrase:
                (not_phrases if sign == "-" else must_phrases).append(phrase)
                continue
            is_prefix = word.endswith("*") and len(word) > 1
            toks = tokenize_py(word.rstrip("*"))
            if not toks:
                continue
            if is_prefix:
                exp = index_prefix_terms(
                    spark, self.index_dir, toks[0], max_expansions
                )
                if psign == "-":
                    not_terms.extend(exp)
                elif psign == "+":
                    if not exp:
                        # a required prefix that expanded to nothing
                        return local_frame(spark, [], TOPK_SCHEMA)
                    must_groups.append(exp)
                else:
                    should_terms.extend(exp)
            else:
                if psign == "-":
                    not_terms.extend(toks)
                elif psign == "+":
                    for t in toks:
                        must_groups.append([t])
                else:
                    should_terms.extend(toks)

        positive = sorted(set(should_terms).union(*must_groups))
        if not positive:
            return local_frame(spark, [], TOPK_SCHEMA)
        # the + clauses gate inside the one scoring pass: with none, each
        # positive term is a should clause of its own
        query = [" ".join(g) for g in must_groups] or " ".join(positive)
        out = self.relational_scores(
            query, self._query_weights(positive),
            mode="and" if must_groups else "or",
            must_not=" ".join(sorted(set(not_terms))) or None,
        )
        if must_phrases or not_phrases:
            from kafka_es_spark.operators.positions import phrase_match_ids

            for p in must_phrases:
                out = out.join(
                    phrase_match_ids(spark, self.index_dir, p, slop=slop),
                    "doc_id", "left_semi",
                )
            for p in not_phrases:
                out = out.join(
                    phrase_match_ids(spark, self.index_dir, p, slop=slop),
                    "doc_id", "left_anti",
                )
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def match_all_ids(self) -> DataFrame:
        """ES ``match_all`` in filter context: every LIVE doc id (docmap
        minus pending tombstones). One dense-id column scan of the docmap
        — the only hit-set builder allowed to touch the whole corpus,
        because the caller asked for exactly that (the ``global``
        aggregation scope and query-less aggregations). Stays a pure
        column projection: no postings read, no shuffle."""
        return self._live(self.docmap.select("doc_id"))

    def exists_ids(
        self, field: str, field_values: DataFrame | None = None
    ) -> DataFrame:
        """ES ``exists`` query in filter context: live docs whose
        ``field`` has a non-null value. A missing row in an external
        ``field_values`` relation counts as missing too (ES: no indexed
        value), which the inner url join gives for free."""
        return (
            self._agg_input(None, [field], field_values)
            .filter(F.col(field).isNotNull())
            .select("doc_id")
        )

    def exists_filter_topk(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        k: int = 10,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``bool: {must: match, filter: exists}``: BM25 top-k
        restricted to docs that HAVE the field. Scoring stats stay
        index-level (filters never touch idf/avgdl — the
        range_filtered_topk contract); the exists hit set left-semi
        joins the relational scores, so cost is O(postings of the query
        terms) + one docmap-column predicate."""
        out = self.relational_scores(query).join(
            self.exists_ids(field, field_values), "doc_id", "left_semi"
        )
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def _finish_topk(
        self, out: DataFrame, k: int, round_to: int | None,
        fetch_k: int | None, with_url: bool,
    ) -> DataFrame:
        """Shared tail of the relational-score query paths: rank
        (score desc, doc_id asc), cut at max(k, fetch_k), round, and
        optionally attach urls from the docmap (≤fetch_k rows join a
        broadcast-sized side)."""
        out = (
            out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(max(int(k), int(fetch_k or 0)))
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        if with_url:
            dm = self.docmap.select("doc_id", "url")
            out = out.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        return out

    def agg_missing(
        self,
        query: str,
        field: str,
        field_values: DataFrame | None = None,
        mode: str = "or",
        min_should_match: int | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """ES ``missing`` aggregation: one row ``(doc_count)`` — hits of
        ``query`` whose ``field`` is null or absent. The complement of
        ``exists_ids`` over the hit set: hit ids LEFT JOIN the field
        relation, count the nulls. External relations may omit rows
        entirely (absent ≡ null), so the join is left, not inner."""
        hits = self.matching_doc_ids(query, mode, min_should_match, must_not)
        return aggs.value_counts(
            self._agg_input(hits, [field], field_values, how="left"), field
        ).select(F.col("missing_count").alias("doc_count"))

    def agg_global(
        self,
        field: str,
        field_values: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``global`` aggregation with a stats sub-agg: the metric row
        over ALL live docs, ignoring whatever query produced the hits
        beside it (the classic "facet counts vs the whole corpus"
        denominator). Same output shape as ``agg_stats``; one partial
        aggregate over the field relation."""
        return aggs.stats(self._agg_input(None, [field], field_values), field)

    def ids_topk(
        self,
        query: str,
        urls: list[str],
        k: int = 10,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``bool: {must: match, filter: ids}``: BM25 top-k restricted
        to an explicit id (url) list — the "score these known docs"
        request behind re-ranking and saved result sets. The id list is
        query-sized by contract (ES caps request arrays); it broadcasts
        against the docmap to resolve dense ids, then left-semi joins the
        relational scores. Tombstoned ids drop via relational_scores'
        exclusion; unknown ids simply match nothing (ES semantics)."""
        spark = self.spark
        req = local_frame(spark, [(u,) for u in urls], "url string")
        dm = self.docmap.select("url", "doc_id")
        ids = dm.join(F.broadcast(req), "url").select("doc_id")
        out = self.relational_scores(query).join(ids, "doc_id", "left_semi")
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def simple_query_string_topk(
        self,
        qs: str,
        default_operator: str = "or",
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = 4,
        fetch_k: int | None = None,
        with_url: bool = False,
    ) -> DataFrame:
        """ES ``simple_query_string`` over the documented subset: bare
        terms, ``-term`` negation, ``"quoted phrases"``, trailing-``*``
        prefix clauses, and ``|`` joining adjacent clauses into one OR
        group — no parens or field routing (same single-field scope as
        ``query_string_topk``). Unlike query_string, the syntax never
        errors: unparsable fragments analyze to terms (the "simple" in
        the name is the lenient contract).

        ``default_operator`` decides what whitespace means: ``"or"``
        (ES default) makes every clause a should; ``"and"`` makes every
        positive clause a must GROUP (a ``a|b`` group needs >= 1 member).
        Scoring is the Lucene scoring-boolean rewrite either way: BM25
        sum over every positive term the doc matches. Phrases are
        filter-context through the postings' positions.

        Plan: query_string_topk's. One ``relational_scores`` seg-cogroup
        scores the positive terms; under ``"and"`` each group of terms
        alone is one of its clauses, and the ``-`` terms drop their docs
        in the same kernel. A group holding a phrase gates on the union of
        its phrases' positional hit sets, its bare terms taken as
        one-word phrases; ``-`` phrases anti-join theirs."""
        import re

        from kafka_es_spark.functions.tokenize import tokenize_py
        from kafka_es_spark.operators.positions import phrase_match_ids

        if default_operator not in ("or", "and"):
            raise ValueError("default_operator must be 'or' or 'and'")
        spark = self.spark
        conj = default_operator == "and"
        groups: list[tuple[bool, list[str], list[str]]] = []
        # '|' binds tighter than whitespace: normalize 'a | b' to 'a|b'
        # so one fragment is one clause group
        qs = re.sub(r"\s*\|\s*", "|", qs)
        # each fragment: (negated, terms, phrases). A fragment runs to the
        # next space outside quotes, so a group member may be a phrase with
        # spaces in it ('a|"b c"'); a stray quote falls back to \S+
        for frag in re.findall(r'-?(?:"[^"]*"|[^\s|"]+|\|)+|\S+', qs):
            neg = frag.startswith("-")
            frag = frag.lstrip("-")
            terms: list[str] = []
            phrases: list[str] = []
            unexpanded = False
            for piece in re.findall(r'(?:"[^"]*"|[^|"])+|"', frag):
                if not piece:
                    continue
                if len(piece) >= 2 and piece[0] == '"' and piece[-1] == '"':
                    phrases.append(piece[1:-1])
                elif piece.endswith("*") and len(piece) > 1:
                    base = tokenize_py(piece.rstrip("*"))
                    if base:
                        exp = index_prefix_terms(
                            spark, self.index_dir, base[0], max_expansions
                        )
                        terms.extend(exp)
                        unexpanded |= not exp
                else:
                    terms.extend(tokenize_py(piece))
            if not terms and not phrases:
                if conj and not neg and unexpanded:
                    # a required group whose prefix expanded to nothing
                    return local_frame(spark, [], TOPK_SCHEMA)
                continue
            groups.append((neg, terms, phrases))

        def words(negated: bool) -> list[str]:
            return sorted(
                {t for neg, ts, _ in groups if neg == negated for t in ts}
            )

        positive, nots = words(False), words(True)
        if positive:
            clauses = [" ".join(ts) for neg, ts, phs in groups
                       if conj and not neg and not phs]
            out = self.relational_scores(
                clauses or " ".join(positive), self._query_weights(positive),
                mode="and" if clauses else "or",
                must_not=" ".join(nots) or None,
            )
        else:
            # no positive terms, but quoted phrases may still carry the
            # query (qs='"exact phrase"'): ES returns the phrase matches
            out = self._phrase_hits(
                [p for neg, _, phs in groups if not neg for p in phs], nots
            )
            if out is None:
                return local_frame(spark, [], TOPK_SCHEMA)

        for neg, ts, phrases in groups:
            if neg:
                for p in phrases:
                    out = out.join(
                        phrase_match_ids(spark, self.index_dir, p),
                        "doc_id", "left_anti",
                    )
            elif conj and phrases:
                # the whole group is one must clause: >= 1 member matches
                ids = None
                for p in phrases + ts:
                    pm = phrase_match_ids(spark, self.index_dir, p)
                    ids = pm if ids is None else ids.union(pm).distinct()
                out = out.join(ids, "doc_id", "left_semi")
            # a should group gates nothing in OR mode — ES treats a
            # should phrase as optional signal; terms already score
            # through `positive`. A should PHRASE gates in ES only when
            # it is the lone clause: that is the no-positive-term case.
        return self._finish_topk(out, k, round_to, fetch_k, with_url)

    def _phrase_hits(self, phrases: list[str], nots: list[str]) -> DataFrame | None:
        """The hit set of a simple_query_string with no positive term:
        the docs matching any of ``phrases`` (None when there are none),
        at constant 0 score (phrases are filter-context in this engine),
        minus the docs holding any of the ``nots`` terms. No scoring pass
        runs, so the negated terms gate through ``matching_doc_ids``."""
        from kafka_es_spark.operators.positions import phrase_match_ids

        ids = None
        for p in sorted(set(phrases)):
            pm = phrase_match_ids(self.spark, self.index_dir, p).select("doc_id")
            ids = pm if ids is None else ids.unionByName(pm)
        if ids is None:
            return None
        out = ids.distinct().select("doc_id", F.lit(0.0).alias("score"))
        if nots:
            out = out.join(
                self.matching_doc_ids(" ".join(nots)), "doc_id", "left_anti"
            )
        return out

    def topk_many(
        self,
        queries: list[str],
        k: int = 10,
        round_to: int | None = 4,
        exclude_doc_ids: set[int] | None = None,
        mode: str = "or",
    ) -> DataFrame:
        """Batch query API: score a whole query batch in ONE Spark job —
        (query_id, doc_id, score) rows, top-k per query. A serving engine
        amortizes job scheduling/exchange over the batch: per-query cost
        collapses to the scorer itself. Term weights (idf) are
        query-independent, so per-range cursors are decoded ONCE and reused
        by every query; both scorers are read-only over them.
        query_id = position in ``queries``. ``mode="and"`` applies
        conjunctive (bool.must) semantics to every query in the batch."""
        from kafka_es_spark.functions.tokenize import tokenize_py

        spark = self.spark
        qterms_by_id = {
            i: sorted(set(tokenize_py(q))) for i, q in enumerate(queries)
        }
        all_terms = sorted({t for ts in qterms_by_id.values() for t in ts})
        out_schema = T.StructType(
            [
                T.StructField("query_id", T.IntegerType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        if not all_terms or self.n_docs == 0 or self.avgdl == 0:
            return local_frame(spark, [], out_schema)
        weights = self._query_weights(all_terms)
        if not weights:
            return local_frame(spark, [], out_schema)
        avgdl, codec = self.avgdl, self.codec
        excluded = (
            frozenset(int(d) for d in (exclude_doc_ids or ()))
            | self.persistent_excluded
        ) or None
        segs = self._query_segs(list(weights))
        dls_rel = self._query_dls(segs)

        def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame(
                    {"query_id": pd.Series(dtype=np.int32),
                     "doc_id": pd.Series(dtype=np.int64),
                     "score": pd.Series(dtype=np.float64)}
                )
            dl_base, dl_arr = _seg_dls(key, dpdf)
            by_term: dict[str, list[dict]] = {}
            for r in pdf.to_dict("records"):
                by_term.setdefault(r["term"], []).append(r)
            cursors = {
                t: _Cursor(rows, weights[t], avgdl, codec, dl_base, dl_arr)
                for t, rows in by_term.items()
            }
            out_rows = []
            for qid, qts in qterms_by_id.items():
                qc = [cursors[t] for t in qts if t in cursors]
                if not qc:
                    continue
                if mode == "and":
                    if len(qc) < len(qts):
                        continue  # a required term is absent in this range
                    top = counted_range_topk(qc, k, len(qc), excluded)
                else:
                    top = blockmax_topk_vectorized(qc, k, excluded=excluded)
                for d, s in top:
                    out_rows.append((qid, d, s))
            return pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])

        ranged = (
            segs.groupBy("seg")
            .cogroup(dls_rel.groupBy("seg"))
            .applyInPandas(score_range, out_schema)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        out = (
            ranged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        return out.orderBy("query_id", F.col("score").desc(), F.col("doc_id").asc())


def multi_match_topk(
    spark: SparkSession,
    field_indexes: dict[str, tuple[str, float]],
    query: str,
    k: int = 10,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES ``multi_match`` analogue over per-field indexes:
    ``field_indexes`` maps field name -> (index_dir, boost), one
    inverted index per field built over the SAME corpus (same docmap —
    dense doc ids are a pure function of the url set, so ids align
    across the field indexes by construction; guarded by an n_docs
    check).

    ``match_type``:
    * ``most_fields`` — score = Σ_f boost_f · BM25_f (the ES
      most_fields sum).
    * ``best_fields`` — score = best + tie_breaker · (Σ others), ES's
      dis_max; tie_breaker=0 is pure dis_max.

    Plan: each field contributes its relational score set (cost
    O(postings of the query terms in that field's index)); fields
    combine by full-outer equi-joins on doc_id (candidates = union of
    per-field hit sets — a doc matching ANY field competes, the
    multi_match contract) and one TakeOrdered k. Per-field scoring
    never materializes non-matching docs, so the combine size is
    bounded by Σ per-field hits, not the corpus."""
    if match_type not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match type: {match_type!r}")
    fields = sorted(field_indexes)
    searchers = {f: Searcher(spark, field_indexes[f][0], cache=False) for f in fields}
    n_docs = {f: searchers[f].n_docs for f in fields}
    if len(set(n_docs.values())) > 1:
        raise ValueError(
            f"field indexes disagree on corpus size ({n_docs}); "
            "multi_match requires indexes built over the same corpus"
        )
    combined = None
    for f in fields:
        boost = float(field_indexes[f][1])
        sf = searchers[f].relational_scores(query).select(
            "doc_id", (F.lit(boost) * F.col("score")).alias(f"s_{f}")
        )
        combined = sf if combined is None else combined.join(
            sf, "doc_id", "full_outer"
        )
    cols = [F.coalesce(F.col(f"s_{f}"), F.lit(0.0)) for f in fields]
    if match_type == "most_fields":
        total = cols[0]
        for c in cols[1:]:
            total = total + c
    else:
        best = F.greatest(*cols) if len(cols) > 1 else cols[0]
        ssum = cols[0]
        for c in cols[1:]:
            ssum = ssum + c
        total = best + F.lit(float(tie_breaker)) * (ssum - best)
    out = (
        combined.select("doc_id", total.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    if with_url:
        first = fields[0]
        dm = read_relation(
            spark, os.path.join(field_indexes[first][0], "docmap")
        ).select("doc_id", "url")
        out = out.join(dm, "doc_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
    return out


def combined_fields_topk(
    spark: SparkSession,
    field_indexes: dict[str, tuple[str, float]],
    query: str,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES combined_fields query — the BM25F side of multi-field search
    (``multi_match_topk`` covers most_fields/best_fields, which combine
    AFTER per-field saturation): here fields merge BEFORE saturation
    into one synthetic field —

        tf̃(t,d) = Σ_f boost_f · tf_f(t,d)
        dl̃(d)   = Σ_f boost_f · dl_f(d);  avgdl̃ = corpus mean of dl̃
        df(t)   = |{d : t appears in ANY field}|
        score   = Σ_t idf(df) · tf̃·(k1+1) / (tf̃ + k1·(1−b + b·dl̃/avgdl̃))

    (Robertson's BM25F with field weights as boosts; ES requires the
    fields to share an analyzer — true by construction here.)

    Plan: per-field pruned postings of the query terms → weighted
    (doc, term) roll-up; combined per-doc length from the docmaps'
    stored dl (equi-joins on the aligned dense ids — same guard as
    multi_match); combined df from the distinct (doc, term) union.
    Every aggregate runs over query-term postings, never the corpus;
    avgdl̃ is one scalar aggregate over the docmaps."""
    from functools import reduce as _reduce

    from kafka_es_spark.functions.tokenize import tokenize_py

    fields = sorted(field_indexes)
    searchers = {
        f: Searcher(spark, field_indexes[f][0], cache=False) for f in fields
    }
    n_by_f = {f: searchers[f].n_docs for f in fields}
    if len(set(n_by_f.values())) > 1:
        raise ValueError(
            f"field indexes disagree on corpus size ({n_by_f}); "
            "combined_fields requires indexes built over the same corpus"
        )
    n = next(iter(n_by_f.values()))
    qterms = sorted(set(tokenize_py(query)))
    empty = (
        "doc_id long, url string, score double" if with_url
        else "doc_id long, score double"
    )
    if not qterms or n == 0:
        return local_frame(spark, [], empty)
    per = []
    for f in fields:
        s = searchers[f]
        present = sorted(s.doc_freqs(qterms))
        if not present:
            continue
        boost = float(field_indexes[f][1])
        per.append(
            s._postings_rows(s._query_segs(present)).select(
                "doc_id", "term",
                (F.lit(boost) * F.col("tf")).alias("wtf"),
            )
        )
    if not per:
        return local_frame(spark, [], empty)
    u = _reduce(lambda a, b: a.unionByName(b), per)
    tfc = u.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tfc"))
    dfc = (
        u.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("w", idf_col(F.lit(float(n)), F.col("df")))
    )
    dls = None
    for f in fields:
        boost = float(field_indexes[f][1])
        dm = read_relation(
            spark, os.path.join(field_indexes[f][0], "docmap")
        ).select("doc_id", (F.lit(boost) * F.col("dl")).alias(f"_dl_{f}"))
        dls = dm if dls is None else dls.join(dm, "doc_id")
    dlc = dls.select(
        "doc_id",
        sum((F.col(f"_dl_{f}") for f in fields[1:]),
            F.col(f"_dl_{fields[0]}")).alias("dlc"),
    )
    avgdlc = float(dlc.agg(F.avg("dlc")).collect()[0][0] or 0.0)
    if avgdlc == 0:
        return local_frame(spark, [], empty)
    con = contrib_col(F.col("w"), F.col("tfc"), F.col("dlc"), avgdlc)
    out = (
        tfc.join(F.broadcast(dfc), "term")
        .join(dlc, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(con).alias("score"))
    )
    dead = frozenset().union(
        *(searchers[f].persistent_excluded for f in fields)
    )
    if dead:
        out = out.filter(~F.col("doc_id").isin(sorted(dead)))
    score = (
        F.round(F.col("score"), round_to) if round_to is not None
        else F.col("score")
    )
    if with_url:
        dm0 = read_relation(
            spark, os.path.join(field_indexes[fields[0]][0], "docmap")
        ).select("doc_id", "url")
        out = out.join(dm0, "doc_id")
        cols = ["doc_id", "url", score.alias("score")]
    else:
        cols = ["doc_id", score.alias("score")]
    return (
        out.select(*cols)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def build_suggest_inputs(
    pages: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    n_tokens: int = 3,
) -> DataFrame:
    """Completion-suggester input relation (suggestion, weight, url):
    suggestion = the doc's first ``n_tokens`` analyzed tokens (the
    title-ish prefix ES deployments typically feed the completion field),
    weight = the doc's token count (any per-doc salience works; ES weights
    are caller-chosen longs). Built once at index time, like ES's
    completion field — write it sorted by ``suggestion`` so the prefix
    filter prunes parquet row groups by min/max stats."""
    from kafka_es_spark.functions.tokenize import tokens

    toks = tokens(F.col(text_col))
    return pages.select(
        F.array_join(F.slice(toks, 1, int(n_tokens)), " ").alias("suggestion"),
        F.size(toks).cast("long").alias("weight"),
        F.col(url_col).alias("url"),
    ).filter(F.length("suggestion") > 0)


def completion_suggest(
    suggestions: DataFrame,
    prefix: str,
    size: int = 5,
    fuzziness: int = 0,
    fuzzy_prefix_length: int = 1,
) -> DataFrame:
    """ES completion suggester: suggestions whose text starts with the
    typed ``prefix`` (ES matches the raw input prefix, not analyzed
    tokens), ranked weight desc with skip_duplicates=true (best weight
    per distinct suggestion text), top ``size``. ``fuzziness=d`` also
    admits suggestions whose same-length head is within ``d`` Levenshtein
    edits of the prefix, anchored on ``fuzzy_prefix_length`` exact leading
    chars (Lucene FuzzyCompletionQuery's unicode_aware pre-filter).

    Plan: one pushable predicate over the suggestion relation (a
    startswith prunes row groups when the relation is suggestion-sorted;
    the fuzzy branch adds a head-Levenshtein on the survivors of the
    anchor prefix), a best-weight-per-text aggregation, TakeOrdered. No
    index or corpus access — the relation IS the FST analogue."""
    p = prefix
    if not p:
        raise ValueError("completion_suggest needs a non-empty prefix")
    cond = F.col("suggestion").startswith(p)
    if int(fuzziness) > 0:
        anchor = F.col("suggestion").startswith(p[: int(fuzzy_prefix_length)])
        head = F.substring("suggestion", 1, len(p))
        cond = cond | (
            anchor & (F.levenshtein(head, F.lit(p)) <= int(fuzziness))
        )
    return (
        suggestions.filter(cond)
        .groupBy("suggestion")
        .agg(F.max("weight").cast("long").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(int(size))
    )


def build_edge_ngrams(
    spark: SparkSession,
    index_dir: str,
    min_gram: int = 1,
    max_gram: int = 10,
    n_files: int = 8,
) -> None:
    """Materialize the search_as_you_type relation: every dictionary
    term exploded into its leading edge n-grams of length
    [min_gram, max_gram] — (gram, term) rows under ``edge_ngrams/``,
    gram-sorted within files so a typeahead's gram-equality predicate
    prunes row groups (ES's search_as_you_type field does this
    expansion at index time into the ``._index_prefix`` subfield).

    Size: ≤ max_gram × |dictionary| rows — derived from term_stats
    (already tiny relative to postings), one explode + one shuffle to
    gram order. Re-run after compaction folds new epochs (the
    dictionary is append-mostly; a rebuild is one dictionary pass)."""
    import json

    if not 1 <= int(min_gram) <= int(max_gram):
        raise ValueError("need 1 <= min_gram <= max_gram")
    ts = (
        read_relation(spark, os.path.join(index_dir, "term_stats"))
        .select("term")
        .distinct()
        .filter(F.length("term") >= int(min_gram))
    )
    grams = ts.select(
        F.explode(
            F.expr(
                f"transform(sequence({int(min_gram)}, "
                f"least({int(max_gram)}, length(term))), "
                "i -> substring(term, 1, i))"
            )
        ).alias("gram"),
        "term",
    )
    (
        grams.repartition(int(n_files), "gram")
        .sortWithinPartitions("gram", "term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "edge_ngrams"))
    )
    with open(os.path.join(index_dir, "edge_ngrams_meta.json"), "w") as fh:
        json.dump({"min_gram": int(min_gram), "max_gram": int(max_gram)}, fh)


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
    fetch_k: int | None = None,
    mode: str = "or",
) -> DataFrame:
    """One-shot distributed block-max WAND top-k over an index dataset."""
    return Searcher(spark, index_dir, cache=False).topk(
        query, k=k, round_to=round_to, with_url=with_url, fetch_k=fetch_k,
        mode=mode,
    )

"""Positional index + phrase queries (ES match_phrase analogue).

The reference delegates phrase search to ES, whose postings carry term
positions (Lucene index_options=positions). Here positions live in a
SEPARATE optional relation ``positions/`` beside ``postings/`` — phrase
queries are rarer than term queries, and keeping positions out of the main
segment format keeps the hot posting shuffle at format-2 size; the
positional build is its own job over the tokenized corpus build_index
wrote to ``tokens/`` (the same rows, so the relations agree by
construction).

Row format (one row per (term, doc-range), same doc-range salt as X4/X5):

    term, seg, df_seg, first_docid, last_docid,
    docs_blob  — delta-gap varint doc ids (as postings)
    tfs_blob   — varint per-doc occurrence counts
    pos_blob   — varint per-doc DELTA-encoded token positions,
                 concatenated in doc order (sum(tf) values)
    bucket     — term-hash bucket (same md5 scheme as postings pruning)

Build is the SPIMI two-stage shape, on the postings' own encoder: the
position runs are ``spimi.pack_runs`` with a position stream, merged by
``spimi.merge_units`` — ONE shuffle by (term, seg) and the shared merge
kernel, which also gathers each doc's position slice. The bucket column
and the unit write are ``spimi.write_units``, as for postings. The
position payload makes this exchange carry ~one value per token
occurrence — inherently ~(tokens/postings)× the format-2 posting shuffle,
which is exactly why it is opt-in (Lucene pays the same ratio for
index_options=positions).

Phrase scoring follows Lucene's PhraseQuery shape: weight = Σ slot
idf(term) (member-term document frequencies — no global phrase-df pass
needed), tf = number of EXACT phrase occurrences in the doc (slop=0),
folded through the standard BM25 tf saturation against the doc length.
Per doc range the scorer chains position-set intersections: occurrences
become int64 keys ``doc_id·2^POS_BITS + pos`` (sorted by construction),
and the phrase positions are ``K₁ ∩ (K₀+1)`` chained across slots — one
vectorized np.intersect1d per slot, cost ~ the rarest slot's postings.

Planning a positional query runs no Spark job. The member terms' dfs are
looked up on the driver (``wand.index_doc_freqs``: a pyarrow ``isin``
read of the ``term_stats`` partials, or the pushed-down Spark collect
above ``wand.DOC_FREQS_MAX_ROWS`` rows), tombstones are read with pyarrow
(``deletes.read_tombstone_ids``), and ``positions/``, ``range_dls/`` and
``docmap/`` are opened with their schema taken from a parquet footer
(``build_index.read_relation``), so the only jobs are the query's own.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_es_spark.functions import codecs
from kafka_es_spark.operators import spimi
from kafka_es_spark.operators.bm25 import contrib, contrib_col, idf
from kafka_es_spark.plans.build_index import read_relation
from kafka_es_spark.session import local_frame

POS_BITS = spimi.POS_BITS  # doc length < 2^21 tokens — validated at pack time

POS_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.LongType(), False),
        T.StructField("df_seg", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("last_docid", T.LongType(), False),
        T.StructField("docs_blob", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
        T.StructField("pos_blob", T.BinaryType(), False),
        T.StructField("bucket", T.LongType(), False),
    ]
)


# the unit rows before the bucket column is added
POS_UNIT_SCHEMA = T.StructType(POS_SEGMENT_SCHEMA.fields[:-1])


def build_position_runs(
    docs: DataFrame,
    seg_bits: int = spimi.SEG_BITS,
    pack_docs: int = 50_000,
    terms_col: str = "terms",
) -> DataFrame:
    """Narrow stage: per-flush packed position runs (``spimi.pack_runs``)."""
    return spimi.pack_runs(docs, seg_bits, pack_docs, terms_col, with_positions=True)


def merge_position_runs(runs: DataFrame, n_term_buckets: int = 8) -> DataFrame:
    """The one position-sized shuffle + streaming per-(term, seg) merge
    (``spimi.merge_units``), with the unit's bucket column."""
    return spimi.with_bucket(
        spimi.merge_units(runs, POS_UNIT_SCHEMA), n_term_buckets
    )


def build_position_index(spark: SparkSession, pages: DataFrame, index_dir: str) -> dict:
    """Add the ``positions/`` relation to an EXISTING index dataset: the
    (doc_id, terms) rows build_index wrote to ``tokens/`` (so the doc ids
    are the index's own, not a re-assignment), same seg/bucket scheme as
    stats.json records. ``pages`` is unused — the corpus is read from
    ``tokens/``, and an index without it raises; the parameter stays for
    existing callers. Manifest-committed (``positions`` stage) —
    rebuild-safe and resumable like every other stage. Streaming epochs
    append their own positional unit via
    ``append_epoch(..., with_positions=True)`` (``append_epoch_positions``
    below); an index mixing positioned and position-less units serves
    phrase queries over the positioned units only."""
    import time

    from kafka_es_spark.plans.build_index import load_stats, read_tokens
    from kafka_es_spark.plans.manifest import Manifest

    st = load_stats(index_dir)
    seg_bits = int(st.get("seg_bits", spimi.SEG_BITS))
    n_term_buckets = int(st.get("n_term_buckets") or 8)
    man = Manifest(index_dir)
    t0 = time.time()
    docs = read_tokens(spark, index_dir)
    runs = build_position_runs(docs, seg_bits=seg_bits)
    c = spimi.write_units(
        merge_position_runs(runs, n_term_buckets),
        n_term_buckets,
        os.path.join(index_dir, "positions", "shard=base"),
        segments=F.count(F.lit(1)),
        postings=F.sum("df_seg"),
    )
    counters = {
        "segments": int(c["segments"] or 0),
        "postings": int(c["postings"] or 0),
        "elapsed_sec": time.time() - t0,
    }
    man.commit("positions", counters)
    return counters


def append_epoch_positions(
    docs: DataFrame,
    index_dir: str,
    epoch_name: str,
    seg_bits: int,
    n_term_buckets: int,
) -> None:
    """Write one streaming epoch's positional unit under
    ``positions/shard=<epoch>`` (docs: the epoch's (doc_id, terms) with
    FINAL dense ids — called by append_epoch before its manifest commit,
    so the C1 contract covers positions too: a replayed epoch overwrites
    its own positional files)."""
    spimi.write_units(
        merge_position_runs(build_position_runs(docs, seg_bits=seg_bits), n_term_buckets),
        n_term_buckets,
        os.path.join(index_dir, "positions", f"shard={epoch_name}"),
    )


def decode_position_segment(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row → (doc_ids, tfs, absolute positions concatenated per doc)."""
    n = int(row["df_seg"])
    ids = codecs.delta_decode(
        codecs.varint_decode(bytes(row["docs_blob"]), n)
    ).astype(np.int64)
    tfs = codecs.varint_decode(bytes(row["tfs_blob"]), n).astype(np.int64)
    total = int(tfs.sum())
    posd = codecs.varint_decode(bytes(row["pos_blob"]), total)
    starts = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
    pos = spimi.rebase_cumsum(posd, starts, tfs).astype(np.int64)
    return ids, tfs, pos


def _slot_keys(rows: list[dict]) -> np.ndarray:
    """One phrase slot's occurrences within a doc range as sorted int64
    keys doc_id·2^POS_BITS + pos (rows = the slot term's position-segment
    rows, possibly several units, concatenated in doc order)."""
    rows = sorted(rows, key=lambda r: r["first_docid"])
    parts = []
    for r in rows:
        ids, tfs, pos = decode_position_segment(r)
        parts.append((np.repeat(ids, tfs) << POS_BITS) + pos)
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _chain_slots(
    slot_keys: list[np.ndarray], slop: int
) -> np.ndarray:
    """Ordered sloppy-phrase chain (ES span_near with in_order=true):
    slot i+1 must follow slot i at gap 0..slop, with the gap budget shared
    CUMULATIVELY across the whole chain. Returns the distinct end-position
    keys of qualifying matches.

    DP over remaining budget: state[g] = end keys of prefix matches that
    have spent exactly g of the budget. Each extension shifts by
    (1 + extra) and intersects with the next slot's keys — O(slop²)
    vectorized intersections, fine for the small slops queries use (ES
    slop defaults to 0; >4 is rare). A shifted key that crosses a doc
    boundary (pos near 2^POS_BITS) is masked out before intersecting, so
    wraparound can never fabricate a match in the next doc."""
    state: dict[int, np.ndarray] = {0: slot_keys[0]}
    for ks in slot_keys[1:]:
        nxt: dict[int, np.ndarray] = {}
        for g_new in range(slop + 1):
            parts = []
            for g_old, keys in state.items():
                extra = g_new - g_old
                if extra < 0 or keys.size == 0:
                    continue
                shifted = keys + (1 + extra)
                ok = (shifted >> POS_BITS) == (keys >> POS_BITS)
                hit = np.intersect1d(shifted[ok], ks, assume_unique=True)
                if hit.size:
                    parts.append(hit)
            if parts:
                nxt[g_new] = (
                    parts[0] if len(parts) == 1
                    else np.unique(np.concatenate(parts))
                )
        state = nxt
        if not state:
            return np.empty(0, dtype=np.int64)
    allk = np.concatenate(list(state.values()))
    return np.unique(allk)


def _phrase_topk_slots(
    spark: SparkSession,
    index_dir: str,
    slot_terms: list[list[str]],
    k: int,
    slop: int,
    round_to: int | None,
    with_url: bool,
    fetch_k: int | None,
) -> DataFrame:
    """Shared phrase engine: each slot is a list of admissible terms (one
    for plain phrases; the expansion set for the match_phrase_prefix last
    slot — Lucene MultiPhraseQuery). Weight = Σ idf over every slot term
    (MultiPhraseQuery's Σ-idf), tf = distinct qualifying end positions,
    BM25 saturation vs doc length. Distributed like wand: per-doc-range
    scoring (cogrouped with range dls), global TakeOrdered is exact."""
    from kafka_es_spark.operators.compaction import recover_swap_dirs
    from kafka_es_spark.operators.deletes import read_tombstone_ids
    from kafka_es_spark.operators.wand import (
        TOPK_SCHEMA, _seg_dls, index_doc_freqs,
    )
    from kafka_es_spark.plans.build_index import BUCKET_SCHEME, load_stats

    k = max(k, fetch_k or 0)
    recover_swap_dirs(index_dir)
    # pending delete tombstones apply to phrase results exactly as to
    # term queries (the format-enforced X9 contract)
    excluded = read_tombstone_ids(spark, index_dir) or None
    st = load_stats(index_dir)
    n_docs, avgdl = st["n_docs"], st["avgdl"]
    if not slot_terms or any(not s for s in slot_terms) or n_docs == 0 or avgdl == 0:
        return local_frame(spark, [], TOPK_SCHEMA)
    dfs = index_doc_freqs(spark, index_dir, {t for s in slot_terms for t in s})
    # a single-term slot whose term is absent anywhere ⇒ no match is
    # possible; a multi-term slot only needs one alternative present
    slot_terms = [[t for t in s if t in dfs] for s in slot_terms]
    if any(not s for s in slot_terms):
        return local_frame(spark, [], TOPK_SCHEMA)
    w_total = float(sum(idf(n_docs, dfs[t]) for s in slot_terms for t in s))

    pos_dir = os.path.join(index_dir, "positions")
    if not os.path.isdir(pos_dir):
        raise ValueError(
            f"index at {index_dir} has no positions/ relation — phrase "
            "queries need the positional index; run "
            "positions.build_position_index (batch) or append epochs with "
            "with_positions=True (streaming)"
        )
    live = sorted({t for s in slot_terms for t in s})
    rel = read_relation(spark, pos_dir).filter(F.col("term").isin(live))
    if st.get("bucket_scheme") == BUCKET_SCHEME and st.get("n_term_buckets"):
        from kafka_es_spark.operators.dedup import hash32_py

        bs = sorted({hash32_py(t) % int(st["n_term_buckets"]) for t in live})
        rel = rel.filter(F.col("bucket").isin(bs))
    dls_rel = read_relation(spark, os.path.join(index_dir, "range_dls"))

    def score_range(key: tuple, pdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": pd.Series(dtype=np.int64),
             "score": pd.Series(dtype=np.float64)}
        )
        if len(pdf) == 0:
            return empty
        dl_base, dl_arr = _seg_dls(key, dpdf)
        by_term: dict[str, list[dict]] = {}
        for r in pdf.to_dict("records"):
            by_term.setdefault(r["term"], []).append(r)
        if any(all(t not in by_term for t in s) for s in slot_terms):
            return empty  # some slot has no occurrences in this range
        keys = {t: _slot_keys(by_term[t]) for t in set(by_term) & set(live)}

        def slot_union(s: list[str]) -> np.ndarray:
            parts = [keys[t] for t in s if t in keys]
            if len(parts) == 1:
                return parts[0]
            # a position holds exactly one term, so the union is dup-free
            # but needs a sort for the intersections downstream
            return np.sort(np.concatenate(parts))

        cur = _chain_slots([slot_union(s) for s in slot_terms], slop)
        if cur.size == 0:
            return empty
        docs = cur >> POS_BITS
        uids, tfp = np.unique(docs, return_counts=True)
        if excluded is not None:
            dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
            keep = ~np.isin(uids, dead)
            uids, tfp = uids[keep], tfp[keep]
            if uids.size == 0:
                return empty
        dls = spimi.gather_dls(uids, dl_base, dl_arr)
        score = contrib(tfp, dls, w_total, avgdl)
        sel = np.lexsort((uids, -score))[:k]
        return pd.DataFrame({"doc_id": uids[sel], "score": score[sel]})

    ranged = (
        rel.groupBy("seg")
        .cogroup(dls_rel.groupBy("seg"))
        .applyInPandas(score_range, TOPK_SCHEMA)
    )
    out = ranged.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    if with_url:
        dm = read_relation(spark, os.path.join(index_dir, "docmap")).select(
            "doc_id", "url"
        )
        out = out.join(dm, "doc_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
    return out


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    round_to: int | None = 4,
    with_url: bool = False,
    fetch_k: int | None = None,
) -> DataFrame:
    """Phrase top-k over the positional relation. slop=0 is the exact-
    adjacency ES match_phrase; slop>0 is the ordered sloppy phrase (ES
    span_near with in_order=true): slots must appear in order with at most
    ``slop`` extra token gaps shared across the chain, tf = distinct
    qualifying end positions. Weight = Σ slot idf (Lucene PhraseQuery
    shape — slop-independent, as in Lucene)."""
    from kafka_es_spark.functions.tokenize import tokenize_py

    slots = tokenize_py(phrase)
    return _phrase_topk_slots(
        spark, index_dir, [[t] for t in slots], k, int(slop), round_to,
        with_url, fetch_k,
    )


def phrase_match_ids(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    slop: int = 0,
) -> DataFrame:
    """Distinct doc ids whose text contains ``phrase`` (ordered slots, at
    most ``slop`` shared gaps) — the filter-context phrase primitive that
    query_string's quoted clauses compose on (must = left-semi join,
    ``-"..."`` = left-anti join). Same slot-chain kernel as phrase_topk
    minus scoring: positions relation only, pruned to the phrase terms'
    buckets, per-doc-range chain, no range_dls read. Doc ranges are
    disjoint, so per-range unique ids are globally unique — no distinct
    shuffle needed. Pending tombstones excluded (X9 contract)."""
    from kafka_es_spark.functions.tokenize import tokenize_py
    from kafka_es_spark.operators.compaction import recover_swap_dirs
    from kafka_es_spark.operators.deletes import read_tombstone_ids
    from kafka_es_spark.plans.build_index import BUCKET_SCHEME, load_stats

    slots = tokenize_py(phrase)
    if not slots:
        return local_frame(spark, [], "doc_id long")
    recover_swap_dirs(index_dir)
    excluded = read_tombstone_ids(spark, index_dir) or None
    st = load_stats(index_dir)
    pos_dir = os.path.join(index_dir, "positions")
    if not os.path.isdir(pos_dir):
        raise ValueError(
            f"index at {index_dir} has no positions/ relation — phrase "
            "clauses need the positional index; run "
            "positions.build_position_index (batch) or append epochs with "
            "with_positions=True (streaming)"
        )
    uniq = list(dict.fromkeys(slots))
    rel = read_relation(spark, pos_dir).filter(F.col("term").isin(uniq))
    if st.get("bucket_scheme") == BUCKET_SCHEME and st.get("n_term_buckets"):
        from kafka_es_spark.operators.dedup import hash32_py

        bs = sorted({hash32_py(t) % int(st["n_term_buckets"]) for t in uniq})
        rel = rel.filter(F.col("bucket").isin(bs))
    slop_i = int(slop)

    def match_range(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64)})
        if len(pdf) == 0:
            return empty
        by_term: dict[str, list[dict]] = {}
        for r in pdf.to_dict("records"):
            by_term.setdefault(r["term"], []).append(r)
        if any(t not in by_term for t in uniq):
            return empty
        keys = {t: _slot_keys(by_term[t]) for t in uniq}
        cur = _chain_slots([keys[t] for t in slots], slop_i)
        if cur.size == 0:
            return empty
        uids = np.unique(cur >> POS_BITS)
        if excluded is not None:
            dead = np.fromiter(excluded, dtype=np.int64, count=len(excluded))
            uids = uids[~np.isin(uids, dead)]
        return pd.DataFrame({"doc_id": uids})

    return rel.groupBy("seg").applyInPandas(
        lambda _key, pdf: match_range(pdf), "doc_id long"
    )


def phrase_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
    round_to: int | None = 4,
    with_url: bool = False,
    fetch_k: int | None = None,
) -> DataFrame:
    """ES match_phrase_prefix analogue: the LAST token of ``phrase`` is a
    prefix, expanded against the term dictionary to the first
    ``max_expansions`` terms in alphabetic order (the ES expansion rule),
    and the phrase must match with any expansion term in the last slot
    (Lucene MultiPhraseQuery). Weight = Σ idf over the fixed slots plus
    every expansion term (MultiPhraseQuery's Σ-idf), so scoring stays
    deterministic and oracle-checkable."""
    from kafka_es_spark.functions.tokenize import tokenize_py
    from kafka_es_spark.operators.wand import TOPK_SCHEMA, index_prefix_terms

    slots = tokenize_py(phrase)
    if not slots:
        return local_frame(spark, [], TOPK_SCHEMA)
    expansion = index_prefix_terms(spark, index_dir, slots[-1], max_expansions)
    if not expansion:
        return local_frame(spark, [], TOPK_SCHEMA)
    slot_terms = [[t] for t in slots[:-1]] + [expansion]
    return _phrase_topk_slots(
        spark, index_dir, slot_terms, k, 0, round_to, with_url, fetch_k,
    )


def _window_anchor_topk(
    spark: SparkSession,
    index_dir: str,
    anchor: str,
    probe: str,
    offsets: list[int],
    require: bool,
    idf_terms: list[str],
    k: int,
    round_to: int | None,
    with_url: bool,
    op_name: str,
) -> DataFrame:
    """Shared engine for window-conditioned single-term matching: keep an
    ``anchor``-term occurrence at position p iff a ``probe``-term
    occurrence exists (``require=True``, intervals) / does not exist
    (``require=False``, span_not) at any p+d for d in ``offsets``. tf =
    surviving anchor occurrences; weight = Σ idf over ``idf_terms``
    (index-level dfs — Lucene SpanWeight/IntervalQuery scoring); BM25
    saturation vs doc length.

    Plan: position segments of exactly two terms (term + bucket pruned
    scan), grouped per doc range; inside a range the window test is
    |offsets| vectorized sorted-array memberships over
    (doc<<POS_BITS)+pos keys — shifted keys that cross a doc boundary
    are masked, so a probe hit at the end of one doc can never affect
    the start of the next. One TakeOrdered; tombstones drop as
    everywhere."""
    from kafka_es_spark.operators.compaction import recover_swap_dirs
    from kafka_es_spark.operators.deletes import read_tombstone_ids
    from kafka_es_spark.operators.wand import index_doc_freqs
    from kafka_es_spark.plans.build_index import BUCKET_SCHEME, load_stats

    t, x = anchor, probe
    recover_swap_dirs(index_dir)
    excluded = read_tombstone_ids(spark, index_dir) or None
    st = load_stats(index_dir)
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    empty = (
        "doc_id long, url string, score double" if with_url
        else "doc_id long, score double"
    )
    dfs = index_doc_freqs(spark, index_dir, set(idf_terms) | {t})
    if t not in dfs or n_docs == 0 or avgdl == 0 or (
        require and x not in dfs
    ):
        return local_frame(spark, [], empty)
    w = sum(idf(n_docs, dfs[q]) for q in idf_terms if q in dfs)
    pos_dir = os.path.join(index_dir, "positions")
    if not os.path.isdir(pos_dir):
        raise ValueError(
            f"index at {index_dir} has no positions/ relation — "
            f"{op_name} needs the positional index"
        )
    rel = read_relation(spark, pos_dir).filter(F.col("term").isin([t, x]))
    if st.get("bucket_scheme") == BUCKET_SCHEME and st.get("n_term_buckets"):
        from kafka_es_spark.operators.dedup import hash32_py

        nb = int(st["n_term_buckets"])
        rel = rel.filter(
            F.col("bucket").isin(
                sorted({hash32_py(t) % nb, hash32_py(x) % nb})
            )
        )
    offs = list(offsets)

    def count_surviving(pdf: pd.DataFrame) -> pd.DataFrame:
        empty_p = pd.DataFrame(
            {"doc_id": pd.Series(dtype=np.int64),
             "tf": pd.Series(dtype=np.int64)}
        )
        recs = pdf.to_dict("records")
        anc = _slot_keys([r for r in recs if r["term"] == t])
        if anc.size == 0:
            return empty_p
        prb = _slot_keys([r for r in recs if r["term"] == x])
        hit = np.zeros(anc.size, dtype=bool)
        if prb.size:
            # probe∈{p+d : d ∈ offsets} — one membership test per offset,
            # doc-boundary-masked
            for d in offs:
                shifted = anc + d
                same_doc = (shifted >> POS_BITS) == (anc >> POS_BITS)
                hit |= same_doc & np.isin(shifted, prb, assume_unique=True)
        keep = hit if require else ~hit
        if not keep.any():
            return empty_p
        uids, cnt = np.unique(anc[keep] >> POS_BITS, return_counts=True)
        return pd.DataFrame(
            {"doc_id": uids, "tf": cnt.astype(np.int64)}
        )

    tf_rel = rel.groupBy("seg").applyInPandas(
        lambda _k, pdf: count_surviving(pdf), "doc_id long, tf long"
    )
    dm = read_relation(spark, os.path.join(index_dir, "docmap"))
    out = tf_rel.join(dm.select("doc_id", "url", "dl"), "doc_id")
    if excluded is not None:
        out = out.filter(~F.col("doc_id").isin(sorted(excluded)))
    score = contrib_col(w, F.col("tf"), F.col("dl"), avgdl)
    if round_to is not None:
        score = F.round(score, round_to)
    cols = ["doc_id", "url"] if with_url else ["doc_id"]
    return (
        out.select(*cols, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )


def span_not_topk(
    spark: SparkSession,
    index_dir: str,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES span_not query: occurrences of ``include`` that are NOT within
    ``pre`` tokens after / ``post`` tokens before an occurrence of
    ``exclude`` — i.e. an include match at position p is removed when an
    exclude match sits anywhere in [p - pre, p + post] (pre=post=0 kills
    only exact overlap, impossible for distinct single terms, so callers
    use a window; Lucene SpanNotQuery(pre, post)). Scored as the include
    term's BM25 with tf = surviving occurrences and the term's INDEX-level
    df for idf (Lucene SpanWeight semantics, like span_first above).
    Window engine + plan: ``_window_anchor_topk``."""
    from kafka_es_spark.functions.tokenize import tokenize_py

    ti, tx = tokenize_py(include), tokenize_py(exclude)
    if len(ti) != 1 or len(tx) != 1 or ti == tx:
        raise ValueError(
            "span_not takes two distinct single analyzed terms "
            f"(got include={ti}, exclude={tx})"
        )
    pre_i, post_i = int(pre), int(post)
    if pre_i < 0 or post_i < 0:
        raise ValueError("span_not pre/post must be >= 0")
    return _window_anchor_topk(
        spark, index_dir, ti[0], tx[0],
        offsets=list(range(-pre_i, post_i + 1)), require=False,
        idf_terms=[ti[0]], k=k, round_to=round_to, with_url=with_url,
        op_name="span_not",
    )


def intervals_unordered_topk(
    spark: SparkSession,
    index_dir: str,
    anchor: str,
    other: str,
    max_gaps: int = 0,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES intervals query, ``all_of {ordered: false, max_gaps}`` over two
    terms: a match is an ``anchor`` occurrence with an ``other``
    occurrence within ``max_gaps`` intervening tokens on EITHER side
    (|p_a − p_o| − 1 <= max_gaps). The unordered half of the proximity
    family — ordered span_near/sloppy-phrase is ``phrase_topk(slop=…)``.

    Counting anchors (not pairs) mirrors Lucene's minimal-interval
    semantics closely enough to state exactly: tf = anchor occurrences
    with a qualifying partner — each minimal interval contains at least
    one, and the anchored form is what a SQL oracle can replay (an
    all-pairs count would double-count overlapping intervals). Weight =
    Σ idf of BOTH terms (IntervalQuery scores like a conjunction).
    Window engine + plan: ``_window_anchor_topk``."""
    from kafka_es_spark.functions.tokenize import tokenize_py

    ta, to = tokenize_py(anchor), tokenize_py(other)
    if len(ta) != 1 or len(to) != 1 or ta == to:
        raise ValueError(
            "intervals takes two distinct single analyzed terms "
            f"(got anchor={ta}, other={to})"
        )
    g = int(max_gaps)
    if g < 0:
        raise ValueError("max_gaps must be >= 0")
    offs = [d for d in range(-(g + 1), g + 2) if d != 0]
    return _window_anchor_topk(
        spark, index_dir, ta[0], to[0], offsets=offs, require=True,
        idf_terms=[ta[0], to[0]], k=k, round_to=round_to,
        with_url=with_url, op_name="intervals",
    )


def span_first_topk(
    spark: SparkSession,
    index_dir: str,
    term: str,
    end: int,
    k: int = 10,
    round_to: int | None = 4,
    with_url: bool = False,
) -> DataFrame:
    """ES span_first query (a span_term bounded to the first ``end``
    token positions, 0-based): only occurrences at position < ``end``
    match; scored as the term's BM25 with tf = qualifying occurrences
    (Lucene's sloppy-freq over matching spans — gap-free for a single
    span_term). The representative of the span family beyond span_near
    (which ``phrase_topk(slop=...)`` already serves).

    Plan: the term's position segments only (bucket-pruned scan), one
    vectorized position filter per doc range, dl joined from the docmap
    (the format-2 per-doc source of record), one TakeOrdered. The term's
    df for idf comes from term_stats — index-level stats, unchanged by
    the position window (exactly Lucene: SpanWeight uses the term's
    docFreq)."""
    from kafka_es_spark.functions.tokenize import tokenize_py
    from kafka_es_spark.operators.compaction import recover_swap_dirs
    from kafka_es_spark.operators.deletes import read_tombstone_ids
    from kafka_es_spark.operators.wand import index_doc_freqs
    from kafka_es_spark.plans.build_index import BUCKET_SCHEME, load_stats

    toks = tokenize_py(term)
    if len(toks) != 1:
        raise ValueError("span_first takes exactly one analyzed term")
    t = toks[0]
    recover_swap_dirs(index_dir)
    excluded = read_tombstone_ids(spark, index_dir) or None
    st = load_stats(index_dir)
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    empty = (
        "doc_id long, url string, score double" if with_url
        else "doc_id long, score double"
    )
    dfs = index_doc_freqs(spark, index_dir, [t])
    if t not in dfs or n_docs == 0 or avgdl == 0:
        return local_frame(spark, [], empty)
    w = idf(n_docs, dfs[t])
    pos_dir = os.path.join(index_dir, "positions")
    if not os.path.isdir(pos_dir):
        raise ValueError(
            f"index at {index_dir} has no positions/ relation — span "
            "queries need the positional index"
        )
    rel = read_relation(spark, pos_dir).filter(F.col("term") == t)
    if st.get("bucket_scheme") == BUCKET_SCHEME and st.get("n_term_buckets"):
        from kafka_es_spark.operators.dedup import hash32_py

        rel = rel.filter(
            F.col("bucket") == hash32_py(t) % int(st["n_term_buckets"])
        )
    end_i = int(end)

    def count_window(pdf: pd.DataFrame) -> pd.DataFrame:
        empty_p = pd.DataFrame(
            {"doc_id": pd.Series(dtype=np.int64),
             "tf": pd.Series(dtype=np.int64)}
        )
        if len(pdf) == 0:
            return empty_p
        parts_id, parts_tf = [], []
        for r in pdf.to_dict("records"):
            ids, tfs, pos = decode_position_segment(r)
            keep = pos < end_i
            if not keep.any():
                continue
            did = np.repeat(ids, tfs)[keep]
            uids, cnt = np.unique(did, return_counts=True)
            parts_id.append(uids)
            parts_tf.append(cnt)
        if not parts_id:
            return empty_p
        # a doc's positions may span several unit rows (epochs) within
        # the range — fold to one (doc, tf) row
        allid = np.concatenate(parts_id)
        alltf = np.concatenate(parts_tf)
        uids, inv = np.unique(allid, return_inverse=True)
        sums = np.bincount(inv, weights=alltf).astype(np.int64)
        return pd.DataFrame({"doc_id": uids, "tf": sums})

    tf_rel = rel.groupBy("seg").applyInPandas(
        lambda _k, pdf: count_window(pdf), "doc_id long, tf long"
    )
    dm = read_relation(spark, os.path.join(index_dir, "docmap"))
    out = tf_rel.join(dm.select("doc_id", "url", "dl"), "doc_id")
    if excluded is not None:
        out = out.filter(~F.col("doc_id").isin(sorted(excluded)))
    score = contrib_col(w, F.col("tf"), F.col("dl"), avgdl)
    if round_to is not None:
        score = F.round(score, round_to)
    cols = ["doc_id", "url"] if with_url else ["doc_id"]
    return (
        out.select(*cols, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k))
    )

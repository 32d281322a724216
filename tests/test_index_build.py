"""Index build + WAND rank-identity + resume (SURVEY.md §5 items 3-5)."""

import glob
import os
import shutil

import numpy as np
import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators.docids import assign_doc_ids
from kafka_es_spark.operators.spimi import decode_segment
from kafka_es_spark.operators.wand import wand_topk
from kafka_es_spark.plans.build_index import build_index, prepare_docs
from kafka_es_spark.plans.manifest import Manifest

from bm25_oracle import exhaustive_topk_numpy

SEG_BITS = 6  # 64-doc ranges → several ranges at 400 docs


@pytest.fixture(scope="module")
def index_dir(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    return d


@pytest.fixture(scope="module")
def doc_terms(spark, pages):
    return (
        prepare_docs(pages)
        .select("doc_id", "terms")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_doc_ids_dense_and_parallelism_invariant(spark, pages):
    a = assign_doc_ids(pages).select("url", "doc_id")
    n = pages.count()
    ids = sorted(r["doc_id"] for r in a.collect())
    assert ids == list(range(n))
    b = assign_doc_ids(pages.repartition(13)).select("url", "doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_segments_roundtrip_equals_dataframe_tf(spark, pages, index_dir):
    """Decoded postings == the Step-1 uncompressed posting relation; per-doc
    dl round-trips through the range dl arrays (format 2)."""
    from kafka_es_spark.operators.spimi import decode_range_dls

    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in (
            prepare_docs(pages)
            .select("doc_id", "dl", F.explode("terms").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").alias("tf"))
            .collect()
        )
    }
    dl_rows = spark.read.parquet(os.path.join(index_dir, "range_dls")).collect()
    by_seg: dict[int, list] = {}
    for r in dl_rows:
        by_seg.setdefault(r["seg"], []).append(r.asDict())
    dl_of = {}
    for seg, rows in by_seg.items():
        base, arr = decode_range_dls(rows)
        for i, d in enumerate(arr):
            dl_of[base + i] = int(d)
    got = {}
    segs = spark.read.parquet(os.path.join(index_dir, "postings")).collect()
    for row in segs:
        ids, tfs = decode_segment(row.asDict())
        assert np.all(np.diff(ids) > 0), "doc ids strictly increasing"
        for i, t in zip(ids, tfs):
            got[(row["term"], int(i))] = (int(t), dl_of[int(i)])
    assert got == want


def test_manifest_counters(index_dir, spark, pages):
    man = Manifest(index_dir)
    names = {e["name"] for e in man.entries()}
    assert {"docmap", "range_dls", "shard-00000", "term_stats"} <= names
    sh = man.read("shard-00000")
    assert sh["postings"] > 0 and sh["bytes"] > 0 and sh["terms"] > 0
    assert man.read("docmap")["docs"] == pages.count()


QUERIES = [
    "data index search",        # common en terms
    "the",                      # zipf head term
    "der daten index",          # cross-language
    "пошук індекс",             # uk
    "notintheindex data",       # partial miss
    "zzz qqq",                  # full miss
    "bulk kafka sink route retry flush offset commit",  # many terms
]


@pytest.mark.parametrize("q", QUERIES)
def test_wand_rank_identical_to_exhaustive(spark, index_dir, doc_terms, q):
    from kafka_es_spark.functions.tokenize import tokens as tok

    qterms = (
        spark.range(1).select(F.explode(tok(F.lit(q))).alias("t")).toPandas()["t"].tolist()
    )
    want = exhaustive_topk_numpy(doc_terms, qterms, k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(spark, index_dir, q, k=10, round_to=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], f"doc ids differ for {q!r}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10), f"score {gd} {q!r}"


@pytest.mark.parametrize("q", ["data index search", "the data", "zzz data"])
def test_and_mode_rank_identical_to_exhaustive_intersection(
    spark, index_dir, doc_terms, q
):
    """Conjunctive (bool.must) semantics: results = docs containing EVERY
    query term, scored identically to OR-mode (same contributions, same
    accumulation order), ranked (score desc, doc_id asc)."""
    qterms = sorted(set(q.split()))
    # exhaustive: score over the full corpus (stats unchanged), then keep
    # only docs where every query term occurs
    full = exhaustive_topk_numpy(doc_terms, qterms, k=len(doc_terms))
    has_all = set(doc_terms["doc_id"])
    for t in qterms:
        has_all &= {
            d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
            if t in set(ts)
        }
    want = [(d, s) for d, s in full if d in has_all][:10]
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(spark, index_dir, q, k=10, round_to=None, mode="and").collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], f"doc ids differ for {q!r}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10), f"score {gd} {q!r}"


def test_msm_mode_rank_identical_to_exhaustive_counting(
    spark, index_dir, doc_terms
):
    """minimum_should_match=2 of 3 terms: results = docs matching >= 2
    distinct query terms, scored like OR-mode."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    full = exhaustive_topk_numpy(doc_terms, qterms, k=len(doc_terms))
    n_match = {}
    for t in qterms:
        for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"]):
            if t in set(ts):
                n_match[d] = n_match.get(d, 0) + 1
    want = [(d, s) for d, s in full if n_match.get(d, 0) >= 2][:10]
    s = Searcher(spark, index_dir, cache=False)
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, min_should_match=2).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10)
    # m=1 ≡ plain OR
    got1 = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, min_should_match=1).collect()
    ]
    plain = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None).collect()
    ]
    assert got1 == plain
    # invalid combinations refuse
    with pytest.raises(ValueError, match="min_should_match"):
        s.topk(q, min_should_match=2, mode="and").collect()


def test_prefix_topk_expansion_and_scoring(spark, index_dir, doc_terms):
    """Prefix expansion = first max_expansions index terms alphabetically;
    scoring = plain OR over the expansion (equals topk on the same set).
    A prefix with no matching terms returns empty."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    expansion = [t for t in vocab if t.startswith("da")][:5]
    assert expansion, "corpus should contain da* terms"
    got = [
        (r["doc_id"], r["score"])
        for r in s.prefix_topk("da", k=10, max_expansions=5, round_to=None).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in s.topk(" ".join(expansion), k=10, round_to=None).collect()
    ]
    assert got == want
    assert s.prefix_topk("zzzzqq", k=10).collect() == []


def test_topk_many_and_mode(spark, index_dir, doc_terms):
    """Batch API conjunctive parity: topk_many(mode='and') per query equals
    the single-query AND path."""
    from kafka_es_spark.operators.wand import Searcher

    qs = ["data index search", "the data"]
    s = Searcher(spark, index_dir, cache=False)
    batch = {}
    for r in s.topk_many(qs, k=10, round_to=None, mode="and").collect():
        batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for i, q in enumerate(qs):
        single = [
            (r["doc_id"], r["score"])
            for r in s.topk(q, k=10, round_to=None, mode="and").collect()
        ]
        assert batch.get(i, []) == single, q


def test_and_mode_empty_when_term_absent_from_index(spark, index_dir):
    got = wand_topk(
        spark, index_dir, "data qqqqzz", k=10, round_to=None, mode="and"
    ).collect()
    assert got == []


def test_must_not_excludes_matching_docs(spark, index_dir, doc_terms):
    """bool.must_not: docs containing any negated term vanish from the
    result; survivors keep their unmodified OR-mode scores (must_not runs
    in filter context — no score contribution, stats unchanged)."""
    from kafka_es_spark.operators.wand import Searcher

    q, neg = "data index search", "merge sort"
    qterms = sorted(set(q.split()))
    neg_terms = set(neg.split())
    full = exhaustive_topk_numpy(doc_terms, qterms, k=len(doc_terms))
    banned = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if neg_terms & set(ts)
    }
    want = [(d, s) for d, s in full if d not in banned][:10]
    assert want and len(banned) > 0, "probe must actually exclude docs"
    s = Searcher(spark, index_dir, cache=False)
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, must_not=neg).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10)
    # a negated term absent from the index is a no-op
    got2 = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, must_not="qqqzz").collect()
    ]
    plain = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None).collect()
    ]
    assert got2 == plain
    # pure negation is rejected (ES would need match_all + must_not)
    with pytest.raises(ValueError, match="pure-negation"):
        s.topk("", must_not=neg).collect()
    # composes with AND mode: conjunctive hits minus banned docs
    got_and = [
        r["doc_id"]
        for r in s.topk(q, k=10, round_to=None, mode="and", must_not=neg).collect()
    ]
    assert not (set(got_and) & banned)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_topk_expansion_and_scoring(spark, index_dir, doc_terms):
    """Fuzzy expansion = index terms within max_edits Levenshtein distance,
    ordered (distance, term), capped; scoring = plain OR over the expansion
    (equals topk on the same set). prefix_length anchors the scan."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    probe, max_edits = "dat", 1  # data(1); maybe others at distance 1
    cand = sorted(
        ((t, _lev(t, probe)) for t in vocab if _lev(t, probe) <= max_edits),
        key=lambda e: (e[1], e[0]),
    )
    expansion = [t for t, _ in cand[:50]]
    assert expansion, "probe must expand to at least one index term"
    got = [
        (r["doc_id"], r["score"])
        for r in s.fuzzy_topk(
            probe, k=10, max_edits=max_edits, prefix_length=1, round_to=None
        ).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in s.topk(" ".join(expansion), k=10, round_to=None).collect()
    ]
    assert got == want
    # no term within distance → empty
    assert s.fuzzy_topk("qqqqqqzz", k=10, max_edits=1).collect() == []


def test_match_count_and_facet_terms(spark, index_dir, pages, doc_terms):
    """ES _count + terms-aggregation analogues: hit sets from posting-list
    algebra (union / intersection / >=m / minus must_not), buckets joined
    back through the docmap; counts and bucket ordering match a pandas
    recomputation from the raw corpus."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    sets = {
        t: {
            d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
            if t in set(ts)
        }
        for t in qterms
    }
    or_hits = set().union(*sets.values())
    and_hits = set.intersection(*sets.values())
    msm2_hits = {d for d in or_hits if sum(d in s_ for s_ in sets.values()) >= 2}
    banned = sets["data"]

    s = Searcher(spark, index_dir, cache=False)
    assert s.match_count(q).collect()[0]["n_hits"] == len(or_hits)
    assert s.match_count(q, mode="and").collect()[0]["n_hits"] == len(and_hits)
    assert (
        s.match_count(q, min_should_match=2).collect()[0]["n_hits"]
        == len(msm2_hits)
    )
    assert (
        s.match_count(q, must_not="data").collect()[0]["n_hits"]
        == len(or_hits - banned)
    )
    got_ids = {r["doc_id"] for r in s.matching_doc_ids(q, mode="and").collect()}
    assert got_ids == and_hits

    # facet by lang over the OR hit set
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    lang_of = {
        r["doc_id"]: r["lang"]
        for r in dm.join(pages.select("url", "lang"), "url").collect()
    }
    counts: dict[str, int] = {}
    for d in or_hits:
        counts[lang_of[d]] = counts.get(lang_of[d], 0) + 1
    want = sorted(counts.items(), key=lambda e: (-e[1], e[0]))[:3]
    got = [
        (r["lang"], r["doc_count"])
        for r in s.facet_terms(q, pages.select("url", "lang"), "lang", size=3).collect()
    ]
    assert got == want


def test_wildcard_topk_expansion_and_scoring(spark, index_dir, doc_terms):
    """Wildcard expansion = dictionary terms matching the * / ? pattern
    (SQL LIKE semantics), alphabetic cap; scoring = plain OR over the
    expansion."""
    import fnmatch

    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    pattern = "d*a"  # data, ...
    expansion = [t for t in vocab if fnmatch.fnmatchcase(t, pattern)][:50]
    assert expansion, "probe must match at least one index term"
    got = [
        (r["doc_id"], r["score"])
        for r in s.wildcard_topk(pattern, k=10, round_to=None).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in s.topk(" ".join(expansion), k=10, round_to=None).collect()
    ]
    assert got == want
    assert s.wildcard_topk("zzz*qq?", k=10).collect() == []


def test_boost_scales_term_weight(spark, index_dir, doc_terms):
    """term^boost multiplies the term's idf weight: scores equal the sum
    of per-term single-query scores scaled by each term's boost."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    boosts = {"index": 3.0}
    single = {
        t: dict(
            (r["doc_id"], r["score"])
            for r in s.topk(t, k=10**6, round_to=None).collect()
        )
        for t in q.split()
    }
    want_scores: dict[int, float] = {}
    for t in sorted(q.split()):
        for d, sc in single[t].items():
            want_scores[d] = want_scores.get(d, 0.0) + boosts.get(t, 1.0) * sc
    want = sorted(want_scores.items(), key=lambda e: (-e[1], e[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, boosts=boosts).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)
    # boost=1.0 for every term is a no-op
    plain = s.topk(q, k=10, round_to=None).collect()
    noop = s.topk(q, k=10, round_to=None, boosts={"data": 1.0}).collect()
    assert plain == noop


def test_range_filtered_topk_keeps_global_stats(spark, index_dir, pages, doc_terms):
    """bool filter+range: results = query hits with the field in [lo,hi],
    scored with GLOBAL stats (identical to unfiltered scores on the same
    docs — ES filter context never touches idf/avgdl)."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    fv = pages.select("url", F.length("text").cast("long").alias("nbytes"))
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    val_of = {r["doc_id"]: r["nbytes"] for r in dm.join(fv, "url").collect()}
    lo, hi = 200, 600
    full = exhaustive_topk_numpy(doc_terms, sorted(set(q.split())), k=len(doc_terms))
    want = [(d, sc) for d, sc in full if lo <= val_of[d] <= hi][:10]
    assert want, "filter window must keep some hits"
    got = [
        (r["doc_id"], r["score"])
        for r in s.range_filtered_topk(
            q, fv, "nbytes", lo, hi, k=10, round_to=None
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)
    # empty window -> empty result
    assert s.range_filtered_topk(q, fv, "nbytes", -5, -1, k=10).collect() == []


def test_significant_terms_jlh(spark, index_dir, pages, doc_terms):
    """significant_terms: fg counts = per-term distinct doc counts within
    the hit set, bg from the index stats, JLH score, (score desc, term)
    order."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    qset = set(q.split())
    hit_ids = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if qset & set(ts)
    }
    n_fg, n_bg = len(hit_ids), len(doc_terms)
    fg: dict[str, int] = {}
    bg: dict[str, int] = {}
    for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"]):
        for t in set(ts):
            bg[t] = bg.get(t, 0) + 1
            if d in hit_ids:
                fg[t] = fg.get(t, 0) + 1
    rows = []
    for t, c in fg.items():
        if c < 3:
            continue
        fgp, bgp = c / float(n_fg), bg[t] / float(n_bg)
        rows.append((t, c, bg[t], round((fgp - bgp) * (fgp / bgp), 4)))
    want = sorted(rows, key=lambda e: (-e[3], e[0]))[:5]
    got = [
        (r["term"], r["fg_count"], r["bg_count"], r["sig_score"])
        for r in s.significant_terms(
            q, pages.select("url", F.col("text")), size=5
        ).collect()
    ]
    assert got == want


def test_highlight_snippet_contains_match(spark, index_dir, pages):
    """highlight: every snippet is 2*window chars (or text-bounded) and
    contains a query term; rank order equals the plain top-k."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    got = s.highlight_topk(
        q, pages.select("url", "text"), k=5, window=30, round_to=None
    ).collect()
    plain = s.topk(q, k=5, round_to=None).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in plain]
    for r in got:
        assert len(r["snippet"]) <= 60
        assert any(t in r["snippet"].lower() for t in q.split())


def test_search_after_pagination_walk(spark, index_dir, doc_terms):
    """search_after: walking pages with the last row as cursor reproduces
    the full (rounded score desc, doc_id asc) ranking exactly — no dups,
    no gaps — and composes with must_not."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    full = [
        (r["doc_id"], r["score"])
        for r in s.search_after_topk(q, k=10**6).collect()
    ]
    assert len(full) > 20, "probe must match enough docs to paginate"
    walked, after = [], None
    while True:
        p = [
            (r["doc_id"], r["score"])
            for r in s.search_after_topk(q, k=7, after=after).collect()
        ]
        if not p:
            break
        walked.extend(p)
        after = p[-1][1], p[-1][0]
    assert walked == full
    # ranking is by the ROUNDED score (ties broken by doc_id asc)
    rs = [s_ for _, s_ in walked]
    assert rs == sorted(rs, reverse=True)
    for (d1, s1), (d2, s2) in zip(walked, walked[1:]):
        assert s1 > s2 or (s1 == s2 and d1 < d2)
    # must_not composes: banned docs never appear on any page
    banned = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if "merge" in set(ts)
    }
    p = s.search_after_topk(q, k=10**6, must_not="merge").collect()
    assert not ({r["doc_id"] for r in p} & banned)


def test_agg_histogram_and_stats(spark, index_dir, pages, doc_terms):
    """ES histogram/stats aggregation analogues over the hit set: bucket
    counts and min/max/sum/avg match a pandas recomputation."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    # per-doc numeric field: token count, via the pages text length proxy
    fv = pages.select(
        "url", F.length("text").cast("long").alias("nbytes")
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    val_of = {
        r["doc_id"]: r["nbytes"]
        for r in dm.join(fv, "url").collect()
    }
    vals = [val_of[d] for d in or_hits]
    interval = 100
    want_hist: dict[int, int] = {}
    for v in vals:
        b = (v // interval) * interval
        want_hist[b] = want_hist.get(b, 0) + 1

    s = Searcher(spark, index_dir, cache=False)
    got_hist = [
        (r["bucket"], r["doc_count"])
        for r in s.agg_histogram(q, fv, "nbytes", interval).collect()
    ]
    assert got_hist == sorted(want_hist.items())

    row = s.agg_stats(q, fv, "nbytes").collect()[0]
    assert row["n_docs_agg"] == len(vals)
    assert row["min_v"] == min(vals) and row["max_v"] == max(vals)
    assert row["sum_v"] == sum(vals)
    assert row["avg_v"] == pytest.approx(
        round(sum(vals) / len(vals), 4), abs=1e-9
    )


def test_agg_percentiles_ranges_filters_function_score(
    spark, index_dir, pages, doc_terms
):
    """ES percentiles / range / filters aggregations and function_score
    (field_value_factor) vs numpy/pandas recomputations over the hit set."""
    import math

    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    fv = pages.select(
        "url", F.length("text").cast("long").alias("nbytes")
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    val_of = {r["doc_id"]: r["nbytes"] for r in dm.join(fv, "url").collect()}
    vals = np.array(sorted(val_of[d] for d in or_hits), dtype=float)

    s = Searcher(spark, index_dir, cache=False)

    # percentiles: exact linear interpolation == numpy default
    pcts = [0.25, 0.5, 0.9]
    got = {
        r["pct"]: r["value"]
        for r in s.agg_percentiles(q, fv, "nbytes", pcts, round_to=None).collect()
    }
    for p in pcts:
        assert got[p] == pytest.approx(np.quantile(vals, p), abs=1e-9)

    # range agg: from-inclusive / to-exclusive, empty bucket kept
    lo, hi = float(np.median(vals)), float(vals.max() + 1)
    ranges = [(None, lo), (lo, hi), (hi, None)]
    got_r = {
        r["range_key"]: r["doc_count"]
        for r in s.agg_ranges(q, fv, "nbytes", ranges).collect()
    }
    assert got_r[f"*-{lo:g}"] == int((vals < lo).sum())
    assert got_r[f"{lo:g}-{hi:g}"] == int(((vals >= lo) & (vals < hi)).sum())
    assert got_r[f"{hi:g}-*"] == 0  # empty bucket present

    # filters agg: independent, overlapping predicate buckets
    med = int(np.median(vals))
    got_f = {
        r["filter_key"]: r["doc_count"]
        for r in s.agg_filters(
            q, fv, {"short": f"nbytes < {med}", "all": "nbytes >= 0"}
        ).collect()
    }
    assert got_f["short"] == int((vals < med).sum())
    assert got_f["all"] == len(vals)

    # function_score: BM25 * ln(1 + factor * field), top-10 rank + score
    factor = 0.05
    scores = dict(exhaustive_topk_numpy(doc_terms, qterms, k=10**6))
    want = sorted(
        (
            (d, sc * math.log(1.0 + factor * val_of[d]))
            for d, sc in scores.items()
        ),
        key=lambda e: (-e[1], e[0]),
    )[:10]
    got_fs = [
        (r["doc_id"], r["score"])
        for r in s.function_score_topk(
            q, fv, "nbytes", k=10, factor=factor, modifier="ln1p",
            boost_mode="multiply", round_to=None,
        ).collect()
    ]
    assert [g[0] for g in got_fs] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got_fs, want):
        assert gs == pytest.approx(ws, abs=1e-10)


def test_terms_metric_agg_and_index_stats(spark, index_dir, pages, doc_terms):
    """Terms buckets with metric sub-aggs vs pandas; index _stats vs a
    corpus recomputation (the integrity probe)."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    fv = pages.select(
        "url",
        (F.length("text") % 3).cast("string").alias("grp"),
        F.length("text").cast("long").alias("nbytes"),
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    info = {
        r["doc_id"]: (r["grp"], r["nbytes"])
        for r in dm.join(fv, "url").collect()
    }
    by_grp: dict[str, list[int]] = {}
    for d in or_hits:
        g, v = info[d]
        by_grp.setdefault(g, []).append(v)
    want = {
        g: (len(vs), round(sum(vs) / len(vs), 4), sum(vs), min(vs), max(vs))
        for g, vs in by_grp.items()
    }
    s = Searcher(spark, index_dir, cache=False)
    got = {
        r["grp"]: (r["doc_count"], r["avg_v"], r["sum_v"], r["min_v"], r["max_v"])
        for r in s.terms_metric_agg(q, fv, "grp", "nbytes", size=10).collect()
    }
    assert got == want

    row = s.index_stats().collect()[0]
    n_postings = sum(len(set(ts)) for ts in doc_terms["terms"])
    sum_tf = int(sum(len(ts) for ts in doc_terms["terms"]))
    assert row["n_docs"] == len(doc_terms)
    assert row["n_deleted"] == 0
    assert row["n_terms"] == len({t for ts in doc_terms["terms"] for t in ts})
    assert row["n_postings"] == n_postings
    assert row["sum_tf"] == sum_tf
    assert row["avgdl"] == pytest.approx(
        round(sum_tf / len(doc_terms), 4), abs=1e-9
    )


def test_agg_composite_and_rescore(spark, index_dir, pages, doc_terms):
    """ES composite aggregation (after-key pagination walks every bucket
    exactly once) and rescore (windowed score blend) vs brute
    recomputations."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    # bucket key: text length mod a few buckets, as two string-ish sources
    fv = pages.select(
        "url",
        (F.length("text") % 3).cast("string").alias("ka"),
        (F.length("text") % 5).cast("long").alias("kb"),
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    key_of = {
        r["doc_id"]: (r["ka"], r["kb"])
        for r in dm.join(fv, "url").collect()
    }
    want: dict[tuple, int] = {}
    for d in or_hits:
        want[key_of[d]] = want.get(key_of[d], 0) + 1
    all_keys = sorted(want)

    s = Searcher(spark, index_dir, cache=False)
    # walk pages of 4 via after-cursors; union must equal the full space
    seen = []
    after = None
    while True:
        page = s.agg_composite(
            q, fv, ["ka", "kb"], size=4, after=after
        ).collect()
        if not page:
            break
        seen.extend(((r["ka"], r["kb"]), r["doc_count"]) for r in page)
        after = (page[-1]["ka"], page[-1]["kb"])
    assert [k for k, _ in seen] == all_keys  # every bucket once, in order
    assert dict(seen) == want

    # rescore: window by rounded base score, blend base + 2*secondary
    base = dict(exhaustive_topk_numpy(doc_terms, ["data"], k=10**6))
    sec = dict(exhaustive_topk_numpy(doc_terms, ["index", "search"], k=10**6))
    window = sorted(
        base.items(), key=lambda e: (-round(e[1], 4), e[0])
    )[:20]
    blended = sorted(
        ((d, b + 2.0 * sec.get(d, 0.0)) for d, b in window),
        key=lambda e: (-e[1], e[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in s.rescore_topk(
            "data", "index search", k=10, window=20,
            rescore_weight=2.0, round_to=None,
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in blended]
    for (gd, gs), (wd, ws) in zip(got, blended):
        assert gs == pytest.approx(ws, abs=1e-10)
    with pytest.raises(ValueError, match="must be <="):
        s.rescore_topk("data", "index", k=30, window=20)


def test_sort_topk_and_cardinality(spark, index_dir, pages, doc_terms):
    """ES sort-by-field (doc-values sort, no scoring) and cardinality
    aggregation over the hit set match a pandas recomputation; the
    approximate cardinality path (the scale default) is within its rsd
    on this tiny cardinality."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    fv = pages.select(
        "url", F.length("text").cast("long").alias("nbytes")
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    val_of = {
        r["doc_id"]: r["nbytes"] for r in dm.join(fv, "url").collect()
    }
    s = Searcher(spark, index_dir, cache=False)
    k = 5
    got = [
        (r["doc_id"], r["nbytes"])
        for r in s.sort_topk(q, fv, "nbytes", k=k).collect()
    ]
    want = sorted(
        ((d, val_of[d]) for d in or_hits), key=lambda t: (-t[1], t[0])
    )[:k]
    assert got == want
    # ascending flips the order from the same hit set
    got_asc = [
        (r["doc_id"], r["nbytes"])
        for r in s.sort_topk(q, fv, "nbytes", k=k, ascending=True).collect()
    ]
    assert got_asc == sorted(
        ((d, val_of[d]) for d in or_hits), key=lambda t: (t[1], t[0])
    )[:k]

    n_exact = len({val_of[d] for d in or_hits})
    row = s.agg_cardinality(q, fv, "nbytes", exact=True).collect()[0]
    assert row["value_count"] == n_exact
    approx = s.agg_cardinality(q, fv, "nbytes").collect()[0]["value_count"]
    assert abs(approx - n_exact) <= max(2, int(0.1 * n_exact))


def test_top_hits_per_bucket(spark, index_dir, pages, doc_terms):
    """ES terms+top_hits: per-bucket best-scoring hits match an
    exhaustive per-doc BM25 recomputation grouped by the bucket key,
    and bucket selection follows doc_count desc then value asc."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    from kafka_es_spark.operators.wand import round_half_up

    scores = {
        d: float(round_half_up(np.array([s]), 4)[0])
        for d, s in exhaustive_topk_numpy(doc_terms, qterms, k=10**6)
    }
    fv = pages.select("url", "lang")
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    lang_of = {r["doc_id"]: r["lang"] for r in dm.join(fv, "url").collect()}
    buckets: dict[str, list[int]] = {}
    for d in scores:
        buckets.setdefault(lang_of[d], []).append(d)
    n_b, per_b = 2, 2
    top_b = sorted(
        buckets.items(), key=lambda kv: (-len(kv[1]), kv[0])
    )[:n_b]
    want = []
    for lang, ds in top_b:
        ranked = sorted(ds, key=lambda d: (-scores[d], d))[:per_b]
        want += [
            (lang, len(ds), i + 1, d, scores[d])
            for i, d in enumerate(ranked)
        ]
    s = Searcher(spark, index_dir, cache=False)
    got = [
        (r["lang"], r["doc_count"], r["rnk"], None, r["score"])
        for r in s.top_hits(q, fv, "lang", buckets=n_b, per_bucket=per_b).collect()
    ]
    # urls map 1:1 to doc ids through the docmap; compare on the
    # (bucket, count, rank, score) shape plus the score multiset
    assert [(g[0], g[1], g[2], g[4]) for g in got] == [
        (w[0], w[1], w[2], w[4]) for w in want
    ]


def test_explain_breakdown_sums_to_score(spark, index_dir, pages, doc_terms):
    """ES _explain analogue: per-term contribs for named docs cover
    exactly the query terms the doc contains, and sum to the doc's
    exhaustive BM25 score."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = sorted(set(q.split()))
    scores = dict(exhaustive_topk_numpy(doc_terms, qterms, k=10**6))
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    url_of = {r["doc_id"]: r["url"] for r in dm.collect()}
    terms_of = {
        d: set(ts) for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
    }
    picked = sorted(scores)[:3]
    s = Searcher(spark, index_dir, cache=False)
    rows = s.explain(q, [url_of[d] for d in picked], round_to=None).collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["url"], []).append(r)
    assert set(by_doc) == {url_of[d] for d in picked}
    for d in picked:
        got = by_doc[url_of[d]]
        assert {r["term"] for r in got} == terms_of[d] & set(qterms)
        # sum in sorted-term order — the engine's accumulation order
        total = sum(r["contrib"] for r in sorted(got, key=lambda r: r["term"]))
        assert total == pytest.approx(scores[d], rel=1e-12)


def test_more_like_this_matches_bruteforce(spark, index_dir, pages, doc_terms):
    """MLT: interesting-term selection (tf·idf, term-asc ties, min_df)
    matches a pandas recomputation and the result ranking equals the
    exhaustive scorer over the selected terms with the source excluded."""
    from kafka_es_spark.operators.wand import Searcher, idf as idf_fn

    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    url_of = {r["doc_id"]: r["url"] for r in dm.collect()}
    src = int(doc_terms["doc_id"].iloc[5])
    n = len(doc_terms)
    dfs: dict[str, int] = {}
    for ts in doc_terms["terms"]:
        for t in set(ts):
            dfs[t] = dfs.get(t, 0) + 1
    src_terms = list(doc_terms["terms"].iloc[5])
    tfs: dict[str, int] = {}
    for t in src_terms:
        tfs[t] = tfs.get(t, 0) + 1
    min_df, m_terms, k = 2, 5, 8
    cand = [
        (t, tf) for t, tf in tfs.items() if dfs[t] >= min_df
    ]
    want_terms = [
        t for t, _ in sorted(
            cand, key=lambda e: (-(e[1] * idf_fn(n, dfs[e[0]])), e[0])
        )[:m_terms]
    ]
    want = [
        (d, s) for d, s in exhaustive_topk_numpy(doc_terms, want_terms, k=k + 1)
        if d != src
    ][:k]
    s = Searcher(spark, index_dir, cache=False)
    dt = pages.select("url", "text")
    got = [
        (r["doc_id"], r["score"])
        for r in s.more_like_this(
            url_of[src], dt, k=k, max_query_terms=m_terms,
            min_doc_freq=min_df, round_to=None,
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert got == pytest.approx(want, rel=1e-9)
    assert src not in {g[0] for g in got}


def test_multi_match_most_and_best_fields(spark, index_dir, pages, tmp_path, doc_terms):
    """multi_match over [body, title^2]: most_fields = boosted per-field
    sum, best_fields = dis_max with tie_breaker, both vs a numpy
    recomputation over per-field exhaustive scores."""
    import pandas as pd

    from kafka_es_spark.functions.tokenize import tokens as tok
    from kafka_es_spark.operators.wand import multi_match_topk

    n_title = 6
    title_pages = pages.withColumn(
        "text", F.array_join(F.slice(tok("text"), 1, n_title), " ")
    )
    tdir = str(tmp_path / "idxtitle")
    build_index(spark, title_pages, tdir, seg_bits=SEG_BITS, n_term_buckets=8)

    q = "data index search"
    qterms = sorted(set(q.split()))
    title_terms = pd.DataFrame(
        {
            "doc_id": doc_terms["doc_id"],
            "terms": doc_terms["terms"].map(lambda ts: ts[:n_title]),
        }
    )
    body = dict(exhaustive_topk_numpy(doc_terms, qterms, k=10**6))
    title = dict(exhaustive_topk_numpy(title_terms, qterms, k=10**6))
    boost = 2.0
    cand = set(body) | set(title)
    most = sorted(
        (
            (d, body.get(d, 0.0) + boost * title.get(d, 0.0))
            for d in cand
        ),
        key=lambda e: (-e[1], e[0]),
    )[:10]
    fields = {"body": (index_dir, 1.0), "title": (tdir, boost)}
    got = [
        (r["doc_id"], r["score"])
        for r in multi_match_topk(
            spark, fields, q, k=10, match_type="most_fields", round_to=None
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in most]
    for (gd, gs), (wd, ws) in zip(got, most):
        assert gs == pytest.approx(ws, abs=1e-10)

    tie = 0.25
    best = sorted(
        (
            (
                d,
                max(cb, ct) + tie * ((cb + ct) - max(cb, ct)),
            )
            for d in cand
            for cb, ct in [(body.get(d, 0.0), boost * title.get(d, 0.0))]
        ),
        key=lambda e: (-e[1], e[0]),
    )[:10]
    got_b = [
        (r["doc_id"], r["score"])
        for r in multi_match_topk(
            spark, fields, q, k=10, match_type="best_fields",
            tie_breaker=tie, round_to=None,
        ).collect()
    ]
    assert [g[0] for g in got_b] == [w[0] for w in best]
    for (gd, gs), (wd, ws) in zip(got_b, best):
        assert gs == pytest.approx(ws, abs=1e-10)
    # mismatched corpora refuse
    with pytest.raises(ValueError, match="corpus size"):
        half = str(tmp_path / "idxhalf")
        build_index(
            spark, pages.limit(50), half, seg_bits=SEG_BITS, n_term_buckets=4
        )
        multi_match_topk(spark, {"a": (index_dir, 1.0), "b": (half, 1.0)}, q)


def test_wand_bp128_codec(spark, pages, tmp_path, doc_terms):
    d = str(tmp_path / "idx128")
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8, codec="bp128")
    want = exhaustive_topk_numpy(doc_terms, ["data", "index", "search"], k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(spark, d, "data index search", k=10, round_to=None).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]


def test_resume_recomputes_only_missing_shard(spark, pages, tmp_path):
    d = str(tmp_path / "idxres")
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4, n_shards=4)
    man = Manifest(d)
    full = {
        (r["term"], r["seg"], bytes(r["docs_blob"]))
        for r in spark.read.parquet(os.path.join(d, "postings")).collect()
    }
    # simulate a crash after shard 1: shard 2 incomplete
    os.remove(os.path.join(d, "_manifest", "shard-00002.json"))
    shutil.rmtree(os.path.join(d, "postings", "shard=2"))
    mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(d, "postings", "shard=*", "*.parquet"))
    }
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4, n_shards=4, resume=True)
    # untouched shards were not rewritten
    for p, t in mtimes.items():
        assert os.path.getmtime(p) == t, f"{p} was rewritten"
    assert Manifest(d).is_complete("shard-00002")
    after = {
        (r["term"], r["seg"], bytes(r["docs_blob"]))
        for r in spark.read.parquet(os.path.join(d, "postings")).collect()
    }
    assert after == full


def test_latest_versions_deterministic(spark):
    from kafka_es_spark.operators.deletes import latest_versions

    rows = [
        ("u1", "2025-01-01 00:00:01", "v1"),
        ("u1", "2025-01-01 00:00:03", "v3"),
        ("u1", "2025-01-01 00:00:02", "v2"),
        ("u2", "2025-01-01 00:00:01", "only"),
    ]
    df = spark.createDataFrame(rows, "url string, ts string, text string").select(
        "url", F.to_timestamp("ts").alias("warc_ts"), "text"
    )
    got = {r["url"]: r["text"] for r in latest_versions(df).collect()}
    assert got == {"u1": "v3", "u2": "only"}
    # partitioning-invariant
    got13 = {r["url"]: r["text"] for r in latest_versions(df.repartition(13)).collect()}
    assert got13 == got


def test_searcher_tombstones_in_query_path(spark, pages, index_dir, doc_terms):
    """X9 in-query exclusion: tombstoned docs disappear from top-k while
    index stats stay unchanged (ES semantics between delete and merge).
    Expected = exhaustive ranking over the full corpus with the tombstoned
    docs dropped post-scoring."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    full = exhaustive_topk_numpy(doc_terms, q.split(), k=30)
    dead = {d for d, _ in full[:3]}  # kill the top 3
    want = [(d, s) for d, s in full if d not in dead][:10]

    s = Searcher(spark, index_dir, cache=False)
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, exclude_doc_ids=dead).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10)

    # exclusion by url resolves through the docmap to the same result
    dm = spark.read.parquet(os.path.join(index_dir, "docmap"))
    urls = dm.filter(F.col("doc_id").isin([int(d) for d in dead])).select("url")
    got_u = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None, exclude_urls=urls).collect()
    ]
    assert got_u == got


def test_spimi_two_stage_equals_raw_shuffle(spark, pages):
    """build_segments_spimi (map-side encoded runs + merge) must produce
    bit-identical segment rows to the raw-posting-shuffle path."""
    from kafka_es_spark.operators.spimi import (
        build_segments,
        build_segments_spimi,
        doc_term_freqs,
    )

    docs = prepare_docs(pages)
    a = build_segments(doc_term_freqs(docs), seg_bits=SEG_BITS).collect()
    # small pack_docs forces many short runs per (term, seg) → exercises
    # the multi-run merge + resort path
    b = build_segments_spimi(docs, seg_bits=SEG_BITS, pack_docs=50).collect()

    def keyed(rows):
        return {
            (r["term"], r["seg"]): (
                r["df_seg"], r["cf_seg"], r["first_docid"], r["last_docid"],
                bytes(r["docs_blob"]), bytes(r["tfs_blob"]),
            )
            for r in rows
        }

    ka, kb = keyed(a), keyed(b)
    assert ka == kb
    assert len(ka) > 50


def test_topk_many_matches_single_queries(spark, index_dir):
    from kafka_es_spark.operators.wand import Searcher

    qs = ["data index search", "web page token", "der daten index"]
    s = Searcher(spark, index_dir, cache=False)
    batched = {}
    for r in s.topk_many(qs, k=5, round_to=None).collect():
        batched.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for i, q in enumerate(qs):
        single = [
            (r["doc_id"], r["score"])
            for r in s.topk(q, k=5, round_to=None).collect()
        ]
        assert batched.get(i, []) == single, q


def test_hash32_py_matches_spark(spark):
    from kafka_es_spark.operators.dedup import hash32, hash32_py

    vals = ["abc", "data", "t4711", "héllo"]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], ["v"])
        .select("v", hash32(F.col("v")).alias("h"))
        .collect()
    }
    for v in vals:
        assert got[v] == hash32_py(v), v


def test_query_bucket_pruning_pushed_and_correct(spark, index_dir, doc_terms):
    """The postings scan for a query filters bucket IN (...) (file-level
    pruning; bucket hash computable driver-side), and results stay
    rank-identical to the exhaustive oracle."""
    import io
    from contextlib import redirect_stdout

    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    assert s.n_term_buckets
    segs = s._query_segs(["data", "index"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        segs.explain(extended=False)
    assert "bucket" in buf.getvalue()
    q = "data index search"
    want = exhaustive_topk_numpy(doc_terms, q.split(), k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk(q, k=10, round_to=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_connected_components_label_propagation(spark):
    from kafka_es_spark.operators.dedup import connected_components

    # two chains + one triangle; a chain of length 5 exercises multi-round
    # propagation
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_build_index_empty_and_blank_corpus(spark, tmp_path):
    """Zero-token corpora must build a valid, queryable (empty-result)
    index rather than crash: all-blank docs → docmap rows, no postings."""
    from kafka_es_spark.operators.wand import Searcher

    rows = [(f"u{i}", "2025-01-01 00:00:00", None, "", "en") for i in range(5)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    ).select(
        "url", F.to_timestamp("warc_ts").alias("warc_ts"), "html", "text", "lang"
    )
    idx = str(tmp_path / "blank_idx")
    build_index(spark, pages, idx, seg_bits=6, n_term_buckets=2)
    s = Searcher(spark, idx, cache=False)
    assert s.n_docs == 5
    assert s.topk("anything at all", k=5).collect() == []


def test_suggest_modes_and_ranking(spark, index_dir, doc_terms):
    """Term suggester: missing-mode skips dictionary hits, candidates
    stay within max_edits with the prefix anchor, ranking is (dist, df
    desc, term), and popular-mode requires higher df than the input."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    dfs: dict[str, int] = {}
    for ts in doc_terms["terms"]:
        for t in set(ts):
            dfs[t] = dfs.get(t, 0) + 1
    probe = sorted(dfs)[0]
    # misspell: drop the last char (keeps the prefix anchor)
    typo = probe[:-1] + ("x" if probe[-1] != "x" else "y")
    rows = s.suggest(f"{typo} {probe}", max_edits=1, size=3).collect()
    # the correctly-spelled token is in the dictionary -> no suggestions
    assert all(r["input"] != probe for r in rows)
    got = [(r["suggestion"], r["dist"], r["freq"]) for r in rows
           if r["input"] == typo]
    assert all(d <= 1 and sug[0] == typo[0] for sug, d, _ in got)
    assert probe in {sug for sug, _, _ in got}
    # ranking: dist asc then freq desc then term asc
    keys = [(d, -f, sug) for sug, d, f in got]
    assert keys == sorted(keys)
    # always-mode suggests even for dictionary hits
    rows_a = s.suggest(probe, max_edits=1, size=3, suggest_mode="always").collect()
    assert all(r["input"] == probe and r["suggestion"] != probe for r in rows_a)
    # popular-mode: every suggestion strictly more frequent than the input
    rows_p = s.suggest(probe, max_edits=1, size=5, suggest_mode="popular").collect()
    assert all(r["freq"] > dfs[probe] for r in rows_p)


def test_termvectors_tf_and_positions(spark):
    from kafka_es_spark.operators.bm25 import termvectors

    docs = spark.createDataFrame(
        [(1, "b a b c b a")], "doc_id long, text string"
    )
    got = {
        r["term"]: (r["tf"], list(r["positions"]))
        for r in termvectors(docs).collect()
    }
    assert got == {"b": (3, [0, 2, 4]), "a": (2, [1, 5]), "c": (1, [3])}


def test_mget_found_fields_and_tombstones(spark, pages, tmp_path):
    """_mget: found rows carry fields, absent urls report found=false
    with null fields, and tombstoned docs flip to found=false."""
    from kafka_es_spark.operators.deletes import add_tombstones
    from kafka_es_spark.operators.wand import Searcher

    d = str(tmp_path / "idxmget")
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4)
    s = Searcher(spark, d, cache=False)
    dm = spark.read.parquet(os.path.join(d, "docmap")).limit(2).collect()
    u0, u1 = dm[0]["url"], dm[1]["url"]
    fv = pages.select("url", "lang")
    rows = {r["url"]: r for r in s.mget([u0, u1, "missing://x"], fv).collect()}
    assert rows[u0]["found"] and rows[u0]["lang"] is not None
    assert not rows["missing://x"]["found"]
    assert rows["missing://x"]["lang"] is None
    # tombstone u1 -> found=false and fields masked
    add_tombstones(spark, d, [dm[1]["doc_id"]])
    s2 = Searcher(spark, d, cache=False)
    r1 = {r["url"]: r for r in s2.mget([u0, u1], fv).collect()}
    assert r1[u0]["found"]
    assert not r1[u1]["found"] and r1[u1]["lang"] is None


def test_collapse_boosting_regexp(spark, index_dir, pages, doc_terms):
    """Field collapsing (best doc per group + group_hits), boosting-query
    demotion, and regexp dictionary expansion — vs pandas/numpy brute
    force over the same corpus."""
    import re as _re
    from collections import defaultdict

    from kafka_es_spark.operators.wand import (
        Searcher, round_half_up,
    )

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    qterms = sorted(set(q.split()))
    full = dict(exhaustive_topk_numpy(doc_terms, qterms, k=10**9))

    # --- collapse: best rounded score per grp, ties -> lowest doc_id
    fv = pages.select(
        "url", (F.length("text") % 3).cast("string").alias("grp")
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    grp_of = {r["doc_id"]: r["grp"] for r in dm.join(fv, "url").collect()}
    by: dict[str, list] = defaultdict(list)
    for d, sc in full.items():
        by[grp_of[d]].append((float(round_half_up(np.array([sc]), 4)[0]), d))
    want = {}
    for g, lst in by.items():
        sc, d = sorted(lst, key=lambda e: (-e[0], e[1]))[0]
        want[g] = (d, sc, len(lst))
    got = {
        r["grp"]: (r["doc_id"], r["score"], r["group_hits"])
        for r in s.collapse_topk(q, fv, "grp", k=10).collect()
    }
    assert got == want

    # --- boosting: docs matching the negative term demoted x0.4, kept
    neg = "search"
    neg_docs = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if neg in set(ts)
    }
    adj = {
        d: sc * (0.4 if d in neg_docs else 1.0) for d, sc in full.items()
    }
    exp = sorted(
        ((float(round_half_up(np.array([sc]), 4)[0]), d) for d, sc in adj.items()),
        key=lambda e: (-e[0], e[1]),
    )[:10]
    got_b = [
        (r["score"], r["doc_id"])
        for r in s.boosting_topk(q, neg, negative_boost=0.4, k=10).collect()
    ]
    assert [d for _, d in got_b] == [d for _, d in exp]
    for (gs, _), (ws, _) in zip(got_b, exp):
        assert gs == pytest.approx(ws, abs=2e-4)
    # demotion reorders rather than excludes: the undemoted top-10 had
    # negative-matching docs, and they left the page on SCORE (x0.4),
    # not via a filter — the full result set still contains them
    undemoted = sorted(full.items(), key=lambda e: (-e[1], e[0]))[:10]
    assert any(d in neg_docs for d, _ in undemoted)
    all_b = {
        r["doc_id"]
        for r in s.boosting_topk(q, neg, negative_boost=0.4, k=10**6).collect()
    }
    assert neg_docs & set(full) <= all_b

    # --- regexp: anchored dictionary expansion == python re over the
    # term dictionary; scored as the OR of the expansions
    pat = "ind.x|se.rch"
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    rx = _re.compile(f"^(?:{pat})$")
    terms = [t for t in vocab if rx.match(t)][:50]
    assert terms, "pattern must match something"
    want_r = exhaustive_topk_numpy(doc_terms, terms, k=10)
    got_r = [
        (r["doc_id"], r["score"])
        for r in s.regexp_topk(pat, k=10, round_to=None).collect()
    ]
    assert [d for d, _ in got_r] == [d for d, _ in want_r]
    for (_, gs), (_, ws) in zip(got_r, want_r):
        assert gs == pytest.approx(ws, abs=1e-10)


def test_agg_extended_weighted_value_count(spark, index_dir, pages, doc_terms):
    """extended_stats moments, weighted_avg, and value_count/missing over
    the OR-mode hit set — vs pandas recomputation."""
    import math

    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    qterms = sorted(set(q.split()))
    hit = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    }
    fv = pages.select(
        "url",
        F.length("text").cast("long").alias("nbytes"),
        F.when(F.length("text") % 5 == 0, None)
        .otherwise(F.lit("x")).alias("sparse"),
    )
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    info = {
        r["doc_id"]: (r["nbytes"], r["sparse"])
        for r in dm.join(fv, "url").collect()
    }
    vals = [info[d][0] for d in hit]
    n, sv, sq = len(vals), sum(vals), sum(v * v for v in vals)
    mean = sv / n
    var = sq / n - mean * mean
    row = s.agg_extended_stats(q, fv, "nbytes").collect()[0]
    assert (row["n_docs_agg"], row["min_v"], row["max_v"], row["sum_v"],
            row["sum_sq"]) == (n, min(vals), max(vals), sv, sq)
    assert row["avg_v"] == pytest.approx(round(mean, 4), abs=1e-9)
    assert row["variance"] == pytest.approx(round(var, 4), abs=1e-9)
    assert row["std_dev"] == pytest.approx(round(math.sqrt(var), 4), abs=1e-9)

    # weighted_avg: nbytes weighted by dl (token count)
    dls = {d: len(ts) for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])}
    fv2 = pages.select("url", F.length("text").cast("long").alias("nbytes"))
    from kafka_es_spark.functions.tokenize import tokens as _tok

    fv2 = fv2.join(
        pages.select("url", F.size(_tok("text")).cast("long").alias("ntok")),
        "url",
    )
    svw = sum(info[d][0] * dls[d] for d in hit)
    sw = sum(dls[d] for d in hit)
    row2 = s.agg_weighted_avg(q, fv2, "nbytes", "ntok").collect()[0]
    assert row2["sum_w"] == sw
    assert row2["weighted_avg"] == pytest.approx(round(svw / sw, 4), abs=1e-9)

    # value_count + missing partition the hit set
    nn = sum(1 for d in hit if info[d][1] is not None)
    row3 = s.agg_value_count(q, fv, "sparse").collect()[0]
    assert (row3["value_count"], row3["missing_count"]) == (nn, n - nn)


def test_stored_fields_doc_values_path(spark, pages, tmp_path, doc_terms):
    """store_fields persists page columns into the docmap (ES doc-values):
    aggregations with field_values=None read them with one dense-id join
    and must produce byte-identical buckets to the external-join path;
    dl is stored by construction; an unstored field raises with a hint."""
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.build_index import build_index, load_stats

    idx = str(tmp_path / "sfidx")
    build_index(
        spark, pages, idx, seg_bits=SEG_BITS, n_term_buckets=8,
        store_fields=("lang",),
    )
    assert load_stats(idx)["store_fields"] == ["lang"]
    s = Searcher(spark, idx, cache=False)
    q = "data index search"
    ext = pages.select("url", "lang")
    want = {
        r["lang"]: r["doc_count"]
        for r in s.facet_terms(q, ext, "lang", size=20).collect()
    }
    got = {
        r["lang"]: r["doc_count"]
        for r in s.facet_terms(q, None, "lang", size=20).collect()
    }
    assert got == want and want

    # dl is always stored: ES-style doc-length stats with no field table
    qterms = sorted(set(q.split()))
    hit_dls = [
        len(ts) for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if set(qterms) & set(ts)
    ]
    row = s.agg_stats(q, None, "dl").collect()[0]
    assert (row["n_docs_agg"], row["min_v"], row["max_v"], row["sum_v"]) == (
        len(hit_dls), min(hit_dls), max(hit_dls), sum(hit_dls)
    )

    with pytest.raises(ValueError, match="store_fields"):
        s.facet_terms(q, None, "n_chars").collect()


def test_new_query_surface_edge_cases(spark, index_dir, pages):
    """Empty-result and degenerate inputs for the round-4 query surface:
    regexp matching nothing, boosting with an absent negative term,
    collapse over an empty hit set — all well-typed, never erroring."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    # regexp with no dictionary match -> empty, TOPK schema
    out = s.regexp_topk("zzzzqqqq[0-9]{8}", k=5)
    assert out.collect() == []
    # boosting with a negative term absent from the corpus == plain OR
    plain = [(r["doc_id"], r["score"]) for r in
             s.topk("data index search", k=5).collect()]
    boosted = [(r["doc_id"], r["score"]) for r in
               s.boosting_topk("data index search", "zzzzabsent", k=5).collect()]
    assert boosted == plain
    # collapse over a query hitting nothing -> empty
    fv = pages.select("url", (F.length("text") % 3).cast("string").alias("grp"))
    assert s.collapse_topk("zzzzabsent", fv, "grp", k=5).collect() == []


def test_stored_field_plan_has_no_external_relation(spark, pages, tmp_path):
    """Plan-shape proof for the doc-values path: the stored-field facet
    plan scans NO relation besides the index's own files (postings +
    docmap), while the external path scans the field relation too —
    the claimed join elimination, pinned at the plan level."""
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.build_index import build_index

    idx = str(tmp_path / "planidx")
    build_index(
        spark, pages, idx, seg_bits=SEG_BITS, n_term_buckets=8,
        store_fields=("lang",),
    )
    s = Searcher(spark, idx, cache=False)
    ext = pages.select("url", "lang")
    plan_stored = s.facet_terms("data", None, "lang")._jdf.queryExecution().toString()
    plan_ext = s.facet_terms("data", ext, "lang")._jdf.queryExecution().toString()
    # the external plan carries a join on url against the field relation;
    # the stored plan joins only on the dense doc id
    assert "url" in plan_ext
    ex_stored = plan_stored.count("Exchange")
    ex_ext = plan_ext.count("Exchange")
    assert ex_stored <= ex_ext
    # stored plan: every file scan reads from inside the index directory
    import re as _re

    scans = _re.findall(r"Location:[^\n]*", plan_stored)
    assert scans, "expected file scans in the physical plan"
    for line in scans:
        # Spark truncates Location paths ("…/pla..."), so compare by
        # overlap: the printed prefix must agree with the index dir.
        m = _re.search(r"\[file:([^,\]]*)", line)
        assert m, f"unparseable scan location: {line}"
        printed = m.group(1).rstrip(".")
        assert printed.startswith(idx) or idx.startswith(printed), (
            f"non-index relation in stored plan: {line}"
        )


def test_rare_multi_adjacency_top_metrics_aggs(spark, index_dir, pages, doc_terms):
    """Round-4 agg family: rare_terms (long-tail buckets), multi_terms
    (compound keys), adjacency_matrix (pairwise filter intersections,
    zero buckets omitted), top_metrics (metric at the sort peak) — all
    checked against a pandas recompute of the OR hit set."""
    from kafka_es_spark.operators.wand import Searcher

    q = "data index search"
    qterms = set(q.split())
    or_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if qterms & set(ts)
    }
    s = Searcher(spark, index_dir, cache=False)
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url"
    )
    fv = pages.select(
        "url", "lang", F.length("text").cast("int").alias("n_chars")
    )
    rows = {
        r["doc_id"]: (r["lang"], r["n_chars"], r["url"])
        for r in dm.join(fv, "url").collect()
    }
    hit_rows = [rows[d] for d in or_hits]

    # rare_terms on n_chars, max_doc_count=2
    from collections import Counter
    cnt = Counter(n for _, n, _ in hit_rows)
    want_rare = sorted(
        ((n, c) for n, c in cnt.items() if c <= 2), key=lambda e: (e[1], e[0])
    )
    got_rare = [
        (r["n_chars"], r["doc_count"])
        for r in s.agg_rare_terms(q, fv, "n_chars", max_doc_count=2).collect()
    ]
    assert got_rare == want_rare

    # multi_terms on (lang, n_chars-bucket is overkill) -> (lang,) pairs need 2 fields
    fv2 = fv.withColumn("band", (F.col("n_chars") / 100).cast("int"))
    pairs = Counter((rows[d][0], rows[d][1] // 100) for d in or_hits)
    want_mt = sorted(
        ((l, b, c) for (l, b), c in pairs.items()),
        key=lambda e: (-e[2], e[0], e[1]),
    )[:5]
    got_mt = [
        (r["lang"], r["band"], r["doc_count"])
        for r in s.agg_multi_terms(q, fv2, ["lang", "band"], size=5).collect()
    ]
    assert got_mt == want_mt
    with pytest.raises(ValueError, match=">= 2 fields"):
        s.agg_multi_terms(q, fv2, ["lang"])

    # adjacency_matrix: en / long plus their intersection; zeros omitted
    filters = {"en": "lang = 'en'", "long": "n_chars >= 300"}
    n_en = sum(1 for l, n, _ in hit_rows if l == "en")
    n_long = sum(1 for l, n, _ in hit_rows if n >= 300)
    n_both = sum(1 for l, n, _ in hit_rows if l == "en" and n >= 300)
    want_adj = [
        (k, v) for k, v in
        [("en", n_en), ("en&long", n_both), ("long", n_long)] if v > 0
    ]
    got_adj = [
        (r["key"], r["doc_count"])
        for r in s.agg_adjacency_matrix(q, fv, filters).collect()
    ]
    assert got_adj == want_adj

    # top_metrics: lang at the n_chars peak, ties on url asc
    want_top = sorted(hit_rows, key=lambda e: (-e[1], e[2]))[:2]
    want_top = [(u, n, l) for l, n, u in want_top]
    got_top = [
        (r["url"], r["sort_value"], r["metric_value"])
        for r in s.agg_top_metrics(q, fv, "n_chars", "lang", size=2).collect()
    ]
    assert got_top == want_top
    # ascending sort variant
    want_asc = sorted(hit_rows, key=lambda e: (e[1], e[2]))[:1]
    got_asc = s.agg_top_metrics(q, fv, "n_chars", "lang", size=1, sort="asc").collect()
    assert got_asc[0]["sort_value"] == want_asc[0][1]


def test_reindex_with_query_and_tombstone_drop(spark, pages, index_dir, doc_terms, tmp_path):
    """ES _reindex analogue: (a) reindex with a query builds a fresh
    subset index whose corpus is exactly the source hit set, with fresh
    dense ids and subset-recomputed stats; (b) reindex without a query
    drops tombstoned docs (reindex-as-compaction)."""
    from kafka_es_spark.operators.deletes import add_tombstones
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.build_index import build_index, reindex

    want_hits = {
        d for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if "data" in set(ts)
    }
    dst = str(tmp_path / "reidx")
    reindex(spark, index_dir, pages, dst, query="data",
            seg_bits=SEG_BITS, n_term_buckets=8)
    dm_src = {r["doc_id"]: r["url"] for r in spark.read.parquet(
        os.path.join(index_dir, "docmap")).select("doc_id", "url").collect()}
    dm_dst = spark.read.parquet(os.path.join(dst, "docmap"))
    got_urls = {r["url"] for r in dm_dst.select("url").collect()}
    assert got_urls == {dm_src[d] for d in want_hits}
    # fresh dense ids over the subset
    ids = sorted(r["doc_id"] for r in dm_dst.select("doc_id").collect())
    assert ids == list(range(len(want_hits)))
    # subset stats: searcher over the new index answers queries
    s = Searcher(spark, dst, cache=False)
    n = s.match_count("data").collect()[0]["n_hits"]
    assert n == len(want_hits)
    s.close()

    # (b) tombstone-dropping full reindex
    src2 = str(tmp_path / "src2")
    build_index(spark, pages, src2, seg_bits=SEG_BITS, n_term_buckets=8)
    dead = sorted(want_hits)[:3]
    add_tombstones(spark, src2, dead)
    dst2 = str(tmp_path / "reidx2")
    reindex(spark, src2, pages, dst2, seg_bits=SEG_BITS, n_term_buckets=8)
    got2 = {r["url"] for r in spark.read.parquet(
        os.path.join(dst2, "docmap")).select("url").collect()}
    assert got2 == set(dm_src.values()) - {dm_src[d] for d in dead}


def test_phrase_suggest_bigram_lm_ranking(spark, index_dir, pages, tmp_path):
    """ES phrase suggester: per-slot dictionary candidates within 1 edit,
    whole-phrase ranking by the corpus bigram LM — a planted corpus where
    'data index' dominates must rank it above the unchanged misspelling
    and any single-token fix; max_errors gates multi-slot fixes; < 2
    tokens raises."""
    import math

    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.build_index import build_index

    docs = spark.createDataFrame(
        [(f"doc://{i}", "data index " * 5) for i in range(4)]
        + [("doc://9", "dita indev once")],
        ["url", "text"],
    )
    idx = str(tmp_path / "psidx")
    build_index(
        spark,
        docs.withColumnRenamed("text", "t").selectExpr(
            "url", "NULL AS warc_ts", "CAST(NULL AS BINARY) AS html",
            "t AS text", "'en' AS lang",
        ),
        idx, seg_bits=SEG_BITS, n_term_buckets=4,
    )
    s = Searcher(spark, idx, cache=False)
    out = s.phrase_suggest("dita indev", docs, max_errors=2, size=10)
    rows = out.collect()
    assert rows[0]["suggestion"] == "data index" and rows[0]["n_changed"] == 2

    # hand-check the winning score: corpus transitions
    # 'data index'x5 per doc x4 docs: B(data,index)=20, B(index,data)=16;
    # doc9: B(dita,indev)=1, B(indev,once)=1. U(data)=20, V=|{data,index,
    # dita,indev,once}|=5
    want = round(math.log((20 + 1) / (20 + 5)), 4)
    assert rows[0]["score"] == pytest.approx(want)

    # max_errors=1 forbids the two-slot fix
    one = s.phrase_suggest("dita indev", docs, max_errors=1, size=10)
    assert all(r["n_changed"] <= 1 for r in one.collect())

    with pytest.raises(ValueError, match=">= 2 tokens"):
        s.phrase_suggest("data", docs)
    s.close()


def test_aliases_blue_green_cutover(spark, pages, index_dir, tmp_path):
    """ES _aliases parity: atomic alias swap makes reindex zero-downtime —
    readers resolve the alias before opening; swapping to a half-built
    dir is refused; drop is idempotent."""
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.aliases import (
        aliases, drop_alias, resolve_alias, set_alias,
    )
    from kafka_es_spark.plans.build_index import reindex

    repo = str(tmp_path / "aliasrepo")
    set_alias(repo, "prod", index_dir)
    assert resolve_alias(repo, "prod") == os.path.abspath(index_dir)

    s = Searcher(spark, resolve_alias(repo, "prod"), cache=False)
    full = s.match_count("data").collect()[0]["n_hits"]
    s.close()

    green = str(tmp_path / "green")
    reindex(spark, index_dir, pages, green, query="data",
            seg_bits=SEG_BITS, n_term_buckets=8)
    set_alias(repo, "prod", green)   # atomic cutover
    s2 = Searcher(spark, resolve_alias(repo, "prod"), cache=False)
    assert s2.match_count("data").collect()[0]["n_hits"] == full
    # the green index holds ONLY the reindexed subset
    assert s2.index_stats().collect()[0]["n_docs"] == full
    s2.close()

    with pytest.raises(ValueError, match="refusing"):
        set_alias(repo, "prod", str(tmp_path / "halfbuilt"))
    assert resolve_alias(repo, "prod") == os.path.abspath(green)

    drop_alias(repo, "prod")
    drop_alias(repo, "prod")   # idempotent
    with pytest.raises(KeyError):
        resolve_alias(repo, "prod")
    assert aliases(repo) == {}


def test_snapshot_restore_roundtrip(spark, index_dir, tmp_path):
    """ES _snapshot parity: snapshot a committed index (manifest-last,
    immutable), restore with per-file checksum verification, and the
    restored index answers queries identically; corrupted snapshots and
    dirty targets are refused."""
    import json

    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.plans.snapshot import restore_index, snapshot_index

    repo = str(tmp_path / "snaprepo")
    meta = snapshot_index(index_dir, repo, "snap1")
    assert meta["n_files"] > 5
    with pytest.raises(ValueError, match="immutable"):
        snapshot_index(index_dir, repo, "snap1")

    s = Searcher(spark, index_dir, cache=False)
    want = [(r["doc_id"], r["score"]) for r in s.topk("data index", k=5).collect()]
    s.close()

    dst = str(tmp_path / "restored")
    restore_index(repo, "snap1", dst)
    s2 = Searcher(spark, dst, cache=False)
    got = [(r["doc_id"], r["score"]) for r in s2.topk("data index", k=5).collect()]
    s2.close()
    assert got == want

    with pytest.raises(ValueError, match="not empty"):
        restore_index(repo, "snap1", dst)

    # corrupt one payload byte -> restore refuses with checksum error
    cat = json.load(open(os.path.join(repo, "snap1", "SNAPSHOT.json")))
    victim = next(r for r in sorted(cat["files"]) if r.endswith(".parquet"))
    vp = os.path.join(repo, "snap1", "files", victim)
    b = bytearray(open(vp, "rb").read())
    b[len(b) // 2] ^= 0xFF
    open(vp, "wb").write(bytes(b))
    with pytest.raises(ValueError, match="checksum mismatch"):
        restore_index(repo, "snap1", str(tmp_path / "restored2"))

    # snapshot without SNAPSHOT.json (crash before catalog) is unusable
    os.remove(os.path.join(repo, "snap1", "SNAPSHOT.json"))
    with pytest.raises(ValueError, match="incomplete snapshot"):
        restore_index(repo, "snap1", str(tmp_path / "restored3"))


def test_apply_partial_updates_merge_semantics(spark):
    """ES _update doc-merge: later updates override field-wise, nulls
    never clobber, two updates on different fields of one doc both land,
    later update on the SAME field wins, unknown ids upsert with null
    unmentioned fields, untouched docs pass through."""
    from kafka_es_spark.operators.deletes import apply_partial_updates

    base = spark.createDataFrame(
        [("a", "en", 10), ("b", "de", 20), ("c", "uk", 30)],
        "url string, lang string, size long",
    )
    ups = spark.createDataFrame(
        [
            ("a", 1, "fr", None),    # a: lang fr
            ("a", 2, None, 11),      # a: size 11 (lang stays fr)
            ("b", 1, "es", None),
            ("b", 2, "it", None),    # same field twice: latest wins
            ("d", 1, "xx", None),    # upsert: size stays null
        ],
        "url string, seq long, lang string, size long",
    )
    got = {r["url"]: (r["lang"], r["size"])
           for r in apply_partial_updates(base, ups).collect()}
    assert got == {
        "a": ("fr", 11),
        "b": ("it", 20),
        "c": ("uk", 30),
        "d": ("xx", None),
    }


def test_delete_by_query_then_update_by_query(spark, pages, tmp_path):
    """_delete_by_query persists the query-matched doc set as tombstones
    (filter context, conjunctive); subsequent queries exclude them.
    _update_by_query rewrites stored docmap fields for matched live docs
    through the crash-recoverable swap; non-stored assignments raise."""
    from kafka_es_spark.operators.deletes import (
        delete_by_query, read_tombstone_ids, update_by_query,
    )
    from kafka_es_spark.operators.wand import Searcher

    d = str(tmp_path / "idxdbq")
    build_index(
        spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4,
        store_fields=("lang",),
    )
    toks = prepare_docs(pages).select("doc_id", "terms")
    both = set(
        r["doc_id"]
        for r in toks.filter(
            F.array_contains("terms", "data") & F.array_contains("terms", "index")
        ).collect()
    )
    assert both, "test premise: some docs contain both terms"

    n = delete_by_query(spark, d, "data index", mode="and")
    assert n == len(both)
    assert set(read_tombstone_ids(spark, d)) == both
    hits = {
        r["doc_id"]
        for r in Searcher(spark, d, cache=False)
        .topk("data index search", k=10**6, round_to=4)
        .collect()
    }
    assert hits and not (hits & both)

    # update_by_query: matched LIVE docs get lang='xx'; deleted docs and
    # non-matches keep their stored value; row count unchanged
    search_docs = set(
        r["doc_id"]
        for r in toks.filter(F.array_contains("terms", "search")).collect()
    )
    expect_upd = search_docs - both
    before = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(os.path.join(d, "docmap")).collect()
    }
    n_upd = update_by_query(spark, d, "search", {"lang": "xx"})
    assert n_upd == len(expect_upd)
    after = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(os.path.join(d, "docmap")).collect()
    }
    assert len(after) == len(before)
    for doc_id, lang in after.items():
        if doc_id in expect_upd:
            assert lang == "xx"
        else:
            assert lang == before[doc_id]

    with pytest.raises(ValueError, match="store_fields"):
        update_by_query(spark, d, "search", {"n_chars": 1})


def test_terms_enum_and_matrix_stats(spark, index_dir, pages, doc_terms):
    """_terms_enum: prefix-matched dictionary terms with df, term-ordered,
    size-truncated. matrix_stats: population moments + pairwise
    covariance/correlation vs numpy brute force over the same hit set."""
    import numpy as np

    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    # brute-force dictionary from the corpus tokens
    from collections import defaultdict

    df_by_term = defaultdict(set)
    for _, row in doc_terms.iterrows():
        for t in set(row["terms"]):
            df_by_term[t].add(row["doc_id"])
    want = sorted(
        (t, len(ds)) for t, ds in df_by_term.items() if t.startswith("s")
    )[:3]
    got = [(r["term"], r["doc_count"]) for r in s.terms_enum("s", size=3).collect()]
    assert got == want

    # matrix_stats vs numpy population moments on the AND hit set
    q = "data index"
    hits = sorted(
        row["doc_id"]
        for _, row in doc_terms.iterrows()
        if {"data", "index"} <= set(row["terms"])
    )
    assert hits
    fv = pages.select(
        "url",
        F.length("text").cast("long").alias("f1"),
        (F.length("text") % 7).cast("long").alias("f2"),
    )
    dm = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    }
    fvrows = {r["url"]: (r["f1"], r["f2"]) for r in fv.collect()}
    a = np.array([fvrows[dm[d]][0] for d in hits], dtype=float)
    b = np.array([fvrows[dm[d]][1] for d in hits], dtype=float)
    got_ms = {
        (r["field_x"], r["field_y"]): r
        for r in s.matrix_stats(q, fv, ["f1", "f2"], mode="and").collect()
    }
    assert len(got_ms) == 4
    r = got_ms[("f1", "f2")]
    assert r["n"] == len(hits)
    assert abs(r["mean_x"] - a.mean()) < 1e-9
    cov = ((a - a.mean()) * (b - b.mean())).mean()
    assert abs(r["covariance"] - cov) < 1e-6
    corr = cov / np.sqrt(a.var() * b.var())
    assert abs(r["correlation"] - corr) < 1e-9
    assert abs(got_ms[("f1", "f1")]["covariance"] - a.var()) < 1e-6
    assert abs(got_ms[("f2", "f2")]["correlation"] - 1.0) < 1e-12


def test_bucket_selector_and_bucket_sort(spark):
    """bucket_selector drops buckets failing the predicate; bucket_sort
    orders by the spec and paginates with from/size."""
    from kafka_es_spark.operators.sessions import bucket_selector, bucket_sort

    b = spark.createDataFrame(
        [("a", 10, 1.0), ("b", 30, 2.0), ("c", 20, 3.0), ("d", 5, 9.0)],
        "k string, doc_count long, m double",
    )
    kept = {r["k"] for r in bucket_selector(b, "doc_count >= 10").collect()}
    assert kept == {"a", "b", "c"}
    out = bucket_sort(
        bucket_selector(b, "doc_count >= 10"),
        [("doc_count", "desc"), ("k", "asc")], size=2,
    ).collect()
    assert [(r["k"], r["doc_count"]) for r in out] == [("b", 30), ("c", 20)]
    out2 = bucket_sort(b, [("m", "asc")], size=2, from_=1).collect()
    assert [r["k"] for r in out2] == ["b", "c"]


def test_terms_set_constant_score_sampler(spark, index_dir, pages, doc_terms):
    """terms_set: per-doc m from a field gates the OR-mode scores;
    constant_score: every filter-context match scores the boost;
    sampler/diversified_sampler: sub-agg over only the top sample."""
    from kafka_es_spark.operators.wand import (
        Searcher, round_half_up,
    )
    import numpy as np

    s = Searcher(spark, index_dir, cache=False)
    q = "data index search"
    qset = set(q.split())
    full = dict(exhaustive_topk_numpy(doc_terms, sorted(qset), k=10**9))

    # terms_set: m(d) = 1 + (dl % 2) over a url-keyed field relation
    dm = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    }
    mfv = pages.select(
        "url", (F.lit(1) + F.length("text") % 2).cast("long").alias("m")
    )
    mby = {r["url"]: r["m"] for r in mfv.collect()}
    want = sorted(
        (
            (round(float(np.round(sc, 4)), 4), d)
            for d, sc in full.items()
            if len(qset & set(doc_terms.iloc[d]["terms"])) >= mby[dm[d]]
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [
        (r["score"], r["doc_id"])
        for r in s.terms_set_topk(q, mfv, "m", k=10).collect()
    ]
    assert [(d, sc) for sc, d in want] == [(d, sc) for sc, d in got]

    # constant_score: AND filter, every row scores the boost
    and_hits = {
        d for d in full
        if qset <= set(doc_terms.iloc[d]["terms"])
    }
    cs = s.constant_score_topk(q, boost=2.5, k=10**6, mode="and").collect()
    assert {r["doc_id"] for r in cs} == and_hits
    assert all(r["score"] == 2.5 for r in cs)

    # sampler: stats over exactly the top-3 (rounded score, url) hits
    fv = pages.select("url", F.length("text").cast("long").alias("f"))
    fb = {r["url"]: r["f"] for r in fv.collect()}
    cand = sorted(
        ((round(float(np.round(sc, 4)), 4), dm[d], d) for d, sc in full.items()),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    vals = [fb[u] for _, u, _ in cand]
    row = s.agg_sampler(q, fv, "f", shard_size=3).collect()[0]
    assert row["doc_count"] == 3
    assert abs(row["avg_value"] - round(sum(vals) / 3, 4)) < 1e-9
    assert row["min_value"] == min(vals) and row["max_value"] == max(vals)

    # diversified: one doc per lang value, then top-2
    lv = pages.select("url", "lang")
    lb = {r["url"]: r["lang"] for r in lv.collect()}
    fv2 = pages.select("url", "lang", F.length("text").cast("long").alias("f"))
    seen, div = set(), []
    for sc, u, d in sorted(
        ((round(float(np.round(sc, 4)), 4), dm[d], d) for d, sc in full.items()),
        key=lambda t: (-t[0], t[1]),
    ):
        if lb[u] in seen:
            continue
        seen.add(lb[u])
        div.append((sc, u))
    div = div[:2]
    row2 = s.agg_sampler(
        q, fv2, "f", shard_size=2, dedup_field="lang", max_docs_per_value=1
    ).collect()[0]
    vals2 = [fb[u] for _, u in div]
    assert row2["doc_count"] == 2
    assert abs(row2["avg_value"] - round(sum(vals2) / 2, 4)) < 1e-9


def test_has_child_and_has_parent(spark, index_dir, pages, doc_terms):
    """Join-field queries: has_child ranks parents by matching-child
    count (url tiebreak); has_parent semi-joins children of parent-query
    hits; tombstoned parents drop from has_child."""
    from kafka_es_spark.operators.deletes import add_tombstones
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    urls = sorted(r["url"] for r in dm)
    by_url = {r["url"]: r["doc_id"] for r in dm}
    # children: child i belongs to parent urls[i % 7]; "big" children
    # have val >= 10
    rows = [(i, urls[i % 7], float(i)) for i in range(40)]
    ch = spark.createDataFrame(rows, "child_id long, parent_url string, val double")

    got = s.has_child_topk(ch, "val >= 10", k=3)
    want = {}
    for i, u, v in rows:
        if v >= 10:
            want[u] = want.get(u, 0) + 1
    exp = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:3]
    assert [(r["url"], r["score"]) for r in got.collect()] == exp

    # has_parent: children of docs containing both 'data' and 'index'
    hit_ids = {
        row["doc_id"]
        for _, row in doc_terms.iterrows()
        if {"data", "index"} <= set(row["terms"])
    }
    id_by_url = by_url
    exp_children = {
        i for i, u, v in rows if id_by_url[u] in hit_ids
    }
    gp = s.has_parent_children("data index", ch, mode="and")
    assert {r["child_id"] for r in gp.collect()} == exp_children

    # tombstone the top has_child parent -> it vanishes from the ranking
    top_url = exp[0][0]
    add_tombstones(spark, index_dir, [by_url[top_url]])
    try:
        s2 = Searcher(spark, index_dir, cache=False)
        got2 = [
            r["url"] for r in s2.has_child_topk(ch, "val >= 10", k=3).collect()
        ]
        assert top_url not in got2
    finally:
        # index_dir is module-scoped — don't leak the tombstone
        from kafka_es_spark.operators.deletes import clear_tombstones

        clear_tombstones(index_dir)


def test_synonym_topk_lucene_semantics(spark, index_dir, doc_terms):
    """SynonymQuery: tf sums over the group, idf from the group's MAX
    member df; no synonyms == plain OR scores; a doc matching only the
    synonym still scores under the group concept."""
    import math

    import numpy as np

    from kafka_es_spark.operators.wand import (
        Searcher, round_half_up,
    )

    s = Searcher(spark, index_dir, cache=False)
    # no-synonym degenerate case == plain OR topk
    q = "data index"
    plain = s.topk(q, k=10).collect()
    syn0 = s.synonym_topk(q, {}, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in plain] == [
        (r["doc_id"], r["score"]) for r in syn0
    ]

    # brute force: group g over members, tf sums, idf of max df
    groups = {"data": ["big"], "index": []}
    n = len(doc_terms)
    dls = doc_terms["terms"].map(len)
    avgdl = float(dls.mean())
    df = {}
    for t in ("data", "big", "index"):
        df[t] = sum(1 for ts in doc_terms["terms"] if t in set(ts))
    want = {}
    for d in range(n):
        ts = list(doc_terms.iloc[d]["terms"])
        sc = 0.0
        for g, ms in groups.items():
            mem = [g] + ms
            tf = sum(ts.count(m) for m in mem)
            if tf == 0:
                continue
            gdf = max(df[m] for m in mem)
            w = math.log(1 + (n - gdf + 0.5) / (gdf + 0.5))
            sc += w * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
        if sc > 0:
            want[d] = float(round_half_up(np.array([sc]), 4)[0])
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in s.synonym_topk(q, groups, k=10).collect()
    ]
    assert got == top


def test_feature_boost_topk_bounded_additive(spark, index_dir, pages, doc_terms):
    """rank_feature/distance_feature: additive term bounded by boost —
    exact values vs brute force; extreme feature values cannot displace
    strong text relevance by more than the boost."""
    import math

    import numpy as np

    from kafka_es_spark.operators.wand import (
        Searcher, round_half_up,
    )

    s = Searcher(spark, index_dir, cache=False)
    q = "data index"
    full = dict(exhaustive_topk_numpy(doc_terms, sorted(set(q.split())), k=10**9))
    dm = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    }
    fv = pages.select("url", F.length("text").cast("long").alias("f"))
    fb = {r["url"]: float(r["f"]) for r in fv.collect()}

    def expect(kind, pivot, boost, origin=0.0):
        want = {}
        for d, sc in full.items():
            x = fb[dm[d]]
            extra = (
                boost * x / (x + pivot) if kind == "saturation"
                else boost * pivot / (pivot + abs(x - origin))
            )
            want[d] = float(round_half_up(np.array([sc + extra]), 4)[0])
        return sorted(want.items(), key=lambda t: (-t[1], t[0]))[:5]

    got = [
        (r["doc_id"], r["score"])
        for r in s.feature_boost_topk(q, fv, "f", kind="saturation",
                                      pivot=100.0, boost=1.5, k=5).collect()
    ]
    assert got == expect("saturation", 100.0, 1.5)
    got2 = [
        (r["doc_id"], r["score"])
        for r in s.feature_boost_topk(q, fv, "f", kind="distance",
                                      origin=200.0, pivot=50.0, boost=2.0,
                                      k=5).collect()
    ]
    assert got2 == expect("distance", 50.0, 2.0, origin=200.0)
    # boundedness: extra <= boost for every returned score
    base = {d: full[d] for d, _ in got}
    for d, sc in got:
        assert sc - base[d] <= 1.5 + 1e-9
    with pytest.raises(ValueError, match="kind"):
        s.feature_boost_topk(q, fv, "f", kind="nope")


def test_pinned_topk_order_and_dedup(spark, index_dir, doc_terms):
    """Pinned query: pins first in list order (even non-matching docs),
    organic hits follow with BM25 scores, a pin that is also an organic
    hit appears once."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index"
    full = dict(exhaustive_topk_numpy(doc_terms, sorted(set(q.split())), k=10**9))
    dm = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    }
    # pin the organic #1 plus a doc that does NOT match the query
    organic_sorted = sorted(full.items(), key=lambda t: (-round(t[1], 4), dm[t[0]]))
    top_url = dm[organic_sorted[0][0]]
    non_match = dm[next(d for d in dm if d not in full)]
    out = s.pinned_topk(q, [non_match, top_url], k=6).collect()
    urls = [r["url"] for r in out]
    assert urls[0] == non_match and urls[1] == top_url
    assert len(set(urls)) == len(urls) == 6
    # organic tail = best remaining organic hits
    rest = [dm[d] for d, _ in organic_sorted if dm[d] != top_url][:4]
    assert urls[2:] == rest


def test_geo_box_wrap_and_centroid(spark, index_dir, pages, doc_terms):
    """geo_bounding_box: plain and antimeridian-wrapped boxes vs brute
    force; geo_centroid: flat-projection mean over the hit set."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    q = "data index"
    dm = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "docmap")).collect()
    }
    hits = {
        d for d in dm
        if {"data", "index"} & set(doc_terms.iloc[d]["terms"])
    }
    # coords keyed off the text length (any deterministic source works)
    fv = pages.select(
        "url",
        ((F.length("text") * 37 % 180) - 90).cast("double").alias("lat"),
        ((F.length("text") * 91 % 360) - 180).cast("double").alias("lon"),
    )
    fb = {r["url"]: (r["lat"], r["lon"]) for r in fv.collect()}

    def brute(top, left, bottom, right):
        out = set()
        for d in hits:
            la, lo = fb[dm[d]]
            if not (bottom <= la <= top):
                continue
            ok = (left <= lo <= right) if left <= right else (
                lo >= left or lo <= right
            )
            if ok:
                out.add(d)
        return out

    got = {r["doc_id"] for r in s.geo_bounding_box(
        q, fv, "lat", "lon", 60, -100, -60, 100, k=10**6).collect()}
    assert got == brute(60, -100, -60, 100)
    got_w = {r["doc_id"] for r in s.geo_bounding_box(
        q, fv, "lat", "lon", 60, 150, -60, -150, k=10**6).collect()}
    assert got_w == brute(60, 150, -60, -150)
    assert got_w and got_w != got

    c = s.geo_centroid(q, fv, "lat", "lon").collect()[0]
    las = [fb[dm[d]][0] for d in hits]
    los = [fb[dm[d]][1] for d in hits]
    assert c["doc_count"] == len(hits)
    assert abs(c["lat"] - round(sum(las) / len(las), 4)) < 1e-9
    assert abs(c["lon"] - round(sum(los) / len(los), 4)) < 1e-9

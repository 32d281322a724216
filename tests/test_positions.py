"""Positions as a column of postings + phrase queries: encode/merge
round-trip and rank-identity of phrase_topk vs a brute-force positional
scorer."""

import numpy as np
import pytest

from kafka_es_spark.operators.positions import (
    decode_position_segment,
    phrase_topk,
)
from kafka_es_spark.operators.spimi import UNIT_SCHEMA, merge_units, pack_runs
from kafka_es_spark.operators.wand import idf
from kafka_es_spark.plans.build_index import build_index, prepare_docs
from kafka_es_spark.sources.pages import gen_pages


@pytest.fixture(scope="module")
def pidx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pos") / "pidx")
    build_index(spark, pages, d, seg_bits=6, n_term_buckets=4)
    return d


def test_position_roundtrip_exact(spark, pages, pidx):
    """Decoded (doc, tf, positions) must equal the corpus's actual token
    positions for every sampled term."""
    import os

    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    truth: dict[str, dict[int, list[int]]] = {}
    for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"]):
        for p, t in enumerate(ts):
            truth.setdefault(t, {}).setdefault(int(d), []).append(p)
    seg_rows = spark.read.parquet(os.path.join(pidx, "postings")).collect()
    by_term: dict[str, list] = {}
    for r in seg_rows:
        by_term.setdefault(r["term"], []).append(r)
    import random

    rng = random.Random(3)
    for term in rng.sample(sorted(by_term), 25):
        got: dict[int, list[int]] = {}
        for r in by_term[term]:
            ids, tfs, pos = decode_position_segment(r)
            off = 0
            for d, tf in zip(ids, tfs):
                got[int(d)] = [int(x) for x in pos[off:off + tf]]
                off += tf
        assert got == truth[term], term


def test_merge_equals_direct_runs(spark, pages):
    """Merging shuffled runs must reproduce each (term, doc)'s positions
    regardless of input partitioning."""
    docs = prepare_docs(pages)
    a = merge_units(pack_runs(docs, 6, 50_000), UNIT_SCHEMA)
    b = merge_units(pack_runs(docs.repartition(7), 6, 50_000), UNIT_SCHEMA)
    ka = {(r["term"], r["seg"]): (bytes(r["docs_blob"]), bytes(r["tfs_blob"]),
                                  bytes(r["pos_blob"])) for r in a.collect()}
    kb = {(r["term"], r["seg"]): (bytes(r["docs_blob"]), bytes(r["tfs_blob"]),
                                  bytes(r["pos_blob"])) for r in b.collect()}
    assert ka == kb


def brute_phrase_topk(doc_terms, slots, k):
    dls = doc_terms["terms"].map(len).to_numpy(dtype=np.int64)
    n = len(doc_terms)
    avgdl = float(dls.mean())
    dfs = {}
    for t in set(slots):
        dfs[t] = int(sum(t in set(ts) for ts in doc_terms["terms"]))
        if dfs[t] == 0:
            return []
    w = float(sum(idf(n, dfs[t]) for t in slots))
    out = []
    for d, ts, dl in zip(doc_terms["doc_id"], doc_terms["terms"], dls):
        ts = list(ts)
        tfp = sum(
            1
            for i in range(len(ts) - len(slots) + 1)
            if ts[i:i + len(slots)] == slots
        )
        if tfp:
            s = w * tfp * 2.2 / (tfp + 1.2 * (0.25 + 0.75 * dl / avgdl))
            out.append((int(d), float(s)))
    out.sort(key=lambda e: (-e[1], e[0]))
    return out[:k]


def test_query_string_full_subset_vs_brute(spark, pages, pidx):
    """query_string '+data ind* -the "data index"': must / prefix
    expansion / must_not / quoted-phrase filter all compose; score =
    BM25 sum over every positive term matched, vs a brute recomputation."""
    from bm25_oracle import exhaustive_topk_numpy
    from kafka_es_spark.operators.wand import Searcher

    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    expansions = [t for t in vocab if t.startswith("ind")][:50]
    positive = sorted({"data", *expansions})
    scores = dict(exhaustive_topk_numpy(doc_terms, positive, k=10**6))

    def qualifies(ts):
        ts = list(ts)
        if "data" not in ts or "the" in ts:
            return False
        return any(
            ts[i:i + 2] == ["data", "index"] for i in range(len(ts) - 1)
        )

    ok = {
        int(d) for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
        if qualifies(ts)
    }
    want = sorted(
        ((d, s) for d, s in scores.items() if d in ok),
        key=lambda e: (-e[1], e[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in Searcher(spark, pidx, cache=False).query_string_topk(
            '+data ind* -the "data index"', k=10, round_to=None
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-10)

    # a must prefix clause with zero dictionary expansions matches nothing
    assert (
        Searcher(spark, pidx, cache=False)
        .query_string_topk("+zzzz* data", k=10)
        .count()
        == 0
    )


@pytest.mark.parametrize(
    "phrase", ["data index", "the index", "index the data", "zzz qqq"]
)
def test_phrase_topk_rank_identical_to_brute(spark, pages, pidx, phrase):
    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    want = brute_phrase_topk(doc_terms, phrase.split(), 10)
    got = [
        (r["doc_id"], r["score"])
        for r in phrase_topk(spark, pidx, phrase, k=10, round_to=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], phrase
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), (phrase, gd)


def test_phrase_order_sensitivity(spark, pages, pidx):
    """A phrase is ordered: 'index data' and 'data index' hit different
    docs (unless the corpus happens to contain both adjacencies equally)."""
    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    a = brute_phrase_topk(doc_terms, ["data", "index"], 1000)
    b = brute_phrase_topk(doc_terms, ["index", "data"], 1000)
    ga = {d for d, _ in phrase_topk(spark, pidx, "data index", k=1000, round_to=None).collect()}
    gb = {d for d, _ in phrase_topk(spark, pidx, "index data", k=1000, round_to=None).collect()}
    assert ga == {d for d, _ in a}
    assert gb == {d for d, _ in b}


def test_streaming_epochs_with_positions_serve_phrases(spark, tmp_path):
    """Appended epochs carry their positions with no flag: phrase results
    over two epochs equal brute force over the union corpus (doc ids
    re-mapped by url). An index in the old layout — format 2, or any
    index with a positions/ directory — raises the rebuild error on open
    and on a positional query."""
    import json
    import os
    import shutil

    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    idx = str(tmp_path / "spidx")
    p1 = gen_pages(spark, 90, seed=1, partitions=2)
    p2 = gen_pages(spark, 60, seed=2, partitions=2)
    append_epoch(spark, p1, idx, epoch=0, seg_bits=6, n_term_buckets=4)
    append_epoch(spark, p2, idx, epoch=1, seg_bits=6, n_term_buckets=4)
    both = p1.unionByName(p2)
    doc_terms = prepare_docs(both).select("doc_id", "url", "terms").toPandas()
    want = brute_phrase_topk(doc_terms, ["data", "index"], 10)
    url_by_id = dict(zip(doc_terms["doc_id"], doc_terms["url"]))
    want_urls = {url_by_id[d] for d, _ in want}
    got = phrase_topk(
        spark, idx, "data index", k=10, round_to=None, with_url=True
    ).collect()
    # epoch-wise id assignment permutes ids vs the union corpus — compare
    # positionally by score and by url set
    assert len(got) == len(want)
    for r, (_, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, rel=1e-12)
    assert {r["url"] for r in got} == want_urls

    # the old layout: a positions/ directory beside the postings ...
    old = str(tmp_path / "posdir")
    shutil.copytree(idx, old)
    os.makedirs(os.path.join(old, "positions", "shard=base"))
    for op in (
        lambda: Searcher(spark, old, cache=False),
        lambda: phrase_topk(spark, old, "data index", k=5).collect(),
    ):
        with pytest.raises(ValueError, match="positions/ directory.*rebuild"):
            op()
    # ... or a format-2 stats.json
    shutil.rmtree(os.path.join(old, "positions"))
    with open(os.path.join(old, "stats.json")) as f:
        st = json.load(f)
    with open(os.path.join(old, "stats.json"), "w") as f:
        json.dump({**st, "format": 2}, f)
    for op in (
        lambda: Searcher(spark, old, cache=False),
        lambda: phrase_topk(spark, old, "data index", k=5).collect(),
    ):
        with pytest.raises(ValueError, match="format 2;.*rebuild"):
            op()


def brute_sloppy_topk(doc_terms, slots, slop, k):
    """Ordered sloppy phrase: slots in order, cumulative extra gap <= slop;
    tf = distinct end positions of qualifying matches."""
    dls = doc_terms["terms"].map(len).to_numpy(dtype=np.int64)
    n = len(doc_terms)
    avgdl = float(dls.mean())
    dfs = {t: int(sum(t in set(ts) for ts in doc_terms["terms"])) for t in set(slots)}
    if any(v == 0 for v in dfs.values()):
        return []
    w = float(sum(idf(n, dfs[t]) for t in slots))
    out = []
    for d, ts, dl in zip(doc_terms["doc_id"], doc_terms["terms"], dls):
        ts = list(ts)
        ends = set()

        def extend(i, si, budget):
            if si == len(slots):
                ends.add(i)
                return
            for gap in range(budget + 1):
                j = i + 1 + gap
                if j < len(ts) and ts[j] == slots[si]:
                    extend(j, si + 1, budget - gap)

        for i, t in enumerate(ts):
            if t == slots[0]:
                extend(i, 1, slop)
        if ends:
            tfp = len(ends)
            s = w * tfp * 2.2 / (tfp + 1.2 * (0.25 + 0.75 * dl / avgdl))
            out.append((int(d), float(s)))
    out.sort(key=lambda e: (-e[1], e[0]))
    return out[:k]


@pytest.mark.parametrize(
    "phrase,slop",
    [("data index", 1), ("data index", 2), ("the data index", 2)],
)
def test_sloppy_phrase_rank_identical_to_brute(spark, pages, pidx, phrase, slop):
    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    want = brute_sloppy_topk(doc_terms, phrase.split(), slop, 10)
    got = [
        (r["doc_id"], r["score"])
        for r in phrase_topk(
            spark, pidx, phrase, k=10, slop=slop, round_to=None
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], (phrase, slop)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), (phrase, slop, gd)
    # slop=0 equals the exact phrase; wider slop can only add docs
    exact = {d for d, _ in brute_phrase_topk(doc_terms, phrase.split(), 10**9)}
    sloppy = {d for d, _ in brute_sloppy_topk(doc_terms, phrase.split(), slop, 10**9)}
    assert exact <= sloppy


def test_phrase_prefix_rank_identical_to_brute(spark, pages, pidx):
    """match_phrase_prefix: last slot expands alphabetically against the
    term dictionary; weight = Σ idf over fixed slots + every expansion
    term; tf = distinct end positions matching any expansion term."""
    from kafka_es_spark.operators.positions import phrase_prefix_topk

    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    vocab = sorted({t for ts in doc_terms["terms"] for t in ts})
    prefix = "s"
    expansion = [t for t in vocab if t.startswith(prefix)][:50]
    assert len(expansion) > 1, "probe must expand to multiple terms"
    dls = doc_terms["terms"].map(len).to_numpy(dtype=np.int64)
    n = len(doc_terms)
    avgdl = float(dls.mean())
    dfs = {
        t: int(sum(t in set(ts) for ts in doc_terms["terms"]))
        for t in ["data"] + expansion
    }
    w = float(sum(idf(n, dfs[t]) for t in ["data"] + expansion))
    exp = set(expansion)
    want = []
    for d, ts, dl in zip(doc_terms["doc_id"], doc_terms["terms"], dls):
        ts = list(ts)
        tfp = sum(
            1 for i in range(len(ts) - 1)
            if ts[i] == "data" and ts[i + 1] in exp
        )
        if tfp:
            s = w * tfp * 2.2 / (tfp + 1.2 * (0.25 + 0.75 * dl / avgdl))
            want.append((int(d), float(s)))
    want.sort(key=lambda e: (-e[1], e[0]))
    want = want[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in phrase_prefix_topk(
            spark, pidx, f"data {prefix}", k=10, round_to=None
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), gd
    # a prefix matching no dictionary term yields empty
    assert phrase_prefix_topk(spark, pidx, "data zzzqq", k=10).collect() == []


def test_span_first_window_semantics(spark, pages, tmp_path):
    """span_first: only occurrences at position < end match; tf counts
    qualifying occurrences only while idf keeps the term's index df."""
    import math

    import numpy as np

    from kafka_es_spark.operators.positions import span_first_topk
    from kafka_es_spark.operators.wand import round_half_up
    from kafka_es_spark.plans.build_index import build_index, prepare_docs

    d = str(tmp_path / "idxsf")
    build_index(spark, pages, d, seg_bits=6, n_term_buckets=4)
    toks = {
        r["doc_id"]: list(r["terms"])
        for r in prepare_docs(pages).select("doc_id", "terms").collect()
    }
    term, end = "data", 3
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = sum(1 for t in toks.values() if term in t)
    w = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = {}
    for doc, ts in toks.items():
        tf = sum(1 for p, t in enumerate(ts) if t == term and p < end)
        if tf:
            sc = w * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
            want[doc] = float(round_half_up(np.array([sc]), 4)[0])
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in span_first_topk(spark, d, term, end, k=10).collect()
    ]
    assert got == top
    assert want, "premise: term occurs early in some doc"
    # the window genuinely restricts: full-corpus tf must exceed windowed
    assert sum(t.count(term) for t in toks.values()) > sum(
        1 for ts in toks.values() for p, t in enumerate(ts)
        if t == term and p < end
    )

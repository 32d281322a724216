"""ES 7.x ``should`` semantics beside a filter, against a numpy oracle of
the ES rules (not against the engine's own compile paths).

ES makes ``minimum_should_match`` default to 1 in a bool with no must or
filter clause and to 0 once one exists: beside a filter, should clauses
only add score, so every filter doc is a hit, scored by its should sum (0
where no should clause matches). An explicit ``minimum_should_match``
always applies."""

import pytest

from bm25_oracle import exhaustive_topk_numpy
from kafka_es_spark.operators.searchapi import search
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index, prepare_docs

FILTER = [{"range": {"dl": {"gte": 30}}}]
SHOULD = [{"match": {"text": "index"}}]


@pytest.fixture(scope="module")
def setup(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("boolshould") / "idx")
    build_index(spark, pages, d, seg_bits=6, n_term_buckets=4)
    doc_terms = prepare_docs(pages).select("doc_id", "terms").toPandas()
    s = Searcher(spark, d, cache=False)
    yield s, doc_terms
    s.close()


def _oracle(doc_terms, min_should: int) -> dict[int, float]:
    """ES rules over the raw corpus: the docs passing the filter (dl >= 30)
    that match at least ``min_should`` should clauses, each scored by the
    BM25 sum of the should clauses it matches."""
    should = dict(exhaustive_topk_numpy(doc_terms, ["index"], k=10**6))
    out = {}
    for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"]):
        matched = int(d) in should
        if len(ts) >= 30 and matched >= min_should:
            out[int(d)] = should.get(int(d), 0.0)
    return out


def _hits(searcher, query) -> dict[int, float]:
    rows = search(searcher, {"query": query, "size": 10**6}, round_to=None).collect()
    return {int(r["doc_id"]): float(r["score"]) for r in rows}


def test_filter_plus_should_returns_every_filter_doc(setup):
    searcher, doc_terms = setup
    want = _oracle(doc_terms, min_should=0)
    # premise: the filter admits docs on both sides of the should clause
    assert 0.0 in want.values() and any(v > 0 for v in want.values())
    got = _hits(searcher, {"bool": {"filter": FILTER, "should": SHOULD}})
    assert got.keys() == want.keys()
    for d, score in want.items():
        assert got[d] == pytest.approx(score, abs=1e-9), d


def test_filter_context_bool_keeps_every_filter_doc(setup):
    """The constant_score (filter-context) form: the same hit set, each
    at the constant score."""
    searcher, doc_terms = setup
    want = _oracle(doc_terms, min_should=0)
    got = _hits(searcher, {"constant_score": {
        "filter": {"bool": {"filter": FILTER, "should": SHOULD}},
    }})
    assert got == {d: 1.0 for d in want}


@pytest.mark.parametrize("scoring", [True, False])
def test_explicit_minimum_should_match_applies_beside_a_filter(setup, scoring):
    searcher, doc_terms = setup
    want = _oracle(doc_terms, min_should=1)
    body = {"bool": {"filter": FILTER, "should": SHOULD, "minimum_should_match": 1}}
    if scoring:
        got = _hits(searcher, body)
        assert got.keys() == want.keys()
        for d, score in want.items():
            assert got[d] == pytest.approx(score, abs=1e-9), d
    else:
        got = _hits(searcher, {"constant_score": {"filter": body}})
        assert got == {d: 1.0 for d in want}

"""ES 7.x ``bool`` semantics, against a numpy oracle of the ES rules (not
against the engine's own compile paths).

The rules: every ``must`` and ``filter`` clause gates, any ``must_not``
clause excludes, and a hit matches at least ``minimum_should_match``
``should`` clauses. That floor defaults to 1 in a bool with no must or
filter clause and to 0 once one exists: beside them, should clauses only
add score. An explicit ``minimum_should_match`` always applies. A hit
scores the sum of its must and matched should clauses; filter and
must_not clauses score nothing, and a ``constant_score`` filter scores its
boost (1.0)."""

import math

import pytest

from bm25_oracle import exhaustive_topk_numpy
from kafka_es_spark.functions.tokenize import tokenize_py
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


def _assert_hits(got, want):
    assert got.keys() == want.keys()
    for d, score in want.items():
        assert got[d] == pytest.approx(score, abs=1e-9), d


def test_filter_plus_should_returns_every_filter_doc(setup):
    searcher, doc_terms = setup
    want = _oracle(doc_terms, min_should=0)
    # premise: the filter admits docs on both sides of the should clause
    assert 0.0 in want.values() and any(v > 0 for v in want.values())
    got = _hits(searcher, {"bool": {"filter": FILTER, "should": SHOULD}})
    _assert_hits(got, want)


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
        _assert_hits(_hits(searcher, body), want)
    else:
        got = _hits(searcher, {"constant_score": {"filter": body}})
        assert got == {d: 1.0 for d in want}


# --- the bool matrix --------------------------------------------------------


def _es_floor(value, n_should: int, gated: bool) -> int:
    """ES 7.x minimum_should_match: an int, or ``"P%"`` of the should
    clauses rounded down; with no must/filter at least one should clause
    must match whatever the value."""
    if value is None:
        n = 0
    elif isinstance(value, str) and value.endswith("%"):
        n = math.floor(n_should * float(value[:-1]) / 100.0)
    else:
        n = int(value)
    return n if gated else max(n, 1)


def _es_eval(doc_terms, clause) -> dict[int, float]:
    """{doc_id: score} of the docs ``clause`` matches, by the ES rules."""
    kind, body = next(iter(clause.items()))
    if kind == "match":
        terms = tokenize_py(body["text"])
        return dict(exhaustive_topk_numpy(doc_terms, terms, k=10**6))
    if kind == "range":
        lo = body["dl"]["gte"]
        return {int(d): 0.0 for d, ts in zip(doc_terms["doc_id"], doc_terms["terms"])
                if len(ts) >= lo}
    if kind == "constant_score":
        return {d: 1.0 for d in _es_eval(doc_terms, body["filter"])}
    assert kind == "bool"

    def each(key):
        return [_es_eval(doc_terms, c) for c in body.get(key, [])]

    must, should, filt, nots = each("must"), each("should"), each("filter"), each("must_not")
    need = _es_floor(body.get("minimum_should_match"), len(should), bool(must or filt))
    if not should:
        need = 0
    out = {}
    for d in doc_terms["doc_id"]:
        d = int(d)
        if not all(d in m for m in must + filt) or any(d in n for n in nots):
            continue
        matched = [s[d] for s in should if d in s]
        if len(matched) >= need:
            out[d] = sum(m[d] for m in must) + sum(matched)
    return out


def _m(q):
    return {"match": {"text": q}}


RANGE = {"range": {"dl": {"gte": 30}}}
BOOLS = {
    "must": {"must": [_m("data")]},
    "should": {"should": [_m("index"), _m("search")]},
    "filter": {"filter": [RANGE]},
    "must_not": {"must_not": [_m("data")]},
    "must+should": {"must": [_m("data")], "should": [_m("index query")]},
    "must+should+msm1": {
        "must": [_m("data")], "should": [_m("index"), _m("query")],
        "minimum_should_match": 1},
    "must+should+msm2": {
        "must": [_m("data")], "should": [_m("index"), _m("query"), _m("term")],
        "minimum_should_match": 2},
    "must+should+msm_pct": {
        "must": [_m("data")], "should": [_m("index"), _m("query"), _m("term")],
        "minimum_should_match": "67%"},
    "must+filter": {"must": [_m("data index")], "filter": [RANGE]},
    "must+must_not": {"must": [_m("data index")], "must_not": [_m("search")]},
    "should+must_not": {"should": [_m("data"), _m("index")], "must_not": [_m("search")]},
    "should+msm2": {
        "should": [_m("data"), _m("index"), _m("query")], "minimum_should_match": 2},
    "should+msm_pct": {
        "should": [_m("data"), _m("index"), _m("query")], "minimum_should_match": "50%"},
    "filter+should+msm1": {
        "filter": [RANGE], "should": [_m("index"), _m("query")],
        "minimum_should_match": 1},
    "all_four": {
        "must": [_m("data")], "should": [_m("index"), _m("query")],
        "filter": [RANGE], "must_not": [_m("term")], "minimum_should_match": 1},
    "nested": {
        "must": [{"bool": {"should": [_m("index"), _m("query")],
                           "minimum_should_match": 2}}],
        "should": [_m("search")], "filter": [RANGE]},
}


@pytest.mark.parametrize("name", sorted(BOOLS))
def test_bool_matrix_follows_es_rules(setup, name):
    searcher, doc_terms = setup
    query = {"bool": BOOLS[name]}
    want = _es_eval(doc_terms, query)
    assert want, "premise: the bool matches some docs"
    _assert_hits(_hits(searcher, query), want)


@pytest.mark.parametrize("name", sorted(BOOLS))
def test_bool_matrix_in_filter_context(setup, name):
    """The constant_score form: the same hit set at the constant score."""
    searcher, doc_terms = setup
    query = {"constant_score": {"filter": {"bool": BOOLS[name]}}}
    want = _es_eval(doc_terms, query)
    assert _hits(searcher, query) == want


def test_explicit_floor_beside_a_scored_must_drops_should_misses(setup):
    """Beside a scored must, ``minimum_should_match: 1`` keeps only the
    must hits that match a should clause (ES), not every must hit."""
    searcher, doc_terms = setup
    body = BOOLS["must+should+msm1"]
    must_hits = _es_eval(doc_terms, {"bool": {"must": body["must"]}})
    want = _es_eval(doc_terms, {"bool": body})
    assert 0 < len(want) < len(must_hits)
    assert _hits(searcher, {"bool": body}).keys() == want.keys()

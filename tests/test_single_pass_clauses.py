"""A scored clause reads its postings once.

``relational_scores`` applies the match floor (``mode="and"``,
``min_should_match``) and ``must_not`` inside its seg-cogroup kernel, the
DSL ``bool`` counts the must (or, with none, the should) clauses a doc
matched in its one score aggregation and sums should scores onto the must
hits, and ``range_filtered_topk`` semi-joins the allowed set to the
scores. Every result here equals the two-pass formulation these replaced:
OR-mode ``relational_scores`` gated by ``matching_doc_ids`` over the same
terms, with each must clause's hit set taken from its scorer again."""

import itertools
import shutil

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.functions.tokenize import tokenize_py
from kafka_es_spark.operators import wand
from kafka_es_spark.operators.deletes import add_tombstones
from kafka_es_spark.operators.positions import (
    _phrase_topk_slots, build_position_index, phrase_match_ids,
    phrase_prefix_topk,
)
from kafka_es_spark.operators.searchapi import (
    _compile, _min_should_match, search,
)
from kafka_es_spark.operators.wand import Searcher, index_prefix_terms
from kafka_es_spark.plans.build_index import build_index, read_relation

SEG_BITS = 6
Q = "data index search query"
MATCH_MODES = {
    "or": {},
    "and": {"mode": "and"},
    "msm": {"min_should_match": 2},
    "must_not": {"must_not": "search"},
}


@pytest.fixture(scope="module")
def base_idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("single_pass") / "idx")
    pg = pages.withColumn(
        "need", (F.lit(1) + F.abs(F.hash("url")) % 3).cast("long")
    )
    build_index(
        spark, pg, d, seg_bits=SEG_BITS, n_term_buckets=8,
        store_fields=("need",),
    )
    build_position_index(spark, pg, d)
    return d


@pytest.fixture(scope="module", params=[0, 5], ids=["live", "5-tombstones"])
def searcher(request, spark, base_idx, tmp_path_factory):
    d = base_idx
    if request.param:
        d = str(tmp_path_factory.mktemp("single_pass_del") / "idx")
        shutil.copytree(base_idx, d)
        s = Searcher(spark, d, cache=False)
        hits = sorted(r["doc_id"] for r in s.matching_doc_ids(Q).collect())
        s.close()
        add_tombstones(spark, d, doc_ids=hits[:: len(hits) // 5][:5])
    s = Searcher(spark, d)
    assert len(s.persistent_excluded) == request.param
    yield s
    s.close()


@pytest.fixture(scope="module")
def fields(pages):
    return pages.select(
        "url", (F.abs(F.hash("url")) % 100).cast("long").alias("prio")
    )


def _rows(df, digits=9):
    return sorted(
        (int(r["doc_id"]), round(float(r["score"]), digits))
        for r in df.collect()
    )


# --- the two-pass formulation the single-pass compile replaced -----------


def _two_pass(s, clause, scoring=True):
    """(scores, gate) of a match / range / bool clause, compiled the
    two-pass way: OR-mode scores plus a ``matching_doc_ids`` gate."""
    kind, body = next(iter(clause.items()))
    if kind == "match":
        spec = body["text"]
        spec = {"query": spec} if isinstance(spec, str) else spec
        q, msm = spec["query"], spec.get("minimum_should_match")
        gate = None
        if spec.get("operator") == "and":
            gate = s.matching_doc_ids(q, mode="and")
        elif msm is not None:
            m = _min_should_match(msm, len(set(tokenize_py(q))))
            gate = s.matching_doc_ids(q, min_should_match=m)
        if not scoring:
            return None, gate if gate is not None else s.matching_doc_ids(q)
        scores = s.relational_scores(q)
        boost = float(spec.get("boost", 1.0))
        if boost != 1.0:
            scores = scores.withColumn("score", F.col("score") * boost)
        return scores, gate
    if kind == "range":
        field, spec = next(iter(body.items()))
        return None, s.docmap.filter(F.col(field) >= spec["gte"]).select(
            "doc_id"
        )
    assert kind == "bool"
    return _two_pass_bool(s, body), None


def _ids(scores, gate):
    return (gate if gate is not None else scores).select("doc_id")


def _gated(scores, gate):
    return scores if gate is None else scores.join(gate, "doc_id", "left_semi")


def _two_pass_bool(s, body):
    def clauses(key, scoring=True):
        return [_two_pass(s, c, scoring) for c in body.get(key, [])]

    must, should = clauses("must"), clauses("should")
    filt, nots = clauses("filter", False), clauses("must_not", False)
    pre = None
    if should and (must or filt):
        for c in must + filt:
            ids = _ids(*c)
            pre = ids if pre is None else pre.join(ids, "doc_id", "left_semi")

    def pregated(f):
        return f if pre is None else f.join(pre, "doc_id", "left_semi")

    frames = [_gated(*c) for c in must if c[0] is not None] + [
        pregated(_gated(*c) if c[0] is not None else
                 c[1].select("doc_id", F.lit(0.0).alias("score")))
        for c in should
    ]
    scores = frames[0]
    for f in frames[1:]:
        scores = scores.unionByName(f)
    base = scores.groupBy("doc_id").agg(F.sum("score").alias("score"))
    if float(body.get("boost", 1.0)) != 1.0:
        base = base.withColumn("score", F.col("score") * body["boost"])
    for c in must + filt:
        base = base.join(_ids(*c), "doc_id", "left_semi")
    if should and not must and not filt:
        msm = _min_should_match(body.get("minimum_should_match", 1), len(should))
        if msm > 1:
            u = None
            for c in should:
                part = _ids(*c).distinct()
                u = part if u is None else u.unionByName(part)
            ok = u.groupBy("doc_id").count().filter(F.col("count") >= msm)
            base = base.join(ok.select("doc_id"), "doc_id", "left_semi")
    for c in nots:
        base = base.join(_ids(*c), "doc_id", "left_anti")
    return base


def _match(q, **spec):
    return {"match": {"text": {"query": q, **spec} if spec else q}}


RANGE = {"range": {"dl": {"gte": 20}}}
SHAPES = {
    "must+filter": {"bool": {"must": [_match("data index")], "filter": [RANGE]}},
    "two_musts": {"bool": {"must": [_match("data search"), _match("index query")]}},
    "must+should": {"bool": {
        "must": [_match("data")], "should": [_match("index term")]}},
    "musts+shoulds": {"bool": {
        "must": [_match("data search"), _match("index query")],
        "should": [_match("index"), _match("term query")]}},
    "must+range_should": {"bool": {
        "must": [_match("data")], "should": [RANGE]}},
    "should_only": {"bool": {"should": [_match("data"), _match("index")]}},
    "should_msm": {"bool": {
        "should": [_match("data"), _match("index"), _match("query")],
        "minimum_should_match": 2}},
    "must_not": {"bool": {
        "must": [_match("data index")], "must_not": [_match("search")]}},
    "nested": {"bool": {
        "must": [{"bool": {"should": [_match("data"), _match("query")]}}],
        "should": [_match("index")], "filter": [RANGE]}},
    "boost": {"bool": {
        "must": [_match("data index")], "should": [_match("search")],
        "boost": 2.5}},
    "match_and": _match("data index", operator="and"),
    "match_msm": _match(Q, minimum_should_match=2),
    "bool_match_and_msm": {"bool": {
        "must": [_match("data index", operator="and")],
        "should": [_match(Q, minimum_should_match="75%", boost=0.5)]}},
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_dsl_shape_equals_two_pass(searcher, shape):
    s, query = searcher, SHAPES[shape]
    got = _compile(s, query, scoring=True)
    assert got.gate is None and got.one_per_doc
    scores, gate = _two_pass(s, query)
    want = _rows(_gated(scores, gate))
    assert want and _rows(got.scores) == want


@pytest.mark.parametrize("mode", sorted(MATCH_MODES))
def test_relational_scores_equal_gated_or_scores(searcher, mode):
    """The in-kernel match floor and negation select exactly the
    ``matching_doc_ids`` hit set, and the scores stay the OR-mode sums to
    the last bit."""
    s, kw = searcher, MATCH_MODES[mode]
    want = _rows(
        s.relational_scores(Q).join(s.matching_doc_ids(Q, **kw), "doc_id",
                                    "left_semi"),
        digits=17,
    )
    assert want and _rows(s.relational_scores(Q, **kw), digits=17) == want


def test_relational_scores_absent_term_rules(searcher):
    s = searcher
    q = Q + " zzzabsent"
    assert s.relational_scores(q, mode="and").collect() == []
    assert s.relational_scores(q, min_should_match=5).collect() == []
    assert _rows(s.relational_scores(q, min_should_match=4)) == _rows(
        s.relational_scores(Q, mode="and")
    )
    with pytest.raises(ValueError):
        s.relational_scores(Q, mode="and", min_should_match=2)


@pytest.mark.parametrize("mode", sorted(MATCH_MODES))
def test_range_filtered_equals_two_pass(searcher, fields, mode):
    s, kw = searcher, MATCH_MODES[mode]
    lo, hi, k = 10, 70, 15
    dm = s.docmap.select("doc_id", "url")
    allowed = (
        s.matching_doc_ids(Q, **kw).join(dm, "doc_id")
        .join(fields, "url")
        .filter((F.col("prio") >= lo) & (F.col("prio") <= hi))
        .select("doc_id")
    )
    want = [
        tuple(r) for r in
        s.relational_scores(Q).join(allowed, "doc_id")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
        .select("doc_id", F.round("score", 4).alias("score")).collect()
    ]
    got = [
        tuple(r) for r in
        s.range_filtered_topk(Q, fields, "prio", lo, hi, k=k, **kw).collect()
    ]
    assert want and got == want


def test_terms_set_field_clause_equals_terms_set_topk(searcher):
    """The DSL terms_set clause with minimum_should_match_field counts
    matches with terms_set_topk's kernel: same hits, same scores."""
    s = searcher
    terms = ["data", "index", "search", "query"]
    clause = {"terms_set": {"text": {
        "terms": terms, "minimum_should_match_field": "need"}}}
    got = _compile(s, clause, scoring=True)
    want = _rows(
        s.terms_set_topk(" ".join(terms), s.docmap.select("url", "need"),
                         "need", k=10**6, round_to=None)
    )
    assert want and _rows(got.scores) == want
    gate = _compile(s, clause, scoring=False).gate
    assert sorted(r["doc_id"] for r in gate.collect()) == [d for d, _ in want]


# --- plans and jobs --------------------------------------------------------


def _executed_plan(df) -> str:
    """The final adaptive plan of ``df`` after it ran (the top-level
    initial plan that follows it is cut off)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("\n+- == Initial Plan ==")[0]


def test_dsl_body_plans_one_cogroup_and_no_sort_merge_join(searcher):
    """The serve mix's dsl body (bool must match + filter range): its one
    scored clause is the only cogroup, and no gate shuffles."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "data index"}}],
        "filter": [{"range": {"dl": {"gte": 20}}}],
    }}, "size": 10}
    plan = _executed_plan(search(searcher, body))
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_must_with_feature_should_sums_onto_must_hits(searcher):
    """A should clause beside a scored must only adds score to the must
    hits: the corpus-sized rank_feature frame is left-joined onto the
    must result, never unioned into a score aggregation whole."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "data index"}}],
        "should": [{"rank_feature": {
            "field": "dl", "saturation": {"pivot": 30.0}}}],
    }}, "size": 10}
    plan = _executed_plan(search(searcher, body))
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert "LeftOuter" in plan and "Union" not in plan, plan


def test_range_filtered_or_plans_no_grouped_hit_set(searcher, fields):
    plan = _executed_plan(
        searcher.range_filtered_topk(Q, fields, "prio", 10, 70, k=5)
    )
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


_group = itertools.count()


def _warm_jobs(spark, make) -> int:
    """Spark jobs of the second run of ``make()`` (the first warms up)."""
    sc = spark.sparkContext
    make().collect()
    g = f"single-pass-{next(_group)}"
    sc.setJobGroup(g, g)
    try:
        make().collect()
        return len(sc.statusTracker().getJobIdsForGroup(g))
    finally:
        sc.setJobGroup(f"{g}-done", "")


@pytest.mark.parametrize("prefix, limit", [("d", 50), ("t", 3), ("zzq", 50)])
def test_prefix_expansion_equals_spark_scan(spark, base_idx, monkeypatch,
                                            prefix, limit):
    driver = index_prefix_terms(spark, base_idx, prefix, limit)
    want = [
        r["term"] for r in
        read_relation(spark, base_idx + "/term_stats")
        .filter(F.col("term").startswith(prefix)).select("term").distinct()
        .orderBy("term").limit(limit).collect()
    ]
    monkeypatch.setattr(wand, "DOC_FREQS_MAX_ROWS", 0)
    assert driver == want
    assert index_prefix_terms(spark, base_idx, prefix, limit) == want


def test_phrase_prefix_expands_without_a_job(spark, base_idx):
    """A warm phrase_prefix_topk runs the jobs of the phrase it expands to
    and no more."""
    expansion = index_prefix_terms(spark, base_idx, "dat", 50)
    assert expansion

    def slots():
        return _phrase_topk_slots(
            spark, base_idx, [["the"], expansion], 10, 0, 4, False, None
        )

    def prefixed():
        return phrase_prefix_topk(spark, base_idx, "the dat", k=10)

    assert prefixed().collect() == slots().collect()
    assert _warm_jobs(spark, prefixed) == _warm_jobs(spark, slots)


# --- query_string / simple_query_string: the + groups gate in the one pass --


def _scan_prefix(s, prefix, limit=50):
    """The Spark ``term_stats`` scan every prefix site ran before it read
    the dictionary with ``index_prefix_terms``."""
    return [
        r["term"] for r in
        s.term_stats.filter(F.col("term").startswith(prefix)).select("term")
        .orderBy("term").limit(limit).collect()
    ]


def _phrase_ids(s, p):
    return phrase_match_ids(s.spark, s.index_dir, p)


def _two_pass_clauses(s, positive, groups=(), nots=(), not_phrases=()):
    """query_string / simple_query_string the two-pass way: OR-mode
    ``relational_scores`` over the positive terms (or, with none, the
    first group's phrase hits at score 0), one ``matching_doc_ids`` ∪
    phrase-hits semi-join per required group ``(terms, phrases)``, and
    anti-joins of the negated terms and phrases."""
    if positive:
        out = s.relational_scores(" ".join(positive))
    else:
        out = None
        for p in groups[0][1]:
            ids = _phrase_ids(s, p)
            out = ids if out is None else out.union(ids)
        out = out.distinct().select("doc_id", F.lit(0.0).alias("score"))
    for terms, phrases in groups:
        ids = s.matching_doc_ids(" ".join(terms)) if terms else None
        for p in phrases:
            ids = _phrase_ids(s, p) if ids is None else ids.union(_phrase_ids(s, p))
        out = out.join(ids.distinct(), "doc_id", "left_semi")
    if nots:
        out = out.join(s.matching_doc_ids(" ".join(nots)), "doc_id", "left_anti")
    for p in not_phrases:
        out = out.join(_phrase_ids(s, p), "doc_id", "left_anti")
    return out


def _qs_cases(s):
    """name → (engine call, two-pass reference), over every row."""
    s_terms = _scan_prefix(s, "s")
    big = 10**6

    def qs(q):
        return lambda: s.query_string_topk(q, k=big, round_to=None)

    def sqs(q, op="or"):
        return lambda: s.simple_query_string_topk(
            q, default_operator=op, k=big, round_to=None)

    return {
        "qs_must_should_not": (
            qs("+data +index search -query"),
            _two_pass_clauses(s, ["data", "index", "search"],
                              [(["data"], []), (["index"], [])], ["query"])),
        "qs_prefix_group": (
            qs("+s* data"),
            _two_pass_clauses(s, sorted(set(s_terms) | {"data"}), [(s_terms, [])])),
        "qs_no_must": (
            qs("data index -search"),
            _two_pass_clauses(s, ["data", "index"], nots=["search"])),
        "qs_phrase": (
            qs('+data "index search" -"query term"'),
            _two_pass_clauses(s, ["data"], [(["data"], []), ([], ["index search"])],
                              not_phrases=["query term"])),
        "sqs_and_or_group": (
            sqs("data|index search", "and"),
            _two_pass_clauses(s, ["data", "index", "search"],
                              [(["data", "index"], []), (["search"], [])])),
        "sqs_and_phrase": (
            sqs('data "index search" -query', "and"),
            _two_pass_clauses(s, ["data"], [(["data"], []), ([], ["index search"])],
                              ["query"])),
        "sqs_and_mixed_group": (
            sqs('query|"index" data', "and"),
            _two_pass_clauses(s, ["data", "query"],
                              [(["query"], ["index"]), (["data"], [])])),
        # a '|' group member may be a phrase with a space in it
        "sqs_or_phrase_group": (
            sqs('query|"index search" data'),
            _two_pass_clauses(s, ["data", "query"])),
        "sqs_and_phrase_group": (
            sqs('query|"index search" data', "and"),
            _two_pass_clauses(s, ["data", "query"],
                              [(["query"], ["index search"]), (["data"], [])])),
        "sqs_or_prefix": (
            sqs("sear* -query"),
            _two_pass_clauses(s, _scan_prefix(s, "sear"), nots=["query"])),
        "sqs_phrase_only": (
            sqs('"search query" "data index" -term'),
            _two_pass_clauses(s, [], [([], ["search query", "data index"])],
                              ["term"])),
    }


QS_CASES = [
    "qs_must_should_not", "qs_prefix_group", "qs_no_must", "qs_phrase",
    "sqs_and_or_group", "sqs_and_phrase", "sqs_and_mixed_group",
    "sqs_or_phrase_group", "sqs_and_phrase_group", "sqs_or_prefix",
    "sqs_phrase_only",
]


@pytest.mark.parametrize("case", QS_CASES)
def test_query_string_forms_equal_two_pass(searcher, case):
    """Every row, to the last bit, equals the two-pass formulation."""
    make, reference = _qs_cases(searcher)[case]
    want = _rows(reference, digits=17)
    assert want and _rows(make(), digits=17) == want


@pytest.mark.parametrize("form", ["query_string", "sqs_and"])
def test_and_forms_run_fewer_warm_jobs(spark, searcher, form):
    s = searcher
    if form == "query_string":
        def make():
            return s.query_string_topk("+data +index search", k=10)
        groups = [(["data"], []), (["index"], [])]
    else:
        def make():
            return s.simple_query_string_topk(
                "data|index search", default_operator="and", k=10)
        groups = [(["data", "index"], []), (["search"], [])]

    def two_pass():
        return s._finish_topk(
            _two_pass_clauses(s, ["data", "index", "search"], groups),
            10, 4, None, False)

    assert make().collect() == two_pass().collect()
    assert _warm_jobs(spark, make) < _warm_jobs(spark, two_pass)


# --- prefix expansion reads the dictionary, not term_stats with Spark --------


def _prefix_sites(s):
    """name → (site call, the same call over the Spark-scan expansion)."""
    big = 10**6

    def dsl(query):
        return lambda: search(s, {"query": query, "size": big}, round_to=None)

    def fixed(prefix, *terms):
        return " ".join(sorted(set(terms) | set(_scan_prefix(s, prefix))))

    return {
        "prefix_topk": (lambda: s.prefix_topk("se", k=big),
                        lambda: s.topk(fixed("se"), k=big)),
        "bool_prefix_topk": (lambda: s.bool_prefix_topk("index se", k=big),
                             lambda: s.topk(fixed("se", "index"), k=big)),
        "sayt_fallback": (lambda: s.sayt_topk("index sea", k=big),
                          lambda: s.topk(fixed("sea", "index"), k=big)),
        "dsl_prefix": (dsl({"prefix": {"text": "se"}}),
                       dsl({"terms": {"text": _scan_prefix(s, "se")}})),
        "dsl_match_bool_prefix": (
            dsl({"match_bool_prefix": {"text": "index se"}}),
            dsl({"match": {"text": fixed("se", "index")}})),
    }


@pytest.mark.parametrize("site", [
    "prefix_topk", "bool_prefix_topk", "sayt_fallback", "dsl_prefix",
    "dsl_match_bool_prefix",
])
def test_prefix_sites_keep_their_rows(spark, searcher, site):
    """query_string's and simple_query_string's ``*`` clauses are checked
    against the Spark scan in ``test_query_string_forms_equal_two_pass``."""
    from kafka_es_spark.operators.wand import build_edge_ngrams

    if site == "sayt_fallback":
        # grams of at most 2 chars: the 3-char prefix falls back to the
        # dictionary
        build_edge_ngrams(spark, searcher.index_dir, 1, 2)
    make, reference = _prefix_sites(searcher)[site]
    want = _rows(reference(), digits=17)
    assert want and _rows(make(), digits=17) == want


def test_warm_prefix_topk_runs_the_jobs_of_its_expansion(spark, searcher):
    s = searcher
    terms = " ".join(index_prefix_terms(spark, s.index_dir, "se", 50))

    def spark_scan():
        return s.topk(" ".join(_scan_prefix(s, "se")))

    prefix = _warm_jobs(spark, lambda: s.prefix_topk("se"))
    assert prefix == _warm_jobs(spark, lambda: s.topk(terms))
    assert prefix == _warm_jobs(spark, spark_scan) - 1


# --- guards ------------------------------------------------------------------


# boosting_topk's negative query is a different term set that demotes docs
# and never gates them, so its two passes do not read the same postings.
PAIRING_EXEMPT = {"boosting_topk"}


def _searcher_calls() -> dict[str, set[str]]:
    """Searcher method → the attribute names it calls."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(wand))
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "Searcher")
    return {
        f.name: {c.func.attr for c in ast.walk(f)
                 if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)}
        for f in cls.body if isinstance(f, ast.FunctionDef)
    }


def test_no_searcher_method_pairs_a_hit_set_with_a_scoring_pass():
    """A scored clause reads its postings once: a method that scores
    counts its required clauses in that pass instead of semi-joining a
    ``matching_doc_ids`` hit set over the same terms."""
    paired = {
        name for name, calls in _searcher_calls().items()
        if "matching_doc_ids" in calls
        and calls & {"relational_scores", "matched_scores"}
    }
    assert paired == PAIRING_EXEMPT


def test_match_validation_is_spelled_once():
    import inspect

    assert inspect.getsource(wand).count("min_should_match must be >= 1") == 1


def test_searchapi_has_no_gate_bool():
    import inspect

    from kafka_es_spark.operators import searchapi

    assert "_gate_bool" not in inspect.getsource(searchapi)

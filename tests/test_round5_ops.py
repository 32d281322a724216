"""Round-5 fixes (ADVICE r4): filter-context should clauses in bool,
phrase-only simple_query_string, one total order across paginated
_search pages, INLINESTATS alias-shadows-BY-key, and mv_slice negative
indices.

Each test pins the ES semantics the advisor flagged as divergent:
a should-only bool of pure filter clauses is a valid hit set (ES never
rejects it), a doc matching only a filter-context should clause stays
in a scoring bool's hit set (0 score contribution), quoted phrases
carry a simple_query_string when no positive terms exist, `from`
pagination ranks every page by the same raw-score total order, an
INLINESTATS agg alias equal to its BY key groups on the original
column and shadows after the join, and mv_slice resolves negative
indices from the end of the array like ES|QL.
"""

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.esql import ESQLError, esql_query
from kafka_es_spark.operators.searchapi import search
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index

SEG_BITS = 6


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx5"))
    build_index(
        spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8,
        store_fields=("lang",),
    )
    return d


@pytest.fixture(scope="module")
def searcher(spark, idx):
    s = Searcher(spark, idx)
    yield s
    s.close()


@pytest.fixture(scope="module")
def docmap(spark, idx):
    return spark.read.parquet(idx + "/docmap")


# --- bool should with filter-context clauses ------------------------------


def test_dsl_should_only_filter_clause_scores_zero(searcher, docmap):
    """{bool:{should:[{range:...}]}} in scoring context: ES returns the
    range matches (it never raises); this engine scores them 0."""
    body = {
        "query": {"bool": {"should": [
            {"range": {"dl": {"gte": 20, "lt": 40}}},
        ]}},
        "size": 500,
    }
    got = {r.doc_id: r.score for r in search(searcher, body).collect()}
    want = {r.doc_id for r in docmap.filter("dl >= 20 and dl < 40").collect()}
    assert set(got) == want and want
    assert all(s == 0.0 for s in got.values())


def test_dsl_filter_context_should_only_bool(searcher, docmap):
    """constant_score over a should-only pure-filter bool: the gate is
    the union of the should clauses (minimum_should_match default 1)."""
    body = {
        "query": {"constant_score": {
            "filter": {"bool": {"should": [
                {"range": {"dl": {"lt": 15}}},
                {"range": {"dl": {"gte": 60}}},
            ]}},
            "boost": 3.0,
        }},
        "size": 500,
    }
    got = {r.doc_id: r.score for r in search(searcher, body).collect()}
    want = {r.doc_id for r in docmap.filter("dl < 15 or dl >= 60").collect()}
    assert set(got) == want and want
    assert all(s == 3.0 for s in got.values())


def test_dsl_scoring_bool_keeps_filter_should_docs(searcher, docmap):
    """A doc matching ONLY the filter-context should clause stays in the
    hit set (score 0); docs matching the scoring clause keep its score
    unchanged (the should range adds nothing)."""
    body = {
        "query": {"bool": {"should": [
            {"match": {"text": "data"}},
            {"range": {"dl": {"gte": 30}}},
        ]}},
        "size": 500,
    }
    got = {r.doc_id: r.score for r in search(searcher, body).collect()}
    data_scores = {
        r.doc_id: r.score for r in searcher.topk("data", k=500).collect()
    }
    in_range = {r.doc_id for r in docmap.filter("dl >= 30").collect()}
    assert set(got) == set(data_scores) | in_range
    only_range = in_range - set(data_scores)
    assert only_range, "fixture must contain range-only matches"
    for d in only_range:
        assert got[d] == 0.0
    for d, s in data_scores.items():
        assert got[d] == s


# --- simple_query_string: phrase-only query --------------------------------


def test_sqs_phrase_only_returns_phrase_matches(spark, pages, tmp_path_factory):
    from kafka_es_spark.operators.positions import (
        build_position_index, phrase_match_ids,
    )

    d = str(tmp_path_factory.mktemp("idx5p"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    build_position_index(spark, pages, d)
    s = Searcher(spark, d, cache=False)

    got = {
        r.doc_id: r.score
        for r in s.simple_query_string_topk('"index search"', k=400).collect()
    }
    pm = {r.doc_id for r in phrase_match_ids(spark, d, "index search").collect()}
    assert set(got) == pm and pm
    assert all(v == 0.0 for v in got.values())

    # negation still applies on top of the phrase hit set
    neg = {
        r.doc_id
        for r in s.simple_query_string_topk(
            '"index search" -data', k=400
        ).collect()
    }
    dd = {r.doc_id for r in s.matching_doc_ids("data").collect()}
    assert neg == pm - dd


# --- pagination: one total order across pages ------------------------------


def test_dsl_from_pages_partition_page0_order(searcher):
    full = [
        (r.doc_id, r.score)
        for r in search(searcher, {"query": {"match": {"text": "data"}},
                                   "size": 20}).collect()
    ]
    p0 = [
        (r.doc_id, r.score)
        for r in search(searcher, {"query": {"match": {"text": "data"}},
                                   "from": 0, "size": 10}).collect()
    ]
    p1 = [
        (r.doc_id, r.score)
        for r in search(searcher, {"query": {"match": {"text": "data"}},
                                   "from": 10, "size": 10}).collect()
    ]
    assert p0 + p1 == full


# --- ES|QL: INLINESTATS alias == BY key; mv_slice negatives ---------------


def test_inlinestats_alias_equals_by_key(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "v long, n string"
    )
    rows = esql_query(
        spark, "FROM t | INLINESTATS n = count(*) BY n | SORT v", {"t": df}
    ).collect()
    # groups on the ORIGINAL n ('a': 2 rows, 'b': 1), then the agg value
    # shadows the key column
    assert [(r.v, r.n) for r in rows] == [(1, 2), (2, 2), (3, 1)]


# --- index-time bigram stats for phrase_suggest ----------------------------


def test_bigram_counts_equals_window_transitions(spark):
    from kafka_es_spark.functions.tokenize import tokens
    from kafka_es_spark.operators.cooccur import bigram_counts

    df = spark.createDataFrame(
        [("a", "x y x y z"), ("b", "x"), ("c", ""), ("d", "y z")],
        "url string, text string",
    )
    got = {(r.prev, r.cur): r.n for r in bigram_counts(df, tokens("text")).collect()}
    assert got == {
        ("x", "y"): 2, ("y", "x"): 1, ("y", "z"): 2,
    }


def test_phrase_suggest_bigram_stats_identical_and_no_corpus_scan(
    spark, pages, tmp_path_factory
):
    from kafka_es_spark.plans.build_index import build_bigram_stats

    d = str(tmp_path_factory.mktemp("idx5b"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    docs = pages.select("url", "text")
    s = Searcher(spark, d, cache=False)
    corpus_path = [
        (r.suggestion, r.score, r.n_changed)
        for r in s.phrase_suggest("dita indev", docs, max_errors=2,
                                  size=10).collect()
    ]
    stats = build_bigram_stats(spark, pages, d)
    assert stats["transitions"] > 0
    indexed_path = [
        (r.suggestion, r.score, r.n_changed)
        for r in s.phrase_suggest("dita indev", max_errors=2,
                                  size=10).collect()
    ]
    assert indexed_path == corpus_path and indexed_path
    # with no bigram_stats and no docs_text the call must fail loudly
    d2 = str(tmp_path_factory.mktemp("idx5c"))
    build_index(spark, pages, d2, seg_bits=SEG_BITS, n_term_buckets=8)
    s2 = Searcher(spark, d2, cache=False)
    with pytest.raises(ValueError, match="bigram_stats"):
        s2.phrase_suggest("dita indev")


def test_mv_slice_negative_indices(spark):
    df = spark.createDataFrame([([10, 20, 30, 40],)], "xs array<int>")
    rows = esql_query(
        spark,
        "FROM t | EVAL last2 = mv_slice(xs, -2, -1), "
        "head = mv_slice(xs, 0, 1), "
        "tailneg = mv_slice(xs, 2, -1), "
        "past = mv_slice(xs, -9, 0)",
        {"t": df},
    ).collect()
    r = rows[0]
    assert r.last2 == [30, 40]
    assert r.head == [10, 20]
    assert r.tailneg == [30, 40]
    assert r.past == [10]  # start clamps to the array head


# --- painless-lite script updates (X9 remainder) ---------------------------


def test_painless_counter_increment_golden(spark):
    """The reference's golden script (BulkActionTests.kt:193-201):
    ctx._source.counter += params.param1."""
    from kafka_es_spark.operators.painless import script_update

    df = spark.createDataFrame(
        [("a", 10), ("b", 0)], "id string, counter long"
    )
    got = {
        r.id: r.counter
        for r in script_update(
            df, "ctx._source.counter += params.param1", {"param1": 1}
        ).collect()
    }
    assert got == {"a": 11, "b": 1}


def test_painless_sequential_ternary_concat_remove(spark):
    from kafka_es_spark.operators.painless import script_update

    df = spark.createDataFrame(
        [(1, 4, "en", "x"), (2, 60, "de", "y")],
        "id long, n long, lang string, junk string",
    )
    src = (
        "ctx._source.n = ctx._source.n * 2;"
        "ctx._source.lang = ctx._source.n > 100 ? 'big-' + ctx._source.lang"
        " : ctx._source.lang;"
        "ctx._source.remove('junk')"
    )
    rows = {r.id: r for r in script_update(df, src).collect()}
    # second statement sees the doubled n (sequential semantics)
    assert (rows[1].n, rows[1].lang, rows[1].junk) == (8, "en", None)
    assert (rows[2].n, rows[2].lang, rows[2].junk) == (120, "big-de", None)


def test_painless_ctx_op_delete_and_none(spark):
    from kafka_es_spark.operators.painless import script_update

    df = spark.createDataFrame(
        [(1, 5), (2, 50), (3, 500)], "id long, n long"
    )
    src = (
        "ctx._source.n = ctx._source.n + 1;"
        "ctx.op = ctx._source.n > 400 ? 'delete'"
        " : (ctx._source.n > 40 ? 'none' : 'index')"
    )
    rows = {r.id: r.n for r in script_update(df, src).collect()}
    assert rows == {1: 6, 2: 50}  # 2 kept ORIGINAL (none); 3 deleted


def test_painless_where_scopes_and_math(spark):
    from pyspark.sql import functions as SF

    from kafka_es_spark.operators.painless import script_update

    df = spark.createDataFrame([(1, -7.5), (2, 3.0)], "id long, v double")
    out = {
        r.id: r.v
        for r in script_update(
            df, "ctx._source.v = Math.min(Math.abs(ctx._source.v), 5.0)",
            where=SF.col("id") == 1,
        ).collect()
    }
    assert out == {1: 5.0, 2: 3.0}


def test_painless_rejects_out_of_subset(spark):
    from kafka_es_spark.operators.painless import (
        PainlessError, ScriptPlan, script_update,
    )

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(PainlessError):
        ScriptPlan("for (int i = 0; i < 3; i++) { }")
    with pytest.raises(PainlessError):
        ScriptPlan("ctx._source.x = params.nope")
    with pytest.raises(PainlessError, match="not a column"):
        script_update(df, "ctx._source.ghost = 1").collect()


def test_update_by_query_script(spark, pages, tmp_path):
    """ES _update_by_query with a painless script body: stored-field
    rewrite via the compiled plan; non-stored assignment and ctx.op
    both refuse."""
    from kafka_es_spark.operators.deletes import update_by_query
    from kafka_es_spark.operators.painless import PainlessError
    from kafka_es_spark.operators.wand import Searcher

    d = str(tmp_path / "idx_ubq")
    build_index(
        spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4,
        store_fields=("lang",),
    )
    n = update_by_query(
        spark, d, "data",
        script="ctx._source.lang = 'xx-' + ctx._source.lang",
    )
    assert n > 0
    s = Searcher(spark, d, cache=False)
    hit = {r.doc_id for r in s.matching_doc_ids("data").collect()}
    dm = {r.doc_id: r.lang for r in
          spark.read.parquet(d + "/docmap").collect()}
    for doc, lang in dm.items():
        assert lang.startswith("xx-") == (doc in hit)
    with pytest.raises(ValueError, match="stored fields"):
        update_by_query(spark, d, "data", script="ctx._source.title = 'x'")
    with pytest.raises(PainlessError, match="ctx.op"):
        update_by_query(spark, d, "data", script="ctx.op = 'delete'")
    with pytest.raises(ValueError, match="exactly one"):
        update_by_query(spark, d, "data")


# --- script_score / function_score queries ---------------------------------


def _match_scores(searcher):
    return {
        r.doc_id: r.score
        for r in searcher.relational_scores("data").collect()
    }


def test_dsl_script_score(searcher, docmap):
    body = {
        "query": {"match": {"text": "data"}},
        "script": {
            "source": "_score * params.boost + doc['dl'].value / 100.0",
            "params": {"boost": 2},
        },
    }
    got = {
        r.doc_id: r.score
        for r in search(
            searcher, {"query": {"script_score": body}, "size": 500}
        ).collect()
    }
    dl = {r.doc_id: r.dl for r in docmap.collect()}
    want = {
        d: round(s * 2 + dl[d] / 100.0, 4)
        for d, s in _match_scores(searcher).items()
    }
    assert got == want and got


def test_dsl_script_score_min_score_and_filter_inner(searcher, docmap):
    """Filter-context inner query scores 1.0; min_score drops hits."""
    body = {
        "query": {"range": {"dl": {"gte": 10}}},
        "script": {"source": "_score * doc['dl'].value"},
        "min_score": 25,
    }
    got = {
        r.doc_id: r.score
        for r in search(
            searcher, {"query": {"script_score": body}, "size": 500}
        ).collect()
    }
    want = {
        r.doc_id: float(r.dl)
        for r in docmap.filter("dl >= 25").collect()
    }
    assert got == want and got


def test_dsl_function_score_sum_multiply(searcher, docmap):
    body = {
        "query": {"match": {"text": "data"}},
        "functions": [
            {"filter": {"range": {"dl": {"gte": 30}}}, "weight": 3.0},
            {"field_value_factor": {
                "field": "dl", "factor": 0.01, "modifier": "sqrt",
            }},
        ],
        "score_mode": "sum",
        "boost_mode": "multiply",
    }
    got = {
        r.doc_id: r.score
        for r in search(
            searcher, {"query": {"function_score": body}, "size": 500}
        ).collect()
    }
    import math

    dl = {r.doc_id: r.dl for r in docmap.collect()}
    want = {}
    for d, s in _match_scores(searcher).items():
        fs = math.sqrt(dl[d] * 0.01) + (3.0 if dl[d] >= 30 else 0.0)
        want[d] = round(s * fs, 4)
    assert got == want and got


def test_dsl_function_score_script_fn_max_boost_replace(searcher, docmap):
    body = {
        "query": {"match": {"text": "data"}},
        "functions": [
            {"script_score": {
                "script": {"source": "doc['dl'].value % 7"},
            }, "weight": 2.0},
        ],
        "score_mode": "multiply",
        "max_boost": 9.0,
        "boost_mode": "replace",
    }
    got = {
        r.doc_id: r.score
        for r in search(
            searcher, {"query": {"function_score": body}, "size": 500}
        ).collect()
    }
    dl = {r.doc_id: r.dl for r in docmap.collect()}
    want = {
        d: round(min((dl[d] % 7) * 2.0, 9.0), 4)
        for d in _match_scores(searcher)
    }
    assert got == want and got


def test_dsl_function_score_no_match_neutral(searcher):
    """A doc matched by the query but by NO function keeps fs=1.0."""
    body = {
        "query": {"match": {"text": "data"}},
        "functions": [
            {"filter": {"range": {"dl": {"gte": 10000}}}, "weight": 5.0},
        ],
        "score_mode": "sum",
        "boost_mode": "multiply",
    }
    got = {
        r.doc_id: r.score
        for r in search(
            searcher, {"query": {"function_score": body}, "size": 500}
        ).collect()
    }
    want = {d: round(s, 4) for d, s in _match_scores(searcher).items()}
    assert got == want and got


# --- rescore section --------------------------------------------------------


def test_dsl_rescore_window_semantics(searcher):
    """Top-window docs get qw*orig + rqw*rescore (or qw*orig when the
    rescore query misses them); docs outside the window keep their
    ORIGINAL score; everything re-sorts together (ES semantics)."""
    body = {
        "query": {"match": {"text": "data"}},
        "rescore": {
            "window_size": 5,
            "query": {
                "rescore_query": {"match": {"text": "index"}},
                "query_weight": 0.7,
                "rescore_query_weight": 1.2,
                "score_mode": "total",
            },
        },
        "size": 500,
    }
    got = [
        (r.doc_id, r.score) for r in search(searcher, body).collect()
    ]
    orig = {
        r.doc_id: r.score
        for r in searcher.relational_scores("data").collect()
    }
    rsc = {
        r.doc_id: r.score
        for r in searcher.relational_scores("index").collect()
    }
    window = sorted(orig, key=lambda d: (-orig[d], d))[:5]
    want = {}
    for d, s in orig.items():
        if d in window:
            want[d] = 0.7 * s + (1.2 * rsc[d] if d in rsc else 0.0)
        else:
            want[d] = s
    expect = sorted(
        ((d, round(s, 4)) for d, s in want.items()),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == expect and len(got) > 5


def test_dsl_rescore_rejects_sort(searcher):
    from kafka_es_spark.operators.searchapi import DSLError

    body = {
        "query": {"match": {"text": "data"}},
        "sort": [{"dl": "asc"}],
        "rescore": {"window_size": 5, "query": {
            "rescore_query": {"match": {"text": "index"}},
        }},
    }
    with pytest.raises(DSLError, match="rescore"):
        search(searcher, body)


# --- bulk Update actions with script bodies --------------------------------


def test_apply_script_actions_seq_order_and_params(spark):
    """The reference's scripted bulk Update shape applied at build time:
    per-doc seq order respected across different scripts; per-action
    params bind at compile time; untargeted docs pass through."""
    from kafka_es_spark.operators.deletes import apply_script_actions

    docs = spark.createDataFrame(
        [("a", 10, "x"), ("b", 100, "y"), ("c", 7, "z")],
        "url string, counter long, tag string",
    )
    actions = spark.createDataFrame(
        [
            # a: seq1 += 5  then seq2 *= 2  -> (10+5)*2 = 30
            ("a", 1, "ctx._source.counter += params.p", '{"p": 5}'),
            ("a", 2, "ctx._source.counter *= 2", None),
            # b: seq1 *= 2  then seq2 += 5  -> 100*2+5 = 205
            ("b", 1, "ctx._source.counter *= 2", None),
            ("b", 2, "ctx._source.counter += params.p", '{"p": 5}'),
        ],
        "url string, seq long, script string, params string",
    )
    got = {
        r.url: (r.counter, r.tag)
        for r in apply_script_actions(docs, actions).collect()
    }
    assert got == {"a": (30, "x"), "b": (205, "y"), "c": (7, "z")}


def test_apply_script_actions_delete_and_cap(spark):
    from kafka_es_spark.operators import deletes as dmod
    from kafka_es_spark.operators.deletes import apply_script_actions

    docs = spark.createDataFrame(
        [("a", 1), ("b", 2)], "url string, n long"
    )
    actions = spark.createDataFrame(
        [("a", 1, "ctx.op = 'delete'", None)],
        "url string, seq long, script string, params string",
    )
    got = {r.url for r in apply_script_actions(docs, actions).collect()}
    assert got == {"b"}

    many = spark.createDataFrame(
        [("a", i, f"ctx._source.n += {i}", None) for i in range(5)],
        "url string, seq long, script string, params string",
    )
    old = dmod.MAX_SCRIPT_COMBOS
    dmod.MAX_SCRIPT_COMBOS = 3
    try:
        with pytest.raises(ValueError, match="MAX_SCRIPT_COMBOS"):
            apply_script_actions(docs, many)
    finally:
        dmod.MAX_SCRIPT_COMBOS = old


# --- ES|QL round-5 scalar functions ----------------------------------------


def test_esql_new_scalar_functions(spark):
    df = spark.createDataFrame(
        [("abc", [3, 1, 2, 4], [10, 20])],
        "s string, xs array<int>, ys array<int>",
    )
    rows = esql_query(
        spark,
        "FROM t | EVAL r = reverse(s), rep = repeat(s, 2), "
        "b64 = to_base64(s), rt = from_base64(to_base64(s)), "
        "h = md5(s), bl = bit_length(s), "
        'med = mv_median(xs), mc = mv_concat(mv_sort(xs), "-"), '
        'ap = mv_append(ys, 30), z = mv_zip(ys, ys, ":"), '
        "sg = signum(-7.0), c = round(cos(0.0), 4), p = round(pi(), 4)",
        {"t": df},
    ).collect()
    r = rows[0]
    assert r.r == "cba" and r.rep == "abcabc"
    assert r.rt == "abc" and len(r.h) == 32 and r.bl == 24
    assert r.med == 2.5 and r.mc == "1-2-3-4"
    assert r.ap == [10, 20, 30] and r.z == ["10:10", "20:20"]
    assert r.sg == -1.0 and r.c == 1.0 and r.p == 3.1416


# --- ES-8 rank.rrf hybrid (query + knn in one body) ------------------------


def test_dsl_rank_rrf_hybrid(spark, searcher):
    """query + knn + rank.rrf fuses the two retrievers' top windows by
    reciprocal rank; doc ids are the shared id space."""
    import math

    from kafka_es_spark.operators.searchapi import search

    lex = {
        r.doc_id: r.score
        for r in searcher.relational_scores("data").collect()
    }
    lex_rank = {
        d: i + 1
        for i, d in enumerate(sorted(lex, key=lambda d: (-lex[d], d))[:20])
    }
    docs = sorted(lex)[:6]
    vecs = {d: [math.cos(d), math.sin(d)] for d in docs}
    emb = spark.createDataFrame(
        [(d, v) for d, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    qv = [1.0, 0.0]
    cos = {
        d: v[0] / math.hypot(*v) for d, v in vecs.items()
    }
    knn_rank = {
        d: i + 1
        for i, d in enumerate(sorted(cos, key=lambda d: (-cos[d], d))[:4])
    }
    want = {}
    for d in set(lex_rank) | set(knn_rank):
        s = 0.0
        if d in lex_rank:
            s += 1.0 / (60 + lex_rank[d])
        if d in knn_rank:
            s += 1.0 / (60 + knn_rank[d])
        want[d] = round(s, 4)
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:5]

    body = {
        "query": {"match": {"text": "data"}},
        "knn": {"query_vector": qv, "k": 4},
        "rank": {"rrf": {"rank_window_size": 20}},
        "size": 5,
    }
    got = [
        (r.doc_id, r.score)
        for r in search(searcher, body, embeddings=emb).collect()
    ]
    assert got == top


# --- boosting query ---------------------------------------------------------


def test_dsl_boosting_demotes_not_excludes(searcher):
    """Docs matching the negative clause stay in the hit set with their
    score × negative_boost; everyone else keeps the plain match score."""
    base = {
        r.doc_id: r.score
        for r in searcher.relational_scores("spark query").collect()
    }
    neg = {r.doc_id for r in searcher.matching_doc_ids("data").collect()}
    body = {
        "query": {"boosting": {
            "positive": {"match": {"text": "spark query"}},
            "negative": {"term": {"text": "data"}},
            "negative_boost": 0.25,
        }},
        "size": 500,
    }
    got = {r.doc_id: r.score for r in search(searcher, body).collect()}
    assert set(got) == set(base)
    demoted = set(base) & neg
    assert demoted, "fixture must contain docs matching both clauses"
    for d, s in base.items():
        want = s * 0.25 if d in neg else s
        assert got[d] == pytest.approx(round(want, 4), abs=1e-4)


def test_dsl_boosting_default_negative_boost(searcher):
    """negative_boost defaults to 0.5 (the ES default is mandatory in the
    API but 0.5 is this engine's documented default)."""
    body = {
        "query": {"boosting": {
            "positive": {"match": {"text": "spark"}},
            "negative": {"range": {"dl": {"gte": 40}}},
        }},
        "size": 500,
    }
    base = {
        r.doc_id: r.score for r in searcher.relational_scores("spark").collect()
    }
    got = {r.doc_id: r.score for r in search(searcher, body).collect()}
    assert set(got) == set(base)
    assert any(
        got[d] == pytest.approx(round(s * 0.5, 4), abs=1e-4)
        for d, s in base.items() if got[d] != pytest.approx(s, abs=1e-4)
    )


# --- field collapse ---------------------------------------------------------


def test_dsl_collapse_one_hit_per_group(searcher, docmap):
    """collapse.field=lang: one hit per distinct lang, the group's
    best-scoring doc (score desc, doc_id asc tie-break), ranked by that
    score."""
    scores = {
        r.doc_id: r.score
        for r in searcher.relational_scores("spark query join").collect()
    }
    lang = {r.doc_id: r.lang for r in docmap.collect()}
    groups: dict = {}
    for d, s in scores.items():
        g = lang[d]
        cur = groups.get(g)
        # engine tie-break: max_by (score, -doc_id) — highest score, then
        # lowest doc_id
        if cur is None or (s, -d) > (scores[cur], -cur):
            groups[g] = d
    body = {
        "query": {"match": {"text": "spark query join"}},
        "collapse": {"field": "lang"},
        "size": 100,
    }
    got = [(r.lang, r.doc_id, r.score) for r in search(searcher, body).collect()]
    assert len(got) == len(groups)
    assert {g for g, _, _ in got} == set(groups)
    for g, d, s in got:
        assert d == groups[g]
        assert s == pytest.approx(round(scores[d], 4), abs=1e-4)
    # ranked by the representative score desc
    vals = [s for _, _, s in got]
    assert vals == sorted(vals, reverse=True) or len(set(vals)) < len(vals)


def test_dsl_collapse_rejects_sort(searcher):
    from kafka_es_spark.operators.searchapi import DSLError

    body = {
        "query": {"match": {"text": "spark"}},
        "collapse": {"field": "lang"},
        "sort": [{"dl": "asc"}],
    }
    with pytest.raises(DSLError, match="collapse"):
        search(searcher, body)


# --- span_or: one combined SimScorer over the clause union ----------------


def test_span_or_matches_python_recompute(spark, searcher, pages):
    """span_or('data','query') scores every union doc with summed idf and
    tf_a+tf_b span freq — recomputed in python from the raw pages."""
    import math

    from kafka_es_spark.functions.tokenize import tokenize_py

    rows = pages.select("url", "text").collect()
    toks = {r["url"]: tokenize_py(r["text"]) for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    terms = ["data", "query"]
    w = 0.0
    for t in terms:
        df = sum(1 for tk in toks.values() if t in tk)
        if df:
            w += math.log(1 + (n - df + 0.5) / (df + 0.5))
    exp = {}
    for url, tk in toks.items():
        tf = sum(tk.count(t) for t in terms)
        if tf:
            dl = len(tk)
            exp[url] = round(
                w * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4
            )
    got = {
        r["url"]: r["score"]
        for r in searcher.span_or_topk(terms, k=len(exp), with_url=True)
        .collect()
    }
    top = dict(sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)])
    assert got and got == {u: top[u] for u in got}


def test_span_or_differs_from_boolean_or(searcher):
    """The union SimScorer saturates tf jointly — a doc heavy in both
    terms must NOT score like the per-term BooleanQuery OR sum."""
    so = {r.doc_id: r.score for r in
          searcher.span_or_topk(["data", "query"], k=5).collect()}
    bo = {r.doc_id: r.score for r in
          searcher.topk("data query", k=5).collect()}
    assert so and bo and so != bo


def test_span_or_rejects_multi_token_clause(searcher):
    with pytest.raises(ValueError, match="one term"):
        searcher.span_or_topk(["data query"])


# --- join-field and nested AGGREGATIONS (children / parent / reverse) ------


@pytest.fixture(scope="module")
def children(spark, docmap):
    """Synthesized join-field children: 3 rows per parent url, kind
    cycling x/y by row, val = doc_id*10 + i."""
    return (
        docmap.select("doc_id", "url")
        .selectExpr(
            "url AS parent_url",
            "explode(transform(sequence(0, 2), i -> named_struct("
            "'kind', IF((doc_id + i) % 2 = 0, 'x', 'y'),"
            "'val', doc_id * 10 + i))) AS c",
        )
        .select("parent_url", "c.kind", "c.val")
        .cache()
    )


def test_children_agg_counts_child_docs(searcher, docmap, children):
    """children agg doc_count = CHILD rows under matching parents — every
    parent has exactly 3 children, so totals are 3 × parent hits split
    by the kind cycle."""
    out = {
        r.key: r.doc_count
        for r in searcher.children_agg("data", children, "kind").collect()
    }
    n_parents = searcher.matching_doc_ids("data").count()
    assert sum(out.values()) == 3 * n_parents
    assert set(out) == {"x", "y"} and min(out.values()) > 0


def test_parent_agg_counts_each_parent_once(spark, searcher, docmap, children):
    """parent agg doc_count = DISTINCT parents with >= 1 matching child;
    a parent with two matching children still counts once."""
    fv = docmap.selectExpr(
        "url", "IF(doc_id % 2 = 0, 'even', 'odd') AS par"
    )
    out = {
        r.key: r.doc_count
        for r in searcher.parent_agg(
            children, "kind = 'x'", fv, "par"
        ).collect()
    }
    # every parent owns >= 1 'x' child (3 consecutive i hit both parities)
    want = {
        r.par: r.cnt
        for r in fv.groupBy("par").agg(F.count("*").alias("cnt")).collect()
    }
    assert out == want


def test_reverse_nested_parent_vs_element_counts(searcher, docmap):
    """nested terms + reverse_nested: element count can exceed the
    distinct-parent count, parent_count never exceeds doc_count."""
    fv = docmap.selectExpr(
        "url",
        "transform(sequence(0, 3), i -> named_struct("
        "'kind', element_at(array('a','b','c'), "
        "CAST((doc_id + i) % 3 AS INT) + 1), 'size', i)) AS items",
    )
    rows = searcher.nested_terms_reverse_nested(
        "data", fv, "items", "x.kind"
    ).collect()
    n_hits = searcher.matching_doc_ids("data").count()
    assert {r.key for r in rows} == {"a", "b", "c"}
    for r in rows:
        assert r.parent_count == n_hits  # 4 elems over mod-3 → all kinds
        assert r.doc_count >= r.parent_count
    assert sum(r.doc_count for r in rows) == 4 * n_hits


def test_painless_if_else_blocks(spark):
    """if (cond) { ... } [else if / else] — the canonical painless
    conditional — compiles to conditional-assignment merges (one
    projection, sequential semantics preserved)."""
    from kafka_es_spark.operators.painless import script_update

    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 200, "de")], "doc_id long, dl long, lang string"
    )
    out = script_update(
        df, "if (ctx._source.dl > 100) { ctx.op = 'delete' }"
    ).collect()
    assert [r.doc_id for r in out] == [1]

    out = {r.doc_id: r.lang for r in script_update(
        df,
        "if (ctx._source.dl > 100) { ctx._source.lang = 'big' } "
        "else { ctx._source.lang = 'small' }",
    ).collect()}
    assert out == {1: "small", 2: "big"}

    out = {r.doc_id: r.dl for r in script_update(
        df,
        "if (ctx._source.dl > 500) { ctx._source.dl = 500 } "
        "else if (ctx._source.dl > 100) { ctx._source.dl = 100 } "
        "else { ctx._source.dl += 1 }",
    ).collect()}
    assert out == {1: 11, 2: 100}

    # braceless single-statement form; compound op inside the branch
    out = {r.doc_id: r.dl for r in script_update(
        df, "if (ctx._source.lang == 'en') ctx._source.dl *= 2"
    ).collect()}
    assert out == {1: 20, 2: 200}


def test_score_script_math_and_helpers(searcher):
    """script_score: the Math.log/sqrt family and the ES saturation /
    sigmoid helpers compile to Columns (saturation(x,p) = x/(x+p),
    sigmoid(x,k,a) = x^a/(k^a+x^a))."""
    from kafka_es_spark.operators.searchapi import search

    def run(src):
        return search(searcher, {"query": {"script_score": {
            "query": {"match": {"text": "data"}},
            "script": {"source": src}}}, "size": 5}).collect()

    base = {r.doc_id: r.score for r in run("_score")}
    logd = {r.doc_id: r.score for r in run("Math.log(1 + _score)")}
    import math
    for d, sc in logd.items():
        assert sc == pytest.approx(round(math.log(1 + base[d]), 4), abs=3e-4)
    sat = run("saturation(doc['dl'].value, 10)")
    assert all(0 < r.score < 1 for r in sat)
    sig = run("sigmoid(doc['dl'].value, 50, 2)")
    assert all(0 < r.score < 1 for r in sig)


def test_function_score_decay_and_random(spark, searcher, idx):
    """functions[] decay (gauss/exp/linear) and random_score now
    compute real factors (previously silently 1.0); unknown function
    kinds fail loudly."""
    import math

    from kafka_es_spark.operators.searchapi import DSLError, search

    Q = {"match": {"text": "data"}}
    base = {r.doc_id: r.score for r in search(
        spark and searcher, {"query": Q, "size": 10_000}).collect()}
    dls = {r.doc_id: r.dl for r in spark.read.parquet(idx + "/docmap")
           .select("doc_id", "dl").collect()}

    rows = search(searcher, {"query": {"function_score": {
        "query": Q,
        "functions": [{"gauss": {"dl": {"origin": 60, "scale": 20}}}],
    }}, "size": 5}).collect()
    for r in rows:
        d = abs(dls[r.doc_id] - 60)
        sigma2 = -20.0 * 20.0 / (2.0 * math.log(0.5))
        want = base[r.doc_id] * math.exp(-(d * d) / (2 * sigma2))
        assert r.score == pytest.approx(round(want, 4), abs=3e-4)

    rows = search(searcher, {"query": {"function_score": {
        "query": Q,
        "functions": [{"random_score": {"seed": 42}}],
    }}, "size": 5}).collect()
    # deterministic across runs, and genuinely scrambles (not all 1.0)
    again = search(searcher, {"query": {"function_score": {
        "query": Q,
        "functions": [{"random_score": {"seed": 42}}],
    }}, "size": 5}).collect()
    assert [(r.doc_id, r.score) for r in rows] == [
        (r.doc_id, r.score) for r in again
    ]
    assert any(r.score != pytest.approx(base[r.doc_id]) for r in rows)

    with pytest.raises(DSLError, match="function kind"):
        search(searcher, {"query": {"function_score": {
            "query": Q, "functions": [{"nonsense": {}}]}}})

"""One aggregation compiler: every aggregation kind the ``Searcher``
methods and the ``_search`` ``aggs`` section share runs one kernel of
``operators/aggs.py``, over one hit-field input (``Searcher._agg_input``).

The cross-surface tests run the same spec through the ``Searcher`` method
and through ``search(..., {"aggs": ...})`` and, after each surface's own
renaming, require equal rows AND equal Spark column types. The AST guards
keep the second copy from coming back: ``_run_aggs`` only parses and
dispatches, no aggregation primitive is spelled in ``wand.py`` or
``searchapi.py``, and no aggregation method joins its field relation by
hand. The last tests pin ``terms_enum``'s dictionary read."""

import ast
import itertools
import os

import pytest
from pyspark.sql import functions as F

from kafka_es_spark.operators import aggs
from kafka_es_spark.operators.searchapi import search
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index

OPS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_es_spark", "operators",
)
Q = "data index"


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_aggs"))
    # opt: a nullable stored field, so missing/value_count have nulls
    p = pages.withColumn(
        "opt",
        F.when(F.length("url") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), (F.length("url") % 2).cast("string"))),
    )
    build_index(spark, p, d, seg_bits=6, n_term_buckets=8,
                store_fields=("lang", "opt"))
    return d


@pytest.fixture(scope="module")
def searcher(spark, idx):
    s = Searcher(spark, idx)
    yield s
    s.close()


@pytest.fixture(scope="module")
def fv(searcher):
    """The stored fields as an external (url, ...) relation, so each
    Searcher method takes its url-keyed path."""
    return searcher.docmap.select("url", "lang", "opt", "dl")


def _dsl(s, spec, **kw):
    return search(s, {"query": {"match": {"text": Q}}, "aggs": {"a": spec}},
                  **kw)


def _assert_same(method, dsl):
    assert [(f.name, f.dataType) for f in method.schema] == [
        (f.name, f.dataType) for f in dsl.schema
    ]
    want = method.collect()
    assert want and dsl.collect() == want


def _pairs(s, fv, docs_text):
    """kind → (Searcher frame, _search frame renamed to the Searcher's
    spelling)."""
    def body(spec, **kw):
        return _dsl(s, spec, **kw)

    ext_cols = ["n_docs_agg", "min_v", "max_v", "sum_v", "sum_sq", "avg_v",
                "variance", "std_dev"]
    metrics = {f"{k}_v": {k: {"field": "dl"}} for k in ("avg", "sum", "min", "max")}
    return {
        "stats": (
            s.agg_stats(Q, fv, "dl"),
            body({"stats": {"field": "dl"}})),
        "extended_stats": (
            s.agg_extended_stats(Q, fv, "dl"),
            body({"extended_stats": {"field": "dl"}}).select(*ext_cols)),
        "cardinality": (
            s.agg_cardinality(Q, fv, "lang", exact=True),
            body({"cardinality": {"field": "lang", "exact": True}})),
        "value_count": (
            s.agg_value_count(Q, fv, "opt").select("value_count"),
            body({"value_count": {"field": "opt"}}).select(
                F.col("a").alias("value_count"))),
        "missing": (
            s.agg_missing(Q, "opt", fv),
            body({"missing": {"field": "opt"}})),
        "percentiles": (
            s.agg_percentiles(Q, fv, "dl", [0.25, 0.5, 0.9]),
            body({"percentiles": {"field": "dl", "percents": [25, 50, 90]}})
            .select((F.col("pct") / 100.0).alias("pct"), "value")),
        "histogram": (
            s.agg_histogram(Q, fv, "dl", 20),
            body({"histogram": {"field": "dl", "interval": 20}}).select(
                F.col("bucket_key").cast("long").alias("bucket"),
                "doc_count")),
        "range": (
            s.agg_ranges(Q, fv, "dl", [(None, 40), (40, 80), (80, None)]),
            body({"range": {"field": "dl", "ranges": [
                {"to": 40}, {"from": 40, "to": 80}, {"from": 80},
            ]}}).select(F.col("bucket").alias("range_key"), "doc_count")),
        "terms_metrics": (
            s.terms_metric_agg(Q, fv, "lang", "dl", size=5),
            body({"terms": {"field": "lang", "size": 5}, "aggs": metrics})
            .withColumnRenamed("value", "lang")),
        "composite": (
            s.agg_composite(Q, fv, ["lang"], size=3, after=("de",)),
            body({"composite": {
                "sources": [{"l": {"terms": {"field": "lang"}}}],
                "size": 3, "after": {"l": "de"},
            }}).withColumnRenamed("l", "lang")),
        "top_hits": (
            s.top_hits(Q, fv, "lang", buckets=3, per_bucket=2, round_to=None)
            .withColumn("score", F.round("score", 4)),
            body({"terms": {"field": "lang", "size": 3},
                  "aggs": {"t": {"top_hits": {"size": 2}}}})
            .withColumnRenamed("value", "lang")),
        "significant_terms": (
            s.significant_terms(Q, docs_text, size=5, min_doc_count=2),
            body({"significant_text": {"field": "text", "size": 5,
                                       "min_doc_count": 2}},
                 docs_text=docs_text)),
    }


KINDS = ["stats", "extended_stats", "cardinality", "value_count", "missing",
         "percentiles", "histogram", "range", "terms_metrics", "composite",
         "top_hits", "significant_terms"]


@pytest.mark.parametrize("kind", KINDS)
def test_searcher_and_search_body_agree(searcher, fv, pages, kind):
    method, dsl = _pairs(searcher, fv, pages.select("url", "text"))[kind]
    _assert_same(method, dsl)


def test_repeated_range_counts_once_per_bucket(searcher, fv):
    """Two requested ranges with the same key are two buckets, each with
    its own count, on both surfaces."""
    one = searcher.agg_ranges(Q, fv, "dl", [(None, 40)]).collect()
    two = searcher.agg_ranges(Q, fv, "dl", [(None, 40), (None, 40)]).collect()
    assert one[0].doc_count > 0 and two == one * 2
    dsl = _dsl(searcher, {"range": {"field": "dl", "ranges": [
        {"to": 40}, {"to": 40},
    ]}}).collect()
    assert [r.doc_count for r in dsl] == [one[0].doc_count] * 2


def test_stored_and_external_inputs_agree(searcher, fv):
    """``_agg_input``'s dense-id stored path and its url-keyed external
    path give the same rows."""
    assert (searcher.facet_terms(Q, None, "lang").collect()
            == searcher.facet_terms(Q, fv, "lang").collect())
    with pytest.raises(ValueError, match="not stored in this index's docmap"):
        searcher.facet_terms(Q, None, "nope")


# ------------------------------------------------------------ AST guards


def _tree(name):
    with open(os.path.join(OPS, name)) as f:
        return ast.parse(f.read())


def _searcher_methods():
    cls = next(n for n in _tree("wand.py").body
               if isinstance(n, ast.ClassDef) and n.name == "Searcher")
    return {m.name: m for m in cls.body if isinstance(m, ast.FunctionDef)}


def _kind_branch(test):
    """'x' for an ``if kind == "x"`` test, else None."""
    if (isinstance(test, ast.Compare) and isinstance(test.left, ast.Name)
            and test.left.id == "kind" and isinstance(test.ops[0], ast.Eq)
            and isinstance(test.comparators[0], ast.Constant)):
        return test.comparators[0].value
    return None


def test_search_aggs_only_parse_and_dispatch():
    """In ``searchapi.py``'s aggregation functions a ``groupBy`` or
    ``.agg(`` call occurs only in the ``filters`` and ``date_histogram``
    branches (their one copy); every other agg runs an aggs.py kernel."""
    found = []

    def visit(node, branch, fn):
        if isinstance(node, ast.If) and _kind_branch(node.test):
            for child in node.body:
                visit(child, _kind_branch(node.test), fn)
            for child in node.orelse:
                visit(child, branch, fn)
            return
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("groupBy", "agg")
                and branch not in ("filters", "date_histogram")):
            found.append((fn, node.lineno, node.func.attr, branch))
        for child in ast.iter_child_nodes(node):
            visit(child, branch, fn)

    fns = [n for n in _tree("searchapi.py").body
           if isinstance(n, ast.FunctionDef) and "agg" in n.name]
    assert "_run_aggs" in {f.name for f in fns}
    for fn in fns:
        visit(fn, None, fn.name)
    assert not found, found


def test_no_aggregation_primitive_outside_the_kernels():
    """var_pop, approx_count_distinct, percentile(_approx) and the
    ``stack(`` unpivot are spelled only in ``operators/aggs.py`` (the
    DSL median_absolute_deviation takes its median from the percentiles
    kernel)."""
    banned = {"var_pop", "stddev_pop", "approx_count_distinct",
              "percentile", "percentile_approx"}
    found = []
    for name in ("wand.py", "searchapi.py"):
        for node in ast.walk(_tree(name)):
            if isinstance(node, ast.Attribute) and node.attr in banned:
                found.append((name, node.lineno, node.attr))
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "stack(" in node.value):
                found.append((name, node.lineno, "stack("))
    assert not found, found


# the aggregation methods that read their hit fields through _agg_input
AGG_METHODS = [
    "facet_terms", "terms_metric_agg", "top_hits", "significant_terms",
    "agg_histogram", "agg_stats", "agg_cardinality", "agg_percentiles",
    "agg_percentile_ranks", "agg_ranges", "agg_ip_range", "agg_filters",
    "agg_extended_stats", "agg_weighted_avg", "agg_value_count",
    "agg_rare_terms", "agg_multi_terms", "agg_adjacency_matrix",
    "agg_top_metrics", "matrix_stats", "agg_sampler", "runtime_field_topk",
    "geo_bounding_box", "geo_centroid", "geo_distance", "geotile_grid",
    "geohash_grid", "geo_bounds", "geo_polygon", "geo_distance_rings",
    "nested_topk", "nested_terms_reverse_nested", "parent_agg",
    "agg_composite", "agg_missing", "agg_global",
]


def test_aggregation_methods_join_no_field_relation_themselves():
    methods = _searcher_methods()
    found = []
    for name in AGG_METHODS:
        for node in ast.walk(methods[name]):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "join"):
                continue
            names = {n.id for a in node.args for n in ast.walk(a)
                     if isinstance(n, ast.Name)}
            if names & {"field_values", "docs_text"}:
                found.append((name, node.lineno))
    assert not found, found
    for gone in ("_hit_fields", "_join_fields", "_field_rel"):
        assert not hasattr(Searcher, gone), gone


# each shared kind: its kernel and the Searcher methods that call it
KERNEL_USERS = {
    "stats": ["agg_stats", "agg_global"],
    "extended_stats": ["agg_extended_stats"],
    "terms": ["facet_terms", "terms_metric_agg", "agg_rare_terms",
              "agg_multi_terms", "geotile_grid", "geohash_grid",
              "nested_terms_reverse_nested", "children_agg", "parent_agg",
              "agg_histogram"],
    "top_hits": ["top_hits"],
    "composite": ["agg_composite"],
    "ranges": ["agg_ranges", "agg_ip_range", "geo_distance_rings"],
    "named_counts": ["agg_filters", "agg_adjacency_matrix",
                     "agg_percentile_ranks"],
    "percentiles": ["agg_percentiles"],
    "cardinality": ["agg_cardinality"],
    "value_counts": ["agg_value_count", "agg_missing"],
    "significant_terms": ["significant_terms"],
    "haversine_km": ["geo_distance", "geo_distance_rings"],
}
# kernels the _search aggs section dispatches to as well
DSL_KERNELS = ["stats", "extended_stats", "terms", "top_hits", "composite",
               "ranges", "percentiles", "cardinality", "value_counts",
               "significant_terms", "metrics", "median_absolute_deviation"]


def _kernel_calls(fn):
    return {n.attr for n in ast.walk(fn) if isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name) and n.value.id == "aggs"}


def test_each_shared_kind_calls_its_one_kernel():
    methods = _searcher_methods()
    for kernel, users in KERNEL_USERS.items():
        assert callable(getattr(aggs, kernel)), kernel
        for m in users:
            assert kernel in _kernel_calls(methods[m]), (kernel, m)
    run_aggs = next(n for n in _tree("searchapi.py").body
                    if isinstance(n, ast.FunctionDef) and n.name == "_run_aggs")
    assert set(DSL_KERNELS) <= _kernel_calls(run_aggs)


# ------------------------------------------------- terms_enum's dictionary

_group = itertools.count()


def _warm_jobs(spark, make) -> int:
    """Spark jobs of the second run of ``make()`` (the first warms up)."""
    sc = spark.sparkContext
    make().collect()
    g = f"aggs-{next(_group)}"
    sc.setJobGroup(g, g)
    try:
        make().collect()
        return len(sc.statusTracker().getJobIdsForGroup(g))
    finally:
        sc.setJobGroup(f"{g}-done", "")


@pytest.mark.parametrize("prefix, size", [("d", 10), ("s", 3), ("zzq", 10)])
def test_terms_enum_rows_on_both_paths(spark, idx, searcher, prefix, size):
    """The cached Searcher's dictionary answer and the uncached Spark scan
    give the rows and types of the term_stats scan ``terms_enum`` ran
    before it read the dictionary."""
    want_df = (
        searcher.term_stats.filter(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("doc_count"))
        .orderBy("term").limit(size)
    )
    want = want_df.collect()
    uncached = Searcher(spark, idx, cache=False)
    for got in (searcher.terms_enum(prefix, size),
                uncached.terms_enum(prefix, size)):
        assert [f.dataType for f in got.schema] == [
            f.dataType for f in want_df.schema]
        assert got.collect() == want
    assert want or prefix == "zzq"


def test_warm_cached_terms_enum_runs_no_job(spark, searcher):
    assert _warm_jobs(spark, lambda: searcher.terms_enum("d", 10)) == 0


def test_index_stats_counts_each_term_once(searcher):
    row = searcher.index_stats().collect()[0]
    assert row["n_terms"] == searcher.term_stats.select("term").distinct().count()

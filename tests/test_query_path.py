"""The fixed cost of a Searcher query: seg-co-partitioned reader relations
(a seg cogroup plans with no Exchange, so a query is one Spark job) and the
term dictionary a cached Searcher loads at open (``doc_freqs``)."""

import os
import shutil

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators import wand
from kafka_es_spark.operators.compaction import compact_index
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index
from kafka_es_spark.sources.pages import PAGES_SCHEMA, gen_pages_pdf
from kafka_es_spark.streaming.ingest_stream import append_epoch

SEG_BITS = 6
Q = "data index search"
# topk keyword arguments of the four query classes that must be one job
CLASSES = {
    "or": {},
    "and": {"mode": "and"},
    "msm": {"min_should_match": 2},
    "must_not": {"must_not": "hash"},
}


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qpath") / "idx")
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    return d


@pytest.fixture(scope="module")
def searcher(spark, idx):
    s = Searcher(spark, idx)
    yield s
    s.close()


def _plan_outside_cache(df) -> list[str]:
    """The executed plan's lines, without the subtrees under each
    InMemoryRelation (the cached relation's own build plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    out, skip_deeper_than = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :|+-"))
        if skip_deeper_than is not None:
            if depth > skip_deeper_than:
                continue
            skip_deeper_than = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_deeper_than = depth
    return out


@pytest.mark.parametrize("scorer", ["topk", "relational_scores", "_score_cogroup"])
def test_cached_seg_cogroup_has_no_exchange(searcher, scorer):
    """Once the reader caches are materialized (any first query), their
    seg partitioning satisfies the cogroup: no Exchange between the cached
    scans and the kernel."""
    s = searcher
    s.topk(Q, k=5).collect()
    if scorer == "topk":
        df = s.topk(Q, k=5)
    elif scorer == "relational_scores":
        df = s.relational_scores(Q)
    else:
        df = s._score_cogroup(
            Q.split(), lambda key, pdf, dpdf: pdf[["seg"]], "seg long"
        )
    lines = _plan_outside_cache(df)
    text = "\n".join(lines)
    assert "FlatMapCoGroupsInPandas" in text, text
    assert sum("InMemoryTableScan" in ln for ln in lines) == 2, text
    assert not any("Exchange" in ln for ln in lines), text


@pytest.mark.parametrize("cls", sorted(CLASSES))
def test_query_runs_one_job(spark, searcher, cls):
    """OR, AND, msm and must_not on a warm cached Searcher: one Spark job
    (no term_stats collect, no shuffle job ahead of the cogroup)."""
    s, sc = searcher, spark.sparkContext
    s.topk(Q, k=5).collect()  # materialize the reader caches
    group = f"one-job-{cls}"
    sc.setJobGroup(group, group)
    try:
        rows = s.topk(Q, k=5, **CLASSES[cls]).collect()
    finally:
        sc.setJobGroup("after-one-job", "after-one-job")
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _df_by_groupby(spark, idx) -> dict[str, int]:
    rows = (
        spark.read.parquet(os.path.join(idx, "term_stats"))
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


@pytest.mark.parametrize("cache", [True, False], ids=["cached", "uncached"])
def test_doc_freqs_equals_term_stats_sum(spark, idx, cache):
    want = _df_by_groupby(spark, idx)
    s = Searcher(spark, idx, cache=cache)
    try:
        assert (s._dfs is not None) == cache
        assert s.doc_freqs(list(want) + ["zzqqxxnotaterm"]) == want
        assert s.doc_freqs(["zzqqxxnotaterm"]) == {}
        assert s.doc_freqs([]) == {}
    finally:
        s.close()


def test_over_cap_dictionary_gives_identical_topk(spark, idx, searcher, monkeypatch):
    """Above the row cap the Searcher keeps no dictionary and collects
    term_stats per query; results are the same."""
    monkeypatch.setattr(wand, "DOC_FREQS_MAX_ROWS", 0)
    capped = Searcher(spark, idx)
    try:
        assert capped._dfs is None
        for kw in CLASSES.values():
            want = [tuple(r) for r in searcher.topk(Q, k=10, **kw).collect()]
            got = [tuple(r) for r in capped.topk(Q, k=10, **kw).collect()]
            assert got and got == want
    finally:
        capped.close()


def _marker_pages(spark, n, seed, marker):
    pdf = gen_pages_pdf(n, seed)
    pdf["url"] = [f"https://epoch-{seed}.example/p{i}" for i in range(n)]
    pdf.loc[:2, "text"] = pdf.loc[:2, "text"].fillna("") + f" {marker}"
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def test_reopen_sees_epoch_and_compacted_terms(spark, idx, tmp_path):
    """A term found only in a streamed epoch gets its df from a Searcher
    opened after append_epoch, and keeps it after compact_index."""
    d = str(tmp_path / "ep")
    shutil.copytree(idx, d)
    marker = "zqepochmarker"
    before = Searcher(spark, d)
    try:
        assert before.doc_freqs([marker]) == {}
    finally:
        before.close()
    append_epoch(
        spark, _marker_pages(spark, 40, 7, marker), d, epoch=0,
        seg_bits=SEG_BITS, n_term_buckets=8,
    )
    for stage in ("append_epoch", "compact_index"):
        if stage == "compact_index":
            compact_index(spark, d)
        s = Searcher(spark, d)
        try:
            assert s.doc_freqs([marker]) == {marker: 3}, stage
            assert s.doc_freqs(["data"]) == {
                "data": _df_by_groupby(spark, d)["data"]
            }, stage
            assert s.topk(marker, k=5).count() == 3, stage
        finally:
            s.close()

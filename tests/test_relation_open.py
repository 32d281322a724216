"""Index relations are resolved without a schema-inference job.

``build_index.read_relation`` takes a relation's data schema from one
parquet footer, so opening it runs no Spark job; a ``Searcher`` resolves
its relations (the docmap included) once, at open, and the positional
scorers look their term dfs and tombstones up on the driver. These tests
pin that the schema is the one inference finds, that no warm query of a
serving class runs a ``parquet at ...`` (schema-inference) stage, that
phrase queries are down to their own jobs, and that a Searcher keeps
seeing its docmap as it was at open."""

import ast
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import kafka_es_spark
from kafka_es_spark.operators.compaction import compact_index
from kafka_es_spark.operators.deletes import add_tombstones, read_tombstone_ids
from kafka_es_spark.operators.positions import (
    intervals_unordered_topk,
    phrase_match_ids,
    phrase_prefix_topk,
    phrase_topk,
    span_first_topk,
    span_not_topk,
)
from kafka_es_spark.operators.searchapi import search
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index, read_relation
from kafka_es_spark.sources.pages import PAGES_SCHEMA, gen_pages

SEG_BITS = 6
RELATIONS = (
    "docmap", "postings", "range_dls", "term_stats", "tokens",
    "_deletes",
)


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("relopen") / "idx")
    build_index(
        spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=4,
        store_fields=("lang",),
    )
    return d


@pytest.fixture(scope="module")
def fields_df(spark, idx, tmp_path_factory):
    """Per-url numeric fields, as perfbench's serve mix uses them."""
    urls = sorted(
        pq.read_table(os.path.join(idx, "docmap"), columns=["url"])["url"]
        .to_pylist()
    )
    path = str(tmp_path_factory.mktemp("fields") / "fields.parquet")
    pq.write_table(
        pa.table({
            "url": urls,
            "prio": [i % 100 for i in range(len(urls))],
            "msm": [1 + i % 3 for i in range(len(urls))],
        }),
        path,
    )
    return spark.read.parquet(path)


def _assert_same_schemas(spark, index_dir, where):
    for rel in RELATIONS:
        path = os.path.join(index_dir, rel)
        if not os.path.isdir(path):
            continue
        want = spark.read.parquet(path).schema
        assert read_relation(spark, path).schema == want, (where, rel)


def test_read_relation_schema_equals_inference(spark, pages, idx, tmp_path):
    """Every index relation, after a build with tombstones
    (postings ``shard=0`` is an int partition), after an epoch append
    (``shard=epoch-*`` makes it a string) and after compaction."""
    d = str(tmp_path / "idx")
    shutil.copytree(idx, d)
    add_tombstones(spark, d, doc_ids=[1, 2, 3])
    _assert_same_schemas(spark, d, "build")
    assert dict(
        (f.name, f.dataType.simpleString())
        for f in read_relation(spark, os.path.join(d, "postings")).schema
    )["shard"] == "int"
    epoch_pages = gen_pages(spark, 40, seed=7, partitions=2)
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    append_epoch(
        spark, epoch_pages, d, epoch=0, seg_bits=SEG_BITS, n_term_buckets=4,
        store_fields=("lang",),
    )
    _assert_same_schemas(spark, d, "append_epoch")
    compact_index(spark, d)
    _assert_same_schemas(spark, d, "compact_index")


def test_read_relation_opens_without_a_job(spark, idx):
    sc = spark.sparkContext
    group = "read-relation-open"
    sc.setJobGroup(group, group)
    try:
        for rel in RELATIONS[:-1]:
            read_relation(spark, os.path.join(idx, rel))
    finally:
        sc.setJobGroup("after-read-relation", "after-read-relation")
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _jobs_and_stages(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = fn()
    finally:
        sc.setJobGroup(f"after-{group}", f"after-{group}")
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stages = [
        tr.getStageInfo(s).name
        for j in jobs
        for s in tr.getJobInfo(j).stageIds
        if tr.getStageInfo(s) is not None
    ]
    return rows, jobs, stages


def _serve_calls(spark, idx, s, fields_df):
    """One call of each serving query class (perfbench's serve mix, plus
    the other positional scorers)."""
    q = "data index search"
    body = {"query": {"bool": {
        "must": [{"match": {"text": q}}],
        "filter": [{"range": {"dl": {"gte": 5}}}],
    }}, "size": 10}
    return {
        "or": lambda: s.topk(q, k=10),
        "and": lambda: s.topk(q, k=10, mode="and"),
        "msm": lambda: s.topk(q, k=10, min_should_match=2),
        "must_not": lambda: s.topk(q, k=10, must_not="hash"),
        "phrase": lambda: phrase_topk(spark, idx, "data index", k=10),
        "sloppy": lambda: phrase_topk(spark, idx, "data search", k=10, slop=2),
        "synonym": lambda: s.synonym_topk(q, {"search": ["query"]}, k=10),
        "terms_set": lambda: s.terms_set_topk(q, fields_df, "msm", k=10),
        "span_or": lambda: s.span_or_topk(["data", "search"], k=10),
        "range_filtered": lambda: s.range_filtered_topk(
            q, fields_df, "prio", 10, 60, k=10
        ),
        "dsl": lambda: search(s, body),
        "facet": lambda: s.facet_terms(q, None, "lang", size=10),
        "phrase_with_url": lambda: phrase_topk(
            spark, idx, "data index", k=10, with_url=True
        ),
        "phrase_prefix": lambda: phrase_prefix_topk(spark, idx, "data ind", k=10),
        "phrase_match_ids": lambda: phrase_match_ids(spark, idx, "data index"),
        "span_first": lambda: span_first_topk(spark, idx, "data", 20, k=10),
        "span_not": lambda: span_not_topk(
            spark, idx, "data", "index", pre=2, post=2, k=10
        ),
        "intervals": lambda: intervals_unordered_topk(
            spark, idx, "data", "index", max_gaps=2, k=10
        ),
    }


def test_warm_queries_run_no_schema_inference(spark, idx, fields_df):
    """No warm query of any serving class runs a ``parquet at ...`` stage
    (the footer-reading job of ``spark.read.parquet``), and phrase queries,
    exact and sloppy, run at most 3 jobs (8 when every call re-inferred
    schemas and collected term_stats through Spark)."""
    s = Searcher(spark, idx)
    try:
        calls = _serve_calls(spark, idx, s, fields_df)
        for fn in calls.values():
            fn().collect()  # warm: reader caches, Python workers
        for cls, fn in calls.items():
            rows, jobs, stages = _jobs_and_stages(
                spark, f"warm-{cls}", lambda: fn().collect()
            )
            assert rows, cls
            assert not [n for n in stages if n.startswith("parquet at")], (
                cls, stages,
            )
            if cls in ("phrase", "sloppy"):
                assert len(jobs) <= 3, (cls, len(jobs))
    finally:
        s.close()


def test_read_tombstone_ids_runs_no_job(spark, idx, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(idx, d)
    assert read_tombstone_ids(spark, d) == frozenset()
    add_tombstones(spark, d, doc_ids=[3, 5])
    add_tombstones(spark, d, doc_ids=[5, 8])
    got, jobs, _ = _jobs_and_stages(
        spark, "tombstones", lambda: read_tombstone_ids(spark, d)
    )
    assert jobs == []
    assert got == frozenset({3, 5, 8})
    assert all(type(i) is int for i in got)


def test_tombstoned_results_equal_the_live_part_of_the_ranking(spark, idx, tmp_path):
    """With tombstones, phrase and term top-k are the tombstone-free
    ranking with the dead docs taken out (corpus stats are unchanged
    between delete and merge)."""
    d = str(tmp_path / "idx")
    shutil.copytree(idx, d)
    s = Searcher(spark, d)
    try:
        full_phrase = phrase_topk(spark, d, "data index", k=400, round_to=None).collect()
        full_topk = s.topk("data index search", k=400, round_to=None).collect()
    finally:
        s.close()
    assert len(full_phrase) >= 5 and len(full_topk) > 6
    dead = {full_phrase[0]["doc_id"], full_phrase[3]["doc_id"], full_topk[1]["doc_id"]}
    add_tombstones(spark, d, doc_ids=sorted(dead))
    s = Searcher(spark, d)
    try:
        got_phrase = phrase_topk(spark, d, "data index", k=3, round_to=None).collect()
        got_topk = s.topk("data index search", k=5, round_to=None).collect()
    finally:
        s.close()
    assert got_phrase == [r for r in full_phrase if r["doc_id"] not in dead][:3]
    assert got_topk == [r for r in full_topk if r["doc_id"] not in dead][:5]


def test_searcher_docmap_is_as_at_open(spark, idx, tmp_path):
    """A Searcher that is not reopened after append_epoch returns the same
    ``with_url`` rows as before the append; a reopened one sees the new
    docs."""
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    d = str(tmp_path / "idx")
    shutil.copytree(idx, d)
    marker = "zqdocmapmarker"
    q = f"data {marker}"
    s = Searcher(spark, d)
    try:
        before = s.topk(q, k=10, with_url=True).collect()
        pdf = gen_pages(spark, 30, seed=11, partitions=2).toPandas()
        pdf["url"] = [f"https://docmap-epoch.example/p{i}" for i in range(len(pdf))]
        pdf["text"] = [f"{marker} data {marker}"] * len(pdf)
        append_epoch(
            spark, spark.createDataFrame(pdf, schema=PAGES_SCHEMA), d, epoch=0,
            seg_bits=SEG_BITS, n_term_buckets=4, store_fields=("lang",),
        )
        assert s.topk(q, k=10, with_url=True).collect() == before
    finally:
        s.close()
    s = Searcher(spark, d)
    try:
        after = s.topk(q, k=10, with_url=True).collect()
    finally:
        s.close()
    assert after != before
    assert all(r["url"].startswith("https://docmap-epoch.example/") for r in after)


GUARDED = ("operators/wand.py", "operators/searchapi.py", "operators/positions.py")


def test_query_modules_never_infer_a_parquet_schema():
    """``spark.read.parquet`` runs a schema-inference job every time it is
    called; the query modules open index relations with ``read_relation``
    or use ``Searcher.docmap``."""
    root = pathlib.Path(kafka_es_spark.__file__).parent
    offenders = []
    for rel in GUARDED:
        tree = ast.parse((root / rel).read_text(), filename=rel)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "open index relations with build_index.read_relation: "
        + ", ".join(offenders)
    )

"""Round-6 optimization pins: the relational scorer sites rewritten from
the ``_postings_rows ⨝ _dl_rows`` doc_id-shuffle shape to the
seg-cogroup kernel (guide §2.4, same family as ``relational_scores``)
must stay row-identical to the old join formulation — rebuilt here from
the surviving ``_postings_rows`` / ``_dl_rows`` building blocks.

Covered: terms_set_topk (score + per-doc matched count), span_or_topk
(pooled span freq), synonym_topk (group roll-up with blended weights),
range_filtered_topk (reuses relational_scores ⨝ allowed).
"""

import os

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators.wand import Searcher, idf
from kafka_es_spark.plans.build_index import build_index, prepare_docs

SEG_BITS = 6


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_r06"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    return d


@pytest.fixture(scope="module")
def searcher(spark, idx):
    s = Searcher(spark, idx)
    yield s
    s.close()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_terms_set_matches_join_formulation(spark, searcher, docfields):
    """terms_set via the cogroup kernel == the old postings⨝dl⨝weights
    join + (sum, count_distinct) hash aggregation, at 4dp."""
    s = searcher
    q = "data index search"
    qterms = sorted(set(q.split()))
    ts = s.term_stats.filter(F.col("term").isin(qterms)).collect()
    weights = {r["term"]: idf(s.n_docs, int(r["df"])) for r in ts}
    segs = s._query_segs(list(weights))
    w_df = spark.createDataFrame(
        sorted(weights.items()), "term string, w double"
    )
    old = (
        s._postings_rows(segs)
        .join(s._dl_rows(segs), "doc_id")
        .join(F.broadcast(w_df), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(s._bm25_contrib_col()), 4).alias("score"),
            F.count_distinct("term").alias("m"),
        )
    )
    dm = spark.read.parquet(s.index_dir + "/docmap").select("doc_id", "url")
    exp = sorted(
        _rows(
            old.join(dm, "doc_id")
            .join(docfields.select("url", "required_matches"), "url")
            .filter(F.col("m") >= F.col("required_matches"))
            .select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20)
        )
    )
    got = sorted(
        _rows(
            s.terms_set_topk(q, docfields, "required_matches", k=20)
            .select("doc_id", "score")
        )
    )
    assert exp and got == exp


def test_span_or_matches_join_formulation(spark, searcher):
    """span_or via the cogroup kernel == the old tf-pool join shape."""
    s = searcher
    toks = ["data", "query"]
    ts = s.term_stats.filter(F.col("term").isin(toks)).collect()
    w = sum(idf(s.n_docs, int(r["df"])) for r in ts)
    segs = s._query_segs(toks)
    old = (
        s._postings_rows(segs)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("tf"))
        .join(s._dl_rows(segs), "doc_id")
        .withColumn("w", F.lit(float(w)))
        .select(
            "doc_id", F.round(s._bm25_contrib_col(), 4).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
    )
    got = s.span_or_topk(toks, k=25)
    assert _rows(old) and _rows(got) == _rows(old)


def _synonym_join_formulation(spark, s, query, syns, k):
    """The old two-level (doc, grp) roll-up join shape of synonym_topk:
    the gmap join emits one row per (term, group) membership, so a term
    in several groups counts in each."""
    qterms = sorted(set(query.split()))
    groups = {t: sorted({t} | set(syns.get(t, ()))) for t in qterms}
    all_terms = sorted({m for ms in groups.values() for m in ms})
    tsd = {
        r["term"]: int(r["df"])
        for r in s.term_stats.filter(F.col("term").isin(all_terms)).collect()
    }
    weights = {}
    for g, ms in groups.items():
        dfs = [tsd[m] for m in ms if m in tsd]
        if dfs:
            weights[g] = idf(s.n_docs, max(dfs))
    member_rows = sorted(
        (m, g) for g, ms in groups.items() if g in weights
        for m in ms if m in tsd
    )
    segs = s._query_segs(sorted({m for m, _ in member_rows}))
    gmap = spark.createDataFrame(member_rows, "term string, grp string")
    w_df = spark.createDataFrame(
        sorted(weights.items()), "grp string, w double"
    )
    return (
        s._postings_rows(segs)
        .join(F.broadcast(gmap), "term")
        .groupBy("doc_id", "grp")
        .agg(F.sum("tf").alias("tf"))
        .join(s._dl_rows(segs), "doc_id")
        .join(F.broadcast(w_df), "grp")
        .groupBy("doc_id")
        .agg(F.round(F.sum(s._bm25_contrib_col()), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def test_synonym_matches_join_formulation(spark, searcher):
    """synonym_topk via the cogroup kernel == the old two-level
    (doc, grp) roll-up join shape, incl. a group member absent from
    the index."""
    s = searcher
    syns = {"join": ["merge"], "query": ["scan", "zzznotindexed"]}
    old = _synonym_join_formulation(spark, s, "join query data", syns, 25)
    got = s.synonym_topk("join query data", syns, k=25)
    assert _rows(old) and _rows(got) == _rows(old)


def test_synonym_overlapping_groups_match_join_formulation(spark, searcher):
    """A query term that is also another query term's synonym belongs to
    both groups and contributes its tf to each of them."""
    s = searcher
    syns = {"join": ["merge"]}
    old = _synonym_join_formulation(spark, s, "join merge", syns, 25)
    got = s.synonym_topk("join merge", syns, k=25)
    assert _rows(old) and _rows(got) == _rows(old)


def test_gather_dls_rejects_ids_outside_range():
    import numpy as np

    from kafka_es_spark.operators.spimi import gather_dls

    arr = np.array([5, 6, 7], dtype=np.int64)
    assert gather_dls(np.array([10, 12]), 10, arr).tolist() == [5, 7]
    for bad in ([9, 10], [12, 13]):
        with pytest.raises(ValueError, match="outside the range-dl array"):
            gather_dls(np.array(bad), 10, arr)


def test_cogroup_kernels_raise_on_mismatched_range_dls(
    spark, pages, idx, docfields, tmp_path
):
    """A range_dls relation whose ranges start one doc too late (so the
    first doc of every range falls below dl_base) must make every
    seg-cogroup scorer raise instead of gathering a wrapped-around dl."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = str(tmp_path / "bad_dls")
    shutil.copytree(idx, bad)
    rd = os.path.join(bad, "range_dls", "epoch=base")
    t = pq.read_table(rd)
    shutil.rmtree(rd)
    os.makedirs(rd)
    first = pa.compute.add(t.column("first_docid"), 1)
    pq.write_table(
        t.set_column(t.schema.get_field_index("first_docid"), "first_docid", first),
        os.path.join(rd, "part-0.parquet"),
    )
    # a term of doc 0, the first doc of range 0 — now below its dl_base
    term = prepare_docs(pages).filter("doc_id = 0").first()["terms"][0]
    s = Searcher(spark, bad, cache=False)
    try:
        for call in (
            lambda: s.relational_scores(term),
            lambda: s.terms_set_topk(term, docfields, "required_matches"),
            lambda: s.span_or_topk([term]),
            lambda: s.synonym_topk(term, {}),
            lambda: s.range_filtered_topk(term, docfields, "n_tokens", 0, 10**6),
        ):
            with pytest.raises(Exception, match="outside the range-dl array"):
                call().collect()
    finally:
        s.close()


def test_range_filtered_matches_hit_scores(spark, searcher, docfields):
    """range_filtered_topk == relational_scores restricted to the
    filter-allowed hit set (the old join chain computed exactly this)."""
    s = searcher
    q = "data index search"
    lo, hi = 20, 120
    hits = s.matching_doc_ids(q)
    dm = spark.read.parquet(s.index_dir + "/docmap").select("doc_id", "url")
    allowed = (
        hits.join(dm, "doc_id")
        .join(docfields.select("url", "n_tokens"), "url")
        .filter((F.col("n_tokens") >= lo) & (F.col("n_tokens") <= hi))
        .select("doc_id")
    )
    exp = sorted(
        _rows(
            s.relational_scores(q)
            .join(allowed, "doc_id")
            .select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(15)
        )
    )
    got = sorted(
        _rows(
            s.range_filtered_topk(q, docfields, "n_tokens", lo, hi, k=15)
        )
    )
    assert exp and got == exp


@pytest.fixture(scope="module")
def docfields(spark, pages):
    """(url, n_tokens, required_matches) field relation over the test
    corpus — deterministic per-doc values for the m-field and range
    filters."""
    from kafka_es_spark.functions.tokenize import tokens

    return pages.select(
        "url",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        (F.lit(1) + F.abs(F.hash("url")) % 3).cast("long").alias(
            "required_matches"
        ),
    )


class _CountingTermStats:
    """Stands in for ``Searcher.term_stats`` and counts the
    ``filter(...).collect()`` round trips a scorer makes."""

    def __init__(self, df):
        self._df = df
        self.collects = 0

    def filter(self, cond):
        outer, inner = self, self._df.filter(cond)

        class _Filtered:
            def collect(self):
                outer.collects += 1
                return inner.collect()

            def __getattr__(self, name):
                return getattr(inner, name)

        return _Filtered()

    def __getattr__(self, name):
        return getattr(self._df, name)


@pytest.mark.parametrize(
    "scorer, cache",
    [
        pytest.param(scorer, cache, id=scorer if cache else f"{scorer}-uncached")
        for scorer in ("range_filtered_topk", "top_hits", "query_string_topk")
        for cache in (True, False)
    ],
)
def test_scorer_collects_term_stats_once(spark, idx, docfields, scorer, cache):
    """A scorer looks its terms' df up once and passes the weights down to
    matching_doc_ids: a cached Searcher answers from its open-time term
    dictionary (no term_stats collect), an uncached one collects once.
    query_string_topk looks up its scoring, ``+`` and ``-`` terms together
    instead of once per clause."""
    s = Searcher(spark, idx, cache=cache)
    counting = _CountingTermStats(s.term_stats)
    s.term_stats = counting
    try:
        if scorer == "range_filtered_topk":
            out = s.range_filtered_topk(
                "data index search", docfields, "n_tokens", 20, 120, k=5
            )
        elif scorer == "top_hits":
            out = s.top_hits(
                "data index search", docfields, "required_matches",
                buckets=2, per_bucket=2,
            )
        else:
            out = s.query_string_topk("+index +the +of -and", k=5)
        assert out.collect()
    finally:
        s.close()
    assert counting.collects == (0 if cache else 1)

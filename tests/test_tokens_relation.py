"""The ``tokens/`` relation: build_index writes the extracted, doc-id'd,
tokenized corpus once, and the docmap, shard (postings with their
positions) and bigram jobs read it instead of re-deriving the corpus from
pages."""

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.functions.tokenize import tokens
from kafka_es_spark.operators.cooccur import bigram_counts
from kafka_es_spark.operators.positions import build_position_index
from kafka_es_spark.operators.spimi import UNIT_SCHEMA, merge_units, pack_runs
from kafka_es_spark.plans.build_index import (
    build_bigram_stats,
    build_index,
    prepare_docs,
)

SEG_BITS = 6
BUCKETS = 4


@pytest.fixture(scope="module")
def tidx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tok") / "tidx")
    build_index(
        spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=BUCKETS,
        store_fields=("lang",),
    )
    build_bigram_stats(spark, pages, d)
    return d


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tokens_rows_equal_prepare_docs(spark, pages, tidx):
    """tokens/ holds exactly prepare_docs' rows plus the stored fields,
    and the docmap is its column projection."""
    tok = spark.read.parquet(os.path.join(tidx, "tokens"))
    cols = ["doc_id", "url", "dl", "terms"]
    want = [
        (i, u, dl, list(t))
        for i, u, dl, t in _sorted_rows(prepare_docs(pages), cols)
    ]
    got = [(i, u, dl, list(t)) for i, u, dl, t in _sorted_rows(tok, cols)]
    assert got and got == want
    dm = spark.read.parquet(os.path.join(tidx, "docmap"))
    assert _sorted_rows(dm, ["doc_id", "url", "dl", "lang"]) == _sorted_rows(
        tok, ["doc_id", "url", "dl", "lang"]
    )


def test_positions_equal_runs_over_prepare_docs(spark, pages, tidx):
    """The postings units (positions included) built from tokens/ are row-
    and byte-identical to merging runs over a fresh prepare_docs(pages)."""
    cols = UNIT_SCHEMA.names
    want = _sorted_rows(
        merge_units(pack_runs(prepare_docs(pages), SEG_BITS, 50_000), UNIT_SCHEMA),
        cols,
    )
    got = _sorted_rows(
        spark.read.parquet(os.path.join(tidx, "postings", "shard=0")), cols
    )
    assert got and got == want


def test_bigram_stats_equal_counts_over_text_tokens(spark, pages, tidx):
    want = _sorted_rows(bigram_counts(pages, tokens("text")), ["prev", "cur", "n"])
    got = _sorted_rows(
        spark.read.parquet(os.path.join(tidx, "bigram_stats")),
        ["prev", "cur", "n"],
    )
    assert got and got == want


def test_bigrams_raise_without_tokens(spark, pages, tidx, tmp_path):
    """An index built before tokens/ existed (no relation, no manifest
    entry) fails loudly instead of re-deriving the corpus from pages."""
    old = str(tmp_path / "old")
    shutil.copytree(tidx, old)
    shutil.rmtree(os.path.join(old, "tokens"))
    os.remove(os.path.join(old, "_manifest", "tokens.json"))
    with pytest.raises(FileNotFoundError, match="tokens"):
        build_bigram_stats(spark, pages, old)


def test_resume_after_tokens_stage_reproduces_stats(spark, pages, tidx, tmp_path):
    """With the tokens stage committed, resume=True skips it — the pages
    are never read (an empty frame is passed) — and the later stages
    recover the global stats from its manifest entry."""
    d = str(tmp_path / "resumed")
    shutil.copytree(tidx, d)
    for name in ("docmap", "range_dls", "shard-00000", "term_stats"):
        os.remove(os.path.join(d, "_manifest", f"{name}.json"))
    for sub in ("docmap", "range_dls", "postings", "term_stats"):
        shutil.rmtree(os.path.join(d, sub))
    os.remove(os.path.join(d, "stats.json"))
    with open(os.path.join(d, "_manifest", "tokens.json")) as f:
        tokens_entry = json.load(f)

    build_index(
        spark, pages.limit(0), d, seg_bits=SEG_BITS, n_term_buckets=BUCKETS,
        store_fields=("lang",), resume=True,
    )
    with open(os.path.join(tidx, "stats.json")) as f:
        want = json.load(f)
    with open(os.path.join(d, "stats.json")) as f:
        assert json.load(f) == want
    with open(os.path.join(d, "_manifest", "tokens.json")) as f:
        assert json.load(f) == tokens_entry
    seg_cols = ["term", "seg", "df_seg", "docs_blob", "tfs_blob"]
    assert _sorted_rows(
        spark.read.parquet(os.path.join(d, "postings")), seg_cols
    ) == _sorted_rows(spark.read.parquet(os.path.join(tidx, "postings")), seg_cols)
    assert (
        spark.read.parquet(os.path.join(d, "docmap"))
        .agg(F.sum("dl")).first()[0]
        == want["total_tokens"]
    )


def test_bigrams_raise_on_a_streamed_or_compacted_index(
    spark, pages, tidx, tmp_path
):
    """tokens/ holds only the base unit: after an epoch is appended, or a
    compaction folds epochs and tombstones into the base, rebuilding
    bigram stats from it would drop the streamed docs and keep the
    deleted ones — so it raises. Positions need no rebuild: they ride
    every epoch and compaction unit, and ``build_position_index`` only
    checks the layout."""
    from kafka_es_spark.operators.compaction import compact_index
    from kafka_es_spark.operators.deletes import add_tombstones
    from kafka_es_spark.sources.pages import gen_pages
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    d = str(tmp_path / "streamed")
    shutil.copytree(tidx, d)
    append_epoch(
        spark, gen_pages(spark, 40, seed=7, partitions=2), d, epoch=0,
        seg_bits=SEG_BITS, n_term_buckets=BUCKETS, store_fields=("lang",),
    )
    with pytest.raises(ValueError, match="stale.*epoch-00000000"):
        build_bigram_stats(spark, pages, d)
    assert add_tombstones(spark, d, doc_ids=[0]) == 1
    compact_index(spark, d)
    with pytest.raises(ValueError, match="stale.*compact-"):
        build_bigram_stats(spark, pages, d)
    assert build_position_index(spark, pages, d)["postings"] > 0

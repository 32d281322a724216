"""Segment compaction (the ES force-merge analogue) + persistent tombstones.

Covers VERDICT r3 §next 2/7: N epochs + deletes → compact → rank-identical
top-k, file count collapsed, stats updated, replay still idempotent, and
the crash-window recovery path.
"""

import os

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.functions.tokenize import tokens
from kafka_es_spark.operators.compaction import compact_index, recover_swap_dirs
from kafka_es_spark.operators.dedup import hash32
from kafka_es_spark.operators.deletes import (
    add_tombstones,
    read_tombstone_ids,
)
from kafka_es_spark.operators.spimi import UNIT_SCHEMA, build_segments_spimi
from kafka_es_spark.operators.wand import Searcher, wand_topk
from kafka_es_spark.plans.build_index import build_index, extracted_pages, load_stats
from kafka_es_spark.plans.manifest import Manifest
from kafka_es_spark.sources.pages import gen_pages
from kafka_es_spark.streaming.ingest_stream import append_epoch

Q = "data index search"


def _mk_epoch_index(spark, idx, n_epochs=3, docs_per=80):
    for e in range(n_epochs):
        pages = gen_pages(spark, docs_per, seed=e + 1, partitions=2)
        append_epoch(spark, pages, idx, epoch=e, seg_bits=6, n_term_buckets=4)


def test_compact_preserves_ranking_and_collapses_files(spark, tmp_path):
    idx = str(tmp_path / "cidx")
    _mk_epoch_index(spark, idx, n_epochs=3)
    before = [tuple(r) for r in wand_topk(spark, idx, Q, k=10).collect()]
    n_shards_before = len(os.listdir(os.path.join(idx, "postings")))
    assert n_shards_before == 3

    c = compact_index(spark, idx)
    assert c["docs"] == 240 and c["docs_allocated"] == 240
    assert c["tombstones_applied"] == 0

    # one base unit everywhere
    assert os.listdir(os.path.join(idx, "postings")) == ["shard=base"]
    assert os.listdir(os.path.join(idx, "docmap")) == ["epoch=base"]
    assert os.listdir(os.path.join(idx, "range_dls")) == ["epoch=base"]
    assert os.listdir(os.path.join(idx, "term_stats")) == ["unit=base"]
    assert spark.read.parquet(os.path.join(idx, "docmap")).count() == 240

    after = [tuple(r) for r in wand_topk(spark, idx, Q, k=10).collect()]
    assert after == before
    # stats unchanged (no deletes) and bucket pruning re-established
    st = load_stats(idx)
    assert st["n_docs"] == 240 and st["n_term_buckets"] == 4


def test_compact_applies_tombstones_and_updates_stats(spark, tmp_path):
    idx = str(tmp_path / "tidx")
    _mk_epoch_index(spark, idx, n_epochs=2)
    st0 = load_stats(idx)

    # kill the current top-3 docs via the persistent tombstone store
    top = wand_topk(spark, idx, Q, k=3).collect()
    dead = {int(r["doc_id"]) for r in top}
    add_tombstones(spark, idx, doc_ids=dead)
    assert read_tombstone_ids(spark, idx) == frozenset(dead)

    # pre-compaction: Searcher excludes them automatically (format-enforced),
    # stats still the built corpus (ES semantics between delete and merge)
    s = Searcher(spark, idx, cache=False)
    assert s.persistent_excluded == frozenset(dead)
    excl = [tuple(r) for r in s.topk(Q, k=10).collect()]
    assert not ({d for d, _ in excl} & dead)
    assert load_stats(idx)["n_docs"] == st0["n_docs"]

    c = compact_index(spark, idx)
    assert c["tombstones_applied"] == 3
    assert c["docs"] == 160 - 3 and c["docs_allocated"] == 160
    # tombstones are now physical: cleared from _deletes, gone from postings
    assert read_tombstone_ids(spark, idx) == frozenset()
    st1 = load_stats(idx)
    assert st1["n_docs"] == 157 and st1["total_tokens"] < st0["total_tokens"]

    # post-compaction ranking: same docs as the pre-compaction excluded
    # query (scores shift — stats now reflect the live corpus, as at an ES
    # merge — so compare the doc sets, not the floats)
    post = [tuple(r) for r in wand_topk(spark, idx, Q, k=10).collect()]
    assert {d for d, _ in post} == {d for d, _ in excl}
    assert not ({d for d, _ in post} & dead)
    # dead ids are truly gone from the docmap
    dm = spark.read.parquet(os.path.join(idx, "docmap"))
    assert dm.filter(F.col("doc_id").isin(list(dead))).count() == 0


def test_append_epoch_after_compaction_no_id_collision(spark, tmp_path):
    idx = str(tmp_path / "aidx")
    _mk_epoch_index(spark, idx, n_epochs=2)  # ids 0..159
    add_tombstones(spark, idx, doc_ids={0, 1, 2, 3, 4})
    compact_index(spark, idx)

    # replaying a folded epoch is STILL a no-op (folded_epochs gate)
    assert (
        append_epoch(
            spark, gen_pages(spark, 80, seed=1, partitions=2), idx,
            epoch=0, seg_bits=6, n_term_buckets=4,
        )
        is None
    )

    # a NEW epoch bases its ids on ALLOCATED (160), not live (155)
    c = append_epoch(
        spark, gen_pages(spark, 40, seed=9, partitions=2), idx,
        epoch=2, seg_bits=6, n_term_buckets=4,
    )
    assert c["docs"] == 40
    new_dm = spark.read.parquet(os.path.join(idx, "docmap", "epoch=2"))
    lo, hi = new_dm.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    assert lo == 160 and hi == 199
    # live stats account for the deletes
    assert load_stats(idx)["n_docs"] == 155 + 40
    # and the full index still answers queries over old + new docs
    got = wand_topk(spark, idx, Q, k=10).collect()
    assert len(got) == 10


def test_recover_swap_dirs_repairs_crash_window(spark, tmp_path):
    idx = str(tmp_path / "ridx")
    _mk_epoch_index(spark, idx, n_epochs=1)
    before = [tuple(r) for r in wand_topk(spark, idx, Q, k=5).collect()]

    # simulate a crash between the two renames: term_stats moved aside,
    # a half-written postings.new left behind
    os.rename(
        os.path.join(idx, "term_stats"), os.path.join(idx, "term_stats.old")
    )
    os.makedirs(os.path.join(idx, "postings.new", "shard=base"))
    actions = recover_swap_dirs(idx)
    assert any("term_stats" in a for a in actions)
    assert not os.path.exists(os.path.join(idx, "postings.new"))

    # Searcher init runs the same recovery implicitly
    os.rename(
        os.path.join(idx, "term_stats"), os.path.join(idx, "term_stats.old")
    )
    got = [tuple(r) for r in wand_topk(spark, idx, Q, k=5).collect()]
    assert got == before


def test_compaction_is_rerunnable(spark, tmp_path):
    """Compacting an already-compacted index is a no-op on results."""
    idx = str(tmp_path / "iidx")
    _mk_epoch_index(spark, idx, n_epochs=2)
    compact_index(spark, idx)
    before = [tuple(r) for r in wand_topk(spark, idx, Q, k=10).collect()]
    compact_index(spark, idx)
    assert [tuple(r) for r in wand_topk(spark, idx, Q, k=10).collect()] == before
    assert load_stats(idx)["n_docs"] == 160


def test_compaction_folds_positions_and_phrase_respects_tombstones(spark, tmp_path):
    """Phrase queries exclude persistent tombstones BEFORE compaction and
    the postings' positions are folded (deletes physical) BY compaction."""
    from kafka_es_spark.operators.positions import (
        decode_position_segment,
        phrase_topk,
    )
    from kafka_es_spark.plans.build_index import build_index

    idx = str(tmp_path / "pcidx")
    pages = gen_pages(spark, 150, seed=4, partitions=3)
    build_index(spark, pages, idx, seg_bits=6, n_term_buckets=4)

    base = phrase_topk(spark, idx, "data index", k=30, round_to=None).collect()
    assert base, "corpus should contain the phrase"
    dead = {int(r["doc_id"]) for r in base[:2]}
    add_tombstones(spark, idx, doc_ids=dead)

    # pre-compaction: tombstones excluded from phrase results automatically
    excl = phrase_topk(spark, idx, "data index", k=30, round_to=None).collect()
    assert not ({int(r["doc_id"]) for r in excl} & dead)

    compact_index(spark, idx)
    # positions folded to one base shard; dead docs physically gone
    assert os.listdir(os.path.join(idx, "postings")) == ["shard=base"]
    for r in spark.read.parquet(os.path.join(idx, "postings")).collect():
        ids, tfs, pos = decode_position_segment(r)
        assert not (set(int(x) for x in ids) & dead), r["term"]
        assert pos.size == tfs.sum()
    # phrase results unchanged in doc set (scores shift with live stats)
    post = phrase_topk(spark, idx, "data index", k=30, round_to=None).collect()
    assert {int(r["doc_id"]) for r in post} == {int(r["doc_id"]) for r in excl}


def _rows(df, cols):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("codec", ["varint", "bp128"])
def test_compaction_equals_fresh_build_over_live_docs(spark, pages, tmp_path, codec):
    """Base plus two epochs, some docs tombstoned, then compact_index: the
    postings units equal a fresh build_segments_spimi over the live
    (doc_id, terms) rows with the same ids, in every column, positions
    included."""
    idx = str(tmp_path / f"c-{codec}")
    build_index(spark, pages, idx, seg_bits=6, n_term_buckets=4,
                codec=codec)
    base = spark.read.parquet(os.path.join(idx, "tokens")).select("doc_id", "terms")
    docs = [base]
    for e, seed in enumerate((7, 8)):
        batch = gen_pages(spark, 60, seed=seed, partitions=2).withColumn(
            "url", F.concat(F.lit(f"e{e}:"), F.col("url"))
        )
        append_epoch(spark, batch, idx, epoch=e, seg_bits=6,
                     n_term_buckets=4, codec=codec)
        ids = spark.read.parquet(os.path.join(idx, "docmap", f"epoch={e}"))
        docs.append(
            ids.join(extracted_pages(batch), "url")
            .select("doc_id", tokens(F.col("text")).alias("terms"))
        )
    # materialized now: compaction replaces the docmap files it reads
    live = docs[0].unionByName(docs[1]).unionByName(docs[2]).cache()
    n = live.count()
    # every 7th doc, plus the last epoch's tail: rare terms lose whole groups
    dead = [d for d in range(n) if d % 7 == 3] + list(range(n - 6, n))
    add_tombstones(spark, idx, doc_ids=dead)
    pre = spark.read.parquet(os.path.join(idx, "postings")).select(
        "term", "seg"
    ).distinct().count()
    compact_index(spark, idx)
    live = live.filter(~F.col("doc_id").isin(dead))

    bucket = F.pmod(hash32(F.col("term")), F.lit(4))
    post_cols = UNIT_SCHEMA.names + ["bucket"]
    want = _rows(
        build_segments_spimi(live, seg_bits=6, codec=codec)
        .withColumn("bucket", bucket),
        post_cols,
    )
    got = _rows(spark.read.parquet(os.path.join(idx, "postings")), post_cols)
    assert got and got == want
    assert len(got) < pre  # some (term, seg) groups lost every doc
    live.unpersist()

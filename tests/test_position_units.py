"""Positions are a column of postings (index format 3): one unit per
(term, seg) carries docs_blob/tfs_blob in the index codec and pos_blob in
varint, written by the build, by epoch appends and by compaction alike.

Pins: byte goldens of both codecs (the same bytes the separate positions
relation held before it was folded in), codec-independent positional
rows, positional rows after append + delete + compact equal to a fresh
build over the live corpus, one bucket schema across every unit, and a
``build_position_index`` that runs no Spark job."""

import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators.compaction import compact_index
from kafka_es_spark.operators.deletes import add_tombstones
from kafka_es_spark.operators.positions import (
    build_position_index,
    intervals_unordered_topk,
    phrase_match_ids,
    phrase_prefix_topk,
    phrase_topk,
    span_first_topk,
    span_not_topk,
)
from kafka_es_spark.plans.build_index import build_index
from kafka_es_spark.sources.pages import gen_pages
from kafka_es_spark.streaming.ingest_stream import append_epoch

SEG_BITS = 6
BUCKETS = 4

# sha256 of the sorted unit rows of a build over the session ``pages``
# (400 pages, seed 42) at seg_bits 6 / 4 buckets. The postings goldens
# are (term, seg, df_seg, cf_seg, first_docid, last_docid, docs_blob,
# tfs_blob); the position golden is (term, seg, pos_blob) and equals the
# digest of the format-2 ``positions/`` relation over the same corpus.
POSTINGS_GOLDEN = {
    "varint": "637f1961739a360113b431dab7be0ee8410f7574cbb40a29dca9755246d9ff9a",
    "bp128": "fc7970da614dee2fc00a340acf5ae43917abf6829f7c318a9ed142a9b4fbabae",
}
POSITIONS_GOLDEN = "9e8cd197f9f7117add32d1c06974e894a79f60893ac148ea1d2a75ba60590e1b"


def _digest(rows) -> str:
    return hashlib.sha256(b"".join(repr(r).encode() for r in sorted(rows))).hexdigest()


@pytest.fixture(scope="module")
def indexes(spark, pages, tmp_path_factory):
    root = tmp_path_factory.mktemp("units")
    out = {}
    for codec in ("varint", "bp128"):
        d = str(root / codec)
        build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=BUCKETS,
                    codec=codec)
        out[codec] = d
    return out


@pytest.mark.parametrize("codec", ["varint", "bp128"])
def test_unit_bytes_equal_goldens(indexes, codec):
    t = pq.read_table(os.path.join(indexes[codec], "postings")).to_pandas()
    post = [
        (r.term, int(r.seg), int(r.df_seg), int(r.cf_seg), int(r.first_docid),
         int(r.last_docid), bytes(r.docs_blob), bytes(r.tfs_blob))
        for r in t.itertuples()
    ]
    pos = [(r.term, int(r.seg), bytes(r.pos_blob)) for r in t.itertuples()]
    assert _digest(post) == POSTINGS_GOLDEN[codec]
    assert _digest(pos) == POSITIONS_GOLDEN
    assert not os.path.exists(os.path.join(indexes[codec], "positions"))


def _positional_rows(spark, d, with_url=False):
    """One call of every positional scorer (k above every hit count), as
    comparable row lists."""
    kw = {"k": 1000, "round_to": None, "with_url": with_url}
    calls = {
        "phrase": lambda: phrase_topk(spark, d, "data index", **kw),
        "sloppy": lambda: phrase_topk(spark, d, "data index", slop=2, **kw),
        "phrase_prefix": lambda: phrase_prefix_topk(spark, d, "data s", **kw),
        "span_first": lambda: span_first_topk(spark, d, "data", 5, **kw),
        "span_not": lambda: span_not_topk(spark, d, "data", "index", 1, 1, **kw),
        "intervals": lambda: intervals_unordered_topk(
            spark, d, "data", "index", 2, **kw
        ),
    }
    out = {name: [r.asDict() for r in fn().collect()] for name, fn in calls.items()}
    if not with_url:
        out["match_ids"] = sorted(
            r[0] for r in phrase_match_ids(spark, d, "data index", 1).collect()
        )
    return out


def test_positional_rows_are_codec_independent(spark, indexes):
    """Positional readers decode docs_blob/tfs_blob in the index codec: a
    bp128 index serves the varint index's rows."""
    varint = _positional_rows(spark, indexes["varint"])
    assert all(varint.values()), {k: len(v) for k, v in varint.items()}
    assert _positional_rows(spark, indexes["bp128"]) == varint


def test_build_position_index_runs_no_job(spark, pages, indexes):
    sc = spark.sparkContext
    group = "build-position-index"
    sc.setJobGroup(group, group)
    try:
        c = build_position_index(spark, pages, indexes["varint"])
    finally:
        sc.setJobGroup("after-build-position-index", "after-build-position-index")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    with open(os.path.join(indexes["varint"], "_manifest", "shard-00000.json")) as f:
        shard = json.load(f)
    assert c == {"segments": shard["segments"], "postings": shard["postings"]}


def _file_schemas(index_dir):
    out = set()
    for root, _, files in os.walk(os.path.join(index_dir, "postings")):
        for name in files:
            if name.endswith(".parquet"):
                # arrow nullability is the parquet required/optional flag
                f = pq.ParquetFile(os.path.join(root, name))
                out.add(f.schema_arrow.remove_metadata().to_string())
    return out


@pytest.mark.parametrize("codec", ["varint", "bp128"])
def test_append_delete_compact_equals_fresh_build(spark, pages, tmp_path, codec):
    """Base build + two appended epochs + tombstones + compaction: every
    postings file of every stage has one schema, and the positional rows
    equal those of a fresh build over the live corpus (matched by url:
    the fresh build assigns its own dense ids)."""
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, seg_bits=SEG_BITS, n_term_buckets=BUCKETS,
                codec=codec)
    batches = [
        gen_pages(spark, 60, seed=seed, partitions=2).withColumn(
            "url", F.concat(F.lit(f"e{e}:"), F.col("url"))
        )
        for e, seed in enumerate((7, 8))
    ]
    for e, batch in enumerate(batches):
        append_epoch(spark, batch, idx, epoch=e, seg_bits=SEG_BITS,
                     n_term_buckets=BUCKETS)
    schemas = _file_schemas(idx)
    # epoch-appended docs are phrase-searchable with no flag
    epoch_urls = {
        r["url"] for r in phrase_topk(
            spark, idx, "data index", k=1000, with_url=True
        ).collect()
    }
    assert any(u.startswith("e1:") for u in epoch_urls)

    dm = spark.read.parquet(os.path.join(idx, "docmap")).select("doc_id", "url")
    n = dm.count()
    dead = [d for d in range(n) if d % 7 == 3] + list(range(n - 6, n))
    add_tombstones(spark, idx, doc_ids=dead)
    dead_urls = {
        r["url"] for r in dm.filter(F.col("doc_id").isin(dead)).collect()
    }
    compact_index(spark, idx)
    schemas |= _file_schemas(idx)
    assert len(schemas) == 1, schemas

    live = pages
    for b in batches:
        live = live.unionByName(b)
    live = live.filter(~F.col("url").isin(sorted(dead_urls)))
    fresh = str(tmp_path / "fresh")
    build_index(spark, live, fresh, seg_bits=SEG_BITS, n_term_buckets=BUCKETS,
                codec=codec)

    def by_url(d):
        # doc ids differ between the two indexes, so ties may order
        # differently: compare each scorer's (url, score) set
        return {
            k: sorted((r["url"], round(r["score"], 9)) for r in rows)
            for k, rows in _positional_rows(spark, d, with_url=True).items()
        }

    got = by_url(idx)
    assert all(got.values())
    assert got == by_url(fresh)

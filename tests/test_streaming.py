"""Streaming ingestion: incremental epoch appends (exactly-once), end-to-end
micro-batch stream → index → query, and the A1 windowed-batching surface."""

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from kafka_es_spark.operators.wand import Searcher, wand_topk
from kafka_es_spark.plans.build_index import load_stats, prepare_docs
from kafka_es_spark.plans.manifest import Manifest
from kafka_es_spark.sources.pages import gen_pages
from kafka_es_spark.streaming.ingest_stream import (
    append_epoch,
    stream_pages_to_index,
    windowed_action_counts,
)

from bm25_oracle import exhaustive_topk_numpy


def test_append_epoch_incremental_and_idempotent(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    p1 = gen_pages(spark, 120, seed=1, partitions=2)
    p2 = gen_pages(spark, 80, seed=2, partitions=2)
    c1 = append_epoch(spark, p1, idx, epoch=0, seg_bits=6)
    assert c1["docs"] == 120
    c2 = append_epoch(spark, p2, idx, epoch=1, seg_bits=6)
    assert c2["docs"] == 80
    st = load_stats(idx)
    assert st["n_docs"] == 200
    # replaying a committed epoch is a no-op (exactly-once contract)
    before = os.path.getmtime(os.path.join(idx, "stats.json"))
    assert append_epoch(spark, p2, idx, epoch=1, seg_bits=6) is None
    assert os.path.getmtime(os.path.join(idx, "stats.json")) == before
    # querying sees docs from both epochs
    got = wand_topk(spark, idx, "data index search", k=10, with_url=True).collect()
    assert len(got) == 10


def test_stream_to_index_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "stridx")
    ckpt = str(tmp_path / "ckpt")
    pages = gen_pages(spark, 200, seed=42, partitions=2)
    # two files → two micro-batches with maxFilesPerTrigger=1
    pages.filter(F.crc32("url") % 2 == 0).coalesce(1).write.parquet(src + "/a")
    pages.filter(F.crc32("url") % 2 == 1).coalesce(1).write.parquet(src + "/b")
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream_pages_to_index(stream, idx, ckpt, once=True, n_term_buckets=4)
    q.awaitTermination(300)
    man = Manifest(idx)
    epochs = [e for e in man.entries() if e["name"].startswith("epoch-")]
    assert len(epochs) == 2 and sum(e["docs"] for e in epochs) == 200
    assert load_stats(idx)["n_docs"] == 200

    # rank-identity vs the exhaustive oracle over the same corpus (by url)
    doc_terms = (
        prepare_docs(pages).select("doc_id", "url", "terms").toPandas()
    )
    want = exhaustive_topk_numpy(doc_terms, ["data", "index", "search"], k=10)
    url_by_id = dict(zip(doc_terms["doc_id"], doc_terms["url"]))
    want_urls = [url_by_id[d] for d, _ in want]
    s = Searcher(spark, idx, cache=False)
    got = s.topk("data index search", k=10, round_to=None, with_url=True).collect()
    # doc-id assignment order differs per epoch, so equal-score ties may
    # permute: compare scores positionally; compare urls only above the
    # k-th score (tie group at the boundary is ambiguous by construction)
    for r, (_, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, abs=1e-10)
    kth = want[-1][1]
    got_strict = {r["url"] for r in got if r["score"] > kth + 1e-9}
    want_strict = {u for u, (_, ws) in zip(want_urls, want) if ws > kth + 1e-9}
    assert got_strict == want_strict


def test_windowed_action_counts_semantics(spark):
    # batch-mode check of the same window aggregation expression
    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(seconds=s), op)
        for s, op in [(0, "index"), (3, "index"), (5, "delete"), (12, "index"), (19, "index")]
    ]
    df = spark.createDataFrame(rows, "ts timestamp, op string")
    out = {
        (r["window"]["start"].second, r["op"]): r["n_actions"]
        for r in df.groupBy(F.window("ts", "10 seconds"), "op")
        .agg(F.count("*").alias("n_actions"))
        .collect()
    }
    assert out[(0, "index")] == 2 and out[(0, "delete")] == 1
    assert out[(10, "index")] == 2
    # and the streaming variant builds a valid streaming plan
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .withColumnRenamed("timestamp", "ts")
        .withColumn("op", F.lit("index"))
    )
    agg = windowed_action_counts(stream, 10, 30)
    assert agg.isStreaming


def test_pages_from_kafka_projection(spark):
    """S1 — the Kafka value→pages projection is pure Column ops, so the
    batch plan is the streaming plan; html round-trips through base64."""
    import base64
    import json as _json

    from kafka_es_spark.streaming.ingest_stream import pages_from_kafka

    html = b"<html><body><p>hi &amp; bye</p></body></html>"
    val = _json.dumps(
        {
            "url": "https://a.example/p1",
            "warc_ts": "2025-10-17 01:02:03",
            "html_b64": base64.b64encode(html).decode(),
            "text": "hi & bye",
            "lang": "en",
        }
    ).encode()
    raw = spark.createDataFrame(
        [(b"k1", val, "pages", 0, 7)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    rows = pages_from_kafka(raw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "https://a.example/p1"
    assert bytes(r["html"]) == html
    assert r["text"] == "hi & bye" and r["lang"] == "en"
    assert r["warc_ts"] is not None
    # same projection applied to a streaming frame stays streaming
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(NULL AS BINARY) AS value")
    )
    assert pages_from_kafka(stream).isStreaming


def _kafka_jar_present(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def test_kafka_source_gate(spark):
    """Without the spark-sql-kafka package the source raises the documented
    NotImplementedError naming the exact maven coordinate (or loads fine
    where the jar exists)."""
    from kafka_es_spark.streaming.ingest_stream import kafka_pages_stream

    try:
        df = kafka_pages_stream(spark, "localhost:9092", "pages")
    except NotImplementedError as e:
        assert "org.apache.spark:spark-sql-kafka-0-10" in str(e)
    else:  # pragma: no cover - jar present
        assert df.isStreaming


def test_kafka_live_path_activates_with_jar(spark):
    """Jar-present integration smoke (auto-skips in this sandbox): with
    spark-sql-kafka on the classpath the SAME call builds the real
    streaming frame — option plumbing + value projection, no code
    changes (VERDICT r4 item 6). No broker needed: the source connects
    at stream start, not at load()."""
    from kafka_es_spark.streaming.ingest_stream import kafka_pages_stream

    if not _kafka_jar_present(spark):
        pytest.skip("spark-sql-kafka jar not on classpath in this sandbox")
    df = kafka_pages_stream(
        spark, "localhost:9092", "pages", max_offsets_per_trigger=1000
    )
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]


def test_build_metrics_accumulators(spark, tmp_path):
    from kafka_es_spark.plans.build_index import build_index, load_stats
    from kafka_es_spark.plans.metrics import BuildMetrics
    from kafka_es_spark.sources.pages import gen_pages

    pages = gen_pages(spark, 150, seed=3, partitions=3)
    m = BuildMetrics(spark)
    idx = str(tmp_path / "midx")
    man = build_index(spark, pages, idx, seg_bits=6, n_term_buckets=4, metrics=m)
    d = m.as_dict()
    st = load_stats(idx)
    assert d["docs"] == st["n_docs"] == 150
    assert d["tokens"] == st["total_tokens"]
    assert d["segments"] == man["shard-00000"]["segments"]
    assert d["postings"] == man["shard-00000"]["postings"]
    assert d["posting_bytes"] > 0 and d["errors"] == 0
    assert "shard-00000" in d["stages"] and "docmap" in d["stages"]
    txt = m.to_prometheus_text()
    assert "kes_build_docs_total 150" in txt
    assert 'kes_build_stage_seconds{stage="docmap"}' in txt


def test_append_epoch_incremental_stats_and_partial_failure_replay(spark, tmp_path):
    """Epoch N+1's stats work is O(epoch): its term-stats partial covers only
    its own postings (manifest counter equality), global counts come from
    committed counters, and a crash AFTER the stats/files write but BEFORE
    the manifest commit replays to the identical dense id base (no
    double-counting, no id hole)."""
    idx = str(tmp_path / "incidx")
    p1 = gen_pages(spark, 120, seed=1, partitions=2)
    p2 = gen_pages(spark, 80, seed=2, partitions=2)
    append_epoch(spark, p1, idx, epoch=0, seg_bits=6)
    c2 = append_epoch(spark, p2, idx, epoch=1, seg_bits=6)
    units = sorted(
        d for d in os.listdir(os.path.join(idx, "term_stats")) if d.startswith("unit=")
    )
    assert units == ["unit=epoch-00000000", "unit=epoch-00000001"]
    # the epoch partial aggregates ONLY the epoch's postings
    part1 = spark.read.parquet(os.path.join(idx, "term_stats", "unit=epoch-00000001"))
    assert part1.agg(F.sum("df")).collect()[0][0] == c2["postings"]
    # incremental global stats == full recompute over the docmap
    st = load_stats(idx)
    dm = spark.read.parquet(os.path.join(idx, "docmap"))
    full = dm.agg(F.count("*"), F.sum("dl")).collect()[0]
    assert st["n_docs"] == full[0] == 200
    assert st["total_tokens"] == full[1]
    assert st["avgdl"] == pytest.approx(full[1] / full[0])

    # crash-before-commit replay: drop the manifest entry, stats.json stays
    # (already updated by the "failed" attempt) — the replay must derive the
    # base from COMMITTED entries, not stats.json
    os.remove(os.path.join(idx, "_manifest", "epoch-00000001.json"))
    c2r = append_epoch(spark, p2, idx, epoch=1, seg_bits=6)
    assert c2r["docs"] == 80
    st2 = load_stats(idx)
    assert st2["n_docs"] == 200 and st2["total_tokens"] == st["total_tokens"]
    # ids stay dense/contiguous: the format-2 range-dl decode would raise
    # on a hole, and ranking still works end-to-end
    got = wand_topk(spark, idx, "data index search", k=10).collect()
    assert len(got) == 10

    # compaction collapses partials to one base unit, ranking unchanged
    from kafka_es_spark.streaming.ingest_stream import compact_stats

    before = [tuple(r) for r in got]
    compact_stats(spark, idx)
    units2 = sorted(
        d for d in os.listdir(os.path.join(idx, "term_stats")) if d.startswith("unit=")
    )
    assert units2 == ["unit=base"]
    after = [tuple(r) for r in wand_topk(spark, idx, "data index search", k=10).collect()]
    assert after == before


def test_batch_build_then_append_epoch_uniform_layout(spark, tmp_path):
    """ADVICE r3 #1/#2: appending an epoch to a BATCH-built index must keep
    the full docmap/range_dls visible (one uniform epoch=* layout — the old
    mixed flat+partitioned layout made partition discovery silently resolve
    to the epoch rows only) and wand_topk over base+epoch must be
    rank-identical to the exhaustive oracle over the combined corpus."""
    from kafka_es_spark.plans.build_index import build_index

    idx = str(tmp_path / "mixidx")
    p1 = gen_pages(spark, 120, seed=1, partitions=2)
    p2 = gen_pages(spark, 80, seed=2, partitions=2)
    build_index(spark, p1, idx, seg_bits=6, n_term_buckets=4)
    append_epoch(spark, p2, idx, epoch=0, seg_bits=6, n_term_buckets=4)

    # full reads see BOTH units
    assert spark.read.parquet(os.path.join(idx, "docmap")).count() == 200
    rd = spark.read.parquet(os.path.join(idx, "range_dls"))
    assert rd.agg(F.sum("n")).collect()[0][0] == 200
    assert load_stats(idx)["n_docs"] == 200

    # rank-identity vs the exhaustive oracle over the union corpus
    both = p1.unionByName(p2)
    doc_terms = prepare_docs(both).select("doc_id", "url", "terms").toPandas()
    want = exhaustive_topk_numpy(doc_terms, ["data", "index", "search"], k=10)
    got = wand_topk(spark, idx, "data index search", k=10, round_to=None).collect()
    assert len(got) == 10
    for r, (_, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, abs=1e-10)


def test_iceberg_source_gate_and_parquet_fallback(spark, tmp_path):
    """BASELINE input_hint: the pages loader reads Iceberg where the runtime
    jar exists and raises the documented NotImplementedError where it does
    not; the parquet path round-trips the same relation (same gate pattern
    as the kafka/protobuf sources)."""
    from kafka_es_spark.sources.iceberg import read_pages_table

    pages = gen_pages(spark, 30, seed=9, partitions=2)
    src = str(tmp_path / "pq")
    pages.write.parquet(src)
    got = read_pages_table(spark, src, fmt="parquet")
    assert got.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert got.count() == 30
    # auto: dotted identifier -> iceberg, path -> parquet
    assert read_pages_table(spark, src, fmt="auto").count() == 30
    try:
        read_pages_table(spark, "catalog.db.pages", fmt="iceberg")
    except NotImplementedError as e:
        assert "iceberg-spark-runtime" in str(e)
    else:  # pragma: no cover - iceberg runtime present
        pass
    with pytest.raises(ValueError, match="unknown pages source"):
        read_pages_table(spark, src, fmt="orc")


def test_stream_auto_compaction_merge_policy(spark, tmp_path):
    """compact_every wires the ES merge-policy analogue into the sink:
    after enough epochs accrete, the stream itself folds them into one
    base unit — file count collapses, ranking is unchanged, and a later
    epoch append still works (no id collision with folded units)."""
    import glob as _glob

    from kafka_es_spark.operators.compaction import should_compact

    src = str(tmp_path / "src")
    idx = str(tmp_path / "cidx")
    ckpt = str(tmp_path / "ckpt")
    pages = gen_pages(spark, 180, seed=7, partitions=2)
    for i in range(3):
        pages.filter(F.crc32("url") % 3 == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream_pages_to_index(
        stream, idx, ckpt, once=True, n_term_buckets=4, compact_every=3
    )
    q.awaitTermination(300)

    # the third epoch crossed the threshold -> everything folded to base
    man = Manifest(idx)
    assert not [e for e in man.entries() if e["name"].startswith("epoch-")]
    shards = _glob.glob(os.path.join(idx, "postings", "shard=*"))
    assert [os.path.basename(s) for s in shards] == ["shard=base"]
    assert not should_compact(spark, idx, max_units=3)
    assert load_stats(idx)["n_docs"] == 180

    # ranking unchanged vs the exhaustive oracle over the same corpus
    doc_terms = prepare_docs(pages).select("doc_id", "url", "terms").toPandas()
    want = exhaustive_topk_numpy(doc_terms, ["data", "index", "search"], k=10)
    s = Searcher(spark, idx, cache=False)
    got = s.topk("data index search", k=10, round_to=None).collect()
    for r, (_, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, abs=1e-10)

    # post-compaction appends base ids on ALLOCATED ids — still queryable
    extra = gen_pages(spark, 40, seed=99, partitions=1)
    c = append_epoch(spark, extra, idx, epoch=50, n_term_buckets=4)
    assert c["docs"] == 40
    assert load_stats(idx)["n_docs"] == 220
    assert len(Searcher(spark, idx, cache=False).topk("data", k=5).collect()) == 5


def test_append_epoch_store_fields_uniform_schema(spark, tmp_path):
    """Stored fields flow through streaming epochs; a mismatched epoch
    raises instead of forking the docmap schema; compaction keeps the
    stored columns."""
    from kafka_es_spark.operators.compaction import compact_index
    from kafka_es_spark.operators.wand import Searcher

    idx = str(tmp_path / "sfstream")
    p1 = gen_pages(spark, 90, seed=3, partitions=2)
    p2 = gen_pages(spark, 60, seed=4, partitions=2)
    append_epoch(spark, p1, idx, epoch=0, n_term_buckets=4,
                 store_fields=("lang",))
    with pytest.raises(ValueError, match="store_fields"):
        append_epoch(spark, p2, idx, epoch=1, n_term_buckets=4)
    append_epoch(spark, p2, idx, epoch=1, n_term_buckets=4,
                 store_fields=("lang",))

    s = Searcher(spark, idx, cache=False)
    ext = p1.unionByName(p2).select("url", "lang")
    want = {
        r["lang"]: r["doc_count"]
        for r in s.facet_terms("data", ext, "lang", size=20).collect()
    }
    got = {
        r["lang"]: r["doc_count"]
        for r in s.facet_terms("data", None, "lang", size=20).collect()
    }
    assert got == want and want

    compact_index(spark, idx, n_term_buckets=4)
    s2 = Searcher(spark, idx, cache=False)
    got2 = {
        r["lang"]: r["doc_count"]
        for r in s2.facet_terms("data", None, "lang", size=20).collect()
    }
    assert got2 == want


def test_streaming_sessionize_stateful_carry(spark, tmp_path):
    """applyInPandasWithState sessionization: open sessions persist in the
    state store ACROSS micro-batches (and across a stream restart from
    the checkpoint); a later event past the gap closes and emits the
    session exactly once; still-open sessions emit nothing."""
    import datetime as dt
    import glob as _glob
    import shutil

    from kafka_es_spark.streaming.stateful import streaming_sessionize

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def sec(s):
        return t0 + dt.timedelta(seconds=s)

    def add_file(name, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            rows, "user_id long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(part, str(src / (name + ".parquet")))

    got = []

    def run_available():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
            str(src)
        )
        sess = streaming_sessionize(stream, gap_seconds=30)
        q = (
            sess.writeStream.foreachBatch(
                lambda df, eid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: user 1 two close events; user 2 one event; user 3 one event
    add_file("b1", [(1, sec(0)), (1, sec(10)), (2, sec(0)), (3, sec(0))])
    run_available()
    assert got == []  # everything still open

    # batch 2 (fresh run, same checkpoint — state must survive):
    # user 1 jumps past the gap (closes [0,10] n=2, opens a new one);
    # user 3 extends within gap then jumps (closes [0,5] n=2); user 2 idle
    add_file("b2", [(1, sec(100)), (1, sec(105)), (3, sec(5)), (3, sec(200))])
    run_available()
    emitted = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got
    }
    assert emitted == {
        (1, sec(0), sec(10), 2),
        (3, sec(0), sec(5), 2),
    }

"""End-to-end inverted-index build (the replacement for the whole reference
pipeline: Kafka sink → ES bulk → ES index build, SURVEY.md §3.1).

Layout of an index dataset at ``index_dir``:

    tokens/epoch=base/*.parquet    (doc_id, url, dl, terms, *store_fields):
                                   the extracted, doc-id'd, tokenized corpus,
                                   written once; the docmap, shard and bigram
                                   jobs all read it
    postings/shard=<i>/*.parquet   unit rows (spimi.UNIT_SCHEMA + bucket):
                                   the segment columns plus pos_blob, each
                                   doc's token positions (format 3 — there
                                   is no separate positions/ relation)
    docmap/epoch=*/*.parquet       (doc_id, url, dl); epoch=base for the
                                   batch unit, epoch=<n> per streaming epoch
                                   (one uniform partitioned layout — mixed
                                   flat+partitioned dirs silently drop the
                                   flat files at partition discovery)
    range_dls/epoch=*/*.parquet    per-doc-range dl arrays (norms analogue;
                                   format 2 — dl no longer rides per posting)
    term_stats/unit=*/*.parquet    (term, df, cf) PARTIALS (base + one per
                                   streaming epoch); readers sum per term
    stats.json                     {format: 3, n_docs, avgdl, total_tokens,
                                    codec, seg_bits, n_term_buckets,
                                    bucket_scheme}
    _manifest/*.json               per-stage commit entries + counters

Plan shape / scale notes:
* exactly one wide shuffle carries posting-sized data (the (term, seg)
  exchange of spimi.build_segments_spimi, positions included);
  tokenize+invert are narrow maps;
* doc-id assignment shuffles page-sized rows by a uniform hash bucket;
* segment rows are repartitioned by term-hash bucket and sorted by
  (term, seg) within files, so query reads prune to the query terms via
  parquet row-group min/max on ``term`` (Iceberg would add manifest-level
  pruning in prod — same layout);
* shards = disjoint doc-range slices (seg % n_shards); each shard is an
  independent job committed via the manifest → partition-granular resume;
* head-term skew never concentrates: a hot term's postings split across
  doc-range segments (the salt), bounded at 2^seg_bits docs per reducer.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_es_spark.functions.extract import extract_text
from kafka_es_spark.functions.tokenize import tokens
from kafka_es_spark.operators.docids import assign_doc_ids
from kafka_es_spark.operators import spimi
from kafka_es_spark.plans.manifest import Manifest

# Identifier of the term→bucket hash scheme used for file-level pruning.
# Recorded in stats.json; the query side prunes `bucket IN (...)` ONLY when
# the recorded scheme matches what it computes driver-side — an index built
# (or partially built) under a different scheme must fall back to unpruned
# scans rather than silently dropping query terms (ADVICE r2).
BUCKET_SCHEME = "md5h32"

# stats.json ``format`` of the layout this engine writes and reads: 3 keeps
# positions as the ``pos_blob`` column of postings/ (2 had them in a
# separate positions/ relation, or not at all)
INDEX_FORMAT = 3


def extracted_pages(
    pages: DataFrame,
    extract_if_missing: bool = True,
    store_fields: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → (url, text[, *store_fields]).
    The text is the ONLY column that is expensive to recompute (Python
    UDF) — build_index persists exactly this slim relation for the one
    job that writes ``tokens/``. html is dropped immediately; the token
    arrays are computed once, in that job, and every later build job reads
    them from ``tokens/`` rather than re-running extraction or the regex
    split. ``store_fields`` carries small scalar page columns through to
    the docmap — the ES stored-fields / doc-values analogue (keep them
    scalar; a wide stored column belongs in an external field relation,
    not the build lineage)."""
    # The Python UDF is hoisted out of coalesce into an ArrowEvalPython node
    # that runs on EVERY row, so gate its INPUT: rows that already carry text
    # hand the UDF a null instead of the html bytes — no Arrow transfer of
    # the payload, no regex work, identical output (guide §4: pass only what
    # the function needs).
    text = (
        F.coalesce(
            F.col("text"),
            extract_text(F.when(F.col("text").isNull(), F.col("html"))),
            F.lit(""),
        )
        if extract_if_missing
        else F.coalesce(F.col("text"), F.lit(""))
    )
    return pages.select("url", text.alias("text"), *store_fields)


def prepare_docs(pages: DataFrame, extract_if_missing: bool = True) -> DataFrame:
    """pages → (doc_id, url, dl, terms). One-shot convenience (tests): the
    same rows build_index writes to ``tokens/``, without writing them."""
    docs = assign_doc_ids(extracted_pages(pages, extract_if_missing))
    t = tokens(F.col("text"))
    return docs.select(
        "doc_id", "url", F.size(t).cast("long").alias("dl"), t.alias("terms")
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    *,
    seg_bits: int = spimi.SEG_BITS,
    n_term_buckets: int = 32,
    codec: str = "varint",
    n_shards: int = 1,
    resume: bool = False,
    extract_if_missing: bool = True,
    metrics=None,
    store_fields: tuple[str, ...] = (),
) -> dict:
    """Build (or resume) the index; returns the manifest counter summary.
    ``metrics``: optional plans.metrics.BuildMetrics — W2 accumulators
    updated executor-side (observability; the manifest counters computed
    from the written data stay authoritative). ``store_fields``: page
    columns stored in the docmap (ES doc-values analogue) — aggregations
    over them need no external field join at query time; recorded in
    stats.json so epoch appends keep the docmap schema uniform."""
    os.makedirs(index_dir, exist_ok=True)
    man = Manifest(index_dir)
    store_fields = tuple(store_fields)
    tokens_dir = os.path.join(index_dir, "tokens")

    # --- tokens: the extracted, doc-id'd, tokenized corpus, written once ---
    # Every later job reads this relation instead of re-deriving it: the
    # docmap is a column projection of it, the shard jobs invert its terms
    # and positions, and bigram stats read it back (read_tokens). Only the
    # extracted text is cached, and only for this one job: an Arrow UDF in
    # the lineage defeats column pruning, and assign_doc_ids reads its input
    # twice (the bucket-count job, then the window), so without the persist
    # every page would be extracted twice. Global stats ride the write via
    # Observation and are committed with the stage, so a resumed build needs
    # neither the pages nor a read-back job to recover them.
    if not (resume and man.is_complete("tokens")):
        t0 = time.time()
        slim = extracted_pages(pages, extract_if_missing, store_fields).persist()
        obs = Observation()
        (
            assign_doc_ids(slim)
            .select(
                "doc_id", "url", tokens(F.col("text")).alias("terms"),
                *store_fields,
            )
            .select(
                "doc_id", "url", F.size("terms").cast("long").alias("dl"),
                "terms", *store_fields,
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("tok"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tokens_dir, "epoch=base"))
        )
        slim.unpersist()
        st = obs.get
        elapsed = time.time() - t0
        man.commit(
            "tokens",
            {
                "docs": int(st["n"]),
                "avgdl": float(st["avgdl"] or 0.0),
                "tokens": int(st["tok"] or 0),
                "elapsed_sec": elapsed,
            },
        )
        # per-stage attribution under the stage name the build has always
        # reported for extraction + doc-id assignment
        man.commit("extract_docids", {"elapsed_sec": elapsed})
        if metrics is not None:
            metrics.record_stage("extract_docids", elapsed)
    # the base unit this build just wrote (or a resume found committed)
    docs = spark.read.parquet(os.path.join(tokens_dir, "epoch=base"))

    # --- docmap + global stats (its own committed stage) -------------------
    # The batch unit writes under epoch=base so batch and streaming layouts
    # are IDENTICAL: appending an epoch to a flat-file docmap would make
    # Spark partition discovery silently resolve to the epoch subdirs only,
    # losing the base corpus from every full docmap read (ADVICE r3 #1/#2).
    docmap_dir = os.path.join(index_dir, "docmap")
    if not (resume and man.is_complete("docmap")):
        t0 = time.time()
        docs.select("doc_id", "url", "dl", *store_fields).write.mode(
            "overwrite"
        ).parquet(os.path.join(docmap_dir, "epoch=base"))
        tok = man.read("tokens")
        stats = {
            "format": INDEX_FORMAT,
            "n_docs": int(tok["docs"]),
            "avgdl": float(tok["avgdl"]),
            "total_tokens": int(tok["tokens"]),
            "codec": codec,
            "seg_bits": seg_bits,
            "n_term_buckets": n_term_buckets,
            "bucket_scheme": BUCKET_SCHEME,
            "store_fields": list(store_fields),
        }
        with open(os.path.join(index_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        man.commit(
            "docmap",
            {
                "docs": stats["n_docs"],
                "tokens": stats["total_tokens"],
                "elapsed_sec": time.time() - t0,
            },
        )
        if metrics is not None:
            metrics.record_stage("docmap", time.time() - t0)

    # --- range dl arrays (format 2: dl rides ONCE per doc, not per posting).
    # Derived from the WRITTEN docmap parquet — a two-column scan. --
    if not (resume and man.is_complete("range_dls")):
        t0 = time.time()
        rd_dir = os.path.join(index_dir, "range_dls")
        spimi.build_range_dls(
            spark.read.parquet(docmap_dir).select("doc_id", "dl"), seg_bits=seg_bits
        ).write.mode("overwrite").parquet(os.path.join(rd_dir, "epoch=base"))
        # range count is driver arithmetic over dense ids — no count job
        st0 = load_stats(index_dir)
        n_ranges = (int(st0["n_docs"]) + (1 << seg_bits) - 1) >> seg_bits
        man.commit("range_dls", {"ranges": int(n_ranges), "elapsed_sec": time.time() - t0})
        if metrics is not None:
            metrics.record_stage("range_dls", time.time() - t0)

    # --- posting shards ------------------------------------------------------
    for shard in range(n_shards):
        name = f"shard-{shard:05d}"
        if resume and man.is_complete(name):
            continue
        t0 = time.time()
        sdocs = (
            docs
            if n_shards == 1
            else docs.filter(F.shiftright("doc_id", seg_bits) % n_shards == shard)
        )
        # SPIMI two-stage: runs are varint-encoded map-side, so the one
        # posting-sized exchange moves ~5-10x fewer bytes/rows than raw
        # (term, doc, tf, dl) rows would; the position stream rides the
        # same exchange into the same units (spimi.build_segments_spimi)
        segs = spimi.build_segments_spimi(
            sdocs, seg_bits=seg_bits, codec=codec, metrics=metrics
        )
        # counters observed on the write itself (no read-back job); `terms`
        # is approx_count_distinct — exact distinct is disallowed inside
        # observe, and the counter is observability, not a correctness input
        c = spimi.write_units(
            segs,
            n_term_buckets,
            os.path.join(index_dir, "postings", f"shard={shard}"),
            segments=F.count(F.lit(1)),
            terms=F.approx_count_distinct("term"),
            postings=F.sum("df_seg"),
            bytes=F.sum(F.octet_length("docs_blob") + F.octet_length("tfs_blob")),
        )
        man.commit(
            name,
            {
                "segments": int(c["segments"]),
                "terms": int(c["terms"]),
                "postings": int(c["postings"] or 0),
                "bytes": int(c["bytes"] or 0),
                "elapsed_sec": time.time() - t0,
            },
        )
        if metrics is not None:
            metrics.record_stage(name, time.time() - t0)

    # --- term stats (recomputed over all shards; cheap: segment rows only).
    # Written as a PARTIAL under unit=base: streaming epochs append their own
    # unit=<epoch> partials and the query side sums per term, so a stream
    # never re-aggregates the whole index per micro-batch. ---
    if not (resume and man.is_complete("term_stats")):
        t0 = time.time()
        all_segs = spark.read.parquet(os.path.join(index_dir, "postings"))
        ts_dir = os.path.join(index_dir, "term_stats")
        obs = Observation()
        (
            all_segs.groupBy("term")
            .agg(F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf"))
            .observe(obs, F.count(F.lit(1)).alias("terms"))
            .write.mode("overwrite")
            .parquet(os.path.join(ts_dir, "unit=base"))
        )
        man.commit(
            "term_stats",
            {"terms": int(obs.get["terms"]), "elapsed_sec": time.time() - t0},
        )

    return {e["name"]: e for e in man.entries()}


def load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)


def check_format(index_dir: str, st: dict) -> None:
    """Raise unless ``index_dir`` (stats ``st``) is in the layout this
    engine reads: format 3, positions inside postings/. A format-2 index,
    or any index with a positions/ directory, would be read half-way (its
    units carry no pos_blob), so it must be rebuilt."""
    fmt = st.get("format", 1)
    pos_dir = os.path.isdir(os.path.join(index_dir, "positions"))
    if fmt != INDEX_FORMAT or pos_dir:
        raise ValueError(
            f"index at {index_dir} is format {fmt}"
            f"{' with a positions/ directory' if pos_dir else ''}; this engine "
            f"reads format {INDEX_FORMAT}, whose postings carry their "
            "positions (pos_blob) — rebuild it with build_index"
        )


# the footer key under which Spark's parquet writer records the data schema
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark data schema recorded in the footer of the first data file
    under ``path`` (walked in sorted order, skipping the ``_``/``.`` names
    Spark skips), or None if no file carries it."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            meta = pq.read_metadata(os.path.join(root, name)).metadata or {}
            if SPARK_ROW_METADATA in meta:
                return T.StructType.fromJson(json.loads(meta[SPARK_ROW_METADATA]))
    return None


def read_relation(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    data schema comes from one footer's Spark row metadata (read with
    pyarrow on the driver) and is handed to ``spark.read.schema``, so
    opening a relation runs no Spark job. Partition columns are still
    inferred from the directory names, which reads no file. A relation
    whose files carry no Spark metadata falls back to inference.

    Engine relations are written by Spark in one schema per relation, so
    this is the schema inference would find; query paths read index
    relations only through here."""
    schema = _footer_schema(path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_tokens(spark: SparkSession, index_dir: str) -> DataFrame:
    """The base unit's tokenized corpus (doc_id, url, dl, terms,
    *store_fields) as build_index wrote it. An index built before
    ``tokens/`` existed has nothing to read: raise rather than re-derive
    the corpus from pages, whose doc ids the index need not share.

    Streaming epochs and compaction do not maintain ``tokens/``, so once
    the manifest records either (an ``epoch-*`` or ``compact-*`` entry, or
    a docmap that folded epochs in) the base tokens no longer describe the
    live corpus — they miss the streamed docs and keep deleted ones — and
    this raises rather than let bigram stats be rebuilt from them."""
    path = os.path.join(index_dir, "tokens", "epoch=base")
    man = Manifest(index_dir)
    if not (man.is_complete("tokens") and os.path.isdir(path)):
        raise FileNotFoundError(
            f"{path} is missing: this index has no committed tokens/ relation "
            "(built before tokens/ existed, or its build did not finish); "
            "rebuild it with build_index"
        )
    stale = sorted(
        e["name"] for e in man.entries()
        if e["name"].startswith(("epoch-", "compact-"))
        or (e["name"] == "docmap" and e.get("folded_epochs"))
    )
    if stale:
        raise ValueError(
            f"{path} is stale: the manifest records streamed or compacted "
            f"units ({', '.join(stale)}) that tokens/ does not hold; build "
            "the index afresh (build_index into a new directory) to get "
            "bigram stats over the live corpus"
        )
    return spark.read.parquet(path)


def build_bigram_stats(
    spark: SparkSession, pages: DataFrame, index_dir: str
) -> dict:
    """Add the ``bigram_stats/`` relation to an EXISTING index dataset:
    (prev, cur, n) corpus bigram counts under ``unit=base``, the
    phrase suggester's language model (mirrors term_stats' partials
    layout so streaming epochs could append their own units). Opt-in:
    ES only pays for the phrase-suggest data structures when the mapping
    asks for them.

    Why index-time: the suggester previously re-derived these counts
    from the corpus PER QUERY (a full tokenize + transition scan per
    suggestion request — VERDICT r4 #4). One build-time aggregation
    makes each suggest call a candidate-pair lookup: the broadcast
    pair dimension semi-joins a vocab²-bounded stats relation whose
    parquet files are sorted by (prev, cur) for row-group pruning.

    The transitions are counted over the token arrays build_index wrote to
    ``tokens/``; ``pages`` is unused (kept for existing callers), and an
    index without ``tokens/`` raises."""
    from kafka_es_spark.operators.cooccur import bigram_counts

    t0 = time.time()
    docs = read_tokens(spark, index_dir)
    st = load_stats(index_dir)
    n_buckets = int(st.get("n_term_buckets") or 8)
    man = Manifest(index_dir)
    obs = Observation()
    (
        bigram_counts(docs)
        .repartition(n_buckets, "prev")
        .sortWithinPartitions("prev", "cur")
        .observe(
            obs,
            F.count(F.lit(1)).alias("bigrams"),
            F.sum("n").alias("transitions"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "bigram_stats", "unit=base"))
    )
    c = obs.get
    counters = {
        "bigrams": int(c["bigrams"] or 0),
        "transitions": int(c["transitions"] or 0),
        "elapsed_sec": time.time() - t0,
    }
    man.commit("bigram_stats", counters)
    return counters


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    pages: DataFrame,
    dst_index_dir: str,
    query: str | None = None,
    mode: str = "or",
    must_not: str | None = None,
    **build_kw,
) -> dict:
    """The ES ``_reindex`` analogue: build a FRESH index (new seg_bits /
    buckets / codec / store_fields — the reasons one reindexes) over the
    subset of the corpus matching ``query`` against the SOURCE index.

    ES reindex reads each doc's ``_source``; this engine keeps sources
    in the external corpus relation (``pages``), so the filter is the
    source index's hit set (posting-list algebra, no scoring) semi-joined
    onto ``pages`` by url — the 100 TB side is touched once, pruned by
    the (typically far smaller) hit set. ``query=None`` reindexes every
    live doc (the settings-migration case), which also drops tombstoned
    docs — reindex-as-compaction, exactly like ES. Doc ids in the new
    index are freshly dense-assigned (reference: ES assigns new Lucene
    ids on reindex too; identity is the url).

    Returns build_index's manifest summary for the new index."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, src_index_dir, cache=False)
    try:
        dm = s.docmap
        if query is not None:
            hits = s.matching_doc_ids(query, mode=mode, must_not=must_not)
            urls = hits.join(dm.select("doc_id", "url"), "doc_id").select("url")
        else:
            dead = s.persistent_excluded
            urls = dm.select("doc_id", "url")
            if dead:
                # bounded by MAX_PENDING_TOMBSTONES — safe as a literal filter
                urls = urls.filter(~F.col("doc_id").isin(*sorted(dead)))
            urls = urls.select("url")
        subset = pages.join(urls, "url", "left_semi")
        return build_index(spark, subset, dst_index_dir, **build_kw)
    finally:
        s.close()

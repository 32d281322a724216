"""X4/X5 — SPIMI posting-segment build with doc-range salting.

Two stages, exactly one wide shuffle:

1. **Narrow invert** (``doc_term_freqs``): per Arrow batch, explode token
   arrays and compute per-document tf with a vectorized pandas groupby —
   no Spark shuffle. This replaces the naive ``explode → groupBy(term,
   doc_id)`` whose shuffle would carry one row per token occurrence
   (~10^14 rows at 100 TB); after local tf-compression the shuffled
   relation is one row per *distinct* (term, doc) pair.

2. **Segment build** (``build_segments_spimi``; ``build_segments`` over
   raw postings is the test reference): group by ``(term, seg)`` where
   ``seg = doc_id >> seg_bits``. The doc-range component is the salt
   (SURVEY.md §2.3 P1 generalized): a Zipf head term with 10^11 postings
   splits into bounded segments of ≤ 2^seg_bits docs each, so no reducer
   ever materializes a whole hot posting list — and because every term is
   cut on the *same* doc-range boundaries, query-time WAND can score each
   doc range independently and take a union of per-range top-k (exact,
   since ranges partition the doc space). No second merge pass is needed;
   segments ARE the index format.

Unit row schema (format 3, ``UNIT_SCHEMA``): term, seg, df_seg, cf_seg,
first_docid, last_docid, docs_blob (delta-gap + codec), tfs_blob (codec),
pos_blob (each doc's token positions, delta-coded, varint). Positions are
a column of the postings, as Lucene keeps them an option of the same
postings (``index_options=positions``): a term query's parquet scan
projects ``pos_blob`` out, a phrase query reads it from the same rows.

This module is the one run encoder of the index. The build's shards,
streaming epochs and compaction all write their units through it:

* ``pack_runs`` / ``pack_flush`` — map side: invert a flush of docs into
  varint runs, one per (term, seg), positions included;
* ``merge_units`` / ``merge_runs`` — the one (term, seg) shuffle and the
  vectorized merge kernel: decode, drop dead ids, one lexsort by (group,
  doc_id), gather position slices, re-delta, encode in the index codec.
  Compaction feeds stored unit rows in as runs;
* ``stream_groups`` — carries a batch's open group into the next batch;
* ``write_units`` — the bucket column and file layout of every unit.

Doc lengths do NOT ride with postings: dl-per-posting is redundant with the
docmap (~⅓ of every shuffled/stored posting triple), and at 100 TB the
posting shuffle is the dominant byte mover — so the per-RANGE dl array is
materialized ONCE from the docmap (``build_range_dls``, the Lucene-norms
analogue: doc ids are dense, so a doc range's lengths are one
position-indexed varint blob) and the query side gathers
``dl = dls[doc_id - base]`` per cursor. Block-max upper bounds are
likewise derived at query time from the decoded contributions — cheaper
to recompute than to shuffle and store.

Reference parity: the per-partition batch builder replaces the sink's
BufferingActor/BulkSinkActor pipeline (Actors.kt:107-259); blobs replace
NDJSON bulks (BulkAction.kt:104-111).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_es_spark.functions import codecs

SEG_BITS = 17  # 131072-doc ranges

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
)

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.LongType(), False),
        T.StructField("df_seg", T.LongType(), False),
        T.StructField("cf_seg", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("last_docid", T.LongType(), False),
        T.StructField("docs_blob", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
    ]
)

RANGE_DLS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("dls_blob", T.BinaryType(), False),
    ]
)


def doc_term_freqs(docs: DataFrame, terms_col: str = "terms", metrics=None) -> DataFrame:
    """(term, doc_id, tf) computed narrowly (no shuffle) from token arrays.
    Doc length is NOT carried per posting — it lives in the docmap / range
    dl arrays (format 2).

    Input needs columns: doc_id:long, <terms_col>:array<string>.
    ``metrics``: optional plans.metrics.BuildMetrics (W2 accumulators).
    """

    def invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf[terms_col]
            lens = toks.map(len).to_numpy(dtype=np.int64)
            if metrics is not None:
                metrics.add("docs", len(pdf))
                metrics.add("tokens", int(lens.sum()))
            if lens.sum() == 0:
                continue
            flat = pd.DataFrame(
                {
                    "term": np.concatenate([np.asarray(t, dtype=object) for t in toks if len(t)]),
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens),
                }
            )
            out = (
                flat.groupby(["doc_id", "term"], sort=False)
                .agg(tf=("term", "size"))
                .reset_index()
            )
            if metrics is not None:
                metrics.add("postings", len(out))
            yield out[["term", "doc_id", "tf"]]

    return docs.select("doc_id", terms_col).mapInPandas(invert, POSTING_SCHEMA)


def group_starts(*keys: np.ndarray) -> np.ndarray:
    """Row indices where a group of equal key tuples begins (row 0
    included), for rows sorted by ``keys``."""
    n = len(keys[0])
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(new)


def stream_groups(
    batches: Iterator[pd.DataFrame],
    keys: tuple[str, ...],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Apply ``fn`` to frames of COMPLETE key groups of a stream of Arrow
    batches sorted by ``keys``. Python runs once per batch; a batch that
    ends mid-group carries its open tail into the next one (bounded: a
    (term, seg) group is one doc range's postings, a seg group one doc
    range). Empty outputs are dropped."""
    hold: pd.DataFrame | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if hold is not None:
            pdf = pd.concat([hold, pdf], ignore_index=True)
        cut = int(group_starts(*(pdf[k].to_numpy() for k in keys))[-1])
        if cut == 0:
            hold = pdf
            continue
        hold = pdf.iloc[cut:].copy()
        out = fn(pdf.iloc[:cut])
        if len(out):
            yield out
    if hold is not None:
        out = fn(hold)
        if len(out):
            yield out


def build_segments(
    postings: DataFrame,
    seg_bits: int = SEG_BITS,
    codec: str = "varint",
    metrics=None,
) -> DataFrame:
    """Reference build over raw postings (tests check the SPIMI path
    against it): one shuffle of (term, doc_id, tf) rows by (term, seg =
    doc_id >> seg_bits), each partition sorted by (term, seg, doc_id) and
    encoded group by group inside mapInPandas.

    Why not groupBy().applyInPandas(): that pays ~ms of Arrow/pandas
    plumbing PER GROUP (one function call, one 1-row result frame each) —
    measured ~220 core-seconds for a 62k-term corpus whose actual encode
    work is a few core-seconds. Here Python is invoked once per Arrow
    batch (``stream_groups``)."""
    cols = [f.name for f in SEGMENT_SCHEMA.fields]

    def encode_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Encode a frame of COMPLETE groups, sorted by (term, seg, doc_id)."""
        terms = pdf["term"].to_numpy(dtype=object)
        segs_ = pdf["seg"].to_numpy(dtype=np.int64)
        ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
        tf_all = pdf["tf"].to_numpy(dtype=np.int64)
        starts = group_starts(terms, segs_)
        ends = np.append(starts[1:], len(pdf))
        rows = []
        for s, e in zip(starts, ends):
            ids = ids_all[s:e].astype(np.uint64)
            tfs = tf_all[s:e].astype(np.uint64)
            rows.append(
                (
                    terms[s],
                    int(segs_[s]),
                    int(ids.size),
                    int(tfs.sum()),
                    int(ids[0]),
                    int(ids[-1]),
                    codecs.encode(codecs.delta_encode(ids), codec),
                    codecs.encode(tfs, codec),
                )
            )
        if metrics is not None:
            metrics.add("segments", len(rows))
            metrics.add("posting_bytes", sum(len(r[6]) + len(r[7]) for r in rows))
        return pd.DataFrame(rows, columns=cols)

    seg = postings.withColumn("seg", F.shiftright(F.col("doc_id"), seg_bits))
    n_part = int(postings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = seg.repartition(n_part, "term", "seg").sortWithinPartitions(
        "term", "seg", "doc_id"
    )
    return part.mapInPandas(
        lambda b: stream_groups(b, ("term", "seg"), encode_block), SEGMENT_SCHEMA
    )


# --- the run format and its one encoder --------------------------------------
#
# A run is one (term, seg) slice of postings: ``n`` docs, ``ids_blob`` =
# the absolute first doc id then gaps, ``tfs_blob`` = per-doc tf and
# ``pos_blob`` = each doc's token positions, delta-coded and absolute at
# every doc start (sum(tf) values). Map-side runs travel as varint (bp128
# blobs are block-structured, not concatenative). A stored unit row is a run in the index codec, so
# compaction merges stored rows with the same kernel the build merges
# runs with.

RUN_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("ids_blob", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
        T.StructField("pos_blob", T.BinaryType(), False),
    ]
)

# a stored unit row: the segment columns plus the position stream
UNIT_SCHEMA = T.StructType(
    list(SEGMENT_SCHEMA.fields) + [T.StructField("pos_blob", T.BinaryType(), False)]
)

POS_BITS = 21  # doc length < 2^21 tokens — validated when packing


def deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """uint64 deltas of ``values``, absolute at every index in ``starts``."""
    out = values.astype(np.uint64)
    out[1:] -= values[:-1].astype(np.uint64)
    out[starts] = values[starts]
    return out


def rebase_cumsum(d: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Absolute values from per-run deltas ``d`` whose first element is
    absolute: one cumsum, rebased at each run start."""
    gcum = np.cumsum(d)
    base = gcum[starts] - d[starts]
    return gcum - np.repeat(base, lengths)


def gather_slices(
    values: np.ndarray, starts: np.ndarray, lengths: np.ndarray, perm: np.ndarray
) -> np.ndarray:
    """Concatenate values[starts[p] : starts[p]+lengths[p]] for p in perm,
    fully vectorized (no per-slice Python)."""
    lp = lengths[perm]
    total = int(lp.sum())
    if total == 0:
        return values[:0]
    idx = np.repeat(starts[perm] - _starts(lp), lp) + np.arange(total, dtype=np.int64)
    return values[idx]


def _starts(lengths: np.ndarray) -> np.ndarray:
    """Start offsets of runs laid end to end."""
    return np.concatenate([[0], np.cumsum(lengths)[:-1]]).astype(np.int64)


def pack_flush(
    pdf: pd.DataFrame,
    seg_bits: int,
    terms_col: str = "terms",
    metrics=None,
) -> pd.DataFrame | None:
    """Invert a frame of (doc_id, terms) rows into varint runs, one per
    (term, seg): factorize the terms, one int lexsort by (term, doc_id), a
    run cut on (term, seg), one segmented varint encode per blob column."""
    toks = pdf[terms_col]
    lens = toks.map(len).to_numpy(dtype=np.int64)
    if metrics is not None:
        metrics.add("docs", len(pdf))
        metrics.add("tokens", int(lens.sum()))
    if lens.sum() == 0:
        return None
    if int(lens.max()) >= (1 << POS_BITS):
        raise ValueError(
            f"document of {int(lens.max())} tokens exceeds the "
            f"2^{POS_BITS} position key space"
        )
    term_flat = np.concatenate([np.asarray(t, dtype=object) for t in toks if len(t)])
    id_flat = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens)
    # factorize + int lexsort: the (term-lex, doc_id) order of a string
    # groupby at ~1/3 of its cost; lexsort is stable, so each doc's
    # positions stay ascending
    codes, uniq = pd.factorize(pd.Series(term_flat), sort=True)
    order = np.lexsort((id_flat, codes))
    tc = codes[order]
    di = id_flat[order]
    dstarts = group_starts(tc, di)  # first occurrence of each posting
    tfs = np.diff(np.append(dstarts, tc.size))
    tcg = tc[dstarts]
    ids = di[dstarts]
    if metrics is not None:
        metrics.add("postings", ids.size)
    segs_ = ids >> seg_bits
    starts = group_starts(tcg, segs_)  # run starts, posting space
    nlens = np.diff(np.append(starts, ids.size))
    pos = (np.arange(tc.size, dtype=np.int64) - np.repeat(_starts(lens), lens))[order]
    return pd.DataFrame(
        {
            "term": np.asarray(uniq, dtype=object)[tcg[starts]],
            "seg": segs_[starts],
            "first_docid": ids[starts],
            "n": nlens,
            "ids_blob": codecs.varint_encode_segmented(deltas(ids, starts), nlens),
            "tfs_blob": codecs.varint_encode_segmented(tfs, nlens),
            "pos_blob": codecs.varint_encode_segmented(
                deltas(pos, dstarts), np.add.reduceat(tfs, starts)
            ),
        }
    )


def pack_runs(
    docs: DataFrame,
    seg_bits: int,
    pack_docs: int,
    terms_col: str = "terms",
    metrics=None,
) -> DataFrame:
    """Narrow stage: ``pack_flush`` over up to ``pack_docs`` docs at a time
    (longer runs amortize per-run overhead)."""

    def flush(frames: list[pd.DataFrame]) -> pd.DataFrame | None:
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        return pack_flush(pdf, seg_bits, terms_col, metrics)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[pd.DataFrame] = []
        ndocs = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            ndocs += len(pdf)
            if ndocs >= pack_docs:
                out = flush(buf)
                buf, ndocs = [], 0
                if out is not None and len(out):
                    yield out
        if buf:
            out = flush(buf)
            if out is not None and len(out):
                yield out

    return docs.select("doc_id", terms_col).mapInPandas(pack, RUN_SCHEMA)


MERGED_COLUMNS = (
    "term", "seg", "df_seg", "cf_seg", "first_docid", "last_docid",
    "docs_blob", "tfs_blob", "pos_blob",
)


def merge_runs(
    pdf: pd.DataFrame,
    codec: str = "varint",
    run_codec: str = "varint",
    dead: np.ndarray | None = None,
) -> pd.DataFrame:
    """The one merge kernel: complete (term, seg) groups of runs (sorted by
    term, seg) → one row per group, vectorized across every group of the
    block. Decode all runs in one pass, drop ``dead`` doc ids, one lexsort
    by (group, doc_id), gather each doc's position slice, re-delta and
    encode in ``codec`` (positions always varint). A group left empty by
    the dead-id drop disappears."""
    n_per = pdf["n"].to_numpy(dtype=np.int64)
    rs = _starts(n_per)
    gaps = codecs.decode_concat(pdf["ids_blob"], n_per, run_codec)
    ids = rebase_cumsum(gaps, rs, n_per).astype(np.int64)
    tfs = codecs.decode_concat(pdf["tfs_blob"], n_per, run_codec).astype(np.int64)
    terms = pdf["term"].to_numpy(dtype=object)
    segs_ = pdf["seg"].to_numpy(dtype=np.int64)
    gfirst = group_starts(terms, segs_)  # first run of each group
    run_group = np.zeros(len(pdf), dtype=np.int64)
    run_group[gfirst[1:]] = 1
    lab = np.repeat(np.cumsum(run_group), n_per)
    order = np.lexsort((ids, lab))
    if dead is not None and dead.size:
        order = order[~np.isin(ids[order], dead)]
    if order.size == 0:
        return pd.DataFrame(columns=list(MERGED_COLUMNS))
    ids_o = ids[order]
    tfs_o = tfs[order]
    lab_o = lab[order]
    gs = group_starts(lab_o)
    glens = np.diff(np.append(gs, ids_o.size))
    first = gfirst[lab_o[gs]]
    occ = _starts(tfs)
    posd = codecs.decode_concat(pdf["pos_blob"], np.add.reduceat(tfs, rs), "varint")
    pos = rebase_cumsum(posd, occ, tfs).astype(np.int64)
    pos_o = gather_slices(pos, occ, tfs, order)
    return pd.DataFrame(
        {
            "term": terms[first],
            "seg": segs_[first],
            "df_seg": glens,
            "cf_seg": np.add.reduceat(tfs_o, gs),
            "first_docid": ids_o[gs],
            "last_docid": ids_o[gs + glens - 1],
            "docs_blob": codecs.encode_segmented(deltas(ids_o, gs), glens, codec),
            "tfs_blob": codecs.encode_segmented(tfs_o, glens, codec),
            "pos_blob": codecs.varint_encode_segmented(
                deltas(pos_o, _starts(tfs_o)), np.add.reduceat(tfs_o, gs)
            ),
        }
    )


def merge_units(
    runs: DataFrame,
    schema: T.StructType,
    codec: str = "varint",
    run_codec: str = "varint",
    dead: np.ndarray | None = None,
    metrics=None,
) -> DataFrame:
    """The one (term, seg) shuffle: repartition runs by (term, seg), sort
    by (term, seg, first_docid) and stream ``merge_runs`` over each
    partition; ``schema`` names the output columns."""
    cols = [f.name for f in schema.fields]

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        out = merge_runs(pdf, codec, run_codec, dead)[cols]
        if metrics is not None:
            metrics.add("segments", len(out))
            metrics.add(
                "posting_bytes",
                int(out["docs_blob"].map(len).sum() + out["tfs_blob"].map(len).sum()),
            )
        return out

    # explicit partition count: a bare repartition(cols) is subject to AQE
    # partition coalescing, which shrinks this (compressed, so small-looking)
    # exchange to a handful of partitions and serializes the merge stage —
    # measured as flat 8→32-core scaling before the fix
    n_part = int(runs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = runs.repartition(n_part, "term", "seg").sortWithinPartitions(
        "term", "seg", "first_docid"
    )
    return part.mapInPandas(
        lambda b: stream_groups(b, ("term", "seg"), block), schema
    )


def build_segments_spimi(
    docs: DataFrame,
    seg_bits: int = SEG_BITS,
    codec: str = "varint",
    pack_docs: int = 100_000,
    terms_col: str = "terms",
    metrics=None,
) -> DataFrame:
    """X4/X5 — the true SPIMI two-stage build: per-partition inverted RUNS
    are delta-gapped and varint-encoded BEFORE the shuffle (map-side
    compression, ``pack_runs``), then merged per (term, doc-range) into
    final unit rows (``merge_units``). vs shuffling raw (term, doc_id,
    tf, dl) rows this moves ~5-10× fewer bytes and rows through the
    exchange — at 100 TB the posting shuffle is THE dominant cost, so
    map-side encoding is the design, not an optimization. Positions ride
    the same exchange, so one shuffle builds the postings and their
    position stream; the ``SEGMENT_SCHEMA`` columns are bit-identical to
    ``build_segments(doc_term_freqs(docs))`` (tested). Memory stays
    bounded: a (term, seg) group is ≤ 2^seg_bits postings by construction
    (the doc-range salt)."""
    runs = pack_runs(docs, seg_bits, pack_docs, terms_col, metrics=metrics)
    return merge_units(runs, UNIT_SCHEMA, codec, metrics=metrics)


def write_units(
    segs: DataFrame,
    n_term_buckets: int,
    path: str,
    **observed: Column,
) -> dict:
    """The layout of every unit write (build shards, epochs and
    compaction): a ``bucket = pmod(hash32(term), n)`` column — the
    portable md5 hash the query side recomputes driver-side to prune
    files — one partition per bucket, rows sorted by (term, seg), so a
    query prunes files by bucket and row groups by term. ``observed``
    aggregates ride the write; returns their values."""
    from kafka_es_spark.operators.dedup import hash32

    # never null; the coalesce makes Spark write it as a required column,
    # so every unit file has one parquet schema
    bucket = F.coalesce(F.pmod(hash32(F.col("term")), F.lit(n_term_buckets)), F.lit(0))
    out = (
        segs.withColumn("bucket", bucket)
        .repartition(n_term_buckets, "bucket")
        .sortWithinPartitions("term", "seg")
    )
    if not observed:
        out.write.mode("overwrite").parquet(path)
        return {}
    obs = Observation()
    out.observe(obs, *(c.alias(k) for k, c in observed.items())).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get


def decode_segment(row, codec: str = "varint"):
    """Segment row → (doc_ids, tfs) numpy arrays. Used by scorers/tests.
    Doc lengths come from the range dl array (``decode_range_dls``)."""
    n = int(row["df_seg"])
    gaps = codecs.decode(bytes(row["docs_blob"]), n, codec)
    tfs = codecs.decode(bytes(row["tfs_blob"]), n, codec)
    return codecs.delta_decode(gaps).astype(np.int64), tfs.astype(np.int64)


def build_range_dls(docs: DataFrame, seg_bits: int = SEG_BITS) -> DataFrame:
    """(seg, first_docid, n, dls_blob): per-doc-range varint dl arrays —
    the Lucene-norms analogue, materialized ONCE from (doc_id, dl) instead
    of repeating dl on every posting. Doc ids are dense (docids.assign /
    epoch bases), so each row covers the contiguous id range
    [first_docid, first_docid + n) and the query side gathers
    ``dl = dls[doc_id - base]``. One row per (range × build unit); a
    streaming epoch appends its own rows, which concatenate contiguously.
    Size: ~1-2 bytes/doc — negligible next to postings."""

    cols = [f.name for f in RANGE_DLS_SCHEMA.fields]

    def enc_block(pdf: pd.DataFrame) -> pd.DataFrame:
        segs_ = pdf["seg"].to_numpy(dtype=np.int64)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.uint64)
        starts = group_starts(segs_)
        nlens = np.diff(np.append(starts, ids.size))
        blobs = codecs.varint_encode_segmented(dls, nlens)
        return pd.DataFrame(
            {
                "seg": segs_[starts],
                "first_docid": ids[starts],
                "n": nlens,
                "dls_blob": blobs,
            }
        )[cols]

    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rel = docs.select(
        "doc_id",
        F.col("dl").cast("long").alias("dl"),
        F.shiftright(F.col("doc_id"), seg_bits).alias("seg"),
    )
    return (
        rel.repartition(n_part, "seg")
        .sortWithinPartitions("seg", "doc_id")
        .mapInPandas(lambda b: stream_groups(b, ("seg",), enc_block), RANGE_DLS_SCHEMA)
    )


def gather_dls(ids: np.ndarray, dl_base: int, dl_arr: np.ndarray) -> np.ndarray:
    """``dl_arr[ids - dl_base]``, validated: fancy indexing would silently
    gather WRONG dls for any id outside [dl_base, dl_base + len) — negative
    offsets wrap, positives past the end only sometimes raise — exactly the
    silent-corruption mode of a mixed docmap/range_dls layout (ADVICE r3
    #3). Every scorer gathers through here, so such an index raises."""
    if ids.size:
        lo, hi = int(ids.min()), int(ids.max())
        if lo < dl_base or hi >= dl_base + dl_arr.size:
            raise ValueError(
                f"posting doc ids [{lo}, {hi}] fall outside the range-dl "
                f"array [{dl_base}, {dl_base + dl_arr.size}): docmap/"
                "range_dls rows are missing for this doc range (corrupt or "
                "mixed-layout index)"
            )
    return dl_arr[ids - dl_base]


def decode_range_dls(rows: list[dict]) -> tuple[int, np.ndarray]:
    """Range-dl rows of ONE seg → (base_doc_id, dl array). Rows (one per
    build unit/epoch) are sorted by first_docid; dense ids make them
    contiguous, so the concatenation is position-indexed from base."""
    rows = sorted(rows, key=lambda r: r["first_docid"])
    base = int(rows[0]["first_docid"])
    expect = base
    parts = []
    for r in rows:
        if int(r["first_docid"]) != expect:
            raise ValueError(
                f"range dl rows not contiguous: expected first_docid={expect}, "
                f"got {r['first_docid']} (doc ids must be dense)"
            )
        parts.append(codecs.varint_decode(bytes(r["dls_blob"]), int(r["n"])))
        expect += int(r["n"])
    return base, np.concatenate(parts).astype(np.int64)

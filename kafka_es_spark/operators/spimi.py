"""X4/X5 — SPIMI posting-segment build with doc-range salting.

Two stages, exactly one wide shuffle:

1. **Narrow invert** (``doc_term_freqs``): per Arrow batch, explode token
   arrays and compute per-document tf with a vectorized pandas groupby —
   no Spark shuffle. This replaces the naive ``explode → groupBy(term,
   doc_id)`` whose shuffle would carry one row per token occurrence
   (~10^14 rows at 100 TB); after local tf-compression the shuffled
   relation is one row per *distinct* (term, doc) pair.

2. **Segment build** (``build_segments``): group by ``(term, seg)`` where
   ``seg = doc_id >> seg_bits``. The doc-range component is the salt
   (SURVEY.md §2.3 P1 generalized): a Zipf head term with 10^11 postings
   splits into bounded segments of ≤ 2^seg_bits docs each, so no reducer
   ever materializes a whole hot posting list — and because every term is
   cut on the *same* doc-range boundaries, query-time WAND can score each
   doc range independently and take a union of per-range top-k (exact,
   since ranges partition the doc space). No second merge pass is needed;
   segments ARE the index format.

Segment row schema (format 2): term, seg, df_seg, cf_seg, first_docid,
last_docid, docs_blob (delta-gap + codec), tfs_blob.

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

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
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


def build_segments(
    postings: DataFrame,
    seg_bits: int = SEG_BITS,
    codec: str = "varint",
    metrics=None,
) -> DataFrame:
    """One shuffle: repartition by (term, seg = doc_id >> seg_bits), sort
    each partition by (term, seg, doc_id), stream-encode groups inside
    mapInPandas.

    Why not groupBy().applyInPandas(): that pays ~ms of Arrow/pandas
    plumbing PER GROUP (one function call, one 1-row result frame each) —
    measured ~220 core-seconds for a 62k-term corpus whose actual encode
    work is a few core-seconds. Here Python is invoked once per Arrow
    batch; group boundaries are found vectorized; a batch that ends
    mid-group carries its open tail into the next batch (bounded: a group
    is ≤ 2^seg_bits docs by construction, so the tail never exceeds one
    doc-range posting list)."""
    from collections.abc import Iterator as _Iterator

    enc = codecs.varint_encode if codec == "varint" else codecs.bp128_encode
    cols = [f.name for f in SEGMENT_SCHEMA.fields]

    def encode_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Encode a frame of COMPLETE groups, sorted by (term, seg, doc_id)."""
        terms = pdf["term"].to_numpy(dtype=object)
        segs_ = pdf["seg"].to_numpy(dtype=np.int64)
        ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
        tf_all = pdf["tf"].to_numpy(dtype=np.int64)
        change = np.flatnonzero((terms[1:] != terms[:-1]) | (segs_[1:] != segs_[:-1])) + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [len(pdf)]])
        rows = []
        for s, e in zip(starts, ends):
            ids = ids_all[s:e].astype(np.uint64)
            tfs = tf_all[s:e].astype(np.uint64)
            gaps = codecs.delta_encode(ids)
            rows.append(
                (
                    terms[s],
                    int(segs_[s]),
                    int(ids.size),
                    int(tfs.sum()),
                    int(ids[0]),
                    int(ids[-1]),
                    enc(gaps),
                    enc(tfs),
                )
            )
        if metrics is not None:
            metrics.add("segments", len(rows))
            metrics.add("posting_bytes", sum(len(r[6]) + len(r[7]) for r in rows))
        return pd.DataFrame(rows, columns=cols)

    def encode_stream(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        hold: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if hold is not None:
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            # the final (term, seg) group may continue into the next batch
            lt = pdf["term"].iat[len(pdf) - 1]
            ls = pdf["seg"].iat[len(pdf) - 1]
            tail_mask = (pdf["term"].to_numpy(dtype=object) == lt) & (
                pdf["seg"].to_numpy(dtype=np.int64) == ls
            )
            # tail_mask is contiguous at the end (sorted input): cut = first
            # tail-group row = len - count of trailing Trues
            cut = int(len(pdf) - np.flip(tail_mask).argmin()) if not tail_mask.all() else 0
            if cut == 0:
                hold = pdf
                continue
            hold = pdf.iloc[cut:].copy()
            out = encode_block(pdf.iloc[:cut])
            if len(out):
                yield out
        if hold is not None and len(hold):
            yield encode_block(hold)

    seg = postings.withColumn("seg", F.shiftright(F.col("doc_id"), seg_bits))
    n_part = int(postings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = seg.repartition(n_part, "term", "seg").sortWithinPartitions(
        "term", "seg", "doc_id"
    )
    return part.mapInPandas(encode_stream, SEGMENT_SCHEMA)


RUN_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("ids_blob", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
    ]
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
    compression), then merged per (term, doc-range) into final segment
    rows. vs shuffling raw (term, doc_id, tf, dl) rows this moves ~5-10×
    fewer bytes and rows through the exchange — at 100 TB the posting
    shuffle is THE dominant cost, so map-side encoding is the design, not
    an optimization. Output rows are bit-identical to
    ``build_segments(doc_term_freqs(docs))`` (tested).

    Stage 1 (narrow): accumulate up to ``pack_docs`` docs per flush (longer
    runs amortize per-run overhead), invert with a vectorized groupby, cut
    runs on (term, seg) boundaries, encode ALL runs of the flush in one
    segmented varint pass.
    Stage 2 (the one posting shuffle): repartition by (term, seg), sort by
    (term, seg, first_docid), stream-merge inside mapInPandas — decode all
    runs of a batch in one pass (cumsum-of-gaps with per-run rebasing),
    re-sort each group by doc_id (runs from different input partitions
    interleave doc ranges), encode final blobs.
    Memory stays bounded: a (term, seg) group is ≤ 2^seg_bits postings by
    construction (the doc-range salt)."""
    from collections.abc import Iterator as _Iterator

    if codec != "varint":
        # bp128 blobs are block-structured, not concatenative — the partial
        # runs still travel as varint; only final blobs use the codec
        pass
    final_enc = codecs.varint_encode if codec == "varint" else codecs.bp128_encode
    run_cols = [f.name for f in RUN_SCHEMA.fields]
    seg_cols = [f.name for f in SEGMENT_SCHEMA.fields]

    def pack_flush(frames: list[pd.DataFrame]) -> pd.DataFrame | None:
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        toks = pdf[terms_col]
        lens = toks.map(len).to_numpy(dtype=np.int64)
        if metrics is not None:
            metrics.add("docs", len(pdf))
            metrics.add("tokens", int(lens.sum()))
        if lens.sum() == 0:
            return None
        term_flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in toks if len(t)]
        )
        id_flat = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens)
        # invert via factorize + int lexsort + run-length count — same
        # (term-lex, doc_id) group order as the old
        # groupby(sort=True).size() but ~3× faster (r6: the pandas
        # string-keyed groupby hashtable dominated the pack stage)
        codes, uniq = pd.factorize(pd.Series(term_flat), sort=True)
        order = np.lexsort((id_flat, codes))
        tc = codes[order]
        di = id_flat[order]
        new_grp = np.concatenate([[True], (tc[1:] != tc[:-1]) | (di[1:] != di[:-1])])
        gi = np.flatnonzero(new_grp)
        tfs = np.diff(np.concatenate([gi, [tc.size]]))
        tcg = tc[gi]
        ids = di[gi]
        terms = np.asarray(uniq, dtype=object)[tcg]
        if metrics is not None:
            metrics.add("postings", ids.size)
        segs_ = ids >> seg_bits
        change = np.flatnonzero((tcg[1:] != tcg[:-1]) | (segs_[1:] != segs_[:-1])) + 1
        starts = np.concatenate([[0], change])
        nlens = np.diff(np.concatenate([starts, [ids.size]]))
        gaps = ids.astype(np.uint64).copy()
        gaps[1:] -= ids[:-1].astype(np.uint64)
        gaps[starts] = ids[starts]  # absolute first id per run
        return pd.DataFrame(
            {
                "term": terms[starts],
                "seg": segs_[starts],
                "first_docid": ids[starts],
                "n": nlens,
                "ids_blob": codecs.varint_encode_segmented(gaps, nlens),
                "tfs_blob": codecs.varint_encode_segmented(tfs, nlens),
            }
        )[run_cols]

    def pack(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        buf: list[pd.DataFrame] = []
        ndocs = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            ndocs += len(pdf)
            if ndocs >= pack_docs:
                out = pack_flush(buf)
                buf, ndocs = [], 0
                if out is not None and len(out):
                    yield out
        if buf:
            out = pack_flush(buf)
            if out is not None and len(out):
                yield out

    def merge_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """pdf: complete (term, seg) groups of runs, sorted by
        (term, seg, first_docid)."""
        n_per = pdf["n"].to_numpy(dtype=np.int64)
        total = int(n_per.sum())
        gaps = codecs.varint_decode(b"".join(pdf["ids_blob"]), total)
        tfs_all = codecs.varint_decode(b"".join(pdf["tfs_blob"]), total).astype(np.int64)
        rs = np.concatenate([[0], np.cumsum(n_per)])
        gcum = np.cumsum(gaps)
        base = gcum[rs[:-1]] - gaps[rs[:-1]]  # cumsum before each run's start
        ids_all = (gcum - np.repeat(base, n_per)).astype(np.int64)
        terms = pdf["term"].to_numpy(dtype=object)
        segs_ = pdf["seg"].to_numpy(dtype=np.int64)
        gchange = np.flatnonzero((terms[1:] != terms[:-1]) | (segs_[1:] != segs_[:-1])) + 1
        gstarts = np.concatenate([[0], gchange])  # in run index space
        gends = np.concatenate([gchange, [len(pdf)]])
        if codec == "varint":
            # vectorized across ALL groups of the block (r6): label each
            # posting with its group, one lexsort by (group, doc_id), delta
            # with per-group rebasing, segmented varint encode — no
            # per-group Python loop. LEB128 is per-value, so the segmented
            # encoding is byte-identical to per-group encodes.
            n_runs = len(pdf)
            glabel_run = np.zeros(n_runs, dtype=np.int64)
            glabel_run[gchange] = 1
            glabel_run = np.cumsum(glabel_run)
            lab = np.repeat(glabel_run, n_per)
            order = np.lexsort((ids_all, lab))
            ids_s = ids_all[order]
            tfs_s = tfs_all[order]
            gs = rs[:-1][gstarts]  # posting-space group starts (sorted keys)
            glens = np.diff(np.concatenate([gs, [ids_s.size]]))
            gaps_out = ids_s.astype(np.uint64).copy()
            gaps_out[1:] -= ids_s[:-1].astype(np.uint64)
            gaps_out[gs] = ids_s[gs].astype(np.uint64)
            docs_blobs = codecs.varint_encode_segmented(gaps_out, glens)
            tfs_blobs = codecs.varint_encode_segmented(
                tfs_s.astype(np.uint64), glens
            )
            out = pd.DataFrame(
                {
                    "term": terms[gstarts],
                    "seg": segs_[gstarts],
                    "df_seg": glens,
                    "cf_seg": np.add.reduceat(tfs_s, gs),
                    "first_docid": ids_s[gs],
                    "last_docid": ids_s[np.concatenate([gs[1:], [ids_s.size]]) - 1],
                    "docs_blob": docs_blobs,
                    "tfs_blob": tfs_blobs,
                }
            )[seg_cols]
            if metrics is not None:
                metrics.add("segments", len(out))
                metrics.add(
                    "posting_bytes",
                    sum(len(b) for b in docs_blobs)
                    + sum(len(b) for b in tfs_blobs),
                )
            return out
        rows = []
        for rs_i, re_i in zip(gstarts, gends):
            s, e = int(rs[rs_i]), int(rs[re_i])
            ids = ids_all[s:e]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            tfs = tfs_all[s:e][order]
            rows.append(
                (
                    terms[rs_i],
                    int(segs_[rs_i]),
                    int(ids.size),
                    int(tfs.sum()),
                    int(ids[0]),
                    int(ids[-1]),
                    final_enc(codecs.delta_encode(ids.astype(np.uint64))),
                    final_enc(tfs.astype(np.uint64)),
                )
            )
        if metrics is not None:
            metrics.add("segments", len(rows))
            metrics.add(
                "posting_bytes",
                sum(len(r[6]) + len(r[7]) for r in rows),
            )
        return pd.DataFrame(rows, columns=seg_cols)

    def merge_stream(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        hold: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if hold is not None:
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            lt = pdf["term"].iat[len(pdf) - 1]
            ls = pdf["seg"].iat[len(pdf) - 1]
            tail = (pdf["term"].to_numpy(dtype=object) == lt) & (
                pdf["seg"].to_numpy(dtype=np.int64) == ls
            )
            cut = int(len(pdf) - np.flip(tail).argmin()) if not tail.all() else 0
            if cut == 0:
                hold = pdf
                continue
            hold = pdf.iloc[cut:].copy()
            out = merge_block(pdf.iloc[:cut])
            if len(out):
                yield out
        if hold is not None and len(hold):
            yield merge_block(hold)

    runs = docs.select("doc_id", terms_col).mapInPandas(pack, RUN_SCHEMA)
    # explicit partition count: a bare repartition(cols) is subject to AQE
    # partition coalescing, which shrinks this (compressed, so small-looking)
    # exchange to a handful of partitions and serializes the merge stage —
    # measured as flat 8→32-core scaling before the fix
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = runs.repartition(n_part, "term", "seg").sortWithinPartitions(
        "term", "seg", "first_docid"
    )
    return part.mapInPandas(merge_stream, SEGMENT_SCHEMA)


def decode_segment(row, codec: str = "varint"):
    """Segment row → (doc_ids, tfs) numpy arrays. Used by scorers/tests.
    Doc lengths come from the range dl array (``decode_range_dls``)."""
    dec = codecs.varint_decode if codec == "varint" else codecs.bp128_decode
    n = int(row["df_seg"])
    gaps = dec(bytes(row["docs_blob"]), n)
    tfs = dec(bytes(row["tfs_blob"]), n)
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

    def encode_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hold: pd.DataFrame | None = None
        cols = [f.name for f in RANGE_DLS_SCHEMA.fields]

        def enc_block(pdf: pd.DataFrame) -> pd.DataFrame:
            segs_ = pdf["seg"].to_numpy(dtype=np.int64)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            dls = pdf["dl"].to_numpy(dtype=np.uint64)
            change = np.flatnonzero(segs_[1:] != segs_[:-1]) + 1
            starts = np.concatenate([[0], change])
            nlens = np.diff(np.concatenate([starts, [ids.size]]))
            blobs = codecs.varint_encode_segmented(dls, nlens)
            return pd.DataFrame(
                {
                    "seg": segs_[starts],
                    "first_docid": ids[starts],
                    "n": nlens,
                    "dls_blob": blobs,
                }
            )[cols]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if hold is not None:
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            last_seg = pdf["seg"].iat[len(pdf) - 1]
            tail = pdf["seg"].to_numpy(dtype=np.int64) == last_seg
            cut = int(len(pdf) - np.flip(tail).argmin()) if not tail.all() else 0
            if cut == 0:
                hold = pdf
                continue
            hold = pdf.iloc[cut:].copy()
            yield enc_block(pdf.iloc[:cut])
        if hold is not None and len(hold):
            yield enc_block(hold)

    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rel = docs.select(
        "doc_id",
        F.col("dl").cast("long").alias("dl"),
        F.shiftright(F.col("doc_id"), seg_bits).alias("seg"),
    )
    return (
        rel.repartition(n_part, "seg")
        .sortWithinPartitions("seg", "doc_id")
        .mapInPandas(encode_stream, RANGE_DLS_SCHEMA)
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

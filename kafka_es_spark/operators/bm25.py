"""X6/X7 — corpus statistics and the exhaustive BM25 scorer, pure DataFrame ops.

This is the Step-1 "minimum slice" of SURVEY.md §7: BM25 (k1=1.2, b=0.75,
ES-7 idf = ln(1 + (N - df + 0.5)/(df + 0.5))) computed entirely with
built-in column expressions — groupBy aggregates, one broadcastable join
on query terms, scalar math inside whole-stage codegen. No UDFs.

It doubles as the *exhaustive oracle* for the block-max WAND path
(operators/wand.py): WAND must be rank-identical to this.

It is also the one home of the BM25 formula: ``idf`` and ``contrib`` are
the numpy forms every per-range kernel calls, ``idf_col`` and
``contrib_col`` the Column forms every relational plan calls. A change to
the scoring rule is a change here and nowhere else.

Scale notes (100 TB):
* tokenization+explode is a narrow map — no shuffle;
* doc-length and tf aggregates are hash aggregates with map-side partial
  combine (Catalyst does this automatically for groupBy.count);
* the query-terms filter uses `isin` over a literal list → pushed into the
  scan when postings are pre-materialized; here it prunes before shuffle;
* df/idf stats for the ≤|q| query terms are tiny → broadcast join.

Reference parity: semantics of the ES index fed by the sink
(BulkAction.kt:20-23 pins ES 7.x); BM25 constants per BASELINE.json.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from kafka_es_spark.functions.tokenize import tokens

K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    """ES-7 idf of a term with document frequency ``df`` in ``n_docs``."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def contrib(tf, dl, w, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution, float64: term weight ``w`` (a
    scalar or one per posting) saturated by ``tf`` against doc length
    ``dl``."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def idf_col(n, df):
    """``idf`` as a Column over Columns ``n`` (doc count) and ``df``."""
    return F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))


def contrib_col(w, tf, dl, avgdl):
    """``contrib`` as a Column, op for op; ``w`` and ``avgdl`` may be
    Columns or Python floats."""
    return F.lit(w) * tf * F.lit(K1 + 1.0) / (
        tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / F.lit(avgdl))
    )


def doc_tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) — one row per token occurrence. Narrow (no shuffle)."""
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term"))


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, dl) for every document, dl=0 for empty docs. One narrow map —
    token count per doc needs no explode+groupBy shuffle at all."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("dl"),
    )


def corpus_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Single-row (n_docs, avgdl). avgdl includes zero-length docs (ES does too)."""
    return doc_lengths(docs, id_col, text_col).agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def term_freqs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — the uncompressed posting relation."""
    return doc_tokens(docs, id_col, text_col).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    )


def doc_freqs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(term, df, cf): document frequency + collection frequency per term."""
    return (
        term_freqs(docs, id_col, text_col)
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
) -> DataFrame:
    """Exhaustive BM25 top-k over a (doc_id, text) corpus — OR semantics over
    the *unique* query terms, deterministic tie-break (score desc, doc_id asc).

    Plan shape: one narrow tokenize pass feeds both the tf aggregate (filtered
    to query terms before the shuffle) and the per-term df aggregate; doc
    lengths come from a separate narrow map (no shuffle); the per-term stats
    join is broadcast. Final top-k is a TakeOrdered — no global sort.
    """
    uq = sorted(set(query_terms))
    # r6 NOTE: two rewrites were tried here and BOTH reverted on interleaved
    # measurement. (1) dl riding the exploded token rows into the tf
    # aggregate: 3× slower at sf1.0 — projecting size(tk) NEXT TO
    # explode(tk) makes Spark re-evaluate the split per GENERATED row
    # (5.2 s vs 1.0 s for the explode alone at 50k docs). (2) df derived
    # from the tf relation: 1.62 → 2.12 s at sf1.0 — dfreq then DEPENDS on
    # tf's shuffle (a blocking chain) where the original aggregates df from
    # the narrow scan concurrently with tf. The independent-passes shape
    # below is the measured optimum for a cached corpus.
    toks = doc_tokens(docs, id_col, text_col)
    qtoks = toks.filter(F.col("term").isin(uq))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = qtoks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(docs, id_col, text_col)

    scored = (
        tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn(
            "tscore",
            contrib_col(
                idf_col(F.col("n_docs"), F.col("df")),
                F.col("tf"), F.col("dl"), F.col("avgdl"),
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("tscore").alias("score"))
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_to))
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def termvectors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``_termvectors`` API analogue (on-the-fly mode — ES re-analyzes
    ``_source`` when term vectors aren't stored): per (doc, term) rows
    with the term frequency and the ordered 0-based token positions —
    (doc_id, term, tf, positions).

    One narrow posexplode + one hash aggregation per doc's vocabulary;
    callers filter to the requested doc ids first so the scan prunes
    (the predicate pushes below the generate)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
            "positions"
        ),
    )

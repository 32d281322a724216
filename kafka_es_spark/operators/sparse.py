"""Learned-sparse retrieval — the ES ``sparse_vector`` / ``text_expansion``
query family (ELSER-style weighted-term search).

ES 8.x serves semantic search without dense ANN by storing a *learned
sparse* field: each document carries (token, weight) pairs produced by a
sparse encoder (ELSER), indexed exactly like term postings with the weight
as a stored payload; a query is likewise a small (token, weight) bag and
score(q, d) = Σ_t q_w(t) · d_w(t) over the shared tokens. The query engine
is therefore the SAME inverted-index machinery as BM25 — only the
per-posting weight changes — which is why this lives beside the WAND path.

* ``build_rank_features`` — a deterministic stand-in for the learned
  encoder: top-m terms per document by tf·idf (ES-7 idf), weight rounded
  at the boundary. A real encoder just swaps in a different (doc_id,
  feature, weight) relation; everything downstream is unchanged.
* ``sparse_vector_topk`` — the ``sparse_vector`` query: weighted-dot
  scoring over the feature relation, top-k.

Scale (100 TB): the feature relation is postings-shaped (≈ top_m rows per
doc). Scoring scans ONLY the query's features — the ``feature IN (...)``
filter is a pushable scan predicate (partition/bucket the relation by
feature hash and the scan prunes like the term-bucket posting layout) —
then one doc-keyed hash aggregation with map-side combine and a
TakeOrdered cut. No corpus-sized shuffle, no UDF anywhere.

Reference parity: the reference delegates queries to ES (BulkAction.kt
pins ES 7.x; sparse_vector is the 8.x successor of rank_features:
`positive_score_impact` scoring, weights multiply — public ES docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kafka_es_spark.operators import bm25 as _bm25
from kafka_es_spark.session import local_frame


def build_rank_features(
    docs: DataFrame,
    top_m: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """(doc_id, feature, weight): each doc's top-m terms by tf·idf with the
    ES-7 idf, ties broken feature-asc — a deterministic sparse-encoder
    stand-in (the ELSER slot). Weights round to ``round_to`` at the
    boundary so downstream dot products are engine-stable.

    Plan: the tf aggregate and the df aggregate are the X6 relations; the
    stats join is broadcast (1 row), the df join is term-keyed (AQE
    broadcasts when the vocabulary is small); the top-m cut is a window
    PARTITIONED BY doc_id — bounded by per-document vocabulary (≤ dl),
    never corpus-sized."""
    tf = _bm25.term_freqs(docs, id_col, text_col)
    dfreq = _bm25.doc_freqs(docs, id_col, text_col).select("term", "df")
    stats = _bm25.corpus_stats(docs, id_col, text_col)
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("feature").asc())
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(broadcast(stats))
        .select(
            "doc_id",
            F.col("term").alias("feature"),
            F.round(F.col("tf") * idf, round_to).alias("weight"),
        )
        .withColumn("_r", w)
        .filter(F.col("_r") <= int(top_m))
        .drop("_r")
    )


def sparse_vector_topk(
    features: DataFrame,
    query_weights: dict[str, float],
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """The ES ``sparse_vector`` query: score(d) = Σ_t q_w(t)·w(d,t) over the
    query's tokens, top-k as (doc_id, score), ties doc-asc. Query bags are
    small by construction (an encoder emits tens of tokens) → broadcast
    dimension; docs matching NO query token never score (ES semantics —
    the posting scan only touches the query's feature lists)."""
    if not query_weights:
        raise ValueError("sparse_vector query needs at least one weighted token")
    spark = features.sparkSession
    q = local_frame(
        spark, sorted(query_weights.items()), "feature string, qw double"
    )
    scored = (
        features.join(broadcast(q), "feature")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("weight") * F.col("qw")), round_to).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(int(k))

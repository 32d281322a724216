"""kafka_es_spark — a PySpark-native full-text indexing + BM25 retrieval engine.

Re-expresses the capabilities of the reference (anti-social/kafka-es, a
Kafka-to-Elasticsearch bulk sink) as an idiomatic Spark engine:

* ingestion-edge operators (tag filter, action explode, index resolution,
  hash routing) — ``operators.ingest`` (reference: ElasticsearchSinkTask.kt,
  Actors.kt, BaseConverter.kt);
* the full-text semantics the reference delegates to Elasticsearch —
  inverted-index build (SPIMI, varint/delta + block-max), BM25 scoring and
  block-max WAND top-k — ``operators.spimi/merge/bm25/wand`` and
  ``plans.build_index/query_index``;
* training-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) — ``operators.dedup/similarity``,
  ``functions.textstats``, ``operators.multimodal``.

Everything is DataFrame-first: Catalyst handles pushdown/pruning; custom
physical logic (posting-list codecs, WAND) lives in Arrow-vectorized
pandas UDFs only.
"""

from kafka_es_spark import _zipcache

# every engine UDF imports this package in its Python worker, so reused
# workers stop re-reading pyspark.zip's directory at each task start
_zipcache.install()

__version__ = "0.1.0"

"""spark-submit entry point: continuously ingest a pages stream into an index.

    spark-submit --py-files dist/kafka_es_spark.zip jobs/ingest_stream.py \
        --source /data/incoming_pages --index /data/index \
        --checkpoint /data/ckpt [--trigger 10] [--once]

    # Kafka source (needs org.apache.spark:spark-sql-kafka-0-10 on the cluster):
    spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
        --py-files dist/kafka_es_spark.zip jobs/ingest_stream.py \
        --format kafka --kafka-bootstrap broker:9092 --kafka-topic pages \
        --index /data/index --checkpoint /data/ckpt

Source is a parquet file-stream dir by default; --format kafka reads a
topic whose values are JSON pages (html base64) — same downstream plan.
"""

from __future__ import annotations

import os
import sys

# Allow `python jobs/<job>.py` without spark-submit --py-files.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", help="parquet file-stream dir (format=files)")
    p.add_argument("--format", choices=["files", "kafka"], default="files")
    p.add_argument("--kafka-bootstrap", help="bootstrap servers (format=kafka)")
    p.add_argument("--kafka-topic", help="topic to subscribe (format=kafka)")
    p.add_argument("--kafka-starting-offsets", default="earliest")
    p.add_argument("--kafka-max-offsets-per-trigger", type=int, default=None,
                   help="bulk.size analogue: rows per micro-batch")
    p.add_argument("--index", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--trigger", type=int, default=10)
    p.add_argument("--max-files-per-trigger", type=int, default=10)
    p.add_argument("--term-buckets", type=int, default=32)
    p.add_argument("--store-fields", default=None, metavar="F1,F2",
                   help="comma-separated page columns stored in the "
                        "docmap (same contract as build_index.py)")
    p.add_argument("--compact-every", type=int, default=None, metavar="N",
                   help="in-stream merge policy (ES background-merge "
                        "analogue): compact after the index accretes N "
                        "epoch units")
    p.add_argument("--once", action="store_true", help="drain available input, then stop")
    args = p.parse_args(argv)

    from kafka_es_spark.session import get_spark
    from kafka_es_spark.sources.pages import PAGES_SCHEMA
    from kafka_es_spark.streaming.ingest_stream import (
        kafka_pages_stream,
        stream_pages_to_index,
    )

    spark = get_spark("kes-ingest-stream")
    try:
        if args.format == "kafka":
            if not (args.kafka_bootstrap and args.kafka_topic):
                p.error("--format kafka requires --kafka-bootstrap and --kafka-topic")
            stream = kafka_pages_stream(
                spark,
                args.kafka_bootstrap,
                args.kafka_topic,
                starting_offsets=args.kafka_starting_offsets,
                max_offsets_per_trigger=args.kafka_max_offsets_per_trigger,
            )
        else:
            if not args.source:
                p.error("--format files requires --source")
            stream = (
                spark.readStream.schema(PAGES_SCHEMA)
                .option("maxFilesPerTrigger", args.max_files_per_trigger)
                .option("recursiveFileLookup", "true")
                .parquet(args.source)
            )
        q = stream_pages_to_index(
            stream,
            args.index,
            args.checkpoint,
            trigger_seconds=args.trigger,
            n_term_buckets=args.term_buckets,
            once=args.once,
            compact_every=args.compact_every,
            store_fields=tuple(
                f for f in (args.store_fields or "").split(",") if f
            ),
        )
        q.awaitTermination()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

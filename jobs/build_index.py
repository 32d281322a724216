"""spark-submit entry point: build an inverted index from a pages table.

    spark-submit --py-files dist/kafka_es_spark.zip jobs/build_index.py \
        --input /data/pages_parquet --output /data/index \
        --shards 64 --term-buckets 256 --codec varint [--resume]

(W3 analogue of the reference's runner CLI, kafka-es-runner Main.kt:25-77.)
In local sandboxes --gen N synthesizes the input_hint-shaped corpus.
"""

from __future__ import annotations

import os
import sys

# Allow `python jobs/<job>.py` without spark-submit --py-files.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="pages source: parquet dir or iceberg table/path")
    p.add_argument(
        "--input-format",
        choices=["auto", "parquet", "iceberg"],
        default="auto",
        help="auto = iceberg for dotted table identifiers, parquet for paths",
    )
    p.add_argument(
        "--snapshot-id", type=int, help="pin an iceberg snapshot (resume reads the same bytes)"
    )
    p.add_argument("--gen", type=int, help="synthesize N pages instead of --input")
    p.add_argument("--output", required=True, help="index dataset dir")
    p.add_argument("--shards", type=int, default=1)
    p.add_argument("--term-buckets", type=int, default=32)
    p.add_argument("--seg-bits", type=int, default=17)
    p.add_argument("--codec", choices=["varint", "bp128"], default="varint")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--store-fields", default=None, metavar="F1,F2",
                   help="comma-separated page columns to store in the "
                        "docmap (doc-values tier: --facet lookups, DSL "
                        "_source includes, and update_by_query --set/"
                        "--script can only touch stored fields)")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)
    if not args.input and not args.gen:
        p.error("one of --input / --gen is required")

    from kafka_es_spark.session import get_spark
    from kafka_es_spark.plans.build_index import build_index

    spark = get_spark("kes-build-index")
    try:
        if args.input:
            from kafka_es_spark.sources.iceberg import read_pages_table

            pages = read_pages_table(
                spark, args.input, fmt=args.input_format, snapshot_id=args.snapshot_id
            )
        else:
            from kafka_es_spark.sources.pages import gen_pages_distributed

            pages = gen_pages_distributed(spark, args.gen, seed=args.seed)
        manifest = build_index(
            spark,
            pages,
            args.output,
            seg_bits=args.seg_bits,
            n_term_buckets=args.term_buckets,
            codec=args.codec,
            n_shards=args.shards,
            resume=args.resume,
            store_fields=tuple(
                f for f in (args.store_fields or "").split(",") if f
            ),
        )
        json.dump(manifest, sys.stdout, indent=2)
        print()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point: BM25 top-k queries against an index dataset.

    spark-submit --py-files dist/kafka_es_spark.zip jobs/query_index.py \
        --index /data/index -k 10 "web crawl text" ["second query" ...]
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
    p.add_argument("--index", required=True)
    # default resolves to 10 after parsing; None is distinguishable so a
    # --dsl body's own "size" governs unless -k is given explicitly
    p.add_argument("-k", type=int, default=None)
    p.add_argument("--no-url", action="store_true")
    p.add_argument("--batch", action="store_true",
                   help="score all queries in ONE Spark job (amortized latency)")
    p.add_argument("--mode", choices=["or", "and"], default="or",
                   help="and = conjunctive (ES bool.must)")
    p.add_argument("--min-should-match", type=int, default=None,
                   help="require >= m matching terms (ES minimum_should_match)")
    p.add_argument("--phrase", action="store_true",
                   help="phrase query (positions live in postings/); see --slop")
    p.add_argument("--slop", type=int, default=0,
                   help="phrase gap budget (ES match_phrase slop / ordered "
                        "span_near)")
    p.add_argument("--phrase-prefix", action="store_true",
                   help="match_phrase_prefix: last token expands against "
                        "the term dictionary")
    p.add_argument("--prefix", action="store_true",
                   help="prefix query: expand each arg against the term dict")
    p.add_argument("--fuzzy", action="store_true",
                   help="fuzzy query: expand each arg within --max-edits")
    p.add_argument("--wildcard", action="store_true",
                   help="wildcard query: * / ? expanded against the term "
                        "dictionary")
    p.add_argument("--boost", action="append", default=[],
                   metavar="TERM=WEIGHT",
                   help="query-time term boost (repeatable; ES term^boost)")
    p.add_argument("--max-edits", type=int, default=1,
                   help="fuzzy edit-distance budget (ES fuzziness)")
    p.add_argument("--must-not", default=None,
                   help="exclude docs containing any of these terms "
                        "(ES bool.must_not, filter context)")
    p.add_argument("--after", default=None, metavar="SCORE,DOC_ID",
                   help="search_after cursor: return the page strictly "
                        "after (score, doc_id) in rank order")
    p.add_argument("--count", action="store_true",
                   help="print the matching-doc count instead of top-k "
                        "(ES _count)")
    p.add_argument("--facet", default=None, metavar="FIELD[:PARQUET]",
                   help="terms aggregation: bucket hits by FIELD — read "
                        "from the docmap's stored fields (doc-values "
                        "path; build with --store-fields), or joined "
                        "from a (url, FIELD) parquet relation when "
                        ":PARQUET is given")
    p.add_argument("--embeddings", default=None, metavar="PARQUET",
                   help="embeddings relation (vec_id, embedding[, url]) "
                        "for --dsl bodies with knn sections/clauses")
    p.add_argument("--docs-text", default=None, metavar="PARQUET",
                   help="(url, text) relation for --dsl bodies with "
                        "highlight or significant_text sections")
    p.add_argument("--dsl", action="store_true",
                   help="treat each query arg as an ES _search request "
                        "body (JSON string, or @file.json) — the JSON "
                        "Query DSL interpreter")
    p.add_argument("queries", nargs="+")
    args = p.parse_args(argv)
    dsl_k = args.k  # None → the body's "size" (ES: body wins over default)
    if args.k is None:
        args.k = 10

    from kafka_es_spark.session import get_spark
    from kafka_es_spark.operators.wand import Searcher

    spark = get_spark("kes-query-index")
    try:
        if args.phrase:
            from kafka_es_spark.operators.positions import phrase_topk

            for q in args.queries:
                rows = phrase_topk(
                    spark, args.index, q, k=args.k, slop=args.slop,
                    with_url=not args.no_url,
                ).collect()
                print(json.dumps({"phrase": q, "hits": [r.asDict() for r in rows]}))
            return
        if args.phrase_prefix:
            from kafka_es_spark.operators.positions import phrase_prefix_topk

            for q in args.queries:
                rows = phrase_prefix_topk(
                    spark, args.index, q, k=args.k, with_url=not args.no_url
                ).collect()
                print(json.dumps({"phrase_prefix": q,
                                  "hits": [r.asDict() for r in rows]}))
            return
        s = Searcher(spark, args.index)
        if args.dsl:
            from kafka_es_spark.operators.searchapi import search

            emb = (
                spark.read.parquet(args.embeddings)
                if args.embeddings else None
            )
            dt = (
                spark.read.parquet(args.docs_text)
                if args.docs_text else None
            )
            for q in args.queries:
                try:
                    body = json.loads(
                        open(q[1:]).read() if q.startswith("@") else q
                    )
                except json.JSONDecodeError as e:
                    raise SystemExit(
                        f"--dsl expects an ES _search JSON body "
                        f"(or @file.json): {e}"
                    )
                rows = search(
                    s, body, k=dsl_k, with_url=not args.no_url,
                    embeddings=emb, docs_text=dt,
                ).collect()
                print(json.dumps({"dsl": body.get("query", body),
                                  "hits": [r.asDict() for r in rows]}))
            s.close()
            return
        if args.prefix:
            for q in args.queries:
                rows = s.prefix_topk(q, k=args.k, with_url=not args.no_url).collect()
                print(json.dumps({"prefix": q, "hits": [r.asDict() for r in rows]}))
            s.close()
            return
        if args.fuzzy:
            for q in args.queries:
                rows = s.fuzzy_topk(
                    q, k=args.k, max_edits=args.max_edits,
                    with_url=not args.no_url,
                ).collect()
                print(json.dumps({"fuzzy": q, "hits": [r.asDict() for r in rows]}))
            s.close()
            return
        if args.wildcard:
            for q in args.queries:
                rows = s.wildcard_topk(
                    q, k=args.k, with_url=not args.no_url
                ).collect()
                print(json.dumps({"wildcard": q,
                                  "hits": [r.asDict() for r in rows]}))
            s.close()
            return
        def _boost(kv: str) -> tuple[str, float]:
            # accept both TERM=WEIGHT and the ES TERM^WEIGHT spelling
            sep = "=" if "=" in kv else "^"
            term, _, w = kv.partition(sep)
            if not term or not w:
                raise SystemExit(
                    f"--boost expects TERM=WEIGHT or TERM^WEIGHT, got {kv!r}"
                )
            return term, float(w)

        boosts = dict(_boost(kv) for kv in args.boost) or None
        if args.after:
            sc, did = args.after.split(",", 1)
            for q in args.queries:
                rows = s.search_after_topk(
                    q, k=args.k, after=(float(sc), int(did)),
                    mode=args.mode, min_should_match=args.min_should_match,
                    must_not=args.must_not, with_url=not args.no_url,
                ).collect()
                print(json.dumps({"query": q, "after": args.after,
                                  "hits": [r.asDict() for r in rows]}))
            s.close()
            return
        if args.count:
            for q in args.queries:
                n = s.match_count(
                    q, mode=args.mode, min_should_match=args.min_should_match,
                    must_not=args.must_not,
                ).collect()[0]["n_hits"]
                print(json.dumps({"query": q, "count": n}))
            s.close()
            return
        if args.facet:
            field, _, path = args.facet.partition(":")
            fv = spark.read.parquet(path) if path else None
            for q in args.queries:
                rows = s.facet_terms(
                    q, fv, field, mode=args.mode, must_not=args.must_not
                ).collect()
                print(json.dumps({"query": q, "buckets": [r.asDict() for r in rows]}))
            s.close()
            return
        if args.batch:
            by_q: dict[int, list] = {}
            for r in s.topk_many(args.queries, k=args.k, mode=args.mode).collect():
                by_q.setdefault(r["query_id"], []).append(
                    {"doc_id": r["doc_id"], "score": r["score"]}
                )
            for i, q in enumerate(args.queries):
                print(json.dumps({"query": q, "hits": by_q.get(i, [])}))
        else:
            for q in args.queries:
                rows = s.topk(
                    q, k=args.k, with_url=not args.no_url, mode=args.mode,
                    min_should_match=args.min_should_match,
                    must_not=args.must_not, boosts=boosts,
                ).collect()
                print(json.dumps({"query": q, "hits": [r.asDict() for r in rows]}))
        s.close()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

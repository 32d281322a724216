"""Executed plans of the frozen bench's phrase and exhaustive-BM25 queries.

    SPARK_GRAFT_BROADCAST_THRESHOLD=10m python tools/broadcast_plans.py DIR
    SPARK_GRAFT_BROADCAST_THRESHOLD=64m python tools/broadcast_plans.py DIR

Runs the calls ``bench.py`` times as ``bm25_exhaustive`` (``bm25_topk``
over the driver corpus's ``documents.parquet``, ``SPARK_GRAFT_SF_DIR``,
default sf0.01), ``phrase_query`` and ``sloppy_phrase_query``
(``phrase_topk`` over perfbench's cached 10k-page serving index; a
checkout's first run makes it in a separate process). Each query runs
twice; the final executed plan of the second run (after adaptive
execution) goes to ``DIR/<query>.txt``, with the index and corpus paths
written as ``<index>`` and ``<sf>``. The session's broadcast threshold
comes from ``SPARK_GRAFT_BROADCAST_THRESHOLD`` (``session.py``), so two
runs at two thresholds show whether any plan depends on it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> None:
    out = (argv or sys.argv[1:])[0]
    os.makedirs(out, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from kafka_es_spark.operators import bm25 as bm
    from kafka_es_spark.operators.positions import phrase_topk
    from perfbench import inputs
    from perfbench.env import pin_env, start_spark, stop_spark
    from perfbench.run import PAGES

    run_dir = tempfile.mkdtemp(prefix="broadcast_plans_")
    env = pin_env(run_dir)
    spark = None
    try:
        _, idx = inputs.cached_inputs(ROOT, PAGES, with_index=True)
        spark = start_spark("broadcast-plans", env)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()
        queries = {
            "bm25_exhaustive": lambda: bm.bm25_topk(
                docs, ["spark", "query", "join"], k=10
            ),
            "phrase_query": lambda: phrase_topk(spark, idx, "data index", k=10),
            "sloppy_phrase_query": lambda: phrase_topk(
                spark, idx, "data index", k=10, slop=2
            ),
        }
        paths = {os.path.abspath(idx): "<index>", os.path.abspath(sf_dir): "<sf>"}
        for name, make in queries.items():
            for _ in range(2):
                df = make()
                df.collect()
            text = df._jdf.queryExecution().executedPlan().toString()
            for path, placeholder in paths.items():
                text = text.replace(path, placeholder)
            with open(os.path.join(out, f"{name}.txt"), "w") as f:
                f.write(text)
        print(f"threshold {spark.conf.get('spark.sql.autoBroadcastJoinThreshold')}"
              f"  plans in {out}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

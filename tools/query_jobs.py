"""Warm Spark jobs, stages and latency of each perfbench serving class.

    python tools/query_jobs.py [--classes dsl,...] [--extra] [--plans DIR]

Runs the classes of the perfbench ``serve`` mix on its cached 10k-page
corpus and serving index (a checkout's first run makes them in a separate
process, as ``perfbench/run.py`` does). Each class draws one query from
``perfbench.inputs.QueryMix`` at seed ``SEED`` and issues it through
perfbench's own ``QueryRunner.call``, with the fields relation the serve
workload writes, so the counts describe what ``serve`` runs.

Each class runs ``CALLS`` times in a row, each call under its own job group
(``setJobGroup``). The jobs, stages and tasks of the SECOND call come from
``statusTracker`` (the first call warms the reader caches and the Python
workers); ``p50_ms`` is the median wall time of calls 2..``CALLS``.
``--extra`` also runs four classes the serve mix does not issue, over
the same index and built from the mix's head terms h0..h3 (no draw, so
the serve draws are unchanged): ``query_string`` (``+h0 h1 p* -h3``, the
shape of ``__spark_entry__``'s ``QS_QUERY``, with ``p`` the first two
letters of h2), ``sqs_and`` (``h0 h1|h2`` under
``default_operator="and"``), ``prefix`` (``prefix_topk`` of h0's first
two letters) and ``dsl_aggs`` (two ``_search`` bodies matching ``h0 h1``:
a ``terms(lang)`` agg with an ``avg(dl)`` sub-agg, and an
``extended_stats(dl)`` agg; a call collects both). ``--classes`` may name
them too.

``--plans DIR`` also writes each class's final executed plan (after its
last call) to ``DIR/<class>.txt``, with the index and run paths written as
``<index>`` and ``<tmp>``; the engine's broadcast threshold comes from
``SPARK_GRAFT_BROADCAST_THRESHOLD``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import job_counts  # noqa: E402

# The serve mix's seed and the calls per class (the first warms up).
SEED = 1
CALLS = 4
EXTRA_CLASSES = ("query_string", "sqs_and", "prefix", "dsl_aggs")


def extra_call(s, head: list[str], name: str):
    """The engine call of an ``--extra`` class over head terms ``head``: a
    DataFrame, or a list of them for a class that issues several
    requests."""
    from kafka_es_spark.operators.searchapi import search
    from perfbench.workloads import K

    if name == "query_string":
        return s.query_string_topk(
            f"+{head[0]} {head[1]} {head[2][:2]}* -{head[3]}", k=K)
    if name == "sqs_and":
        return s.simple_query_string_topk(
            f"{head[0]} {head[1]}|{head[2]}", default_operator="and", k=K)
    if name == "prefix":
        return s.prefix_topk(head[0][:2], k=K)
    if name == "dsl_aggs":
        query = {"match": {"text": f"{head[0]} {head[1]}"}}
        return [
            search(s, {"query": query, "aggs": {"by_lang": {
                "terms": {"field": "lang", "size": K},
                "aggs": {"avg_dl": {"avg": {"field": "dl"}}},
            }}}),
            search(s, {"query": query, "aggs": {
                "s": {"extended_stats": {"field": "dl"}},
            }}),
        ]
    raise ValueError(name)


def measure(sc, name: str, make, plans: dict | None) -> dict:
    """Time ``CALLS`` runs of ``make()``; ``plans``: {"dir": ..., "paths":
    {path: placeholder}} to write the executed plan with paths replaced."""
    times, counts = [], (0, 0, 0)
    for i in range(CALLS):
        group = f"query-jobs-{name}-{i}"
        sc.setJobGroup(group, name)
        t = time.perf_counter()
        dfs = make()
        dfs = dfs if isinstance(dfs, list) else [dfs]
        for df in dfs:
            df.collect()
        times.append(time.perf_counter() - t)
        if i == 1:
            counts = job_counts(sc, group)
    if plans:
        text = "\n".join(
            df._jdf.queryExecution().executedPlan().toString() for df in dfs
        )
        for path, placeholder in plans["paths"].items():
            text = text.replace(path, placeholder)
        with open(os.path.join(plans["dir"], f"{name}.txt"), "w") as f:
            f.write(text)
    # this PySpark has no clearJobGroup: park later jobs in a group of their own
    sc.setJobGroup("query-jobs-idle", "")
    jobs, stages, tasks = counts
    return {"class": name, "jobs": jobs, "stages": stages, "tasks": tasks,
            "p50_ms": round(statistics.median(times[1:]) * 1e3, 1)}


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--classes", help="comma-separated classes (default all)")
    p.add_argument("--extra", action="store_true",
                   help="also run " + ", ".join(EXTRA_CLASSES))
    p.add_argument("--plans", help="write each class's executed plan here")
    args = p.parse_args(argv)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    from kafka_es_spark.operators.wand import Searcher
    from perfbench import inputs
    from perfbench.env import pin_env, start_spark, stop_spark
    from perfbench.oracle import Oracle
    from perfbench.run import PAGES
    from perfbench.workloads import QueryRunner

    run_dir = tempfile.mkdtemp(prefix="query_jobs_")
    env = pin_env(run_dir)
    spark = s = None
    try:
        corpus, idx = inputs.cached_inputs(ROOT, PAGES, with_index=True)
        spark = start_spark("query-jobs", env)
        pages = inputs.read_pages(corpus)
        path = os.path.join(run_dir, "fields.parquet")
        inputs.write_fields(pages, SEED, path)
        o = Oracle(inputs.oracle_docs(pages, inputs.read_docmap(idx)))
        mix = inputs.QueryMix(o, SEED)
        s = Searcher(spark, idx)
        qr = QueryRunner(types.SimpleNamespace(spark=spark), s, idx, o, mix,
                         spark.read.parquet(path))
        wanted = args.classes.split(",") if args.classes else list(
            inputs.QUERY_CLASSES
        ) + list(EXTRA_CLASSES if args.extra else ())
        plans = args.plans and {"dir": args.plans, "paths": {
            os.path.abspath(idx): "<index>", run_dir: "<tmp>",
        }}
        rows = []
        for name in inputs.QUERY_CLASSES:
            if name in wanted:
                q = mix.draw(name)
                rows.append(measure(spark.sparkContext, name,
                                    lambda q=q: qr.call(q), plans))
        for name in EXTRA_CLASSES:
            if name in wanted:
                rows.append(measure(
                    spark.sparkContext, name,
                    lambda name=name: extra_call(s, mix.head, name), plans))
    finally:
        if s is not None:
            s.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"index {idx}  seed {SEED}  "
          f"(second of {CALLS} calls; p50 over calls 2..{CALLS})")
    print(f"{'class':<16}{'jobs':>6}{'stages':>8}{'tasks':>7}{'p50_ms':>10}")
    for r in rows:
        print(f"{r['class']:<16}{r['jobs']:>6}{r['stages']:>8}"
              f"{r['tasks']:>7}{r['p50_ms']:>10}")


if __name__ == "__main__":
    main()

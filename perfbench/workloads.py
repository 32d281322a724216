"""The workloads. Each one sets up, then runs a fixed number of operations,
times them from outside the engine's public calls and checks every result
against the oracle outside the timed regions."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.oracle import Oracle, ordered_shape, same_rows, tokenize
from perfbench.trace import StoragePoller, Tracer, event_log_totals, job_counts

K = 10

# Per-layer metrics of a traced run, with units. A layer that a workload
# leaves idle reads 0 there.
QUERY_CLASSES = list(inputs.QUERY_CLASSES)
LAYER_METRICS = {
    "build.extract_docids_s": "s", "build.docmap_s": "s",
    "build.range_dls_s": "s", "build.shard_s": "s", "build.term_stats_s": "s",
    "build.positions_s": "s", "build.bigrams_s": "s",
    "build.tokens": "count", "build.postings": "count",
    "build.posting_bytes": "bytes", "build.index_bytes_per_doc": "bytes",
    "build.shuffle_write_mb": "MB", "build.spill_mb": "MB",
    "build.cache_peak_mb": "MB",
    "serve.open_ms": "ms", "query.prepare_ms": "ms", "query.execute_ms": "ms",
    "query.term_stats_ms": "ms", "query.jobs": "count", "query.stages": "count",
    "query.tasks": "count", "query.input_rows": "count", "query.shuffle_mb": "MB",
    **{f"query.{c}.p50_ms": "ms" for c in QUERY_CLASSES},
    "batch.per_query_ms": "ms",
    "ingest.append_ms": "ms", "ingest.jobs_per_epoch": "count",
    "ingest.extract_ms": "ms/kpage", "ingest.compactions": "count",
    "ingest.compact_s": "s", "ingest.compact_max_s": "s",
    "ingest.open_ms": "ms", "ingest.first_query_ms": "ms",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


class Run:
    """State of one benchmark run: session, sizes, counters, metrics."""

    def __init__(self, spark, args, run_dir: str, cpus: int, t0: float,
                 event_dir: str | None, corpus: str, index: str):
        self.spark = spark
        self.corpus = corpus  # cached parquet corpus
        self.index = index  # this run's copy of the cached serving index
        self.sc = spark.sparkContext
        self.seed = args.seed
        self.seconds = args.seconds
        self.pages = args.pages
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.sc, self.traced)
        self.dir = run_dir
        self.cpus = cpus
        self.t0 = t0
        # setup steps: (name, seconds since the start of setup)
        self.steps: list[tuple[str, float]] = []
        self.step("session")
        self.event_dir = event_dir
        self.attempted = 0
        self.failed = 0
        self.known_failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float | None, str, int]] = {}
        self.layer: dict[str, tuple[float, int, str]] = {
            k: (0.0, 0, "") for k in LAYER_METRICS
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def step(self, name: str) -> None:
        self.steps.append((name, time.perf_counter() - self.t0))

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t0

    def record(self, ok: bool, what: str, known: str | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if known:
                self.known_failed += 1
            self.problems.append(f"{what}{' [known: ' + known + ']' if known else ''}")

    def attempt(self, what: str, fn, n_ops: int = 1):
        """Run an operation; if it raises, its ``n_ops`` checked results
        count as failed and None is returned."""
        try:
            return fn()
        except Exception:  # an op that raises is a failed op, the run goes on
            for _ in range(n_ops):
                self.record(False, f"{what} raised:\n{traceback.format_exc(limit=3)}")
            return None

    def set_layer(self, name: str, value: float, n: int, base: str = "") -> None:
        self.layer[name] = (float(value), int(n), base)


# --------------------------------------------------------------------------
# build helpers


def full_build(run: Run, pages_df, idx: str, rid: str) -> tuple[float, dict]:
    """One full build of ``pages_df`` into ``idx``: index, positions and
    bigram stats. Returns (wall s, info for the per-layer metrics)."""
    from kafka_es_spark.operators.positions import build_position_index
    from kafka_es_spark.plans.build_index import build_bigram_stats, build_index
    from kafka_es_spark.plans.metrics import BuildMetrics

    bm = BuildMetrics(run.spark) if run.traced else None
    poller = StoragePoller(run.sc) if run.traced else None
    if poller:
        poller.start()
    info: dict = {"rid": rid}
    tr = run.tracer
    t = time.perf_counter()
    try:
        with tr.span("build", rid):
            with tr.span("build.index"):
                info["manifest"] = build_index(
                    run.spark, pages_df, idx, n_term_buckets=run.cpus,
                    store_fields=inputs.STORE, metrics=bm,
                )
            t1 = time.perf_counter()
            with tr.span("build.positions"):
                build_position_index(run.spark, pages_df, idx)
            info["positions_s"] = time.perf_counter() - t1
            t1 = time.perf_counter()
            with tr.span("build.bigrams"):
                build_bigram_stats(run.spark, pages_df, idx)
            info["bigrams_s"] = time.perf_counter() - t1
    finally:
        if poller:
            info["cache_peak_mb"] = poller.stop()
    wall = time.perf_counter() - t
    if bm is not None:
        info["metrics"] = bm.as_dict()
    info["bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(idx) for f in fs
    )
    return wall, info


def expected_bigrams(o: Oracle) -> pd.Series:
    prev, cur = [], []
    for toks in o.docs["tokens"]:
        prev.extend(toks[:-1])
        cur.extend(toks[1:])
    return pd.DataFrame({"prev": prev, "cur": cur}).groupby(["prev", "cur"]).size()


def _manifest(idx: str, name: str) -> dict:
    with open(os.path.join(idx, "_manifest", f"{name}.json")) as f:
        return json.load(f)


def check_build(idx: str, o: Oracle, pages: pd.DataFrame,
                bigrams: pd.Series | None) -> list[str]:
    """Compare a built index with the oracle; returns the mismatches."""
    bad = []
    with open(os.path.join(idx, "stats.json")) as f:
        st = json.load(f)
    if st["n_docs"] != o.n or st["total_tokens"] != o.total_tokens:
        bad.append(f"stats {st['n_docs']}/{st['total_tokens']} != {o.n}/{o.total_tokens}")
    dm = pq.read_table(os.path.join(idx, "docmap"),
                       columns=["doc_id", "url", "dl", "lang"]).to_pandas()
    if not np.array_equal(np.sort(dm["doc_id"].to_numpy()), np.arange(o.n)):
        bad.append("doc ids are not dense 0..n-1")
    want = pages.assign(dl=[len(t) for t in o.docs["tokens"]])
    j = want.merge(dm, on="url", how="outer", suffixes=("", "_idx"), indicator=True)
    if (j["_merge"] != "both").any() or (j["dl"] != j["dl_idx"]).any() or (
        j["lang"] != j["lang_idx"]
    ).any():
        bad.append("docmap url/dl/lang differ from the corpus")
    ts = pq.read_table(os.path.join(idx, "term_stats"), columns=["term", "df", "cf"]
                       ).to_pandas().groupby("term")[["df", "cf"]].sum()
    exp = pd.DataFrame({"df": o.df, "cf": o.cf}, index=pd.Index(o.vocab, name="term"))
    if not ts.sort_index().equals(exp.sort_index().astype(ts.dtypes.to_dict())):
        bad.append("term_stats df/cf differ from the oracle")
    if _manifest(idx, "shard-00000")["postings"] != o.n_postings():
        bad.append("posting count differs from the oracle")
    if os.path.exists(os.path.join(idx, "positions")) and (
        _manifest(idx, "positions")["postings"] != o.n_postings()
    ):
        bad.append("positional posting count differs from the oracle")
    if bigrams is not None:
        got = pq.read_table(os.path.join(idx, "bigram_stats")).to_pandas()
        got = got.groupby(["prev", "cur"])["n"].sum()
        if not got.sort_index().astype(np.int64).equals(bigrams.sort_index().astype(np.int64)):
            bad.append("bigram counts differ from the oracle")
    return bad


def record_build_layers(run: Run, infos: list[dict], n_docs: int) -> None:
    """Per-layer build metrics: medians over the given builds."""
    if not run.traced or not infos:
        return
    n = len(infos)
    ev = event_log_totals(run.event_dir)
    for key, field in (("shuffle_write_mb", "shuffle_write_bytes"), ("spill_mb", "spill_bytes")):
        run.set_layer(f"build.{key}", median(
            [ev.get(i["rid"], {}).get(field, 0.0) / 2**20 for i in infos]), n)

    def stage(name):
        return median([i["manifest"].get(name, {}).get("elapsed_sec", 0.0) for i in infos])

    for key, st in (("extract_docids", "extract_docids"), ("docmap", "docmap"),
                    ("range_dls", "range_dls"), ("shard", "shard-00000"),
                    ("term_stats", "term_stats")):
        run.set_layer(f"build.{key}_s", stage(st), n)
    run.set_layer("build.positions_s", median([i.get("positions_s", 0.0) for i in infos]), n)
    run.set_layer("build.bigrams_s", median([i.get("bigrams_s", 0.0) for i in infos]), n)
    m = infos[-1].get("metrics", {})
    run.set_layer("build.tokens", m.get("tokens", 0), 1)
    run.set_layer("build.postings", m.get("postings", 0), 1)
    run.set_layer("build.posting_bytes",
                  infos[-1]["manifest"]["shard-00000"].get("bytes", 0), 1)
    run.set_layer("build.index_bytes_per_doc", median([i["bytes"] for i in infos]) / n_docs,
                  n, f"{n_docs} docs")
    run.set_layer("build.cache_peak_mb", max(i.get("cache_peak_mb", 0.0) for i in infos), n)


# --------------------------------------------------------------------------
# query helpers


class QueryRunner:
    """Issues one generated query against the engine and checks it."""

    def __init__(self, run: Run, searcher, idx: str, o: Oracle, mix: inputs.QueryMix,
                 fields_df=None, fields: pd.DataFrame | None = None):
        self.run, self.s, self.idx, self.o, self.mix = run, searcher, idx, o, mix
        self.fields_df = fields_df
        if fields is not None:
            f = o.docs[["url"]].merge(fields, on="url", how="left")
            self.prio = f["prio"].to_numpy()
            self.msm = f["msm"].to_numpy()

    def call(self, q: dict):
        """The engine call for ``q``; returns an unexecuted DataFrame."""
        from kafka_es_spark.operators.positions import phrase_topk
        from kafka_es_spark.operators.searchapi import search

        s, c = self.s, q["cls"]
        if c == "or":
            return s.topk(q["q"], k=K)
        if c == "and":
            return s.topk(q["q"], k=K, mode="and")
        if c == "msm":
            return s.topk(q["q"], k=K, min_should_match=q["msm"])
        if c == "must_not":
            return s.topk(q["q"], k=K, must_not=q["not"])
        if c in ("phrase", "sloppy"):
            return phrase_topk(self.run.spark, self.idx, q["q"], k=K, slop=q["slop"])
        if c == "synonym":
            return s.synonym_topk(q["q"], self.mix.synonyms, k=K)
        if c == "terms_set":
            return s.terms_set_topk(q["q"], self.fields_df, "msm", k=K)
        if c == "span_or":
            return s.span_or_topk(q["terms"], k=K)
        if c == "range_filtered":
            return s.range_filtered_topk(q["q"], self.fields_df, "prio", q["lo"], q["hi"], k=K)
        if c == "dsl":
            body = {"query": {"bool": {
                "must": [{"match": {"text": q["q"]}}],
                "filter": [{"range": {"dl": {"gte": q["min_dl"]}}}],
            }}, "size": K}
            return search(s, body)
        if c == "facet":
            return s.facet_terms(q["q"], None, "lang", size=K)
        raise ValueError(c)

    def check(self, q: dict, rows) -> tuple[bool, str | None]:
        """(result correct, known defect that explains a mismatch)."""
        o, c = self.o, q["cls"]
        if c == "facet":
            score, matched = o.or_scores(tokenize(q["q"]))
            langs = o.docs["lang"][matched > 0].value_counts()
            want = sorted(((-int(n), str(v)) for v, n in langs.items()))[:K]
            got = [(-int(r["doc_count"]), str(r["lang"])) for r in rows]
            return got == want, None
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if c in ("phrase", "sloppy"):
            hits = o.phrase_docs(tokenize(q["q"]), q["slop"])
            return ordered_shape(got, K, hits.size, set(o.doc_ids[hits].tolist())), None
        if c == "span_or":
            mask = o.contains_any(q["terms"])
            return ordered_shape(got, K, int(mask.sum()),
                                 set(o.doc_ids[mask].tolist())), None
        terms = sorted(set(tokenize(q["q"])))
        if c == "synonym":
            score = o.synonym_scores(terms, self.mix.synonyms)
            ok = same_rows(got, o.ranked(score, score > 0, K, round_first=True))
            return ok, None if ok else _synonym_overlap(o, terms, self.mix.synonyms)
        score, matched = o.or_scores(terms)
        present = sum(1 for t in terms if o.term_df(t) > 0)
        round_first = False
        if c in ("or", "dsl", "range_filtered"):
            mask = matched > 0
        elif c == "and":
            mask = (matched == len(terms)) & (present == len(terms))
        elif c == "msm":
            mask = (matched >= q["msm"]) & (present >= q["msm"])
        elif c == "must_not":
            mask = (matched > 0) & ~o.contains_any(tokenize(q["not"]))
        elif c == "terms_set":
            mask = (matched > 0) & (matched >= self.msm)
            round_first = True
        else:
            raise ValueError(c)
        if c == "range_filtered":
            mask &= (self.prio >= q["lo"]) & (self.prio <= q["hi"])
        if c == "dsl":
            mask &= o.dl >= q["min_dl"]
            return any(same_rows(got, o.ranked(score, mask, K, round_first=rf))
                       for rf in (False, True)), None
        return same_rows(got, o.ranked(score, mask, K, round_first=round_first)), None


def _synonym_overlap(o: Oracle, qterms, synonyms) -> str | None:
    """The known synonym_topk defect: an indexed term that belongs to more
    than one of the query's groups scores in only one of them."""
    seen: dict[str, int] = {}
    for g in set(qterms):
        for m in {g} | set(synonyms.get(g, ())):
            if o.term_df(m) > 0:
                seen[m] = seen.get(m, 0) + 1
    if any(n > 1 for n in seen.values()):
        return "synonym_topk drops a term shared by two groups"
    return None


def timed_query(run: Run, qr: QueryRunner, q: dict, rid: str):
    """Run one query; returns (rows, seconds, prepare s, execute s)."""
    tr = run.tracer
    t = time.perf_counter()
    with tr.span("query", rid):
        with tr.span(f"query.{q['cls']}"):
            with tr.span("query.prepare"):
                df = qr.call(q)
            tp = time.perf_counter()
            with tr.span("query.execute"):
                rows = df.collect()
    t_end = time.perf_counter()
    return rows, t_end - t, tp - t, t_end - tp


def query_op(run: Run, qr: QueryRunner, q: dict, rid: str, lat: dict) -> None:
    """Time, then check one query. ``lat`` collects per-query timings."""
    res = run.attempt(f"{rid} {q}", lambda: timed_query(run, qr, q, rid))
    if res is None:
        return
    rows, dt, prep, ex = res
    lat.setdefault("rids", []).append(rid)
    lat.setdefault("all", []).append(dt)
    lat.setdefault(q["cls"], []).append(dt)
    lat.setdefault("prepare", []).append(prep)
    lat.setdefault("execute", []).append(ex)
    good, known = qr.check(q, rows)
    run.record(good, f"{rid} {q['cls']} {q}", known)
    if run.traced:
        trace_query(run, qr, q, rid, lat)


def trace_query(run: Run, qr: QueryRunner, q: dict, rid: str, lat: dict) -> None:
    """Traced-run extras: job counts for the query's group, and the
    term-stats collect timed on its own."""
    from pyspark.sql import functions as F

    jobs, stages, tasks = job_counts(run.sc, rid)
    for k, v in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
        lat.setdefault(k, []).append(v)
    terms = sorted(set(tokenize(q.get("q") or " ".join(q.get("terms", [])))))
    with run.tracer.span("query.term_stats", f"{rid}.ts"):
        t = time.perf_counter()
        qr.s.term_stats.filter(F.col("term").isin(terms)).collect()
        lat.setdefault("term_stats", []).append(time.perf_counter() - t)


def record_query_layers(run: Run, lat: dict) -> None:
    if not run.traced or not lat.get("all"):
        return
    n = len(lat["all"])
    run.set_layer("query.prepare_ms", median(lat["prepare"]) * 1e3, n)
    run.set_layer("query.execute_ms", median(lat["execute"]) * 1e3, n)
    run.set_layer("query.term_stats_ms", median(lat["term_stats"]) * 1e3, n)
    for k in ("jobs", "stages", "tasks"):
        run.set_layer(f"query.{k}", median(lat[k]), n)
    for c in QUERY_CLASSES:
        if lat.get(c):
            run.set_layer(f"query.{c}.p50_ms", median(lat[c]) * 1e3, len(lat[c]))
    if run.event_dir:
        ev = event_log_totals(run.event_dir)
        rows = [ev.get(g, {}).get("input_rows", 0.0) for g in lat["rids"]]
        mb = [ev.get(g, {}).get("shuffle_write_bytes", 0.0) / 2**20 for g in lat["rids"]]
        run.set_layer("query.input_rows", median(rows), len(rows), "per query")
        run.set_layer("query.shuffle_mb", median(mb), len(mb), "per query")


def set_latency(run: Run, prefix: str, xs: list[float]) -> None:
    """p50, and p90 only when at least ten samples lie beyond it."""
    n = len(xs)
    run.named[f"{prefix}_p50_ms"] = (median(xs) * 1e3, "ms", n)
    p90 = float(np.percentile(xs, 90)) * 1e3 if n >= 100 else None
    run.named[f"{prefix}_p90_ms"] = (p90, "ms", n)


# --------------------------------------------------------------------------
# workloads


def build_workload(run: Run) -> None:
    """Repeated full builds (index + positions + bigrams) of a corpus with
    ``text`` present, read from parquet. The first build in the fresh
    session is timed on its own."""
    pages = inputs.read_pages(run.corpus)
    docs = pages.assign(doc_id=np.arange(len(pages)), tokens=pages["text"].map(tokenize))
    o = Oracle(docs)
    run.step("oracle")
    bigrams = expected_bigrams(o)
    run.step("bigram oracle")
    pages_df = run.spark.read.parquet(run.corpus)
    n_builds = 1 + max(1, run.seconds // 10)
    run.setup_done()

    walls, infos = [], []
    for i in range(n_builds):
        idx = run.path(f"idx{i}")
        res = run.attempt(f"build {i}", lambda: full_build(run, pages_df, idx, f"b{i}"))
        if res is None:
            continue
        wall, info = res
        walls.append(wall)
        infos.append(info)
        bad = check_build(idx, o, pages[["url", "lang"]], bigrams)
        run.record(not bad, f"build {i}: {'; '.join(bad)}")
        shutil.rmtree(idx, ignore_errors=True)
    if not walls:
        raise RuntimeError("no build completed")
    steady = walls[1:] or walls
    run.e2e["first_op_s"] = walls[0]
    run.e2e["op_p50_ms"] = median(steady) * 1e3
    run.e2e["throughput_per_s"] = len(pages) / median(steady)
    run.named["build_first_s"] = (walls[0], "s", 1)
    run.named["build_docs_per_s"] = (len(pages) / median(steady), "1/s", len(steady))
    record_build_layers(run, infos[1:] or infos, len(pages))
    if run.traced:
        run.set_layer("ingest.extract_ms", extract_ms(run, pages_df, len(pages)), 1,
                      f"{len(pages)} pages with text")


def extract_ms(run: Run, pages_df, n_pages: int) -> float:
    """``extracted_pages`` alone into a noop sink, in ms per 1000 pages."""
    from kafka_es_spark.plans.build_index import extracted_pages

    with run.tracer.span("extract", f"x{len(run.tracer.spans)}"):
        t = time.perf_counter()
        extracted_pages(pages_df).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t) * 1e3 * 1000 / max(n_pages, 1)


def serve_workload(run: Run) -> None:
    """Closed loop, one client, over the cached index: a seeded mix of
    query classes on one Searcher, then one topk_many pass. A traced run
    then writes beside the reads (``ingest_phase``)."""
    from kafka_es_spark.operators.wand import Searcher

    idx = run.index
    pages = inputs.read_pages(run.corpus)
    fields = inputs.write_fields(pages, run.seed, run.path("fields.parquet"))
    fields_df = run.spark.read.parquet(run.path("fields.parquet"))
    run.step("fields")
    o = Oracle(inputs.oracle_docs(pages, inputs.read_docmap(idx)))
    run.step("oracle")
    mix = inputs.QueryMix(o, run.seed)
    queries = mix.mix(max(1, run.seconds // 10))
    batch = [q["q"] for q in queries if q["cls"] == "or"]
    run.step("query mix")
    t = time.perf_counter()
    with run.tracer.span("serve.open"):
        s = Searcher(run.spark, idx)
    run.set_layer("serve.open_ms", (time.perf_counter() - t) * 1e3, 1)
    qr = QueryRunner(run, s, idx, o, mix, fields_df, fields)
    run.setup_done()
    bad = check_build(idx, o, pages[["url", "lang"]], None)
    if bad:
        raise RuntimeError(f"cached index is wrong: {bad}")

    lat: dict = {}
    query_op(run, qr, {"cls": "or", "q": mix.first_query()}, "q0", lat)
    if not lat.get("all"):
        raise RuntimeError("the first query failed")
    run.e2e["first_op_s"] = lat["all"][0]
    lat = {}
    for i, q in enumerate(queries, 1):
        query_op(run, qr, q, f"q{i}", lat)
    xs = lat.get("all", [])
    if not xs:
        raise RuntimeError("no query completed")
    set_latency(run, "query", xs)
    run.named["query_qps"] = (len(xs) / sum(xs), "1/s", len(xs))
    run.e2e["op_p50_ms"] = median(xs) * 1e3
    run.e2e["throughput_per_s"] = len(xs) / sum(xs)
    record_query_layers(run, lat)
    batch_pass(run, qr, batch)
    if run.traced:
        ingest_phase(run, qr, pages)


def batch_pass(run: Run, qr: QueryRunner, batch: list[str]) -> None:
    """One ``topk_many`` job over the mix's OR queries."""

    def many():
        with run.tracer.span("batch", "many"):
            t = time.perf_counter()
            rows = qr.s.topk_many(batch, k=K).collect()
            return rows, time.perf_counter() - t

    res = run.attempt("topk_many", many, n_ops=len(batch))
    if res is None:
        return
    rows, dt = res
    run.named["batch_qps"] = (len(batch) / dt, "1/s", len(batch))
    run.set_layer("batch.per_query_ms", dt / len(batch) * 1e3, 1, f"{len(batch)} queries")
    by_q: dict[int, list] = {}
    for r in rows:  # in the engine's order
        by_q.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    o = qr.o
    for i, qs in enumerate(batch):
        score, matched = o.or_scores(sorted(set(tokenize(qs))))
        # topk_many picks the top k by exact score, then orders them by the
        # rounded score and doc id, so rounded ties come out by doc id
        want = sorted(o.ranked(score, matched > 0, K), key=lambda r: (-r[1], r[0]))
        run.record(same_rows(by_q.get(i, []), want), f"topk_many[{i}] {qs!r}")


def ingest_phase(run: Run, qr: QueryRunner, pages: pd.DataFrame) -> None:
    """Writes beside reads on the served index (traced serve runs): each of
    two html-only micro-batches goes through append_epoch, then the stream
    sink's merge policy (compaction at two epoch units, so once), then the
    Searcher is reopened, the epoch's marker must be searchable, and a
    short query slice runs."""
    from kafka_es_spark.operators.compaction import compact_index, should_compact
    from kafka_es_spark.operators.wand import Searcher
    from kafka_es_spark.streaming.ingest_stream import append_epoch

    tr, idx, spark = run.tracer, qr.idx, run.spark
    batches = inputs.write_batches(spark, 2, max(run.pages // 10, 20), run.seed,
                                   run.path("batches"))
    compact_units = len(batches)
    slices = [qr.mix.or_queries(2) for _ in batches]
    refresh, append, opens, firsts, compacts, jobs, extracts = [], [], [], [], [], [], []
    lat: dict = {}
    appended: list[pd.DataFrame] = []
    searcher = qr.s
    for b in batches:
        e, rid = b["epoch"], f"e{b['epoch']}"

        def epoch():
            nonlocal searcher
            t = time.perf_counter()
            with tr.span("epoch", rid):
                with tr.span("ingest.append"):
                    append_epoch(spark, spark.read.parquet(b["path"]), idx, e,
                                 n_term_buckets=run.cpus, store_fields=inputs.STORE)
                append.append(time.perf_counter() - t)
                # readers are quiesced before a compaction: a Searcher's cached
                # relations would otherwise stand in for the files it reads
                searcher.close()
                if should_compact(spark, idx, max_units=compact_units):
                    tc = time.perf_counter()
                    with tr.span("ingest.compact"):
                        compact_index(spark, idx, n_term_buckets=run.cpus)
                    compacts.append(time.perf_counter() - tc)
                to = time.perf_counter()
                with tr.span("ingest.open"):
                    searcher = Searcher(spark, idx)
                opens.append(time.perf_counter() - to)
                tq = time.perf_counter()
                with tr.span("ingest.first_query"):
                    rows = searcher.topk(b["marker"], k=K, with_url=True).collect()
                firsts.append(time.perf_counter() - tq)
            return rows, time.perf_counter() - t

        res = run.attempt(f"epoch {e}", epoch)
        if res is None:
            break
        rows, dt = res
        refresh.append(dt)
        jobs.append(job_counts(run.sc, rid)[0])
        got = sorted(r["url"] for r in rows)
        run.record(got == b["marker_urls"], f"epoch {e} marker {b['marker']}: {got}")
        appended.append(b["pages"])
        o = Oracle(inputs.oracle_docs(pd.concat([pages] + appended, ignore_index=True),
                                      inputs.read_docmap(idx)))
        eq = QueryRunner(run, searcher, idx, o, qr.mix)
        for j, qs in enumerate(slices[e]):
            query_op(run, eq, {"cls": "or", "q": qs}, f"{rid}q{j}", lat)
        extracts.append(extract_ms(run, spark.read.parquet(b["path"]), len(b["pages"])))
    searcher.close()
    if not refresh:
        return
    n_pages = sum(len(b["pages"]) for b in batches[:len(refresh)])
    loop_s = sum(refresh) + sum(lat.get("all", []))
    run.named["ingest_docs_per_s"] = (n_pages / loop_s, "1/s", len(refresh))
    run.named["refresh_p50_ms"] = (median(refresh) * 1e3, "ms", len(refresh))
    set_latency(run, "ingest_query", lat.get("all", []))
    n = len(refresh)
    run.set_layer("ingest.append_ms", median(append) * 1e3, n)
    run.set_layer("ingest.jobs_per_epoch", median(jobs), n)
    run.set_layer("ingest.extract_ms", median(extracts), n,
                  f"{len(batches[0]['pages'])} html-only pages")
    run.set_layer("ingest.compactions", len(compacts), n, f"at {compact_units} units")
    run.set_layer("ingest.compact_s", sum(compacts), len(compacts))
    run.set_layer("ingest.compact_max_s", max(compacts, default=0.0), len(compacts))
    run.set_layer("ingest.open_ms", median(opens) * 1e3, n)
    run.set_layer("ingest.first_query_ms", median(firsts) * 1e3, n)


WORKLOADS = {"build": build_workload, "serve": serve_workload}

"""Seeded inputs: the pages corpus, the field relations, the query mix,
the synonym groups and the html-only ingest micro-batches.

Everything here is a pure function of the seed and the sizes. The corpus
comes from ``sources.pages.gen_pages_distributed``; the program under test
only ever sees the generated parquet files and query arguments.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.oracle import Oracle, tokenize

# Fixed slice count keeps the corpus a function of (size, seed) only.
SLICES = 16
# The corpus is the same for every run seed, so it and the serving index
# built over it are made once per checkout; the run seed drives everything
# else (query mix, synonym groups, field values, micro-batches, markers).
CORPUS_SEED = 42
# Page columns stored in the docmap, as bench.py builds it.
STORE = ("lang",)

# Queries of each class in one round of the serve mix: a set count, not a
# measured traffic distribution, leaning toward plain OR. With 9 OR of 20,
# the median query lies among the cheap classes (OR, and, must_not, span_or,
# msm) rather than on the gap to the costly ones (phrase, fields, facets),
# where a 5-of-16 mix put it and it moved by about 20% from seed to seed.
QUERY_CLASSES = {
    "or": 9, "and": 1, "msm": 1, "must_not": 1, "phrase": 1, "sloppy": 1,
    "synonym": 1, "terms_set": 1, "span_or": 1, "range_filtered": 1,
    "dsl": 1, "facet": 1,
}
_TAIL = re.compile(r"^t\d+$")


def engine_digest(root: str) -> str:
    """Hash of the engine's sources: a cached index is reused only by the
    code that built it."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kafka_es_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cached_inputs(root: str, n_pages: int, with_index: bool) -> tuple[str, str | None]:
    """Paths of the cached corpus and, if asked for, the serving index. A
    miss makes them in a separate process, so that this process's session
    starts cold either way and only a checkout's first run pays for them."""
    cache = os.path.join(root, ".bench_cache")
    corpus = os.path.join(cache, f"corpus-{n_pages}-{CORPUS_SEED}")
    idx = None
    cmd = [sys.executable, "-m", "perfbench.inputs", "--pages", str(n_pages),
           "--corpus", corpus]
    if with_index:
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        idx = os.path.join(
            cache, f"index-{n_pages}-{CORPUS_SEED}-c{cpus}-{engine_digest(root)}")
        cmd += ["--index", idx]
    if not (os.path.exists(corpus) and (idx is None or os.path.exists(idx))):
        subprocess.run(cmd, cwd=root, check=True, stdout=subprocess.DEVNULL)
    return corpus, idx


def read_pages(corpus: str) -> pd.DataFrame:
    return pq.read_table(corpus, columns=["url", "text", "lang"]).to_pandas()


def oracle_docs(pages: pd.DataFrame, docmap: pd.DataFrame) -> pd.DataFrame:
    """Join generated pages to the index's doc ids (url-keyed) and
    tokenize their expected text."""
    d = pages.merge(docmap[["url", "doc_id"]], on="url", how="left")
    if d["doc_id"].isna().any():
        raise ValueError("docmap is missing corpus urls")
    d["doc_id"] = d["doc_id"].astype(np.int64)
    d["tokens"] = d["text"].map(tokenize)
    return d


def read_docmap(index_dir: str) -> pd.DataFrame:
    return pq.read_table(
        os.path.join(index_dir, "docmap"), columns=["doc_id", "url"]
    ).to_pandas()


def write_fields(pages: pd.DataFrame, seed: int, path: str) -> pd.DataFrame:
    """Per-url numeric fields: ``prio`` for range filters and ``msm`` for
    terms_set's per-document minimum_should_match."""
    rng = np.random.default_rng([seed, 11])
    f = pd.DataFrame({
        "url": pages["url"].to_numpy(),
        "prio": rng.integers(0, 100, len(pages)).astype(np.int64),
        "msm": rng.integers(1, 4, len(pages)).astype(np.int64),
    })
    pq.write_table(pa.Table.from_pandas(f, preserve_index=False), path)
    return f


class QueryMix:
    """Seeded query generator over an oracle's vocabulary: terms come from
    the Zipf head and the ``t<id>`` tail; phrases come from real token runs
    so that they match."""

    def __init__(self, oracle: Oracle, seed: int):
        self.o = oracle
        self.rng = np.random.default_rng([seed, 5])
        df = oracle.df
        order = np.argsort(-df, kind="stable")
        self.head = [oracle.vocab[i] for i in order
                     if not _TAIL.match(oracle.vocab[i])][:40]
        self.tail = [oracle.vocab[i] for i in order if _TAIL.match(oracle.vocab[i])]
        self.synonyms = self._synonyms()

    def _synonyms(self) -> dict[str, list[str]]:
        """Groups drawn from a small shared pool, so groups overlap the way
        an ES synonym file allows (a term may sit in several groups)."""
        r = self.rng
        pool = list(r.choice(self.head[:24], 10, replace=False)) + list(
            r.choice(self.tail[:400], 4, replace=False)
        )
        syn = {}
        for key in r.choice(pool, 8, replace=False):
            others = [p for p in pool if p != key]
            syn[str(key)] = [str(m) for m in r.choice(others, int(r.integers(1, 3)),
                                                      replace=False)]
        return syn

    def _term(self, head_p: float = 0.6) -> str:
        r = self.rng
        if r.random() < head_p or not self.tail:
            return self.head[int(r.integers(0, len(self.head)))]
        return self.tail[int(r.integers(0, min(len(self.tail), 2000)))]

    def _terms(self, lo: int, hi: int, head_p: float = 0.6) -> list[str]:
        out: list[str] = []
        want = int(self.rng.integers(lo, hi + 1))
        while len(out) < want:
            t = self._term(head_p)
            if t not in out:
                out.append(t)
        return out

    def _run(self, length: int, gap: int = 0) -> list[str]:
        """Tokens at positions i and i+1+gap (or a run of ``length``) of a
        random document, distinct terms only."""
        toks = self.o.docs["tokens"]
        while True:
            d = toks.iat[int(self.rng.integers(0, len(toks)))]
            span = length + gap
            if len(d) < span + 1:
                continue
            i = int(self.rng.integers(0, len(d) - span))
            words = d[i:i + length] if gap == 0 else [d[i], d[i + 1 + gap]]
            if len(set(words)) == len(words):
                return list(words)

    def draw(self, cls: str) -> dict:
        r = self.rng
        if cls == "or":
            return {"cls": cls, "q": " ".join(self._terms(1, 4))}
        if cls == "and":
            return {"cls": cls, "q": " ".join(self._terms(2, 3, head_p=0.9))}
        if cls == "msm":
            return {"cls": cls, "q": " ".join(self._terms(3, 4, head_p=0.8)), "msm": 2}
        if cls == "must_not":
            pos = self._terms(1, 3)
            negs = [t for t in self.head[:20] if t not in pos]
            neg = negs[int(r.integers(0, len(negs)))]
            return {"cls": cls, "q": " ".join(pos), "not": neg}
        if cls == "phrase":
            return {"cls": cls, "q": " ".join(self._run(int(r.integers(2, 4)))), "slop": 0}
        if cls == "sloppy":
            gap = int(r.integers(1, 3))
            return {"cls": cls, "q": " ".join(self._run(2, gap)), "slop": gap}
        if cls == "synonym":
            keys = sorted(self.synonyms)
            a, b = r.choice(keys, 2, replace=False)
            return {"cls": cls, "q": f"{a} {b}"}
        if cls == "terms_set":
            return {"cls": cls, "q": " ".join(self._terms(3, 4, head_p=0.8))}
        if cls == "span_or":
            return {"cls": cls, "terms": self._terms(2, 3)}
        if cls == "range_filtered":
            lo = int(r.integers(0, 60))
            return {"cls": cls, "q": " ".join(self._terms(1, 3)), "lo": lo, "hi": lo + 39}
        if cls == "dsl":
            return {"cls": cls, "q": " ".join(self._terms(1, 3)),
                    "min_dl": int(r.integers(5, 60))}
        if cls == "facet":
            return {"cls": cls, "q": " ".join(self._terms(1, 2))}
        raise ValueError(cls)

    def mix(self, rounds: int) -> list[dict]:
        """``rounds`` rounds of ``QUERY_CLASSES`` in shuffled order, so every
        seed runs the same class mix."""
        picks = [c for c, n in QUERY_CLASSES.items() for _ in range(n * rounds)]
        self.rng.shuffle(picks)
        return [self.draw(c) for c in picks]

    def first_query(self) -> str:
        """Two head terms: the first query fills the reader caches, and a
        fixed shape keeps its cost from depending on the draw."""
        return " ".join(self._terms(2, 2, head_p=1.0))

    def or_queries(self, n: int) -> list[str]:
        return [" ".join(self._terms(1, 4)) for _ in range(n)]


def write_batches(spark, n_epochs: int, batch: int, seed: int, out_dir: str) -> list[dict]:
    """html-only micro-batches (``text`` is null, so the extract UDF parses
    every page). Each epoch plants its own marker token in three pages; the
    expected text of those pages gains the marker."""
    from kafka_es_spark.sources.pages import gen_pages_distributed

    pdf = gen_pages_distributed(
        spark, n_epochs * batch, seed=seed * 7 + 1, slices=SLICES
    ).toPandas()
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    out = []
    for e in range(n_epochs):
        b = pdf.iloc[e * batch:(e + 1) * batch].copy().reset_index(drop=True)
        b["url"] = b["url"].str.replace("https://", f"https://e{e}.", n=1, regex=False)
        marker = f"mk{seed}x{e}"
        hosts = [i for i in range(len(b)) if b.at[i, "text"]][:3]
        for i in hosts:
            b.at[i, "html"] = bytes(b.at[i, "html"]).replace(
                b"</body>", f"<p>{marker}</p></body>".encode()
            )
            b.at[i, "text"] = f"{b.at[i, 'text']} {marker}"
        path = os.path.join(out_dir, f"epoch-{e}")
        os.makedirs(path)
        html_only = b.assign(text=pd.Series([None] * len(b), dtype=object))
        pq.write_table(
            pa.Table.from_pandas(html_only, preserve_index=False,
                                 schema=_PAGES_ARROW),
            os.path.join(path, "part-0.parquet"),
        )
        out.append({
            "epoch": e, "path": path, "marker": marker,
            "marker_urls": sorted(b.loc[hosts, "url"]),
            "pages": b[["url", "text", "lang"]],
        })
    return out


_PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _prepare(argv=None) -> None:
    """Make the corpus and, with ``--index``, the serving index (index +
    positions) into the cache; each is written beside its final path and
    renamed."""
    from perfbench.env import pin_env, start_spark, stop_spark

    p = argparse.ArgumentParser()
    p.add_argument("--pages", type=int, required=True)
    p.add_argument("--corpus", required=True)
    p.add_argument("--index")
    a = p.parse_args(argv)
    work = a.corpus + f".tmp{os.getpid()}"
    env = pin_env(work)
    spark = start_spark("perfbench-prepare", env)
    try:
        from kafka_es_spark.operators.positions import build_position_index
        from kafka_es_spark.plans.build_index import build_index
        from kafka_es_spark.sources.pages import gen_pages_distributed

        if not os.path.exists(a.corpus):
            tmp = os.path.join(work, "corpus")
            gen_pages_distributed(
                spark, a.pages, seed=CORPUS_SEED, slices=SLICES
            ).write.parquet(tmp)
            os.rename(tmp, a.corpus)
        if a.index and not os.path.exists(a.index):
            tmp = os.path.join(work, "index")
            pages = spark.read.parquet(a.corpus)
            cpus = int(env["SPARK_GRAFT_CPUS"])
            build_index(spark, pages, tmp, n_term_buckets=cpus, store_fields=STORE)
            build_position_index(spark, pages, tmp)
            os.rename(tmp, a.index)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    _prepare()

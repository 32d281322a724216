"""Deterministic synthetic Common-Crawl-style pages table (BASELINE.json input_hint).

Schema (exact): url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generator requirements (FIXTURES.md §1): Zipfian term distribution (so
head-term skew exercises the salted merge), duplicate-content urls, ≥2
languages, some empty/whitespace html, HTML entities + tags the extractor
must strip deterministically. Seeded (numpy PCG64) → identical bytes at any
parallelism; the driver never regenerates, tests synthesize at small scale.

The ``text`` column is written as the *expected output* of the X1 extractor
over ``html`` (functions/extract.py), making the byte-identity invariant
testable: extract_text(html) == text, per url.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_es_spark.session import local_frame

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), False),
    ]
)

# Zipf-weighted vocabularies per language (deterministic, embedded).
_VOCAB = {
    "en": (
        "the of and to in data index search query term document page web spark "
        "shard batch bulk kafka sink route retry flush offset commit stream "
        "crawl html text token score rank merge block skip list posting heap"
    ).split(),
    "de": (
        "der die das und zu daten index suche anfrage begriff dokument seite "
        "netz funke scherbe stapel masse strom kriechen text zeichen punkt rang"
    ).split(),
    "uk": (
        "індекс пошук запит термін документ сторінка дані потік текст знак "
        "оцінка ранг блок список купа злиття"
    ).split(),
}
_ENTITIES = ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;"]
_ENTITY_TEXT = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'", "&nbsp;": " "}


TAIL_VOCAB = 50_000  # synthetic long-tail terms t0..t49999 (realistic vocab width)


def _zipf_words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    """Zipf head vocab (heavy skew for the salted merge) + a wide uniform
    tail (~25% of tokens) so df spreads like real webtext instead of every
    term being a head term."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = (1.0 / ranks) / (1.0 / ranks).sum()
    words = [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]
    tail_mask = rng.random(n) < 0.25
    tail_ids = rng.integers(0, TAIL_VOCAB, size=n)
    return [f"t{tail_ids[i]}" if tail_mask[i] else w for i, w in enumerate(words)]


def gen_pages_pdf(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Pandas frame of n_rows synthetic pages. Pure function of (n_rows, seed)."""
    rng = np.random.default_rng(seed)
    langs = ["en"] * 6 + ["de"] * 3 + ["uk"]
    rows = []
    base_ts = _dt.datetime(2025, 10, 17, tzinfo=_dt.timezone.utc)
    dup_text_cache: list[tuple[str, str, str]] = []  # (lang, text, html_body)
    for i in range(n_rows):
        lang = langs[int(rng.integers(0, len(langs)))]
        url = f"https://site-{int(rng.integers(0, max(2, n_rows // 3)))}.example/{lang}/p{i}"
        ts = base_ts + _dt.timedelta(seconds=int(rng.integers(0, 86400 * 30)))
        r = rng.random()
        if r < 0.03:
            html: bytes | None = b""
            text = ""
        elif r < 0.05:
            html = b"   \n\t  "
            text = ""
        elif r < 0.12 and dup_text_cache:
            # duplicate-content url: same text+html body as an earlier page
            lang, text, body = dup_text_cache[int(rng.integers(0, len(dup_text_cache)))]
            html = body.encode("utf-8")
        else:
            nw = int(rng.integers(5, 120))
            words = _zipf_words(rng, _VOCAB[lang], nw)
            # sprinkle entities so extraction has real work to do
            ent_idx = rng.random(nw) < 0.05
            title = " ".join(words[: min(4, nw)])
            body_words = [
                (_ENTITIES[int(rng.integers(0, len(_ENTITIES)))] if e else w)
                for w, e in zip(words, ent_idx)
            ]
            paras = []
            for j in range(0, len(body_words), 20):
                paras.append("<p>" + " ".join(body_words[j : j + 20]) + "</p>")
            body = (
                f"<html><head><title>{title}</title>"
                f"<script>var x=1;</script><style>.a{{}}</style></head>"
                f"<body><h1>{title}</h1>" + "".join(paras) + "</body></html>"
            )
            # expected extraction: tags stripped, entities decoded, ws collapsed
            text_words = [title, title] + [
                (_ENTITY_TEXT[w] if w in _ENTITY_TEXT else w) for w in body_words
            ]
            text = " ".join(" ".join(text_words).split())
            html = body.encode("utf-8")
            if rng.random() < 0.3:
                dup_text_cache.append((lang, text, body))
        rows.append((url, ts, html, text, lang))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    # url must be unique per row (FIXTURES.md) — suffix any collisions
    dup = pdf["url"].duplicated()
    pdf.loc[dup, "url"] = pdf.loc[dup, "url"] + "-d" + pdf.index[dup].astype(str)
    return pdf


def gen_pages(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int = 8) -> DataFrame:
    df = spark.createDataFrame(gen_pages_pdf(n_rows, seed), schema=PAGES_SCHEMA)
    return df.repartition(partitions)


def gen_pages_distributed(
    spark: SparkSession, n_rows: int, seed: int = 42, slices: int = 64
) -> DataFrame:
    """Distributed deterministic generator: the corpus is the union of
    ``slices`` independently-seeded gen_pages_pdf slices, so the data is a
    pure function of (n_rows, seed, slices) — independent of cluster
    parallelism. Use for large benchmark corpora (driver-side generation is
    a serial bottleneck; at 100 TB the input is a table, never a driver loop)."""
    import pandas as pd  # noqa: F811

    per = (n_rows + slices - 1) // slices
    bounds = [(i, min(per, n_rows - i * per)) for i in range(slices) if n_rows - i * per > 0]
    bdf = local_frame(spark, bounds, "slice_id: int, n: int").repartition(len(bounds), "slice_id")

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                sid, n = int(row["slice_id"]), int(row["n"])
                out = gen_pages_pdf(n, seed=seed * 100003 + sid)
                out["url"] = out["url"].str.replace(
                    "https://", f"https://s{sid}.", n=1, regex=False
                )
                yield out

    return bdf.mapInPandas(gen, PAGES_SCHEMA)


def docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver `documents` table → pages shape (url synthesized from
    doc_id; html empty — text already extracted). Lets index jobs run on the
    driver corpus unchanged."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(_dt.datetime(2025, 10, 17)).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )

"""Aggregation kernels shared by the ``Searcher`` aggregation methods
and the ``_search`` ``aggs`` section (``searchapi._run_aggs``).

Each kernel maps a hit-field frame (the hit set joined to its field values
by ``Searcher._agg_input``) and the aggregation's parameters to a frame,
so a kind has one implementation whatever the entry point. Every kernel
stays in Spark's own aggregate, never a Python UDF. Each surface keeps its
own column spelling as a final rename or key rendering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame

# ES avg/sum/min/max/value_count over one field; sums are exact int64
METRICS = {
    "avg": lambda f: F.round(F.avg(f), 4),
    "sum": lambda f: F.sum(f).cast("long"),
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
}


def metric_columns(named: dict[str, tuple[str, str]]) -> list[Column]:
    """One aggregate column per ``{name: (kind, field)}`` metric."""
    return [METRICS[kind](field).alias(name) for name, (kind, field) in named.items()]


def metrics(frame: DataFrame, named: dict[str, tuple[str, str]],
            doc_count: bool = False) -> DataFrame:
    """One row: ``doc_count`` (a single-bucket agg) and the metrics."""
    lead = [F.count(F.lit(1)).alias("doc_count")] if doc_count else []
    return frame.agg(*lead, *metric_columns(named))


def stats(frame: DataFrame, field: str) -> DataFrame:
    """ES stats: one row (n_docs_agg, min_v, max_v, sum_v, avg_v)."""
    return metrics(frame, _stats_metrics(field))


def _stats_metrics(field: str) -> dict[str, tuple[str, str]]:
    return {
        "n_docs_agg": ("value_count", field), "min_v": ("min", field),
        "max_v": ("max", field), "sum_v": ("sum", field),
        "avg_v": ("avg", field),
    }


def extended_stats(frame: DataFrame, field: str) -> DataFrame:
    """ES extended_stats: the stats row plus sum_sq, population variance
    and std_dev, derived from exact int64 power sums as ``sq/n −
    (s/n)·(s/n)``, so an oracle doing the same IEEE ops bit-matches."""
    base = frame.agg(
        *metric_columns(_stats_metrics(field))[:4],
        F.sum(F.col(field) * F.col(field)).cast("long").alias("sum_sq"),
    )
    mean = "(CAST(sum_v AS DOUBLE) / n_docs_agg)"
    var = f"(CAST(sum_sq AS DOUBLE) / n_docs_agg - {mean} * {mean})"
    return base.selectExpr(
        "n_docs_agg", "min_v", "max_v", "sum_v", "sum_sq",
        f"round({mean}, 4) AS avg_v",
        f"round({var}, 4) AS variance",
        f"round(sqrt({var}), 4) AS std_dev",
    )


def terms(
    frame: DataFrame,
    keys: list[str],
    subs: list[Column] = (),
    size: int | None = None,
    order: list[Column] | None = None,
    min_doc_count: int = 1,
    max_doc_count: int | None = None,
) -> DataFrame:
    """Buckets: group by ``keys`` → doc_count and ``subs`` in one hash
    aggregation → keep [``min_doc_count``, ``max_doc_count``] → order →
    first ``size``. ``order`` leads (default doc_count desc; ``[]`` for
    key order); the keys ascending always break ties."""
    out = frame.groupBy(*keys).agg(F.count("*").alias("doc_count"), *subs)
    if int(min_doc_count) > 1:
        out = out.filter(F.col("doc_count") >= int(min_doc_count))
    if max_doc_count is not None:
        out = out.filter(F.col("doc_count") <= int(max_doc_count))
    lead = [F.col("doc_count").desc()] if order is None else list(order)
    out = out.orderBy(*lead, *[F.col(k).asc() for k in keys])
    return out if size is None else out.limit(int(size))


def histogram_key(field: str, interval: float) -> Column:
    """Histogram bucket floor(value / interval) · interval (``terms``
    buckets it with ``order=[]``)."""
    iv = F.lit(float(interval))
    return F.floor(F.col(field) / iv) * iv


def top_hits(
    frame: DataFrame, key: str, buckets: int, per_bucket: int,
    tie: Column | None = None,
) -> DataFrame:
    """Terms + top_hits: (key, doc_count, rnk, url, score) for the
    ``per_bucket`` best hits (score desc, ``tie`` asc, default doc_id) of
    the top ``buckets`` buckets. The bucket set is broadcast back and the
    window partitions by the key, so no sort is global."""
    top_b = terms(frame, [key], size=buckets)
    w = Window.partitionBy(key).orderBy(
        F.col("score").desc(), F.col("_tie").asc()
    )
    return (
        frame.withColumn("_tie", F.col("doc_id") if tie is None else tie)
        .join(F.broadcast(top_b), key)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= int(per_bucket))
        .select(key, "doc_count", "rnk", "url", "score")
        .orderBy(
            F.col("doc_count").desc(), F.col(key).asc(), F.col("rnk").asc()
        )
    )


def composite(
    frame: DataFrame, keys: list[str], size: int, after=None
) -> DataFrame:
    """ES composite: distinct ``keys`` tuples with doc_count in key order,
    ``size`` per page, strictly after the ``after`` tuple."""
    out = frame.groupBy(*keys).agg(F.count("*").alias("doc_count"))
    if after is not None:
        if len(after) != len(keys):
            raise ValueError(
                f"after key arity {len(after)} != sources arity {len(keys)}"
            )
        # strict tuple > after: (a > A) OR (a = A AND b > B) OR ...
        cond, eq = F.lit(False), F.lit(True)
        for col, val in zip(keys, after):
            cond = cond | (eq & (F.col(col) > F.lit(val)))
            eq = eq & (F.col(col) == F.lit(val))
        out = out.filter(cond)
    return out.orderBy(*[F.col(c).asc() for c in keys]).limit(int(size))


def range_rows(ranges, render=lambda v: format(float(v), "g"),
               bound=float) -> list[tuple]:
    """The (key, lo, hi) rows of (lo, hi) ``ranges``, None an open end:
    the ES key ``from-to`` (``*`` for an open end) and ``bound`` values."""
    def key(v):
        return "*" if v is None else render(v)

    return [
        (f"{key(lo)}-{key(hi)}", None if lo is None else bound(lo),
         None if hi is None else bound(hi))
        for lo, hi in ranges
    ]


def ranges(
    frame: DataFrame, value: Column, rows: list[tuple], bound: str = "double"
) -> DataFrame:
    """ES range: ``rows`` are (key, lo inclusive, hi exclusive) buckets,
    None an open end, overlaps allowed. (key, lo, hi, doc_count) for
    every bucket, unordered: a broadcast conditional join counted per
    bucket, then a left join back that restores the empty buckets at 0.
    Buckets are counted by position, so two with the same key each count
    once."""
    rdf = local_frame(
        frame.sparkSession, [(i, *r) for i, r in enumerate(rows)],
        f"_i int, key string, lo {bound}, hi {bound}",
    )
    v = F.col("_v")
    cond = (
        (F.col("lo").isNull() | (v >= F.col("lo")))
        & (F.col("hi").isNull() | (v < F.col("hi")))
    )
    counts = (
        frame.select(value.alias("_v"))
        .join(F.broadcast(rdf), cond)
        .groupBy("_i")
        .agg(F.count("*").alias("doc_count"))
    )
    return rdf.join(counts, "_i", "left").select(
        "key", "lo", "hi",
        F.coalesce("doc_count", F.lit(0)).cast("long").alias("doc_count"),
    )


def named_counts(
    frame: DataFrame, named: list[tuple[str, Column]], key: str = "key",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """(``key``, doc_count) per (SQL-literal label, predicate) of
    ``named``, plus the ``extra`` aggregates on every row: one row of
    conditional sums unpivoted with ``stack``."""
    extra = extra or {}
    sums = [
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"_b{i}")
        for i, (_, c) in enumerate(named)
    ]
    pairs = ", ".join(f"{label}, _b{i}" for i, (label, _) in enumerate(named))
    return frame.agg(
        *sums, *[c.alias(n) for n, c in extra.items()]
    ).selectExpr(f"stack({len(named)}, {pairs}) AS ({key}, doc_count)", *extra)


def _quantiles(value: Column, fractions, exact: bool = True,
               accuracy: int = 10000) -> Column:
    """``value``'s ``fractions`` quantiles as one aggregate array: exact
    (quantile_cont) or the mergeable approximate sketch."""
    parr = F.array(*[F.lit(float(p)) for p in fractions])
    if exact:
        return F.percentile(value, parr)
    return F.percentile_approx(value, parr, int(accuracy))


def percentiles(
    frame: DataFrame, field: str, fractions, labels, exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """ES percentiles: (pct, value) per quantile, ``pct`` from
    ``labels``, ``value`` an unrounded double, unordered."""
    larr = F.array(*[F.lit(float(p)) for p in labels])
    return (
        frame.agg(_quantiles(F.col(field), fractions, exact, accuracy).alias("vals"))
        .select(F.posexplode("vals").alias("pos", "value"))
        .select(
            F.element_at(larr, F.col("pos") + 1).alias("pct"),
            F.col("value").cast("double").alias("value"),
        )
    )


def median_absolute_deviation(frame: DataFrame, field: str) -> DataFrame:
    """ES median_absolute_deviation, exact: one row (mad), median(|x −
    median(x)|) over a broadcast 1-row median pre-pass."""
    def median(c: Column) -> Column:
        return F.element_at(_quantiles(c, [0.5]), 1)

    med = frame.agg(median(F.col(field)).alias("_m"))
    return frame.crossJoin(F.broadcast(med)).agg(
        F.round(median(F.abs(F.col(field) - F.col("_m"))), 4).alias("mad")
    )


def cardinality(frame: DataFrame, field: str, exact: bool = False,
                rsd: float = 0.05) -> DataFrame:
    """ES cardinality: one row (value_count), HyperLogLog++ by default,
    ``exact`` a count DISTINCT."""
    agg = F.countDistinct(field) if exact else F.approx_count_distinct(field, rsd)
    return frame.agg(agg.cast("long").alias("value_count"))


def value_counts(frame: DataFrame, field: str) -> DataFrame:
    """ES value_count + missing: one row (value_count, missing_count)."""
    return frame.agg(
        F.count(field).alias("value_count"),
        (F.count(F.lit(1)) - F.count(field)).alias("missing_count"),
    )


def significant_terms(
    frame: DataFrame, background: DataFrame, n_docs: int, size: int,
    min_doc_count: int,
) -> DataFrame:
    """ES significant_terms / significant_text, JLH-scored: the hits'
    re-tokenized ``text`` against the (term, df) ``background``. Top
    ``size`` (term, fg_count, bg_count, sig_score) rows."""
    from kafka_es_spark.functions.tokenize import tokens

    n_fg = frame.count()
    if n_fg == 0:
        return local_frame(
            frame.sparkSession, [],
            "term string, fg_count long, bg_count long, sig_score double",
        )
    fg = (
        frame.select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("fg_count"))
        .filter(F.col("fg_count") >= int(min_doc_count))
    )
    bg = background.select("term", F.col("df").alias("bg_count"))
    fgp = F.col("fg_count") / F.lit(float(n_fg))
    bgp = F.col("bg_count") / F.lit(float(n_docs))
    return (
        fg.join(bg, "term")
        .withColumn("sig_score", F.round((fgp - bgp) * (fgp / bgp), 4))
        .orderBy(F.col("sig_score").desc(), F.col("term").asc())
        .limit(int(size))
    )


def haversine_km(lat: str, lon: str, origin_lat: float,
                 origin_lon: float) -> Column:
    """Haversine arc km from the origin (ES ``arc``, R = 6371.0)."""
    rad = 3.141592653589793 / 180.0
    la1 = F.lit(float(origin_lat) * rad)
    lo1 = F.lit(float(origin_lon) * rad)
    la2 = F.col(lat).cast("double") * F.lit(rad)
    lo2 = F.col(lon).cast("double") * F.lit(rad)
    h = (
        F.pow(F.sin((la2 - la1) / F.lit(2.0)), 2)
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / F.lit(2.0)), 2)
    )
    return F.lit(2.0 * 6371.0) * F.asin(F.sqrt(h))

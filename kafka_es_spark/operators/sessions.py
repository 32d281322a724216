"""Event sessionization — the standard web-log pipeline operator (gap-based
session split), included with the training-data operator set: session
boundaries feed dedup-by-session, behavior features, and time-windowed
corpus slices.

Plan: ONE shuffle (window partitioned by user), then a hash aggregate on
(user, session). At 100 TB the window key is the user id — high cardinality,
no skew concentration (a pathological single user would bound at that
user's event count; guard upstream if a bot user dominates)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """(user_id, session_seq, session_start, session_end, n_events): a new
    session starts when the gap to the user's previous event exceeds
    ``gap_seconds``. Ordering ties break on ``order_tiebreak`` so the
    result is deterministic. Timestamps are returned as epoch seconds
    (engine-portable)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # microsecond epoch for the gap test (full precision; NTZ treated as
    # UTC, matching DuckDB's epoch()); floor to seconds only at the output
    ep_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(ts_col).over(w)
    brk = F.when(
        prev.isNull()
        | ((ep_us - F.unix_micros(prev.cast("timestamp"))) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tagged = events.withColumn("_brk", brk).withColumn(
        "session_seq", F.sum("_brk").over(run).cast("long")
    )
    return tagged.groupBy(F.col(user_col).alias("user_id"), "session_seq").agg(
        F.floor(F.min(ep_us) / F.lit(1_000_000.0)).cast("long").alias("session_start"),
        F.floor(F.max(ep_us) / F.lit(1_000_000.0)).cast("long").alias("session_end"),
        F.count("*").alias("n_events"),
    )


def date_histogram(
    events: DataFrame,
    ts_col: str = "ts",
    unit: str = "day",
    key_col: str | None = None,
) -> DataFrame:
    """ES date_histogram aggregation analogue (``aggs: {date_histogram:
    {calendar_interval: day}}``): bucket rows by the calendar unit of
    their timestamp — (bucket, [key,] doc_count), bucket-ordered, empty
    buckets omitted (min_doc_count=1). ``key_col`` adds a terms
    sub-bucketing (the ES date_histogram + terms composite shape).

    Calendar truncation (date_trunc) differs from ev2's fixed-width
    epoch windows exactly the way ES distinguishes calendar_interval
    from fixed_interval. One hash aggregation to #buckets·#keys rows —
    partial map-side combine, no skew risk (time is naturally spread)."""
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    keys = [b] + ([F.col(key_col)] if key_col else [])
    return (
        events.groupBy(*keys)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(*(["bucket"] + ([key_col] if key_col else [])))
    )


AUTO_DH_LADDER: list[tuple[str, float]] = [
    ("minute", 60.0),
    ("hour", 3600.0),
    ("day", 86400.0),
    ("month", 2629800.0),   # 30.4375 d — estimation only, truncation is calendar
    ("year", 31557600.0),   # 365.25 d
]


def auto_date_histogram(
    events: DataFrame,
    target_buckets: int,
    ts_col: str = "ts",
) -> DataFrame:
    """ES auto_date_histogram: the engine PICKS the calendar interval —
    the smallest unit in the minute→year ladder whose estimated bucket
    count fits ``target_buckets`` (est = floor(span_sec / unit_sec) + 1;
    month/year estimate with their mean lengths, truncation itself stays
    calendar). Output (bucket, doc_count) bucket-ordered plus the chosen
    ``interval`` as a constant column, the way the ES response reports
    which interval it settled on. The fixed-width estimator (not a
    calendar walk) is stated so a SQL oracle can replay the choice with
    the same CASE ladder.

    Plan: one scalar min/max aggregate (a driver collect of exactly one
    row at ANY corpus size) chooses the unit, then the same one-shuffle
    hash aggregation as date_histogram. Two jobs total."""
    if target_buckets < 1:
        raise ValueError("target_buckets must be >= 1")
    lo, hi = events.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).collect()[0]
    if lo is None:
        return local_frame(
            events.sparkSession,
            [],
            "bucket timestamp, doc_count long, interval string",
        )
    span = (hi - lo).total_seconds()
    unit = AUTO_DH_LADDER[-1][0]
    for u, sec in AUTO_DH_LADDER:
        if int(span // sec) + 1 <= int(target_buckets):
            unit = u
            break
    return (
        events.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .withColumn("interval", F.lit(unit))
        .orderBy("bucket")
    )


def date_range_agg(
    events: DataFrame,
    boundaries: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """ES date_range-aggregation analogue: ``boundaries`` (ISO
    timestamps, ascending) cut the time axis into len+1 buckets —
    ``from`` inclusive, ``to`` exclusive, open ends rendered ``*`` (the
    ES range-key convention the numeric agg_ranges shares). Every
    requested range appears even at doc_count 0.

    Plan: one conditional-sum aggregate row unpivoted with ``stack`` —
    the bucket count is tiny and fixed, so this is a single map-side
    combine over the scan, no join and no second shuffle."""
    bs = list(boundaries)
    edges: list[tuple[str | None, str | None]] = []
    for i in range(len(bs) + 1):
        lo = bs[i - 1] if i > 0 else None
        hi = bs[i] if i < len(bs) else None
        edges.append((lo, hi))
    aggs = []
    names = []
    for i, (lo, hi) in enumerate(edges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(ts_col) >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            cond = cond & (F.col(ts_col) < F.lit(hi).cast("timestamp"))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_b{i}")
        )
        names.append(f"{lo or '*'}-{hi or '*'}")
    stack = ", ".join(f"'{n}', _b{i}" for i, n in enumerate(names))
    return (
        events.agg(*aggs)
        .selectExpr(f"stack({len(names)}, {stack}) AS (range_key, doc_count)")
        .orderBy("range_key")
    )


def sibling_bucket_stats(
    buckets: DataFrame,
    metric_col: str = "doc_count",
    round_to: int = 4,
) -> DataFrame:
    """ES sibling pipeline aggregations in one pass — avg_bucket,
    min_bucket, max_bucket, sum_bucket, stats_bucket's count — computed
    OVER a parent aggregation's buckets (one row out). Sibling pipelines
    are reduce-phase aggregates of the bucket relation, never a second
    event scan: #buckets input rows, one scalar aggregate row.

    min/max_bucket in ES also report which bucket keys attained the
    extremum; callers who need the keys join back on the value (ties =
    all attaining buckets, the ES 'keys' array)."""
    m = F.col(metric_col).cast("double")
    return buckets.agg(
        F.round(F.avg(m), round_to).alias("avg_bucket"),
        F.min(m).alias("min_bucket"),
        F.max(m).alias("max_bucket"),
        F.round(F.sum(m), round_to).alias("sum_bucket"),
        F.count(m).cast("long").alias("bucket_count"),
    )


def serial_diff(
    buckets: DataFrame,
    lag: int = 1,
    order_col: str = "bucket",
    metric_col: str = "doc_count",
) -> DataFrame:
    """ES serial_diff pipeline aggregation: value minus the value ``lag``
    buckets earlier (null for the first ``lag`` buckets, like ES's
    derivative) — the seasonal-differencing primitive (lag=7 on a daily
    histogram removes the weekly cycle). A window lag over the #buckets
    relation, reduce-phase placement like every pipeline agg here."""
    if lag < 1:
        raise ValueError("serial_diff lag must be >= 1")
    w = Window.orderBy(order_col)
    return buckets.withColumn(
        "serial_diff",
        F.col(metric_col) - F.lag(metric_col, int(lag)).over(w),
    ).orderBy(order_col)


def bucket_selector(buckets: DataFrame, predicate: str) -> DataFrame:
    """ES bucket_selector pipeline aggregation: drop parent-agg buckets
    where the script predicate is false. The painless subset that covers
    real usage (comparisons/arithmetic over ``buckets_path`` values) IS a
    SQL boolean expression over the bucket row, so the predicate is one.
    Runs in the reduce phase over #buckets rows — never over raw events —
    exactly ES's pipeline placement."""
    return buckets.filter(predicate)


def bucket_sort(
    buckets: DataFrame,
    sort: list[tuple[str, str]],
    size: int | None = None,
    from_: int = 0,
) -> DataFrame:
    """ES bucket_sort pipeline aggregation: reorder the parent agg's
    buckets by ``sort`` ([(column, 'asc'|'desc'), ...], applied in order)
    and paginate with ``from``/``size``. Deterministic output needs a
    deterministic sort — include a unique tiebreak column in ``sort``,
    as in ES. #buckets rows; with a size the sort rides TakeOrdered."""
    cols = [
        F.col(c).desc() if d.lower().startswith("d") else F.col(c).asc()
        for c, d in sort
    ]
    out = buckets.orderBy(*cols)
    if from_:
        out = out.offset(int(from_))
    if size is not None:
        out = out.limit(int(size))
    return out


def histogram_pipeline(
    events: DataFrame,
    ts_col: str = "ts",
    unit: str = "day",
    moving_window: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """ES pipeline-aggregation family over a date_histogram: per calendar
    bucket — doc_count, ``cumulative_sum``, ``derivative`` (difference
    vs the previous bucket; null for the first, as ES emits no
    derivative there), and ``moving_fn`` unweighted average over the
    trailing ``moving_window`` buckets (current included).

    Pipeline aggs are WINDOW functions over the already-tiny histogram
    relation (#buckets rows), not a second pass over the events: the
    parent histogram is one partial aggregation, and the pipeline stage
    runs on its output — exactly ES's reduce-phase placement. The single
    unpartitioned window is safe because its input is #buckets rows, not
    corpus rows (never put an unpartitioned window over raw events)."""
    hist = (
        events.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
    )
    w = Window.orderBy("bucket")
    mw = w.rowsBetween(-(int(moving_window) - 1), 0)
    return (
        hist.withColumn(
            "cumulative_sum",
            F.sum("doc_count").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "derivative", F.col("doc_count") - F.lag("doc_count").over(w)
        )
        .withColumn(
            "moving_avg",
            F.round(
                F.sum("doc_count").over(mw)
                / F.count(F.lit(1)).over(mw).cast("double"),
                round_to,
            ),
        )
        .orderBy("bucket")
    )


def median_absolute_deviation(
    events: DataFrame,
    value_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """ES median_absolute_deviation aggregation: median(|x − median(x)|)
    — the robust dispersion metric (one agg row). This is the EXACT
    tier: two exact-percentile aggregations with a broadcast of the
    scalar median between them (``percentile`` materializes the group's
    values on one executor, so at 10¹² rows use the sketch tier —
    ``percentile_approx``, ES's actual TDigest semantics — and give up
    oracle equality, same exact/sketch split as agg_percentiles vs the
    HLL cardinality pair).

    Plan: agg #1 → 1-row median, crossJoin (broadcast by size) → agg #2.
    No window, no per-row Python."""
    med = events.agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    return (
        events.select(F.col(value_col).cast("double").alias("_x"))
        .crossJoin(F.broadcast(med))
        .agg(
            F.round(
                F.expr("percentile(abs(_x - _med), 0.5)"), round_to
            ).alias("mad"),
        )
    )


def boxplot_agg(
    events: DataFrame,
    value_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """ES boxplot aggregation: min / q1 / q2 (median) / q3 / max over a
    numeric field, one row. Exact linear-interpolation quantiles (ES
    documents boxplot on TDigest — the sketch tier swaps in
    ``percentile_approx``; the exact tier is what an oracle can check).
    One aggregation, partial combine map-side for min/max/count."""
    q = F.expr(f"percentile({value_col}, array(0.25, 0.5, 0.75))")
    return events.agg(
        F.min(F.col(value_col).cast("double")).alias("min"),
        F.round(q.getItem(0), round_to).alias("q1"),
        F.round(q.getItem(1), round_to).alias("q2"),
        F.round(q.getItem(2), round_to).alias("q3"),
        F.max(F.col(value_col).cast("double")).alias("max"),
    )


def t_test_agg(
    events: DataFrame,
    group_predicate: str,
    value_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """ES t_test aggregation (type=heteroscedastic, the default): Welch's
    unpaired two-sample t-statistic between the rows where
    ``group_predicate`` (a SQL boolean) holds and the rest. Closed form
    from per-group (count, mean, var_samp):

        t = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)

    ONE conditional aggregation — six partial-aggregable sums, no
    second scan, no shuffle beyond the agg. Returns (n_a, n_b, t)."""
    p = F.expr(group_predicate)
    x = F.col(value_col).cast("double")
    a, b = F.when(p, x), F.when(~p, x)
    agg = events.agg(
        F.count(a).cast("long").alias("n_a"),
        F.count(b).cast("long").alias("n_b"),
        F.avg(a).alias("_ma"),
        F.avg(b).alias("_mb"),
        F.var_samp(a).alias("_va"),
        F.var_samp(b).alias("_vb"),
    )
    t = (F.col("_ma") - F.col("_mb")) / F.sqrt(
        F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")
    )
    return agg.select(
        "n_a", "n_b", F.round(t, round_to).alias("t_stat")
    )


def normalize_buckets(
    buckets: DataFrame,
    method: str = "percent_of_sum",
    order_col: str = "bucket",
    metric_col: str = "doc_count",
    round_to: int = 4,
) -> DataFrame:
    """ES normalize pipeline aggregation: rescale each parent bucket's
    metric — ``percent_of_sum`` (value/Σ), ``mean`` ((x−μ)/(max−min)),
    or ``range`` ((x−min)/(max−min)). Reduce-phase math over the
    #buckets relation (unpartitioned window is safe there — never over
    raw events); ES emits null when the denominator is 0, as here."""
    m = F.col(metric_col).cast("double")
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if method == "percent_of_sum":
        den, num = F.sum(m).over(w), m
    elif method == "mean":
        den = F.max(m).over(w) - F.min(m).over(w)
        num = m - F.avg(m).over(w)
    elif method == "range":
        den = F.max(m).over(w) - F.min(m).over(w)
        num = m - F.min(m).over(w)
    else:
        raise ValueError(f"unknown normalize method {method!r}")
    return buckets.withColumn(
        "normalized",
        F.round(F.when(den != 0.0, num / den), round_to),
    ).orderBy(order_col)


def cumulative_cardinality(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "day",
) -> DataFrame:
    """ES cumulative_cardinality pipeline aggregation: per calendar
    bucket, the number of DISTINCT entities seen in the stream so far —
    the canonical "unique users to date" curve.

    ES stacks it on per-bucket HLL sketches; the exact distributed form
    is better than a running-union: an entity counts once at its FIRST
    bucket, so one groupBy(entity)→min(bucket) (pre-aggregated
    per-partition), one count per first-bucket, and a cumulative window
    over #buckets rows. Buckets with arrivals but no NEW entities still
    appear (joined against the full histogram domain); the running sum
    carries through them."""
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    domain = events.select(bucket).distinct()
    firsts = (
        events.select(F.col(entity_col).alias("_e"), bucket)
        .groupBy("_e")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        domain.join(firsts, "bucket", "left")
        .withColumn(
            "cumulative_cardinality",
            F.sum(F.coalesce(F.col("_new"), F.lit(0))).over(w).cast("long"),
        )
        .select("bucket", "cumulative_cardinality")
        .orderBy("bucket")
    )


def extended_stats_bucket(
    buckets: DataFrame,
    metric_col: str = "doc_count",
    round_to: int = 4,
) -> DataFrame:
    """ES extended_stats_bucket sibling pipeline agg: count / min / max /
    avg / sum plus sum_of_squares and POPULATION variance / std_deviation
    (ES's extended_stats definition: Σx²/n − μ²) over the parent agg's
    buckets — one reduce-phase row from the #buckets relation, like
    sibling_bucket_stats."""
    m = F.col(metric_col).cast("double")
    agg = buckets.agg(
        F.count(m).cast("long").alias("count"),
        F.min(m).alias("min"),
        F.max(m).alias("max"),
        F.round(F.avg(m), round_to).alias("avg"),
        F.round(F.sum(m), round_to).alias("sum"),
        F.round(F.sum(m * m), round_to).alias("sum_of_squares"),
        F.round(F.var_pop(m), round_to).alias("variance"),
        F.round(F.stddev_pop(m), round_to).alias("std_deviation"),
    )
    return agg


def percentiles_bucket(
    buckets: DataFrame,
    metric_col: str = "doc_count",
    percents: list[float] = (25.0, 50.0, 75.0),
    round_to: int = 4,
) -> DataFrame:
    """ES percentiles_bucket sibling pipeline agg: exact
    linear-interpolation percentiles of the parent buckets' metric —
    (percent, value) rows. The input is #buckets rows, so the exact
    percentile (not TDigest) is the honest choice at ANY corpus size:
    pipeline aggs never see raw events."""
    ps = [float(p) for p in percents]
    arr = F.expr(
        f"percentile({metric_col}, array({', '.join(str(p / 100.0) for p in ps)}))"
    )
    one = buckets.agg(arr.alias("_q"))
    stack = ", ".join(
        f"CAST({p!r} AS DOUBLE), round(_q[{i}], {int(round_to)})"
        for i, p in enumerate(ps)
    )
    return one.select(
        F.expr(f"stack({len(ps)}, {stack}) AS (percent, value)")
    ).orderBy("percent")


def bucket_script(
    buckets: DataFrame,
    script: str,
    out_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """ES bucket_script pipeline agg: a per-bucket computed metric from
    the bucket's OWN aggregated values (the painless-subset here is any
    SQL expression over the bucket row — ratios like errors/total are
    the canonical use). Pure projection over the #buckets relation;
    null propagates where the script divides by a null/zero bucket the
    way SQL does (ES skips the bucket via gap_policy — filter nulls
    downstream for gap_policy=skip)."""
    return buckets.withColumn(
        out_col, F.round(F.expr(script).cast("double"), round_to)
    )


def date_histogram_empty(
    events: DataFrame,
    ts_col: str = "ts",
    unit: str = "day",
) -> DataFrame:
    """ES date_histogram with ``min_doc_count: 0`` + data-derived
    ``extended_bounds``: every calendar bucket between the stream's min
    and max appears, zero-count gaps included — the form every
    monitoring UI requests (gaps render as holes otherwise).

    Plan: the counted histogram is the usual one hash aggregation; the
    bucket DOMAIN is a sequence() explode off a 1-row min/max aggregate
    (#buckets rows — generated, never scanned), left-joined back. At
    100 TB the domain stays calendar-sized while events stream through
    one partial-aggregated count."""
    hist = date_histogram(events, ts_col, unit)
    bounds = events.agg(
        F.date_trunc(unit, F.min(ts_col)).alias("_lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("_hi"),
    )
    domain = bounds.filter(F.col("_lo").isNotNull()).select(
        F.explode(
            F.expr(f"sequence(_lo, _hi, interval 1 {unit})")
        ).alias("bucket")
    )
    return (
        domain.join(hist, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("doc_count"), F.lit(0)).cast("long")
            .alias("doc_count"),
        )
        .orderBy("bucket")
    )


RATE_UNIT_SECONDS: dict[str, float] = {
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def rate_agg(
    events: DataFrame,
    unit: str = "day",
    rate_unit: str = "hour",
    ts_col: str = "ts",
    value_col: str | None = None,
    round_to: int = 4,
) -> DataFrame:
    """ES ``rate`` aggregation inside a date_histogram: per calendar
    bucket, the doc count (or sum of ``value_col``) RESCALED to a
    per-``rate_unit`` rate — ``rate = sum · rate_unit_sec / bucket_sec``
    (ES divides the bucket total by how many rate units fit in the
    bucket interval). Fixed-width units only (second…week), exactly the
    set ES accepts for rate's unit; calendar months are rejected by ES
    too unless the histogram itself is monthly.

    Plan: identical cost to date_histogram — ONE hash aggregation with
    map-side combine to #buckets rows; the rescale is a constant
    multiply. Output (bucket, rate), bucket-ordered."""
    if unit not in RATE_UNIT_SECONDS or rate_unit not in RATE_UNIT_SECONDS:
        raise ValueError(
            f"rate_agg supports fixed-width units {sorted(RATE_UNIT_SECONDS)}"
        )
    total = (
        F.sum(F.col(value_col)) if value_col else F.count("*").cast("double")
    )
    factor = RATE_UNIT_SECONDS[rate_unit] / RATE_UNIT_SECONDS[unit]
    return (
        events.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
        .agg(F.round(total * F.lit(factor), round_to).alias("rate"))
        .orderBy("bucket")
    )


def eql_sequence(
    events: DataFrame,
    first_type: str,
    second_type: str,
    by: str = "user_id",
    within_s: float = 600.0,
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """EQL ``sequence by <key> with maxspan=...`` for the two-step form —
    the security/behavior query ES's EQL engine runs (``sequence by
    user [error] [click]``): for every ``first_type`` event, the
    EARLIEST ``second_type`` event of the SAME key STRICTLY AFTER it
    within ``within_s`` seconds. Emits one row per matched head
    (key, a_id, a_ts, b_id, b_ts, gap_s) ordered (key, a_id); heads with
    no qualifying tail are dropped, one head never matches two tails
    (EQL emits each sequence once per head).

    Plan: filter to the two step types (scan-side predicate — at 100 TB
    this prunes to the steps' selectivity before any shuffle), then ONE
    key-partitioned window ordered by (ts, id): ``first(tail-ts/id
    IGNORE NULLS)`` over the strictly-following frame finds each head's
    earliest tail without a range self-join. Window partitions are
    bounded per key — the sessionize cost shape — and tie order
    (ts, id) makes the match deterministic at any parallelism."""
    sub = events.filter(F.col(type_col).isin([first_type, second_type])).select(
        F.col(by).alias("by_key"),
        F.col(id_col).alias("eid"),
        F.col(ts_col).alias("ets"),
        F.col(type_col).alias("etype"),
    )
    w = (
        Window.partitionBy("by_key")
        .orderBy(F.col("ets").asc(), F.col("eid").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tail_ts = F.first(
        F.when(F.col("etype") == second_type, F.col("ets")), ignorenulls=True
    ).over(w)
    tail_id = F.first(
        F.when(F.col("etype") == second_type, F.col("eid")), ignorenulls=True
    ).over(w)
    # gap in integer MICROSECONDS (exact on any engine; a double-seconds
    # subtraction at epoch scale has ~0.24 µs ulp — enough to flip a
    # round-to-µs boundary between engines), converted to seconds only
    # for the output column
    gap_us = F.unix_micros(F.col("b_ts").cast("timestamp")) - F.unix_micros(
        F.col("a_ts").cast("timestamp")
    )
    return (
        sub.withColumn("b_ts", tail_ts)
        .withColumn("b_id", tail_id)
        .filter(F.col("etype") == first_type)
        .select(
            F.col("by_key").alias(by),
            F.col("eid").alias("a_id"),
            F.col("ets").alias("a_ts"),
            "b_id",
            "b_ts",
        )
        .filter(
            F.col("b_ts").isNotNull()
            & (gap_us <= F.lit(int(round(within_s * 1_000_000))))
            & (gap_us > 0)
        )
        .withColumn("gap_s", F.round(gap_us.cast("double") / 1_000_000.0, 6))
        .orderBy(by, "a_id")
    )


def pivot_transform(
    events: DataFrame,
    group_col: str = "user_id",
    pivot_col: str = "event_type",
    value_col: str = "value",
    pivot_values: list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """The ES ``_transform`` pivot (entity-centric materialization): one
    row per ``group_col`` entity, one (count, value-sum) column pair per
    ``pivot_col`` value — the continuous-transform destination-index
    shape that dashboards query instead of raw events.

    ``pivot_values`` pins the output schema (the transform config lists
    its group/agg spec explicitly; a schema inferred per-run would drift
    between checkpoints). When None, distinct values are collected —
    one tiny job, but the schema then depends on the data; pass the list
    in production. Plan: Spark's groupBy().pivot() compiles to ONE hash
    aggregation with the pivot columns as conditional partial aggs —
    map-side combine, #entities rows out, no per-value scans."""
    if pivot_values is None:
        pivot_values = sorted(
            r[0] for r in events.select(pivot_col).distinct().collect()
        )
    out = (
        events.groupBy(F.col(group_col))
        .pivot(pivot_col, pivot_values)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # exact decimal partial sums → combine-order-independent
            F.sum(F.col(value_col).cast("decimal(38,9)")).alias("sum"),
        )
    )
    # pivot+multi-agg names columns "<value>_cnt"/"<value>_sum"; coalesce
    # absent combinations to 0 (the transform destination stores zeros)
    sel = [F.col(group_col)]
    for v in pivot_values:
        sel.append(F.coalesce(F.col(f"{v}_cnt"), F.lit(0)).cast("long").alias(f"{v}_cnt"))
        sel.append(
            F.round(
                F.coalesce(F.col(f"{v}_sum").cast("double"), F.lit(0.0)), round_to
            ).alias(f"{v}_sum")
        )
    return out.select(*sel).orderBy(group_col)


def variable_width_histogram(
    events: DataFrame,
    value_col: str = "value",
    n_buckets: int = 8,
    round_to: int = 4,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """ES ``variable_width_histogram`` made DETERMINISTIC: ES clusters a
    shard-local sample (results vary run to run — documented in its own
    docs); here buckets split the sorted DISTINCT values at the
    ``n_buckets−1`` LARGEST adjacent gaps (ties → the gap whose left
    value is smaller wins), which is the 1-D optimal-cluster rule and
    reproducible on any engine. Output per bucket: (bucket, min, max,
    avg, doc_count) — the ES response fields — bucket-ordered.

    Plan: distinct values → one lag window over the value order for
    gaps → the top n−1 boundaries broadcast back as a conditional-sum
    bucket id → one hash aggregation over the raw rows. The only
    unpartitioned window runs over DISTINCT values; ``max_distinct``
    guards it (one cheap count) — past the cap the right operator is a
    fixed histogram or percentiles sketch, and the call says so."""
    vals = events.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())
    dv = vals.distinct()
    if max_distinct is not None:
        nd = dv.count()
        if nd > max_distinct:
            raise ValueError(
                f"{nd} distinct values > max_distinct={max_distinct}: use "
                "agg_histogram / percentiles for high-cardinality fields"
            )
    wv = Window.orderBy(F.col("v").asc())
    gaps = dv.withColumn("_gap", F.col("v") - F.lag("v").over(wv)).filter(
        F.col("_gap").isNotNull()
    )
    wg = Window.orderBy(F.col("_gap").desc(), F.col("v").asc())
    bounds = [
        r["v"]
        for r in gaps.withColumn("_r", F.row_number().over(wg))
        .filter(F.col("_r") <= int(n_buckets) - 1)
        .select("v")
        .collect()
    ]
    bucket = F.lit(0)
    for b in sorted(bounds):
        bucket = bucket + F.when(F.col("v") >= F.lit(b), 1).otherwise(0)
    return (
        vals.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.round(F.min("v"), round_to).alias("min"),
            F.round(F.max("v"), round_to).alias("max"),
            # exact decimal sum → the mean is partition-order-independent
            # (a double sum's last bits vary with combine order; decimal
            # addition is associative, so Spark and any oracle agree)
            F.round(
                F.sum(F.col("v").cast("decimal(38,9)")).cast("double")
                / F.count("*"),
                round_to,
            ).alias("avg"),
            F.count("*").alias("doc_count"),
        )
        .orderBy("bucket")
    )


def downsample(
    events: DataFrame,
    unit: str = "hour",
    dims: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """ES TSDS ``_downsample`` (rollup): collapse a time-series index to
    fixed-interval summaries per dimension tuple — the storage shape ES
    writes when a downsample action runs in an ILM phase. Output one row
    per (bucket, *dims): ``doc_count``, metric min/max/sum/avg, and
    ``last_value`` (the latest-by-timestamp metric, ES's behaviour for
    last_value metrics; ties broken by the unique event id so the result
    is engine-stable).

    Plan: ONE hash aggregation with map-side combine — the shuffle
    carries #buckets·#dims rows, never the raw series. Sums ride exact
    decimals (combine-order independence); ``max_by`` keys on a (ts, id)
    struct so replays and different partitionings pick the same row.
    At 100 TB the output is smaller than the input by the sampling
    ratio; no window, no collect, no UDF.

    Reference parity: ES downsample API (public docs; the reference
    delegates index lifecycle to ES)."""
    vc = F.col(value_col)
    return (
        events.groupBy(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
            *[F.col(d) for d in dims],
        )
        .agg(
            F.count("*").alias("doc_count"),
            F.round(F.min(vc), round_to).alias("v_min"),
            F.round(F.max(vc), round_to).alias("v_max"),
            F.round(
                F.sum(vc.cast("decimal(38,9)")).cast("double"), round_to
            ).alias("v_sum"),
            F.round(
                F.sum(vc.cast("decimal(38,9)")).cast("double") / F.count("*"),
                round_to,
            ).alias("v_avg"),
            F.round(
                F.max_by(vc, F.struct(F.col(ts_col), F.col("event_id"))),
                round_to,
            ).alias("last_value"),
        )
        .orderBy("bucket", *dims)
    )


def moving_fn(
    buckets: DataFrame,
    window: int,
    fn: str = "avg",
    shift: int = 0,
    order_col: str = "bucket",
    metric_col: str = "doc_count",
    round_to: int | None = 4,
) -> DataFrame:
    """ES moving_fn pipeline aggregation (the moving_avg successor): slide
    a ``window``-bucket frame over the ordered parent buckets and apply
    ``fn`` (min | max | sum | avg | stddev — the deterministic core of
    ES's MovingFunctions). ES window placement: shift=0 ends the frame
    just before the current bucket (exclusive); each +1 of ``shift``
    moves the frame one bucket right (shift=1 includes the current
    bucket). Frames with no rows yield null, like ES's NaN gaps.

    Reduce-phase placement like every pipeline agg here: one window pass
    over #buckets rows (the parent agg already collapsed the raw events),
    so the single global window is bounded by bucket cardinality, not
    data size."""
    fns = {
        "min": F.min, "max": F.max, "sum": F.sum, "avg": F.avg,
        "stddev": F.stddev_samp,
    }
    if fn not in fns:
        raise ValueError(f"moving_fn: unsupported fn {fn!r} (use {sorted(fns)})")
    if window < 1:
        raise ValueError("moving_fn: window must be >= 1")
    w = (
        Window.orderBy(order_col)
        .rowsBetween(-int(window) + int(shift), -1 + int(shift))
    )
    col = fns[fn](F.col(metric_col)).over(w)
    if round_to is not None:
        col = F.round(col, round_to)
    return buckets.withColumn(f"moving_{fn}", col).orderBy(order_col)


def change_point(
    buckets: DataFrame,
    order_col: str = "bucket",
    metric_col: str = "doc_count",
    round_to: int = 4,
) -> DataFrame:
    """ES change_point aggregation, reduced to its deterministic core: find
    the split k that maximizes the scaled mean-shift statistic
    ``|mean(left) - mean(right)| * sqrt(k * (n - k) / n)`` (the two-sample
    CUSUM/t-statistic numerator ES's step-change detector ranks by;
    p-value calibration and the spike/dip taxonomy are model-side and
    intentionally out). Ties break on the earliest bucket so the answer
    is engine-stable. Returns ONE row: the first bucket of the right
    segment, the statistic, and type 'step_change'.

    Plan: prefix sums via one window pass over #buckets rows (reduce
    phase — the parent agg already collapsed raw events), then a
    TakeOrdered(1) on (stat desc, bucket asc). Means ride exact integer
    prefix sums when the metric is integral; the only doubles are the
    final division/sqrt, identical IEEE ops in any engine."""
    n_w = Window.partitionBy(F.lit(1))
    pre_w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    with_pre = (
        buckets.select(order_col, metric_col)
        .withColumn("__n", F.count(F.lit(1)).over(n_w))
        .withColumn("__tot", F.sum(metric_col).over(n_w))
        .withColumn("__k", F.count(F.lit(1)).over(pre_w))
        .withColumn("__lsum", F.coalesce(F.sum(metric_col).over(pre_w), F.lit(0)))
    ).filter(F.col("__k") > 0)  # a split needs a non-empty left segment
    k, n = F.col("__k").cast("double"), F.col("__n").cast("double")
    lmean = F.col("__lsum") / k
    rmean = (F.col("__tot") - F.col("__lsum")) / (n - k)
    stat = F.round(
        F.abs(lmean - rmean) * F.sqrt(k * (n - k) / n), round_to
    )
    return (
        with_pre.select(
            F.col(order_col).alias("change_at"),
            stat.alias("stat"),
            F.lit("step_change").alias("type"),
        )
        .orderBy(F.col("stat").desc(), F.col("change_at").asc())
        .limit(1)
    )


def geo_line(
    events: DataFrame,
    key_col: str = "user_id",
    sort_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    size: int = 10_000,
) -> DataFrame:
    """ES ``geo_line`` aggregation: per bucket key, the points joined
    into a LineString ORDERED BY the sort field — the track-building agg
    (vehicle routes, user paths). Output (key, line array<[lon, lat]>,
    n_points, truncated); like ES, at most ``size`` points survive
    (first by sort order) and ``truncated`` flags the cut.

    Plan: ONE hash aggregation — collect_list of (sort, lon, lat)
    structs with map-side combine, sorted INSIDE the finished bucket
    (sort_array over an already-grouped array, no window, no second
    shuffle). Per-key state is bounded by the size cap, which is what
    makes the collect_list honest at 10^12 events: ES enforces the same
    cap for the same reason. Ties on the sort value break on (lon, lat)
    — deterministic at any parallelism."""
    pts = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(sort_col).alias("s"),
                F.col(lon_col).cast("double").alias("lon"),
                F.col(lat_col).cast("double").alias("lat"),
            )
        )
    )
    g = events.groupBy(F.col(key_col).alias("key")).agg(pts.alias("pts"))
    line = F.transform(
        F.slice(F.col("pts"), 1, int(size)),
        lambda p: F.array(p["lon"], p["lat"]),
    )
    return g.select(
        "key",
        line.alias("line"),
        F.least(F.size("pts"), F.lit(int(size))).alias("n_points"),
        (F.size("pts") > int(size)).alias("truncated"),
    )

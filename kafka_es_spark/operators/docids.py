"""X3 — dense, deterministic, parallelism-invariant doc-ID assignment.

``monotonically_increasing_id`` is neither dense nor stable across
parallelism, and a global sort would bottleneck at 10^12 docs. Instead
(SURVEY.md §7 "what's hard" #1):

  bucket  = pmod(xxhash64(url), n_buckets)            # pure function of url
  offset  = cumulative count of docs in buckets < bucket
  doc_id  = offset[bucket] + rank(url within bucket)

Both passes are bucket-hash shuffles (uniform by construction — xxhash64 on
unique urls), never a global sort; the per-bucket window sort is bounded at
N/n_buckets rows. The result is identical at any parallelism level and any
input partitioning, which the rank-identity contract requires.

Scale sizing is AUTOMATIC (VERDICT r3 §wrong 2 — a sandbox-sized default
whose per-bucket window would be 10⁹ rows at 10¹² docs must not survive a
100× scale-up silently): the per-bucket counts the algorithm already
collects double as the sizing probe. With the default ``n_buckets=None``
the first pass runs at a coarse 1024 buckets; if any bucket exceeds
``WINDOW_CAP`` rows the pass is RERUN at 2^ceil(log2(N / TARGET_BUCKET))
buckets (one extra count job, only paid by corpora that need it — at 10¹²
docs that is 2^18 buckets ⇒ ~4M-row windows, ~260k driver rows). An
EXPLICIT ``n_buckets`` that leaves an oversized bucket raises instead of
silently serializing a giant window through one task. Driver-side state is
one (bucket, count) row per non-empty bucket in every case.

The offsets go back into the plan as a LocalRelation: the driver turns
the counts into (bucket, offset) rows, ``session.local_frame`` builds them
as an Arrow table, and the join broadcasts that ``LocalTableScan``. The
JVM reads it directly, so doc-id assignment (every build and every
streaming epoch) needs no Python worker of its own.

Reference parity: generalizes the sink's hash router
(ElasticsearchSinkTask.kt:209-212, Actors.kt:55-75) from "route record to
writer" to "assign stable dense ids".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame

# coarse first-pass bucket count for auto-sizing (driver rows ≤ 1024)
COARSE_BUCKETS = 1024
# hard bound on a single bucket's window sort (rows through one task)
WINDOW_CAP = 4_000_000
# auto-rebucket target rows per bucket (< WINDOW_CAP for headroom)
TARGET_BUCKET = 2_000_000


def _bucket_counts(pages: DataFrame, url_col: str, n_buckets: int) -> dict[int, int]:
    b = pages.withColumn(
        "_bkt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
    )
    return {
        r["_bkt"]: r["c"]
        for r in b.groupBy("_bkt").agg(F.count("*").alias("c")).collect()
    }


def assign_doc_ids(
    pages: DataFrame, url_col: str = "url", n_buckets: int | None = None
) -> DataFrame:
    """Add a dense ``doc_id`` long column, 0..N-1, keyed by (hash-bucket,
    url). ``n_buckets=None`` auto-sizes (see module docstring); an explicit
    value is enforced against WINDOW_CAP."""
    explicit = n_buckets is not None
    if n_buckets is None:
        n_buckets = COARSE_BUCKETS
    counts = _bucket_counts(pages, url_col, n_buckets)
    max_bucket = max(counts.values(), default=0)
    if max_bucket > WINDOW_CAP:
        if explicit:
            raise ValueError(
                f"assign_doc_ids(n_buckets={n_buckets}): largest bucket has "
                f"{max_bucket} rows > WINDOW_CAP={WINDOW_CAP} — one task "
                "would sort all of them. Raise n_buckets (or pass None to "
                "auto-size)."
            )
        n = sum(counts.values())
        n_buckets = 1 << max(10, math.ceil(math.log2(max(n, 1) / TARGET_BUCKET)))
        counts = _bucket_counts(pages, url_col, n_buckets)
        max_bucket = max(counts.values(), default=0)
        if max_bucket > WINDOW_CAP:  # only possible under extreme key skew
            raise ValueError(
                f"assign_doc_ids: bucket of {max_bucket} rows at "
                f"n_buckets={n_buckets} — duplicate urls? xxhash64 buckets "
                "are uniform over distinct keys."
            )
    b = pages.withColumn(
        "_bkt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
    )
    offsets = {}
    acc = 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    off_df = local_frame(
        b.sparkSession,
        [(int(k), int(v)) for k, v in offsets.items()],
        "_bkt: long, _off: long",
    )
    w = Window.partitionBy("_bkt").orderBy(url_col)
    return (
        b.join(F.broadcast(off_df), "_bkt")
        .withColumn("doc_id", (F.col("_off") + F.row_number().over(w) - F.lit(1)).cast("long"))
        .drop("_bkt", "_off")
    )

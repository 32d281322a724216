"""SparkSession helpers tuned for the index-build workload.

Settings mirror the throughput-shaping knobs of the reference sink
(batching ≈ Arrow batch size, concurrency ≈ shuffle partitions; see
SURVEY.md §4) but expressed as Spark configs. AQE is on so skew joins and
small partitions re-plan at runtime — the 100 TB design assumption is that
these same configs scale by raising ``shuffle_partitions`` with cluster
size.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


_MALLOC_TUNING = {
    # Arrow-batched python workers allocate/free large buffers per batch;
    # with glibc defaults those are mmap/munmap cycles → TLB-shootdown IPIs
    # across every core, which collapses aggregate memory bandwidth as core
    # count grows (measured on this host: 20×400MB streaming passes ran
    # ~1 GB/s untuned vs ~45 GB/s with large buffers kept in the arena).
    # Keep big allocations in the arena and never trim back to the kernel.
    "MALLOC_MMAP_THRESHOLD_": str(512 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(512 * 1024 * 1024),
}


def get_spark(
    app_name: str = "kafka-es-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    for k, v in _MALLOC_TUNING.items():
        # before the JVM + python-worker daemons launch so they inherit it
        os.environ.setdefault(k, v)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Joins pick broadcast when the (runtime, AQE-measured) side fits —
        # 64m keeps mid-size dimension relations (docmap slices, external
        # field tables at bench scale) on the broadcast path instead of
        # shuffling the big side (guide §3.1); size-adaptive by
        # construction, so a 100 TB docmap simply never qualifies.
        # Override per deployment via SPARK_GRAFT_BROADCAST_THRESHOLD.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", "64m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # W1 stuck-task watchdog analogue (WatchDog.kt:41-125): speculative
        # re-launch of straggler tasks + task retries; manifest resume covers
        # the restart-from-checkpoint half. No effect in local mode (one
        # executor), so enable via env on a real cluster.
        .config(
            "spark.speculation",
            os.environ.get("SPARK_GRAFT_SPECULATION", "false"),
        )
    )
    for k, v in _MALLOC_TUNING.items():
        # real clusters: ship the allocator tuning to executor-side workers
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple | dict[str, Any]],
    schema: StructType | str,
) -> DataFrame:
    """A driver-built relation (offsets, id lists, request rows, empty
    results) as an Arrow-backed LocalRelation.

    ``spark.createDataFrame(<python list>)`` pickles the rows into an RDD
    that a Python worker pool has to unpickle, so the first such relation
    of a session starts a ``pyspark.daemon`` and its workers (about
    180 MB PSS on 4 cores) and every collect of it is a Python job — even
    when the list is empty. Built here as a ``pyarrow.Table`` in the Spark
    schema, the same rows plan as a ``LocalTableScan`` and no Python
    process starts.

    ``rows``: tuples in field order or dicts keyed by field name. Field
    names, types and nullability are those ``createDataFrame(rows,
    schema)`` gives; a null in a non-nullable field raises, as it does
    there."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    if rows and isinstance(rows[0], dict):
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
    else:
        cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    for f, col in zip(schema.fields, table.columns):
        if not f.nullable and col.null_count:
            raise ValueError(f"local_frame: null in non-nullable field {f.name!r}")
    return spark.createDataFrame(table, schema)

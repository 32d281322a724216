"""``session.local_frame``: driver-built relations go to Spark as Arrow
LocalRelations, never as pickled Python lists.

``spark.createDataFrame(<python list>)`` starts a Python worker pool (a
``pyspark.daemon`` plus one worker per core) just to unpickle its rows,
and every collect of it is a Python job. These tests pin that
``local_frame`` gives the same relation as the list path, that the write
and empty-query paths no longer take the list path, and that the engine
source does not grow a new list-built relation."""

import ast
import pathlib

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import types as T

import kafka_es_spark
from kafka_es_spark.operators.compaction import compact_index
from kafka_es_spark.operators.deletes import add_tombstones
from kafka_es_spark.operators.positions import build_position_index
from kafka_es_spark.operators.wand import TOPK_SCHEMA, Searcher
from kafka_es_spark.plans.build_index import build_bigram_stats, build_index
from kafka_es_spark.session import local_frame
from kafka_es_spark.sources.pages import gen_pages
from kafka_es_spark.streaming.ingest_stream import append_epoch

CASES = [
    ("doc_id long", [(3,), (1,), (2,)]),
    ("_bkt: long, _off: long", [(0, 0), (5, 17)]),
    ("term string, w double", [("data", 1.5), ("index", 0.25)]),
    ("url string", [("https://a",), (None,)]),
    (
        "query_id long, qvec array<string>",
        [(1, ["a", "b"]), (2, []), (3, None)],
    ),
    ("range_key string, lo double, hi double", [("*-5", None, 5.0)]),
    (TOPK_SCHEMA, [(7, 2.5), (3, 2.5)]),
    (
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("qvec", T.ArrayType(T.DoubleType()), False),
                T.StructField("cluster", T.IntegerType(), False),
            ]
        ),
        [(1, [0.5, 1.0], 2)],
    ),
]


def _as_dicts(schema, rows):
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return [dict(zip(schema.names, r)) for r in rows]


@pytest.mark.parametrize("shape", ["tuples", "dicts", "empty"])
@pytest.mark.parametrize(
    "schema,rows",
    CASES,
    ids=[s if isinstance(s, str) else s.simpleString() for s, _ in CASES],
)
def test_local_frame_equals_list_relation(spark, schema, rows, shape):
    if shape == "empty":
        rows = []
    want = spark.createDataFrame(rows, schema)
    got = local_frame(
        spark, _as_dicts(schema, rows) if shape == "dicts" else rows, schema
    )
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="non-nullable field 'score'"):
        local_frame(spark, [(1, None)], TOPK_SCHEMA)


def test_write_and_empty_query_paths_build_no_list_relation(
    spark, pages, tmp_path, monkeypatch
):
    """Build, positions, bigrams, a streaming epoch, tombstones,
    compaction and an all-absent-terms query: none of them may route a
    Python list through ``createDataFrame`` (each such relation needs a
    Python worker pool to unpickle its rows)."""

    def refuse(self, *args, **kwargs):
        raise AssertionError("list-built relation (createDataFrame(<list>))")

    idx = str(tmp_path / "idx")
    epoch_pages = gen_pages(spark, 40, seed=7, partitions=2).cache()
    epoch_pages.count()
    monkeypatch.setattr(SparkSession, "_createFromLocal", refuse)

    build_index(spark, pages, idx, seg_bits=6, n_term_buckets=4)
    build_position_index(spark, pages, idx)
    build_bigram_stats(spark, pages, idx)
    append_epoch(spark, epoch_pages, idx, epoch=0, seg_bits=6, n_term_buckets=4)
    assert add_tombstones(spark, idx, doc_ids=[0, 1, 2]) == 3
    assert compact_index(spark, idx)["tombstones_applied"] == 3
    s = Searcher(spark, idx, cache=False)
    try:
        assert s.topk("zzqqxxnotaterm", k=5).collect() == []
    finally:
        s.close()


# Functions allowed to call createDataFrame: the helper itself, and the
# generators that hand it a pandas frame (Arrow-converted, no pickled rows).
ALLOWED = {
    ("session.py", "local_frame"),
    ("sources/pages.py", "gen_pages"),
    ("sources/actions.py", "gen_actions"),
}


def test_engine_builds_no_relation_outside_local_frame():
    """Every ``createDataFrame(`` call in the package and in the driver
    contract (``__spark_entry__.py``) is inside ``local_frame`` or one of
    the pandas-frame generators."""
    root = pathlib.Path(kafka_es_spark.__file__).parent
    entry = root.parent / "__spark_entry__.py"
    offenders = []
    for path in sorted(root.rglob("*.py")) + [entry]:
        rel = (
            path.name if path == entry else path.relative_to(root).as_posix()
        )
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in ALLOWED:
                allowed.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "build driver-side relations with session.local_frame: "
        + ", ".join(offenders)
    )

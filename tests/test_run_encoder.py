"""One run encoder: postings, positions and compaction share the SPIMI
pack, merge kernel and group stream of ``operators/spimi.py``.

The group-stream test splits a sorted frame at every row boundary. The AST
guard keeps the run encoding in ``spimi.py`` and ``codecs.py``. (The
compaction pins, which hold a compacted unit to a fresh build over the
live corpus, are in ``test_compaction.py``.)"""

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

import kafka_es_spark
from kafka_es_spark.operators.spimi import stream_groups


# --- group stream ------------------------------------------------------------


def _groups(pdf: pd.DataFrame) -> pd.DataFrame:
    """One row per (term, seg) group of a frame of complete groups."""
    g = pdf.groupby(["term", "seg"], sort=False)["v"]
    return g.agg(["size", "sum"]).reset_index()


@pytest.mark.parametrize("frame", ["mixed", "one_group"])
def test_stream_groups_split_at_every_row(frame):
    rng = np.random.default_rng(5)
    if frame == "mixed":
        terms = np.sort(rng.choice(["a", "b", "c", "d"], 40))
        segs = rng.integers(0, 3, 40)
    else:
        terms = np.array(["a"] * 12)
        segs = np.zeros(12, dtype=np.int64)
    pdf = pd.DataFrame({"term": terms, "seg": segs, "v": rng.integers(0, 9, len(terms))})
    pdf = pdf.sort_values(["term", "seg"], kind="stable").reset_index(drop=True)
    empty = pdf.iloc[:0]
    # every row its own batch, empty batches before, between and after
    batches = [empty]
    for i in range(len(pdf)):
        batches += [pdf.iloc[i:i + 1], empty]
    calls = []

    def fn(block):
        calls.append(block)
        return _groups(block)

    got = pd.concat(list(stream_groups(iter(batches), ("term", "seg"), fn)))
    want = _groups(pdf)
    assert got.reset_index(drop=True).equals(want)
    # no group is split across two calls
    keys = [k for c in calls for k in set(zip(c["term"], c["seg"]))]
    assert len(keys) == len(set(keys)) == len(want)
    if frame == "one_group":
        assert len(calls) == 1
    assert list(stream_groups(iter([empty, empty]), ("term", "seg"), fn)) == []


# --- the run encoding has one home -------------------------------------------

ENCODER_HOME = {"operators/spimi.py", "functions/codecs.py"}
RUN_ENCODERS = {"varint_encode_segmented", "delta_encode"}


def test_run_encoding_has_one_home():
    """Outside spimi.py and codecs.py no module in the package encodes runs
    itself: no call to ``varint_encode_segmented`` or ``delta_encode``."""
    root = pathlib.Path(kafka_es_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in ENCODER_HOME:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in RUN_ENCODERS:
                found.append(f"{rel}:{node.lineno} {name}")
    assert not found, "run encoding outside spimi.py/codecs.py: " + ", ".join(found)


# --- positions are a column of postings --------------------------------------

RETIRED = {
    "with_positions", "POS_UNIT_SCHEMA", "POS_SEGMENT_SCHEMA", "POS_RUN_SCHEMA",
    "nullable_bucket", "build_position_runs", "merge_position_runs",
    "append_epoch_positions",
}
# the one site that looks for the old layout, to refuse it
LAYOUT_CHECK = ("plans/build_index.py", "check_format")


def _names(node: ast.AST) -> set[str]:
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.arg):
        return {node.arg}
    if isinstance(node, ast.keyword) and node.arg:
        return {node.arg}
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, ast.alias):
        return {node.name, node.asname or node.name}
    return set()


def test_positions_have_no_relation_of_their_own():
    """No module in the package names the retired positional-relation API
    (the ``with_positions`` switch, the ``POS_*`` schemas, the separate
    position build, the bucket nullability split) or joins a
    ``"positions"`` path segment — except ``check_format``, which looks
    for an old-layout ``positions/`` directory to refuse it."""
    root = pathlib.Path(kafka_es_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        allowed = set()
        for node in ast.walk(tree):
            if (rel, getattr(node, "name", None)) == LAYOUT_CHECK:
                allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            for name in _names(node) & RETIRED:
                found.append(f"{rel}:{getattr(node, 'lineno', '?')} {name}")
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "join"
                and any(
                    isinstance(a, ast.Constant) and a.value == "positions"
                    for a in node.args
                )
                and id(node) not in allowed
            ):
                found.append(f"{rel}:{node.lineno} joins 'positions'")
    assert not found, "positional-relation code: " + ", ".join(found)

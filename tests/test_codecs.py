"""Golden + property tests for posting codecs (FIXTURES.md §5 edge values)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_es_spark.functions.codecs import (
    BLOCK,
    bp128_decode,
    bp128_encode,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)

EDGES = [0, 1, 2, 2**7 - 1, 2**7, 2**7 + 1, 2**14 - 1, 2**14, 2**14 + 1,
         2**31 - 1, 2**31, 2**63 - 1, 2**64 - 1]


def test_varint_golden():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"  # LEB128 golden


def test_varint_edges_roundtrip():
    v = np.array(EDGES, dtype=np.uint64)
    assert varint_decode(varint_encode(v), len(EDGES)).tolist() == EDGES
    assert varint_decode(b"").size == 0
    assert varint_encode(np.array([], dtype=np.uint64)) == b""


def test_bp128_edges_roundtrip():
    v = np.array(EDGES, dtype=np.uint64)
    assert bp128_decode(bp128_encode(v), v.size).tolist() == EDGES
    # exactly one block / block+1 (FIXTURES.md)
    one = np.arange(BLOCK, dtype=np.uint64)
    assert bp128_decode(bp128_encode(one), BLOCK).tolist() == one.tolist()
    plus = np.arange(BLOCK + 1, dtype=np.uint64)
    assert bp128_decode(bp128_encode(plus), BLOCK + 1).tolist() == plus.tolist()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=400))
def test_varint_roundtrip_prop(xs):
    v = np.array(xs, dtype=np.uint64)
    assert varint_decode(varint_encode(v), v.size).tolist() == xs


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=400))
def test_bp128_roundtrip_prop(xs):
    v = np.array(xs, dtype=np.uint64)
    assert bp128_decode(bp128_encode(v), v.size).tolist() == xs


@settings(max_examples=30, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500))
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert delta_decode(delta_encode(arr)).tolist() == arr.tolist()

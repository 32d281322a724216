"""Posting-list codecs — vectorized numpy varint + BP128 binary packing.
All pure numpy (no per-element Python loops): these run
inside Arrow-batched pandas UDFs on executors, so the hot loops must be
C-speed.

Codec family (SURVEY.md §2.8 X4; spec from the public IR literature — see
PAPERS.md: varint a la Lucene, binary packing a la Lemire BP128 as the
PForDelta-family member):

* ``varint``  — LEB128 little-endian, 7 data bits + continuation bit.
* ``bp128``   — fixed-width binary packing per 128-value block (the
  no-exceptions member of the PForDelta family); width = max bitlength in
  the block, stored in a 1-byte header.
* delta-gap doc ids: gaps[0] = doc_ids[0], gaps[i] = doc_ids[i] - doc_ids[i-1]
  (strictly positive for i>0 since doc ids are unique and sorted).

Block-max upper bounds are not stored: the query side takes per-window
maxima of the exact decoded contributions (``wand.blockmax_topk_vectorized``).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128

# ---------------------------------------------------------------------------
# varint (vectorized)
# ---------------------------------------------------------------------------


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: one pass per byte position."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (>=1)
    bits = np.zeros(v.shape, dtype=np.int64)
    nz = v > 0
    # bit_length via log2 on floats is unsafe >2^53; use a loop over 10 shifts
    tmp = v.copy()
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp >>= np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    del bits, nz
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.empty(total, dtype=np.uint8)
    starts = ends - nbytes
    # byte position k of each value
    for k in range(int(nbytes.max())):
        sel = nbytes > k
        byte = ((v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) << 7
        out[starts[sel] + k] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 buffer → uint64 array. Vectorized via reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos_in_val = np.arange(b.size, dtype=np.int64)
    pos_in_val -= np.repeat(starts, ends - starts + 1)
    contrib = (b & 0x7F).astype(np.uint64) << (7 * pos_in_val).astype(np.uint64)
    vals = np.add.reduceat(contrib, starts)
    if count is not None:
        assert vals.size == count, f"varint_decode: {vals.size} != {count}"
    return vals


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def varint_encode_segmented(values: np.ndarray, run_lengths: np.ndarray) -> list[bytes]:
    """Encode the concatenation of several runs in ONE vectorized pass and
    split the output per run (LEB128 is per-value, so the concatenated
    encoding equals the concatenation of per-run encodings). This is how
    the SPIMI packer encodes tens of thousands of short runs per batch
    without per-run numpy call overhead."""
    v = np.asarray(values, dtype=np.uint64)
    buf = varint_encode(v)
    ends_pad = np.concatenate([[0], np.cumsum(varint_byte_lengths(v))]) if v.size else np.zeros(1, dtype=np.int64)
    run_val_ends = np.cumsum(np.asarray(run_lengths, dtype=np.int64))
    byte_ends = ends_pad[run_val_ends]
    out: list[bytes] = []
    mv = memoryview(buf)
    prev = 0
    for be in byte_ends:
        out.append(bytes(mv[prev:be]))
        prev = be
    return out


# ---------------------------------------------------------------------------
# BP128 binary packing (PForDelta family, no exceptions)
# ---------------------------------------------------------------------------


def bp128_encode(values: np.ndarray) -> bytes:
    """Pack uint64 values in BLOCK-sized groups at the group's max bit width.
    Layout per group: 1 byte width w, then ceil(len*w/8) packed bytes (LSB-first)."""
    v = np.asarray(values, dtype=np.uint64)
    out = bytearray()
    for s in range(0, v.size, BLOCK):
        grp = v[s : s + BLOCK]
        m = int(grp.max()) if grp.size else 0
        w = max(m.bit_length(), 1)
        out.append(w)
        # bit-unpack each value into w bits, LSB-first, then packbits
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((grp[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        out += np.packbits(bits.reshape(-1), bitorder="little").tobytes()
    return bytes(out)


def bp128_decode(buf: bytes, count: int) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(count, dtype=np.uint64)
    pos = 0
    done = 0
    while done < count:
        w = int(b[pos])
        pos += 1
        n = min(BLOCK, count - done)
        nbytes = (n * w + 7) // 8
        bits = np.unpackbits(b[pos : pos + nbytes], bitorder="little")[: n * w]
        bits = bits.reshape(n, w).astype(np.uint64)
        shifts = np.arange(w, dtype=np.uint64)
        out[done : done + n] = (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        pos += nbytes
        done += n
    return out


# ---------------------------------------------------------------------------
# delta gaps
# ---------------------------------------------------------------------------


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.uint64), dtype=np.uint64)


__all__ = [
    "BLOCK",
    "varint_encode",
    "varint_decode",
    "varint_byte_lengths",
    "varint_encode_segmented",
    "bp128_encode",
    "bp128_decode",
    "delta_encode",
    "delta_decode",
]

"""Delta + varint (LEB128) packing of posting blocks — vectorized numpy.

The reference compresses index leaves as zstd-pickled columnar pairs
(idx.py:160-173); the north rule upgrades this to delta-encoded,
varint-compressed docID gaps inside binary cells. Parquet's own zstd
then compresses the binary columns again at the file level.

Both encode and decode are vectorized: ≤10 passes over the array (one
per possible varint byte), no per-value Python loop. The block packers
encode a whole Arrow batch in one pass too: ``segment_deltas`` turns
every block's ordinals into gaps at once and ``varint_encode_blocks``
encodes the batch's stream once, then cuts its bytes at block starts.
A stream of blocks is one Arrow binary column over one buffer
(``binary_array`` builds it, ``binary_data`` reads it back), so no
block is ever a Python ``bytes`` of its own.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MAX_VARINT_BYTES = 10


def _varint_bytes(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Non-empty uint64 array → (LEB128 bytes, first byte of each value)."""
    # bytes needed per value: ceil(bit_length / 7), min 1
    nb = np.ones(vals.shape, dtype=np.int64)
    shifted = vals >> np.uint64(7)
    while shifted.any():
        nb += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(_MAX_VARINT_BYTES):
        mask = nb > k
        if not mask.any():
            break
        chunk = ((vals[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = chunk | cont
    return out, starts


def varint_encode(vals: np.ndarray) -> bytes:
    """uint64 array → LEB128 bytes."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return b""
    return _varint_bytes(vals)[0].tobytes()


def binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.BinaryArray:
    """One binary value per slice ``data[offsets[i]:offsets[i + 1]]`` of
    the raw bytes of the contiguous array ``data``, all over one buffer
    (raises past Arrow ``binary``'s 2 GiB of int32 offsets)."""
    offs = pa.array(offsets, pa.int32())
    return pa.Array.from_buffers(
        pa.binary(), len(offs) - 1,
        [None, offs.buffers()[1], pa.py_buffer(data)])


def binary_data(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """The bytes of a binary column's values, concatenated: its data
    buffer sliced by its offsets, no Python ``bytes`` per value."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    _, offsets, buf = col.buffers()
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    lo, hi = np.frombuffer(offsets, width)[[col.offset, col.offset + len(col)]]
    return np.frombuffer(buf, np.uint8)[lo:hi]


def varint_encode_blocks(vals: np.ndarray, starts: np.ndarray) -> pa.BinaryArray:
    """Encode a stream of blocks in one pass → one binary value per
    block, over the stream's one encoded buffer.

    ``starts`` are the ascending value indices where blocks begin (the
    first is 0); block i equals ``varint_encode`` of its slice."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return pa.array([], pa.binary())
    out, first_byte = _varint_bytes(vals)
    return binary_array(out, np.append(first_byte[starts], out.size))


def segment_deltas(vals: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Gaps within each segment starting at ``starts``; the first value
    of every segment stays absolute (``pack_postings``'s layout)."""
    d = np.array(vals, dtype=np.int64)
    d[1:] -= vals[:-1]
    d[starts] = vals[starts]
    return d


def varint_decode(buf: bytes) -> np.ndarray:
    """LEB128 bytes → uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    if not (raw & 0x80).any():
        # all values single-byte (the common case for in-block deltas
        # and tfs): one cast, no segment bookkeeping
        return raw.astype(np.uint64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)  # index of last byte of each value
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = np.zeros(ends.size, dtype=np.uint64)
    lengths = ends - starts + 1
    for k in range(_MAX_VARINT_BYTES):
        mask = lengths > k
        if not mask.any():
            break
        vals[mask] |= (raw[starts[mask] + k] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * k)
    return vals


def pack_postings(doc_ords: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Sorted doc ordinals → (delta-varint docs, varint tfs)."""
    doc_ords = np.ascontiguousarray(doc_ords, dtype=np.uint64)
    deltas = np.diff(doc_ords, prepend=np.uint64(0)) if doc_ords.size else doc_ords
    # first delta is the absolute first ordinal
    if doc_ords.size:
        deltas[0] = doc_ords[0]
    return varint_encode(deltas), varint_encode(
        np.ascontiguousarray(tfs, dtype=np.uint64)
    )


def unpack_postings(docs_packed: bytes, tfs_packed: bytes) -> tuple[np.ndarray, np.ndarray]:
    deltas = varint_decode(docs_packed)
    return np.cumsum(deltas, dtype=np.uint64), varint_decode(tfs_packed)

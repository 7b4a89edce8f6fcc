"""Varint/delta codec: goldens + hypothesis roundtrip properties, and
the block packers checked against a per-block reference."""

from __future__ import annotations

from itertools import groupby

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from antidb_spark.functions.packing import (
    pack_postings,
    unpack_postings,
    varint_decode,
    varint_encode,
    varint_encode_blocks,
)
from antidb_spark.operators.build import BLOCK_SIZE, _pack_partition
from antidb_spark.operators.phrase import POS_BLOCK_SIZE, _pack_pos_partition


def test_varint_goldens():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert list(varint_decode(b"\xac\x02\x7f\x00")) == [300, 127, 0]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(varint_decode(varint_encode(arr))) == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
        ),
        max_size=200,
        unique_by=lambda t: t[0],
    )
)
def test_pack_roundtrip(pairs):
    pairs.sort()
    ords = np.array([p[0] for p in pairs], dtype=np.uint64)
    tfs = np.array([p[1] for p in pairs], dtype=np.uint64)
    d, t = pack_postings(ords, tfs)
    got_ords, got_tfs = unpack_postings(d, t)
    assert list(got_ords) == list(ords)
    assert list(got_tfs) == list(tfs)


def test_pack_compresses_dense_runs():
    """Dense ordinal runs (stopword postings) must pack near 1 byte/doc."""
    ords = np.arange(100_000, dtype=np.uint64)
    tfs = np.ones(100_000, dtype=np.uint64)
    d, t = pack_postings(ords, tfs)
    assert len(d) < 100_000 + 10
    assert len(t) == 100_000


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300),
    st.lists(st.integers(min_value=0, max_value=300), max_size=8),
)
def test_varint_encode_blocks_matches_per_block_encode(vals, cuts):
    arr = np.array(vals, dtype=np.uint64)
    starts = np.unique([0, *(c for c in cuts if c < len(vals))])
    ends = [*starts[1:], len(vals)]
    want = [varint_encode(arr[a:b]) for a, b in zip(starts, ends)]
    got = varint_encode_blocks(arr, starts)
    assert got.type == pa.binary()
    assert got.to_pylist() == (want if vals else [])


# --- block packers vs a per-block reference ------------------------------

RUN_LENGTHS = st.sampled_from([1, 127, 128, 129, 3 * 128 + 1]) | st.integers(1, 300)
PID = 7


def _ref_blocks(rows, run_base: int) -> list[tuple]:
    out = []
    for term, grp in groupby(rows, key=lambda r: r[0]):
        grp = list(grp)
        for s in range(0, len(grp), BLOCK_SIZE):
            _, ords, tfs, dls = (list(c) for c in zip(*grp[s:s + BLOCK_SIZE]))
            docs_b, tfs_b = pack_postings(np.array(ords, np.uint64),
                                          np.array(tfs, np.uint64))
            out.append((term, run_base | PID << 32 | len(out), len(ords),
                        ords[0], ords[-1], docs_b, tfs_b,
                        varint_encode(np.array(dls, np.uint64))))
    return out


def _ref_pos_blocks(rows, run_base: int) -> list[tuple]:
    out = []
    for term, grp in groupby(rows, key=lambda r: r[0]):
        docs = [(o, [r[2] for r in d])
                for o, d in groupby(grp, key=lambda r: r[1])]
        for s in range(0, len(docs), POS_BLOCK_SIZE):
            chunk = docs[s:s + POS_BLOCK_SIZE]
            ords = [o for o, _ in chunk]
            gaps = [p - (ps[i - 1] if i else 0)
                    for _, ps in chunk for i, p in enumerate(ps)]
            docs_b, tfs_b = pack_postings(
                np.array(ords, np.uint64),
                np.array([len(ps) for _, ps in chunk], np.uint64))
            out.append((term, run_base | PID << 32 | len(out), len(ords),
                        ords[0], ords[-1], docs_b, tfs_b,
                        varint_encode(np.array(gaps, np.uint64))))
    return out


def _run_kernel(kernel, rows, cols, cuts, run_base) -> list[tuple]:
    """Feed ``rows`` to ``kernel`` as Arrow record batches split at
    ``cuts`` (repeated cuts make empty batches)."""
    whole = pa.RecordBatch.from_pydict({
        **{c: [r[i] for r in rows] for i, c in enumerate(cols)},
        "_pid": pa.array([PID] * len(rows), pa.int32()),
    })
    bounds = [0, *sorted(cuts), len(rows)]
    batches = [whole.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    out = list(kernel(iter(batches), run_base=run_base))
    assert all(b.schema.field("n_docs").type == pa.int32() for b in out)
    return [tuple(r.values()) for b in out for r in b.to_pylist()]


@st.composite
def _partition(draw, positional: bool):
    """Rows of one sorted partition: term runs of boundary-heavy lengths
    (postings, or docs for positions), ordinals optionally ≥ 2^35 so
    gaps and heads take multi-byte varints, tf/dl drawn from tiny
    ranges, and random batch cuts."""
    lens = draw(st.lists(RUN_LENGTHS, min_size=1, max_size=4))
    base = draw(st.sampled_from([0, 2**35 + 3]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    rows = []
    for t, n in enumerate(lens):
        ords = base + np.sort(rng.choice(4 * n + 10, n, replace=False))
        for o in ords.tolist():
            if positional:
                k = int(rng.integers(1, 4))
                rows += [(f"t{t}", o, p) for p in
                         np.sort(rng.choice(2**20, k, replace=False)).tolist()]
            else:
                rows.append((f"t{t}", o, int(rng.integers(1, 4)),
                             int(rng.integers(1, 5))))
    cuts = draw(st.lists(st.integers(0, len(rows)), max_size=6))
    return rows, cuts, draw(st.sampled_from([0, 3 << 48]))


@settings(max_examples=80, deadline=None)
@given(_partition(positional=False))
def test_pack_partition_matches_per_block_reference(part):
    rows, cuts, run_base = part
    got = _run_kernel(_pack_partition, rows, ["term", "doc_ord", "tf", "dl"],
                      cuts, run_base)
    assert got == _ref_blocks(rows, run_base)


@settings(max_examples=80, deadline=None)
@given(_partition(positional=True))
def test_pack_pos_partition_matches_per_block_reference(part):
    rows, cuts, run_base = part
    got = _run_kernel(_pack_pos_partition, rows, ["term", "doc_ord", "pos"],
                      cuts, run_base)
    assert got == _ref_pos_blocks(rows, run_base)


def test_pack_pos_partition_never_splits_a_doc_across_batches():
    """A doc whose position rows straddle batch boundaries (and a term
    spanning three batches) still lands whole in one block."""
    rows = [("a", o, p) for o in range(2 * POS_BLOCK_SIZE + 1)
            for p in (1, 5, 9)]
    rows += [("b", 2**35, 0), ("b", 2**35, 2)]
    # inside the rows of doc 127: the first batch then ends on a partial
    # doc that would complete a full block
    mid = 3 * (POS_BLOCK_SIZE - 1) + 1
    cuts = [mid, mid, len(rows) - 1]
    got = _run_kernel(_pack_pos_partition, rows, ["term", "doc_ord", "pos"],
                      cuts, 0)
    assert got == _ref_pos_blocks(rows, 0)
    assert [r[2] for r in got] == [POS_BLOCK_SIZE, POS_BLOCK_SIZE, 1, 1]

"""Codec tests — varint round-trip at SmallNat boundaries (FIXTURES.md) and
posting-run round-trip; ports the reference's QuickCheck properties
(Data/SmallNat.hs:73-76, Posting2/Tests.hs:22-39)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from simplir_spark.functions.codec import (
    MAX_SMALLNAT,
    decode_run,
    decode_runs,
    decode_varints,
    encode_run,
    encode_varints,
)

BOUNDARIES = [
    0, 1, 2,
    2**6 - 1, 2**6, 2**6 + 1,
    2**14 - 1, 2**14, 2**14 + 1,
    2**30 - 1, 2**30, 2**30 + 1,
    2**62 - 1,
]


def test_boundary_roundtrip():
    v = np.array(BOUNDARIES, dtype=np.uint64)
    buf = encode_varints(v)
    got = decode_varints(buf, len(v))
    assert got.tolist() == BOUNDARIES


def test_byte_lengths_match_smallnat_scheme():
    # SmallNat.hs:25-34: sizes 1/2/4/8 at the 6/14/30/62-bit thresholds
    for val, exp in [(0, 1), (63, 1), (64, 2), (2**14 - 1, 2), (2**14, 4),
                     (2**30 - 1, 4), (2**30, 8), (MAX_SMALLNAT, 8)]:
        assert len(encode_varints(np.array([val], dtype=np.uint64))) == exp


def test_tag_bits_layout():
    # 00zzzzzz / 01zzzzzz / 10zzzzzz / 11zzzzzz big-endian (SmallNat.hs:36-51)
    assert encode_varints(np.array([5], dtype=np.uint64)) == bytes([5])
    assert encode_varints(np.array([300], dtype=np.uint64)) == bytes([0x40 | (300 >> 8), 300 & 0xFF])
    v = 2**20 + 123
    b = encode_varints(np.array([v], dtype=np.uint64))
    assert b[0] >> 6 == 2 and len(b) == 4
    assert int.from_bytes(bytes([b[0] & 0x3F]) + b[1:], "big") == v


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=MAX_SMALLNAT), max_size=200))
def test_roundtrip_hypothesis(vals):
    v = np.array(vals, dtype=np.uint64)
    assert decode_varints(encode_varints(v), len(v)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=0, max_value=100000),
        ),
        min_size=1,
        max_size=300,
    )
)
def test_run_roundtrip(postings):
    postings.sort()
    dids = np.array([p[0] for p in postings], dtype=np.int64)
    # dedupe dids (runs are per-term, doc-unique)
    keep = np.concatenate([[True], np.diff(dids) > 0])
    dids = dids[keep]
    tfs = np.array([p[1] for p in postings], dtype=np.int64)[keep]
    dls = np.array([p[2] for p in postings], dtype=np.int64)[keep]
    run = encode_run(dids, tfs, dls)
    assert run["start_did"] == int(dids[0])
    assert run["end_did"] == int(dids[-1])
    assert run["n"] == len(dids)
    assert run["max_tf"] == int(tfs.max())
    assert run["sum_tf"] == int(tfs.sum())
    d2, t2, l2 = decode_run(run["start_did"], run["n"], run["deltas"], run["tfs"], run["dls"])
    assert d2.tolist() == dids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_rebase_run_without_reencode():
    # DiskIndex.merge shifts chunk docids only via the chunk's start
    # (Posting2/Merge.hs:47-69) — verify blob reuse under an offset.
    dids = np.array([3, 7, 8, 100], dtype=np.int64)
    tfs = np.array([1, 2, 3, 4], dtype=np.int64)
    dls = np.array([10, 20, 30, 40], dtype=np.int64)
    run = encode_run(dids, tfs, dls)
    off = 5000
    d2, t2, l2 = decode_run(run["start_did"] + off, run["n"], run["deltas"], run["tfs"], run["dls"])
    assert d2.tolist() == (dids + off).tolist()
    assert t2.tolist() == tfs.tolist() and l2.tolist() == dls.tolist()


# one strategy per SmallNat size class (1, 2, 4 and 8 bytes)
_CLASSES = [(0, 2**6 - 1), (2**6, 2**14 - 1), (2**14, 2**30 - 1), (2**30, MAX_SMALLNAT)]


@st.composite
def _runs(draw):
    """Posting runs as (start_did, n, deltas, tfs, dls) with every value
    drawn from a random size class; deltas are capped below 2^57 so a
    run's dids stay int64, and a run's first delta is 0 as in an index."""
    def value(cap=MAX_SMALLNAT):
        lo, hi = _CLASSES[draw(st.integers(0, 3))]
        return draw(st.integers(lo, min(hi, cap)))

    runs = []
    for _ in range(draw(st.integers(0, 6))):
        n = draw(st.sampled_from([1, 1, 2, 3, 9, 40]))
        deltas = [0] + [value(2**57 - 1) for _ in range(n - 1)]
        tfs = [value() for _ in range(n)]
        dls = [value() for _ in range(n)]
        blobs = [encode_varints(np.array(v, dtype=np.uint64)) for v in (deltas, tfs, dls)]
        runs.append((draw(st.integers(0, 2**40)), n, *blobs))
    return runs


@settings(max_examples=300, deadline=None, derandomize=True)
@given(runs=_runs(), form=st.sampled_from(["array", "sliced", "chunked"]), cut=st.integers(0, 6))
def test_decode_runs_equals_per_run_decode(runs, form, cut):
    """``decode_runs`` over many runs equals the concatenation of
    ``decode_run`` per run, for blob columns given as a BinaryArray, a
    sliced BinaryArray (nonzero offset) and a ChunkedArray (whose first
    chunk may be empty), including zero runs and single-posting runs."""
    want = [decode_run(*r) for r in runs]
    starts = np.array([r[0] for r in runs], dtype=np.int64)
    ns = np.array([r[1] for r in runs], dtype=np.int64)

    def column(i):
        blobs = [r[i] for r in runs]
        if form == "sliced":
            return pa.array([b"\x7f\x01", *blobs, b"\x02"], pa.binary()).slice(1, len(blobs))
        if form == "chunked":
            c = min(cut, len(blobs))
            return pa.chunked_array([pa.array(blobs[:c], pa.binary()), pa.array(blobs[c:], pa.binary())])
        return pa.array(blobs, pa.binary())

    got = decode_runs(starts, ns, column(2), column(3), column(4))
    for j, g in enumerate(got):
        assert g.dtype == np.int64
        expect = np.concatenate([w[j] for w in want]) if want else np.zeros(0, dtype=np.int64)
        assert g.tolist() == expect.tolist()

"""Posting-run codec: delta + prefix-tagged varint, numpy-vectorized.

Byte format ports simplir's ``Data.SmallNat`` Binary instance
(``simplir/src/Data/SmallNat.hs:25-68``): each natural n in [0, 2^62) is
encoded big-endian with a 2-bit size tag in the top bits of the first byte:

    n < 2^6  : 1 byte   00zzzzzz
    n < 2^14 : 2 bytes  01zzzzzz yyyyyyyy
    n < 2^30 : 4 bytes  10zzzzzz ...
    n < 2^62 : 8 bytes  11zzzzzz ...

Posting runs mirror ``SimplIR.DiskIndex.Posting2.PostingList.chunkPostings``
(``PostingList.hs:36-49``): a run stores its absolute ``start_did`` plus
doc-id *deltas from the run start* (first delta = 0) so that re-basing a
run during index merge only rewrites ``start_did``/``end_did`` — the blob
itself is untouched, exactly like simplir's chunk-level ``DocIdDelta``
shifting in ``DiskIndex/Posting2/Merge.hs:47-69``.

Both encode and decode are fully vectorized:
* encode scatters each of the four size classes with shifts;
* decode uses pointer-doubling over the "next header" map to locate all
  value boundaries in O(log n) numpy passes (no per-byte Python loop).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

MAX_SMALLNAT = (1 << 62) - 1

_THRESHOLDS = np.array([1 << 6, 1 << 14, 1 << 30, 1 << 62], dtype=np.uint64)
_NBYTES = np.array([1, 2, 4, 8], dtype=np.int64)


def encode_varints_with_lens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode naturals to the SmallNat byte stream, keeping per-value lengths.

    Returns ``(stream, lens)``: a uint8 array holding the concatenated
    encodings and an int64 array with each value's encoded byte length —
    so a caller encoding MANY runs in one call can slice per-run blobs
    from cumulative length sums instead of re-invoking the encoder per
    run (the whole-partition Arrow encoder's path).
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    if (np.asarray(values, dtype=np.int64) < 0).any():
        raise ValueError("negative value in varint encode")
    if (v > MAX_SMALLNAT).any():
        raise ValueError("value exceeds 2^62-1")

    cls = np.searchsorted(_THRESHOLDS, v, side="right")  # 0..3
    lens = _NBYTES[cls]
    offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
    out = np.zeros(int(lens.sum()), dtype=np.uint8)

    for c, n in enumerate((1, 2, 4, 8)):
        m = cls == c
        if not m.any():
            continue
        vals = v[m]
        o = offs[m]
        # header byte: tag in top 2 bits | high bits of value
        out[o] = ((c << 6) | (vals >> np.uint64(8 * (n - 1)))).astype(np.uint8)
        for k in range(1, n):
            out[o + k] = (vals >> np.uint64(8 * (n - 1 - k))).astype(np.uint8)
    return out, lens


def encode_varints(values: np.ndarray) -> bytes:
    """Encode an int64/uint64 array of naturals to the SmallNat byte stream."""
    stream, _ = encode_varints_with_lens(values)
    return stream.tobytes()


def decode_varints(buf, n_values: int) -> np.ndarray:
    """Decode ``n_values`` SmallNat naturals from ``buf`` (any bytes-like
    object: bytes, a numpy uint8 array, a pyarrow Buffer), vectorized.

    Header positions are found by pointer doubling: treat every byte as a
    hypothetical header with jump length from its tag bits; the true header
    set is the orbit of position 0 under that jump map, which has exactly
    ``n_values`` elements and is generated in ceil(log2(n)) doubling steps.
    A stream of exactly ``n_values`` bytes holds only 1-byte values, so
    every byte is a header and no doubling runs.
    """
    if n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    nb = len(b)
    if nb == n_values:
        return (b & 0x3F).astype(np.uint64)
    jump_of_byte = _NBYTES[(b >> 6).astype(np.int64)]  # len if byte were a header
    nxt = np.arange(nb, dtype=np.int64) + jump_of_byte
    np.clip(nxt, 0, nb - 1, out=nxt)  # clamp so gathers stay in range

    headers = np.array([0], dtype=np.int64)
    jump = nxt
    steps = 1
    while steps < n_values:
        new = jump[headers]
        headers = np.concatenate([headers, new])
        jump = jump[jump]
        steps *= 2
    # the orbit's first n_values positions, in byte order (the clamp can
    # only add the last byte, which sorts after every true header)
    is_header = np.zeros(nb, dtype=bool)
    is_header[headers] = True
    headers = np.flatnonzero(is_header)[:n_values]

    hb = b[headers]
    tags = (hb >> 6).astype(np.int64)
    out = (hb & 0x3F).astype(np.uint64)
    for c, n in ((1, 2), (2, 4), (3, 8)):
        m = tags == c
        if not m.any():
            continue
        base = headers[m]
        acc = out[m] << np.uint64(8 * (n - 1))
        for k in range(1, n):
            acc |= b[base + k].astype(np.uint64) << np.uint64(8 * (n - 1 - k))
        out[m] = acc
    return out


def blob_stream(blobs) -> np.ndarray:
    """The concatenated bytes of a column of blobs, as a uint8 array.

    ``blobs`` is a pyarrow ``BinaryArray`` / ``LargeBinaryArray`` (sliced
    or not), a ``ChunkedArray`` of them, or one bytes-like object (already
    a stream).  A single Arrow array's data buffer already IS the
    concatenation, so its stream is a zero-copy view of the bytes between
    its first and last offset; chunks are concatenated.
    """
    if isinstance(blobs, pa.ChunkedArray):
        parts = [blob_stream(c) for c in blobs.chunks]
        if len(parts) == 1:
            return parts[0]
        return np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint8)
    if isinstance(blobs, pa.Array):
        if len(blobs) == 0:
            return np.zeros(0, dtype=np.uint8)
        width = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
        _, offsets, data = blobs.buffers()
        itemsize = np.dtype(width).itemsize
        offs = np.frombuffer(offsets, dtype=width, count=len(blobs) + 1, offset=blobs.offset * itemsize)
        if data is None:
            return np.zeros(0, dtype=np.uint8)
        return np.frombuffer(data, dtype=np.uint8)[offs[0] : offs[-1]]
    return np.frombuffer(blobs, dtype=np.uint8)


def _segmented_cumsum(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``values`` restarting at every segment, the
    segments being consecutive runs of ``counts`` values."""
    csum = np.cumsum(values)
    # the running sum just before each segment's first value
    before = np.concatenate(([0], csum))[np.cumsum(counts) - counts]
    return csum - np.repeat(before, counts)


def decode_runs(
    start_did, n, deltas, tfs, dls
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode many posting runs at once to concatenated (dids, tfs, dls).

    ``start_did`` and ``n`` are per-run arrays; ``deltas``, ``tfs`` and
    ``dls`` are the runs' blob columns in any form ``blob_stream`` takes.
    Blobs of consecutive runs concatenate to one valid varint stream, so
    each column is ONE ``decode_varints`` call; dids come back by a
    segmented cumulative sum (each run's deltas summed from its own
    ``start_did``).  Equal to concatenating ``decode_run`` over the runs.
    """
    start_did = np.asarray(start_did, dtype=np.int64)
    n = np.asarray(n, dtype=np.int64)
    total = int(n.sum())
    d = decode_varints(blob_stream(deltas), total).astype(np.int64)
    dids = _segmented_cumsum(d, n) + np.repeat(start_did, n)
    return (
        dids,
        decode_varints(blob_stream(tfs), total).astype(np.int64),
        decode_varints(blob_stream(dls), total).astype(np.int64),
    )


def encode_positions(pos_lists) -> bytes:
    """Per-posting position lists -> one varint blob.

    Each posting's (sorted) positions are delta-encoded (first absolute);
    counts are NOT stored — a posting's position count equals its tf
    (one position per occurrence), so decode reuses the tf array.
    Mirrors the positional payload of the reference's generic posting
    (Posting a with a ~ VU.Vector Position, Types.hs:139-158).
    """
    if len(pos_lists) == 0:
        return b""
    parts = [
        np.diff(np.asarray(p, dtype=np.int64), prepend=np.int64(0)) if len(p) else
        np.zeros(0, dtype=np.int64)
        for p in pos_lists
    ]
    flat = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    return encode_varints(flat)


def decode_positions_flat(blobs, tfs) -> np.ndarray:
    """Absolute positions of every posting, concatenated, as int64:
    posting i's positions are ``out[e - tfs[i]:e]`` with ``e`` the sum of
    ``tfs[:i + 1]``.  ``blobs`` is one positions blob or many runs' blobs
    in any form ``blob_stream`` takes (``tfs`` then lists all their
    postings' tfs in order): each posting's positions restart from an
    absolute first value, so run blobs concatenate.  One varint decode
    and a segmented cumulative sum; no per-posting Python work."""
    counts = np.asarray(tfs, dtype=np.int64)
    flat = decode_varints(blob_stream(blobs), int(counts.sum())).astype(np.int64)
    return _segmented_cumsum(flat, counts)


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of encode_positions; ``tfs`` gives per-posting counts."""
    counts = np.asarray(tfs, dtype=np.int64)
    return np.split(decode_positions_flat(buf, counts), np.cumsum(counts)[:-1])


def encode_run(dids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> dict:
    """Encode one posting run from doc-sorted postings of a single term.

    Returns run metadata + blobs:
      start_did, end_did, n, max_tf, sum_tf, deltas, tfs, dls
    ``deltas`` are did deltas from start (first = 0); ``dls`` are the
    per-posting document lengths (stored inline so the query path never
    joins postings against docmeta — a deliberate departure from the
    reference's docid->meta lookup, see SURVEY.md §2.3).
    """
    dids = np.asarray(dids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    if len(dids) == 0:
        raise ValueError("empty run")
    deltas = np.diff(dids, prepend=dids[0])
    if (deltas < 0).any():
        raise ValueError("postings not doc-sorted")
    return {
        "start_did": int(dids[0]),
        "end_did": int(dids[-1]),
        "n": int(len(dids)),
        "max_tf": int(tfs.max()),
        "sum_tf": int(tfs.sum()),
        "deltas": encode_varints(deltas),
        "tfs": encode_varints(tfs),
        "dls": encode_varints(dls),
    }


def decode_run(
    start_did: int, n: int, deltas: bytes, tfs: bytes, dls: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a run back to (dids, tfs, dls) absolute arrays."""
    d = decode_varints(deltas, n).astype(np.int64)
    dids = np.cumsum(d) + np.int64(start_did)
    return (
        dids,
        decode_varints(tfs, n).astype(np.int64),
        decode_varints(dls, n).astype(np.int64),
    )

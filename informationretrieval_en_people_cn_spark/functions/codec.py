"""Delta + varbyte posting-list codec, numpy-vectorized (C1/C2 rebuilt).

The reference entropy-codes the *decimal digits* of its CSV posting
lines with a hardcoded 12-symbol Huffman code
(``/root/reference/searchengine/IndexCreator.py:400-410``,
``Huffman.py:70-88``).  Per the north_rule, the rebuild replaces that
with the standard IR codec: doc-gap delta encoding + varbyte
(7-bit groups, little-endian, continuation bit on all but the last
byte).  Encode and decode are fully vectorized numpy — no per-value
Python loops over postings — so they are cheap inside Arrow-batched
pandas UDFs.

Frame format (one term's postings = one or more concatenated frames;
frames arise from doc-range slices/salts and concatenate WITHOUT
re-encoding because every frame's first doc_id is absolute):

    varbyte(n)                       # number of docs in this frame
    varbyte(pos_flag)                # 1 when positions follow
    varbyte(doc_0, gap_1 .. gap_{n-1})   # ascending doc_ids, delta'd
    varbyte(tf_0 .. tf_{n-1})
    varbyte(pos gaps, doc-major)     # per doc: pos_0, gap_1.. (tf_i values)

Decoding is one numpy pass over MANY buffers at once
(:func:`decode_many`): the input is an Arrow-style binary column — one
uint8 data buffer plus ``offsets`` (``len(buffers) + 1`` ascending
byte offsets, the first not necessarily 0, so a sliced Arrow array's
buffers pass through without a copy).  Every buffer is zero or more
concatenated frames.  The pass runs one continuation-bit scan, one
varbyte value decode looped by byte length (never by frame), a header
walk with one numpy round per frame depth (an index row holds one
frame, so one round), and segmented cumsums that rebuild doc ids and,
only when wanted, positions.  The cost per call is a fixed ~20 numpy
operations however many frames it reads, so callers decode a whole
collect, bucket or Arrow batch in one call.  :func:`decode_frames` is
the one-buffer case.

Positions are stored (the reference stores them, IndexCreator.py:95-99)
even though phrase verification falls back to substring matching
(SearchEngine.py:201-207) — they serve the positional phrase plans.
"""

from __future__ import annotations

import numpy as np


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a 1-D array of non-negative ints."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    # Number of 7-bit groups per value (at least 1).
    nbytes = np.ones(vals.shape, dtype=np.int64)
    rem = vals >> np.uint64(7)
    while rem.any():
        nbytes += (rem != 0).astype(np.int64)
        rem >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    rem = vals.copy()
    g = 0
    active = np.arange(vals.size)
    while active.size:
        idx = starts[active] + g
        is_last = nbytes[active] == g + 1
        byte = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        out[idx] = np.where(is_last, byte, byte | np.uint8(0x80))
        rem[active] >>= np.uint64(7)
        active = active[~is_last]
        g += 1
    return out.tobytes()


def _vb_values(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every varbyte value of the byte stream ``b`` (uint64) and the
    index of each value's final byte.  Horner's rule from a value's
    last (most significant) group down: round g takes the values whose
    g-th byte from the end is still a continuation byte — one numpy
    round per byte length, never per value or frame."""
    cont = b >= 0x80
    ends = (~cont).nonzero()[0]
    vals = b[ends].astype(np.uint64)
    # cont[-1] is False (a stream ends on a final byte), so a value
    # starting at byte 0 stops there
    sel = cont[ends - 1].nonzero()[0]
    g = 1
    while sel.size:
        grp = (b[ends[sel] - g] & 0x7F).astype(np.uint64)
        vals[sel] = (vals[sel] << np.uint64(7)) | grp
        g += 1
        sel = sel[cont[ends[sel] - g]]
    return vals, ends


def vb_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a varbyte stream to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    return _vb_values(b)[0]


def encode_frame(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None = None,
) -> bytes:
    """Encode one ascending-doc_id posting frame.

    ``positions`` is the doc-major concatenation of per-doc position
    lists (``tfs.sum()`` values); pass None to store empty positions
    (tf-only index).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    n = doc_ids.size
    if n == 0:
        return b""
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    if positions is None or len(positions) == 0:
        pos_bytes = b""
        pos_flag = 0
    else:
        positions = np.asarray(positions, dtype=np.uint64)
        # delta within each doc's position run
        pgaps = positions.copy()
        run_starts = np.cumsum(tfs)[:-1].astype(np.int64)
        pgaps[1:] = positions[1:] - positions[:-1]
        pgaps[0] = positions[0]
        if run_starts.size:
            pgaps[run_starts] = positions[run_starts]
        pos_bytes = vb_encode(pgaps)
        pos_flag = 1
    header = vb_encode(np.array([n, pos_flag], dtype=np.uint64))
    return header + vb_encode(gaps) + vb_encode(tfs) + pos_bytes


def _seg_arange(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``concat(arange(s, s + n) for s, n in zip(starts, lens))``."""
    excl = lens.cumsum() - lens
    return np.arange(int(lens.sum()), dtype=np.int64) + (starts - excl).repeat(lens)


def _seg_cumsum(vals: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Running sums of ``vals`` restarted at every segment of ``lens``.
    uint64 sums wrap, but a segment's difference of two wrapped sums is
    exact whenever its true sum fits in 64 bits."""
    cs = vals.cumsum(dtype=np.uint64)
    first = lens.cumsum() - lens
    base = cs[first - 1]
    base[first == 0] = 0
    return cs - base.repeat(lens)


def _frames(vals: np.ndarray, bounds: np.ndarray):
    """Walk the frame headers of the buffers whose values are
    ``vals[bounds[i]:bounds[i+1]]``: one numpy round per frame depth
    (round r reads the r-th frame of every buffer still holding one).
    Returns, per frame in stream order, its buffer, the index of its
    first value (the doc count ``n``), ``n``, and its position count
    (Σtf for a positional frame, else 0)."""
    hi = bounds[1:]
    buf = (bounds[:-1] < hi).nonzero()[0]
    cur = bounds[buf]
    # running sum of vals (wrapping): a frame's Σtf is one difference
    csum = vals.cumsum(dtype=np.uint64)
    rounds = []
    while True:
        n = vals[cur].astype(np.int64)
        tf0 = cur + n + 2  # value index of the frame's first tf
        end = tf0 + n
        npos = (csum[end - 1] - csum[tf0 - 1]).astype(np.int64) * (vals[cur + 1] != 0)
        rounds.append((buf, cur, n, npos))
        nxt = end + npos
        more = nxt < hi[buf]
        if not more.any():
            break
        buf, cur = buf[more], nxt[more]
    if len(rounds) == 1:
        return rounds[0]
    fb, fc, fn, fp = (np.concatenate(x) for x in zip(*rounds))
    order = fc.argsort(kind="stable")
    return fb[order], fc[order], fn[order], fp[order]


def decode_many(data, offsets, want_positions: bool = False):
    """Decode every buffer of an Arrow-style binary column in one pass.

    ``data`` is any bytes-like object (an Arrow data buffer, ``bytes``,
    a uint8 array); buffer i is ``data[offsets[i]:offsets[i+1]]``, a
    concatenation of zero or more frames.  Returns ``(doc_ids, tfs,
    positions, counts)``: doc_ids / tfs / positions are uint64 arrays
    over all buffers in order (buffer by buffer, frame by frame),
    ``counts`` the int64 number of postings of each buffer.  positions
    is the doc-major concatenation of the positional frames' position
    lists (tf values per posting), empty when ``want_positions`` is
    False: the header gives each payload's length, so it is skipped,
    never rebuilt."""
    offs = np.asarray(offsets, dtype=np.int64)
    empty = np.empty(0, dtype=np.uint64)
    counts = np.zeros(max(offs.size - 1, 0), dtype=np.int64)
    if offs.size < 2 or offs[-1] == offs[0]:
        return empty, empty, empty, counts
    vals, ends = _vb_values(np.frombuffer(data, dtype=np.uint8)[offs[0] : offs[-1]])
    fb, fc, fn, fp = _frames(vals, ends.searchsorted(offs - offs[0]))
    didx = _seg_arange(fc + 2, fn)
    docs = _seg_cumsum(vals[didx], fn)
    tfs = vals[didx + fn.repeat(fn)]
    np.add.at(counts, fb, fn)
    pos = fp > 0
    if not want_positions or not pos.any():
        return docs, tfs, empty, counts
    pg = vals[_seg_arange(fc[pos] + 2 + 2 * fn[pos], fp[pos])]
    ptf = tfs[pos.repeat(fn)]
    return docs, tfs, _seg_cumsum(pg, ptf.astype(np.int64)), counts


def decode_frames(buf: bytes, want_positions: bool = True):
    """Decode one buffer of concatenated frames: :func:`decode_many`
    over a single buffer.

    Returns ``(doc_ids, tfs, positions)`` as uint64 arrays; positions is
    empty when frames were encoded tf-only. doc_ids ascend globally when
    frames were produced from disjoint ascending doc ranges (the build
    invariant).

    ``want_positions=False`` SKIPS the position payload (the frame
    header makes its length computable from Σtf): on a positional
    index, non-positional plans — keyword, boolean, BM25 — pay only the
    value pass over it, not the (≈Σdoclen-sized) position-list
    rebuild.  Positions come back empty.
    """
    return decode_many(buf, (0, len(buf)), want_positions)[:3]


def pack_buffers(blobs) -> tuple[bytes, np.ndarray]:
    """Concatenate bytes-like ``blobs`` into :func:`decode_many`'s
    ``(data, offsets)`` input."""
    lens = np.fromiter((len(x) for x in blobs), dtype=np.int64, count=len(blobs))
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return b"".join(blobs), offsets


def arrow_binary_buffers(arr) -> tuple[object, np.ndarray]:
    """A pyarrow (large_)binary array's ``(data buffer, offsets)`` —
    :func:`decode_many`'s input without a copy of the data, honouring
    the array's slice offset.  Null slots hold no bytes: Arrow lets a
    null slot span undefined bytes, so an array with nulls is first
    rewritten with empty slots in their place (a copy)."""
    if arr.null_count:
        arr = arr.fill_null(b"")
    _, off_buf, data = arr.buffers()
    wide = str(arr.type).startswith("large_")
    offsets = np.frombuffer(off_buf, dtype=np.int64 if wide else np.int32)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1]
    return (data if data is not None else b""), offsets

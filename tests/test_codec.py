import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from informationretrieval_en_people_cn_spark.functions.codec import (
    arrow_binary_buffers,
    decode_frames,
    decode_many,
    encode_frame,
    pack_buffers,
    vb_decode,
    vb_encode,
)

from .oracle import decode_frames_per_frame


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(arr)), arr)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**12), st.integers(1, 50)),
        min_size=1,
        max_size=120,
        unique_by=lambda x: x[0],
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_frame_roundtrip(doc_tfs, rnd):
    doc_tfs.sort()
    docs = np.array([d for d, _ in doc_tfs], dtype=np.uint64)
    tfs = np.array([t for _, t in doc_tfs], dtype=np.uint64)
    pos = np.concatenate(
        [
            np.sort(
                np.array(
                    rnd.sample(range(10000), int(t)), dtype=np.uint64
                )
            )
            for t in tfs
        ]
    )
    d, t, p = decode_frames(encode_frame(docs, tfs, pos))
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(p, pos)


def test_frame_concat_is_valid_stream():
    b1 = encode_frame(
        np.array([1, 5, 9]), np.array([1, 2, 1]), np.array([0, 3, 7, 2])
    )
    b2 = encode_frame(np.array([100, 200]), np.array([1, 1]), np.array([5, 9]))
    d, t, p = decode_frames(b1 + b2)
    assert d.tolist() == [1, 5, 9, 100, 200]
    assert t.tolist() == [1, 2, 1, 1, 1]
    assert p.tolist() == [0, 3, 7, 2, 5, 9]


def test_tf_only_frame():
    d, t, p = decode_frames(encode_frame(np.array([3, 4]), np.array([2, 2])))
    assert d.tolist() == [3, 4] and t.tolist() == [2, 2] and p.size == 0


def test_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0
    assert encode_frame(np.array([]), np.array([])) == b""


@st.composite
def frame_buffers(draw):
    """1-6 buffers of 0-5 concatenated frames each (empty buffers
    included); each frame positional or tf-only, doc ids up to 2^40,
    tfs up to 300."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    bufs = []
    for _ in range(draw(st.integers(1, 6))):
        frames = []
        for _ in range(draw(st.integers(0, 5))):
            n = draw(st.integers(1, 12))
            docs = np.sort(rng.choice(2**40, size=n, replace=False)).astype(np.uint64)
            tfs = rng.integers(1, 301, size=n).astype(np.uint64)
            pos = None
            if draw(st.booleans()):
                pos = np.concatenate(
                    [np.sort(rng.choice(5000, size=int(t), replace=False)) for t in tfs]
                ).astype(np.uint64)
            frames.append(encode_frame(docs, tfs, pos))
        bufs.append(b"".join(frames))
    return bufs


def _want(bufs, want_positions):
    """The per-frame oracle over each buffer, concatenated."""
    parts = [decode_frames_per_frame(x, want_positions) for x in bufs]
    return (
        *(np.concatenate([p[i] for p in parts]) for i in range(3)),
        [p[0].size for p in parts],
    )


def _check(got, want):
    for g, w in zip(got[:3], want[:3]):
        assert g.dtype == np.uint64 and np.array_equal(g, w)
    assert got[3].tolist() == want[3]


@given(frame_buffers(), st.booleans(), st.integers(0, 3), st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_decode_many_equals_per_frame_decoder(bufs, want_positions, pre, post):
    """decode_many over bytes + offsets, over a sliced Arrow binary array
    (offset != 0, junk buffers around it) and over a multi-chunk one
    equals the per-frame decoder buffer by buffer; decode_frames is its
    one-buffer case."""
    data, offsets = pack_buffers(bufs)
    _check(decode_many(data, offsets, want_positions), _want(bufs, want_positions))

    junk = [encode_frame(np.array([7]), np.array([1]))] * max(pre, post)
    arr = pa.array(junk[:pre] + bufs + junk[:post], type=pa.binary())
    sliced = arr.slice(pre, len(bufs))
    assert sliced.offset == pre
    _check(
        decode_many(*arrow_binary_buffers(sliced), want_positions),
        _want(bufs, want_positions),
    )

    cut = len(bufs) // 2
    chunked = pa.chunked_array(
        [pa.array(bufs[:cut], type=pa.large_binary()), pa.array(bufs[cut:], type=pa.large_binary())]
    )
    got = [decode_many(*arrow_binary_buffers(c), want_positions) for c in chunked.chunks]
    _check(
        [np.concatenate([g[i] for g in got]) for i in range(4)],
        _want(bufs, want_positions),
    )
    for x in bufs:
        for g, w in zip(decode_frames(x, want_positions), decode_frames_per_frame(x, want_positions)):
            assert np.array_equal(g, w)


def test_decode_many_empty_inputs():
    """No buffers, or only empty ones: empty arrays and zero counts."""
    for data, offsets in ((b"", [0]), (b"", [0, 0, 0]), (b"xyz", [1, 1])):
        d, t, p, c = decode_many(data, offsets, True)
        assert d.size == t.size == p.size == 0 and c.tolist() == [0] * (len(offsets) - 1)


def test_arrow_null_slot_with_bytes_decodes_to_nothing():
    """Arrow lets a null binary slot span bytes; they are undefined, so
    the null slot decodes to no postings even when they form a frame."""
    a = encode_frame(np.array([3, 9]), np.array([1, 2]))
    junk = encode_frame(np.array([5]), np.array([4]))
    b = encode_frame(np.array([2**40]), np.array([300]))
    offs = np.cumsum([0, len(a), len(junk), len(b)]).astype(np.int32)
    valid = np.packbits([1, 0, 1], bitorder="little").tobytes()
    arr = pa.Array.from_buffers(
        pa.binary(), 3,
        [pa.py_buffer(valid), pa.py_buffer(offs.tobytes()), pa.py_buffer(a + junk + b)],
        null_count=1,
    )
    for view, bufs in ((arr, [a, b"", b]), (arr.slice(1), [b"", b])):
        _check(decode_many(*arrow_binary_buffers(view)), _want(bufs, False))

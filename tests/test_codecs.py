"""Codec byte-golds ported verbatim from the reference tests
(pkg/compression/deltavarint/deltavarint_test.go:17-35,
pkg/compression/unary/unary_test.go:17-26,180-229) + roundtrip fuzz."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pulse_spark.compression.codecs import (
    delta_varint_decode,
    delta_varint_encode,
    unary_decode,
    unary_encode,
)


def test_delta_varint_golds():
    cases = [
        ([5], bytes([5])),
        ([1, 2, 3], bytes([1, 1, 1])),
        ([100, 102, 103], bytes([100, 2, 1])),
        ([300, 500, 590], bytes([0b10101100, 0b00000010, 0b11001000, 0b00000001, 0b01011010])),
        ([], b""),
    ]
    for values, exp in cases:
        assert delta_varint_encode(values) == exp, values
        assert delta_varint_decode(exp).tolist() == values


def test_unary_golds_min0():
    cases = [
        ([5], bytes([0b11111011])),
        ([1, 2, 3], bytes([0b10110111, 0b01111111])),
        ([9], bytes([0b11111111, 0b10111111])),
        ([], b""),
        ([12], bytes([0b11111111, 0b11110111])),  # TestDifferenSize gold
    ]
    for values, exp in cases:
        assert unary_encode(values, 0) == exp, values
        assert unary_decode(exp, 0).tolist() == values


def test_unary_gold_min1():
    # unary_test.go TestMiniumum: 9 with min=1 -> 8 ones + 0 + pad
    assert unary_encode([9], 1) == bytes([0b11111111, 0b01111111])
    assert unary_decode(bytes([0b11111111, 0b01111111]), 1).tolist() == [9]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=200))
def test_delta_varint_roundtrip(deltas):
    values = np.cumsum(np.array(deltas, dtype=np.uint64)).tolist()
    assert delta_varint_decode(delta_varint_encode(values)).tolist() == values


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=300), min_size=0, max_size=100))
def test_unary_roundtrip_min1(values):
    assert unary_decode(unary_encode(values, 1), 1).tolist() == values


def test_concat_decoders_match_per_block():
    """The batched concatenated-stream decoders must be bit-identical to
    the per-block loops for any block mix (the serving cold path decodes
    one concatenated buffer per term instead of ~10^5 per-block calls)."""
    import numpy as np

    from pulse_spark.compression.codecs import (
        delta_varint_decode,
        delta_varint_decode_concat,
        delta_varint_encode,
        unary_decode,
        unary_decode_concat,
        unary_encode,
    )

    rng = np.random.default_rng(7)
    # blocks of varied size, values of varied magnitude (1- to 5-byte
    # varints), including single-value blocks
    blocks = []
    base = 0
    for bs in (1, 2, 128, 300, 17, 128, 1):
        deltas = rng.integers(1, 2 ** int(rng.integers(1, 30)), size=bs)
        vals = base + np.cumsum(deltas)
        base = int(vals[-1]) + int(rng.integers(1, 1000))
        blocks.append(vals.astype(np.uint64))
    tfs = [rng.integers(1, 40, size=len(b)).astype(np.uint64) for b in blocks]

    id_bufs = [delta_varint_encode(b) for b in blocks]
    tf_bufs = [unary_encode(t, minimum=1) for t in tfs]
    counts = np.array([len(b) for b in blocks])

    got_ids = delta_varint_decode_concat(b"".join(id_bufs), counts)
    exp_ids = np.concatenate([delta_varint_decode(x) for x in id_bufs])
    assert got_ids.dtype == np.uint64 and np.array_equal(got_ids, exp_ids)

    got_tfs = unary_decode_concat(
        b"".join(tf_bufs), [len(x) for x in tf_bufs], counts, minimum=1
    )
    exp_tfs = np.concatenate([unary_decode(x, minimum=1) for x in tf_bufs])
    assert got_tfs.dtype == np.uint64 and np.array_equal(got_tfs, exp_tfs)

    # the batched encoders write the same per-block bytes
    from pulse_spark.compression.codecs import (delta_varint_encode_concat,
                                                unary_encode_concat)

    for (data, lens), bufs in (
        (delta_varint_encode_concat(np.concatenate(blocks), counts), id_bufs),
        (unary_encode_concat(np.concatenate(tfs), counts, minimum=1), tf_bufs),
    ):
        assert data.tobytes() == b"".join(bufs)
        assert lens.tolist() == [len(x) for x in bufs]

    # empties
    assert delta_varint_decode_concat(b"", np.array([], dtype=int)).size == 0
    assert unary_decode_concat(b"", [], np.array([], dtype=int)).size == 0

    # count mismatch must raise, not silently misalign
    import pytest as _pytest

    with _pytest.raises(ValueError):
        delta_varint_decode_concat(b"".join(id_bufs), counts[:-1])
    with _pytest.raises(ValueError):
        unary_decode_concat(b"".join(tf_bufs),
                            [len(x) for x in tf_bufs][:-1], counts[:-1])


def test_concat_decoder_modular_wraparound():
    """uint64 cumsum wraparound across blocks must not corrupt values —
    the modular cumsum-difference reconstruction is exact by design
    (relevant at 10^12-doc scale where running sums exceed 2^64)."""
    import numpy as np

    from pulse_spark.compression.codecs import (
        delta_varint_decode,
        delta_varint_decode_concat,
        delta_varint_encode,
    )

    big = np.uint64(2 ** 63 - 5)
    blocks = [np.array([big, big + np.uint64(3)], dtype=np.uint64),
              np.array([big + np.uint64(1)], dtype=np.uint64),
              np.array([np.uint64(7), np.uint64(9)], dtype=np.uint64)]
    bufs = [delta_varint_encode(b) for b in blocks]
    got = delta_varint_decode_concat(b"".join(bufs),
                                     np.array([len(b) for b in blocks]))
    exp = np.concatenate([delta_varint_decode(x) for x in bufs])
    assert np.array_equal(got, exp)

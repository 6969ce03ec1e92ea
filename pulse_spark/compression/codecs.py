"""Posting-list codecs: delta+varint (docIDs) and unary (term
frequencies), bitstream-compatible with the reference
(pkg/compression/deltavarint/{writer,reader}.go,
pkg/compression/unary/{writer,reader}.go) and pinned by its test vectors
(deltavarint_test.go:17-35, unary_test.go:17-26).

numpy-vectorized where it pays (delta, cumsum, bit unpacking); the
per-block encoders' varint byte loop (≤ block_size values) serves merges
and is the reference the batched *_concat codecs are tested against —
segment build and the serving cold path code whole batches of blocks
at once.

Formats:
  delta+varint: varint(v0), varint(v1-v0), ...   LEB128 — little-endian
                base-128, high bit = continuation (writer.go:25-43)
  unary:        value v (≥ min) → (v-min) 1-bits then a 0, MSB-first;
                final byte padded with 1-bits so a reader sees EOF
                (writer.go:28-102; freqs use min=1, lexicon.go:106-126)
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# delta + varint
# ---------------------------------------------------------------------------


def delta_varint_encode(values: np.ndarray | list[int]) -> bytes:
    """Encode a non-decreasing uint sequence as first value + deltas,
    each LEB128-uvarint-coded."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    deltas = np.empty_like(arr)
    deltas[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=deltas[1:])
    out = bytearray()
    for v in deltas.tolist():  # per-block loop, bounded by block_size
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def delta_varint_decode(buf: bytes) -> np.ndarray:
    """Decode to the original uint64 sequence (running sum of uvarints)."""
    deltas = []
    shift = 0
    cur = 0
    for byte in buf:
        cur |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            deltas.append(cur)
            cur = 0
            shift = 0
    return np.cumsum(np.array(deltas, dtype=np.uint64), dtype=np.uint64)


# ---------------------------------------------------------------------------
# unary
# ---------------------------------------------------------------------------


def unary_encode(values: np.ndarray | list[int], minimum: int = 0) -> bytes:
    """(v - minimum) 1-bits then a terminating 0-bit, MSB-first; pad the
    final byte with 1-bits (reader EOFs inside a 1-run, writer.go:85-101)."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    lens = (arr - minimum + 1).astype(np.int64)  # n ones + one zero
    total = int(lens.sum())
    bits = np.ones(total, dtype=np.uint8)
    # positions of the terminating zeros
    ends = np.cumsum(lens) - 1
    bits[ends] = 0
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, dtype=np.uint8)])
    return np.packbits(bits).tobytes()


def unary_decode(buf: bytes, minimum: int = 0) -> np.ndarray:
    """Count 1-runs up to each 0 bit; trailing 1-run (padding) ignored."""
    if not buf:
        return np.array([], dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    zeros = np.flatnonzero(bits == 0)
    if zeros.size == 0:
        return np.array([], dtype=np.uint64)
    starts = np.concatenate([[-1], zeros[:-1]])
    runs = zeros - starts - 1  # number of 1s before each 0
    return (runs + minimum).astype(np.uint64)


# ---------------------------------------------------------------------------
# batched (concatenated-stream) codecs — segment build and serving cold path
# ---------------------------------------------------------------------------


def delta_varint_encode_concat(values: np.ndarray, counts: np.ndarray
                               ) -> tuple[np.ndarray, np.ndarray]:
    """Encode consecutive blocks of values (counts[i] values in block i)
    in one vectorized pass -> (concatenated bytes as uint8, byte length
    per block).  Block i's bytes equal delta_varint_encode(block i): its
    first value is absolute, the rest are deltas."""
    v = np.asarray(values, dtype=np.uint64)
    starts = np.cumsum(counts) - counts
    deltas = np.empty_like(v)
    deltas[0] = v[0]
    np.subtract(v[1:], v[:-1], out=deltas[1:])
    deltas[starts] = v[starts]
    nb = np.ones(v.size, dtype=np.int64)  # LEB128 bytes per value
    for k in range(1, 10):
        nb += deltas >= np.uint64(1 << (7 * k))
    j = np.arange(int(nb.sum())) - np.repeat(np.cumsum(nb) - nb, nb)
    out = (np.repeat(deltas, nb) >> (7 * j).astype(np.uint64)).astype(np.uint8) & 0x7F
    out |= (j < np.repeat(nb, nb) - 1).astype(np.uint8) << 7  # continuation
    return out, np.add.reduceat(nb, starts)


def unary_encode_concat(values: np.ndarray, counts: np.ndarray,
                        minimum: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Encode consecutive blocks in one vectorized pass -> (concatenated
    bytes as uint8, byte length per block).  Block i's bytes equal
    unary_encode(block i, minimum): each block is padded with 1-bits to
    a whole byte on its own."""
    lens = np.asarray(values, dtype=np.uint64).astype(np.int64) - minimum + 1
    starts = np.cumsum(counts) - counts
    blk_bytes = (np.add.reduceat(lens, starts) + 7) // 8
    bit_off = 8 * (np.cumsum(blk_bytes) - blk_bytes)
    cs = np.cumsum(lens)
    within = cs - np.repeat(cs[starts] - lens[starts], counts)
    bits = np.ones(8 * int(blk_bytes.sum()), dtype=np.uint8)
    bits[np.repeat(bit_off, counts) + within - 1] = 0  # terminating zeros
    return np.packbits(bits), blk_bytes


def delta_varint_decode_concat(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Decode the CONCATENATION of per-block delta+varint streams in ONE
    vectorized pass; counts[i] = number of values in block i (the
    segment rows' `n` column).  Returns the fused absolute-value uint64
    array; block boundaries sit at cumsum(counts).

    Bit-identical to calling delta_varint_decode per block (pinned in
    tests/test_codecs.py): each block's first varint is absolute, so the
    concatenated stream is reconstructed with a single global cumsum and
    a per-block offset subtraction — and because uint64 arithmetic is
    modular, the cumsum-difference trick stays EXACT even when the
    running sum wraps 2^64 (relevant at 10^12-doc scale).

    Why it exists: the per-byte python loop in delta_varint_decode is
    fine amortized inside Arrow batches at build time, but the serving
    cold path decodes up to ~10^5 blocks for one hot term — 67k python
    calls measured ~10 s of pure interpreter overhead at a 9M-doc index
    (BENCH.md §4g)."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero((b & 0x80) == 0)
    if ends.size != total:
        raise ValueError(
            f"varint stream has {ends.size} values, counts say {total}"
        )
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if lens.size and int(lens.max()) > 10:
        raise ValueError("varint longer than uint64")
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64)
    run = np.cumsum(payload)           # modular uint64
    totals = run[ends]
    deltas = np.empty(total, dtype=np.uint64)
    deltas[0] = totals[0]
    np.subtract(totals[1:], totals[:-1], out=deltas[1:])  # modular: exact
    s = np.cumsum(deltas)              # modular uint64
    vo = np.cumsum(counts)             # per-block value END offsets
    prev_idx = vo[:-1] - 1
    prev = np.where(prev_idx >= 0, s[np.maximum(prev_idx, 0)],
                    np.uint64(0)).astype(np.uint64)
    offs = np.concatenate([[np.uint64(0)], prev])
    return s - np.repeat(offs, counts)


def unary_decode_concat(buf: bytes, byte_lens: np.ndarray,
                        counts: np.ndarray, minimum: int = 0) -> np.ndarray:
    """Decode the CONCATENATION of per-block unary streams in one
    vectorized pass; byte_lens[i] / counts[i] = byte length / value
    count of block i.  Bit-identical to per-block unary_decode (pinned
    in tests): blocks are padded with 1-bits, so a block's padding would
    merge into the NEXT block's first 1-run — the run start of each
    block's first value is therefore reset to that block's bit offset."""
    counts = np.asarray(counts, dtype=np.int64)
    byte_lens = np.asarray(byte_lens, dtype=np.int64)
    # a byte_lens/buffer mismatch (blocks joined out of order, stale `n`
    # column) would silently shift every per-block first-value reset and
    # decode wrong tfs — fail loudly like the zero-count check below
    if int(byte_lens.sum()) != len(buf):
        raise ValueError(
            f"unary concat buffer is {len(buf)} bytes, "
            f"byte_lens sum to {int(byte_lens.sum())}"
        )
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    bit_ends = 8 * np.cumsum(byte_lens)
    zeros = np.flatnonzero(bits == 0)
    if zeros.size != total:
        raise ValueError(
            f"unary stream has {zeros.size} values, counts say {total}"
        )
    blk = np.searchsorted(bit_ends, zeros, side="right")
    prev = np.empty_like(zeros)
    prev[0] = -1
    prev[1:] = zeros[:-1]
    first = np.empty(zeros.size, dtype=bool)
    first[0] = True
    first[1:] = blk[1:] != blk[:-1]
    bit_starts = np.concatenate([[0], bit_ends[:-1]])
    prev[first] = bit_starts[blk[first]] - 1
    runs = zeros - prev - 1
    return (runs + minimum).astype(np.uint64)

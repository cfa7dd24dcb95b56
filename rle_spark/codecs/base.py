"""Shared vectorized primitives for all codecs.

Everything here is pure NumPy — no Spark imports — so the kernels are
unit-testable and benchmarkable standalone (SURVEY.md §7.0).

Design notes vs the reference (hypersonic-rle-kit):
  * The reference frames every compressed stream with a small header
    carrying uncompressedLength/compressedLength
    (/root/reference/src/rleX_extreme_cpu_encode.h:21-24) and validates
    it on decode (/root/reference/src/rleX_extreme_cpu.h:87-91). Our
    analogue is `pack_sections`: explicit little-endian section lengths
    so a decoder never reads past the declared payload — this is what
    makes the tail-scramble property (/root/reference/src/main.c:942-948)
    hold by construction.
  * The reference's SIMD dispatch (cpuid -> AVX2/SSE kernels,
    /root/reference/src/rleX_extreme_cpu.h:52-59) maps to NumPy
    vectorization here: every loop below is over *segments*, never over
    elements.
"""

from __future__ import annotations

import math
import struct

import numpy as np

MAGIC = b"RSPK"

# ---------------------------------------------------------------------------
# section container
# ---------------------------------------------------------------------------


def pack_sections(parts: list[bytes]) -> bytes:
    """Frame a list of byte sections with explicit lengths.

    Layout: [u16 n][u64 len_0 ... len_{n-1}][payload_0 ... payload_{n-1}].
    Trailing garbage after the declared lengths is ignored by
    `unpack_sections` (tail-scramble safety).
    """
    header = struct.pack("<H", len(parts)) + b"".join(
        struct.pack("<Q", len(p)) for p in parts
    )
    return header + b"".join(parts)


def sections_size(sizes: list[int]) -> int:
    """len(pack_sections(parts)) for parts of the given byte lengths."""
    return 2 + 8 * len(sizes) + sum(sizes)


def unpack_sections(buf: bytes | memoryview) -> list[memoryview]:
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<H", mv, 0)
    lens = struct.unpack_from(f"<{n}Q", mv, 2)
    out = []
    off = 2 + 8 * n
    for ln in lens:
        out.append(mv[off : off + ln])
        off += ln
    return out


# ---------------------------------------------------------------------------
# bit packing (the F10/bitpack.h analogue, generalized to any width 0..64)
# ---------------------------------------------------------------------------


def bit_width(max_value: int) -> int:
    """Bits needed to represent values in [0, max_value]."""
    if max_value < 0:
        raise ValueError("bit_width over negative max")
    return int(max_value).bit_length()


def _container_bytes(width: int) -> int:
    for c in (1, 2, 4, 8):
        if width <= 8 * c:
            return c
    raise ValueError(f"width {width} > 64")


def _pack_bits_matrix(values: np.ndarray, width: int) -> bytes:
    """Bit-matrix packer (np.unpackbits/packbits): expands every value
    to an 8c-bool row — ~8c bytes of traffic per value. Kept for small
    arrays (fixed-cost friendly) and as the independent reference the
    lane kernel is equivalence-tested against."""
    n = len(values)
    c = _container_bytes(width)
    v = np.ascontiguousarray(values, dtype=f">u{c}")
    if width == 8 * c:
        return v.tobytes()
    bits = np.unpackbits(v.view(np.uint8)).reshape(n, 8 * c)
    return np.packbits(bits[:, 8 * c - width:]).tobytes()


def _unpack_bits_matrix(buf, width: int, n: int) -> np.ndarray:
    c = _container_bytes(width)
    if width == 8 * c:
        return np.frombuffer(buf, dtype=f">u{c}", count=n).astype(np.uint64)
    total_bits = n * width
    raw = np.frombuffer(buf, dtype=np.uint8, count=(total_bits + 7) // 8)
    bits = np.unpackbits(raw, count=total_bits).reshape(n, width)
    full = np.zeros((n, 8 * c), dtype=np.uint8)
    full[:, 8 * c - width:] = bits
    return (np.frombuffer(np.packbits(full.ravel()).tobytes(), dtype=f">u{c}",
                          count=n).astype(np.uint64))


# below this length the bit-matrix path's fixed cost wins over the
# lane loop's P (up to 64) small vector ops (measured crossover ~2-8k)
_LANE_MIN_N = 4096


def pack_bits(values: np.ndarray, width: int, fits: bool = False) -> bytes:
    """Pack non-negative integers into `width` bits each (MSB-first).

    Reference precedent: the 2/3/4/8-bit block packing of rle8_mmtf128
    (/root/reference/src/rle8_mmtf.c:45-149, src/bitpack.h) — ours is the
    general-width version used by dict/FOR/delta/RLE sub-streams.

    Large arrays use a LANE kernel: the big-endian bitstream is
    assembled in uint64 words; the (word, bit-offset) pattern of the
    i-th value repeats with period P = 64/gcd(width,64) values per
    Q = width*P/64 words, so P shift/OR column ops build the whole
    stream — ~2 uint64 ops per value instead of the bit matrix's 8c
    bytes per value (5-15x on the hot 9-31-bit sub-streams). Output is
    byte-identical to the matrix form (equivalence-tested), so the
    wire format is unchanged.
    """
    n = len(values)
    if width == 0 or n == 0:
        return b""
    if width in (8, 16, 32, 64):
        return np.ascontiguousarray(values, dtype=f">u{width // 8}").tobytes()
    if n < _LANE_MIN_N or width < 8:
        # tiny widths: per-value work is small either way and the lane
        # loop runs 64 near-empty column ops — packbits wins (measured)
        return _pack_bits_matrix(values, width)
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if not fits:
        # matrix form drops high bits too; callers that guarantee
        # values < 2^width (pack_ints: width = bit_width(span)) pass
        # fits=True and skip this full mask pass
        v = v & np.uint64((1 << width) - 1)
    gcd = math.gcd(width, 64)
    per, q = 64 // gcd, width // gcd
    g = (n + per - 1) // per
    vp = np.empty(g * per, dtype=np.uint64)
    vp[:n] = v
    vp[n:] = 0
    # transpose to contiguous lanes: the column ops below then stream
    # sequentially instead of striding per*8 bytes (2-3x, measured)
    vpt = np.ascontiguousarray(vp.reshape(g, per).T)
    words = np.zeros((q, g), dtype=np.uint64)
    for k in range(per):
        p = k * width
        j, r = p >> 6, p & 63
        if r + width <= 64:
            words[j] |= vpt[k] << np.uint64(64 - r - width)
        else:
            words[j] |= vpt[k] >> np.uint64(r + width - 64)
            words[j + 1] |= vpt[k] << np.uint64(128 - r - width)
    return (np.ascontiguousarray(words.T).astype(">u8")
            .tobytes()[:(n * width + 7) // 8])


def unpack_bits(buf: bytes | memoryview, width: int, n: int,
                dtype=np.uint64) -> np.ndarray:
    """Inverse of pack_bits -> fresh `dtype` array of length n. dtype
    is uint64 or, for width <= 32, uint32: the per-lane store then
    casts to 4 B, halving the transpose pass, and int32 consumers skip
    a converting copy of the whole stream."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=dtype)
    if width in (8, 16, 32, 64):
        return np.frombuffer(buf, dtype=f">u{width // 8}",
                             count=n).astype(dtype)
    if n < _LANE_MIN_N:
        return _unpack_bits_matrix(buf, width, n).astype(dtype, copy=False)
    gcd = math.gcd(width, 64)
    per, q = 64 // gcd, width // gcd
    g = (n + per - 1) // per
    nbytes = (n * width + 7) // 8
    full = g * q * 8
    raw = np.empty(full, dtype=np.uint8)
    raw[:nbytes] = np.frombuffer(buf, dtype=np.uint8, count=nbytes)
    raw[nbytes:] = 0
    # contiguous byteswap pass then contiguous transpose pass: measured
    # faster than fusing both into one strided astype (NumPy's strided
    # byteswap-cast falls off the vectorized path)
    words = np.ascontiguousarray(
        raw.view(">u8").astype(np.uint64).reshape(g, q).T)
    out = np.empty((per, g), dtype=dtype)
    for k in range(per):
        p = k * width
        j, r = p >> 6, p & 63
        part = (words[j] << np.uint64(r)) >> np.uint64(64 - width)
        if r + width > 64:
            part = part | (words[j + 1] >> np.uint64(128 - r - width))
        out[k] = part  # casting store when dtype is uint32
    return np.ascontiguousarray(out.T).reshape(-1)[:n]


# ---------------------------------------------------------------------------
# integer sub-stream: frame-of-reference + bit-pack (used by every codec)
# ---------------------------------------------------------------------------


def pack_ints(arr: np.ndarray) -> bytes:
    """Encode an int array: [i64 min][u8 width][u64 n][bit-packed deltas].

    This is the frame-of-reference primitive: subtract min, bit-pack the
    non-negative remainders at the minimal width. Works for any int64
    range whose span fits in < 2^63.
    """
    a = np.asarray(arr)
    if a.dtype == np.uint64:
        # free two's-complement reinterpretation — all arithmetic below
        # is mod 2^64, so roundtrip stays exact
        a = a.view(np.int64)
    n = len(a)
    if n == 0:
        return struct.pack("<qBQ", 0, 0, 0)
    lo = int(a.min())
    span = int(a.max()) - lo  # python ints: no overflow even for full range
    w = bit_width(span)
    # single fused pass from the source dtype to the int64 remainders
    d = np.subtract(a, np.int64(lo), dtype=np.int64)
    payload = pack_bits(d.view(np.uint64), w, fits=True)
    return struct.pack("<qBQ", lo, w, n) + payload


def unpack_ints(buf: bytes | memoryview, out_dtype=None) -> np.ndarray:
    """Decode pack_ints. With out_dtype=int32 the stream is emitted
    directly as int32 whenever w <= 32 and lo itself fits int32: the
    remainders are in [0, 2^w-1] and int32 adds wrap mod 2^32, so the
    emitted two's-complement values equal the true values EXACTLY
    whenever those true values fit int32 — which out_dtype=int32
    callers assert by construction (every call site decodes a stream
    that was encoded FROM int32 data: tokens, dict codes, literal
    values). A wider-than-int32 true value would be wrong in an int32
    output under any arithmetic, so it raises ValueError: a wrapped
    value is always below lo, and only a frame whose top lo + 2^w - 1
    passes int32 max can wrap, so only such a frame pays the min()
    check. Callers must still accept an int64 fallback for the
    lo/width guard."""
    mv = memoryview(buf)
    lo, w, n = struct.unpack_from("<qBQ", mv, 0)
    if (out_dtype is not None and np.dtype(out_dtype) == np.int32
            and w <= 32 and -(1 << 31) <= lo <= (1 << 31) - 1):
        vals32 = unpack_bits(mv[17:], w, n, np.uint32).view(np.int32)
        if lo:
            np.add(vals32, np.int32(lo), out=vals32)
        if n and lo + (1 << w) - 1 > (1 << 31) - 1 and vals32.min() < lo:
            raise ValueError("packed int stream holds a value above int32 "
                             "max; it cannot be emitted as int32")
        return vals32
    vals = unpack_bits(mv[17:], w, n).view(np.int64)
    if lo:
        # every unpack_bits path returns a fresh owned array — add the
        # frame of reference in place instead of allocating another
        np.add(vals, np.int64(lo), out=vals)
    return vals


def pack_ints_size(n: int, lo: int, hi: int) -> int:
    """Exact encoded size of pack_ints for n values spanning [lo, hi]."""
    if n == 0:
        return 17
    return 17 + (n * bit_width(hi - lo) + 7) // 8


def packed_size(a: np.ndarray) -> int:
    """len(pack_ints(a)), without packing."""
    return pack_ints_size(len(a), int(a.min()), int(a.max())) if len(a) else 17


# ---------------------------------------------------------------------------
# segment expansion (the vectorized memcpy/memset decode pipeline —
# reference analogue: /root/reference/src/rleX_extreme_cpu_decode.h:27-164)
# ---------------------------------------------------------------------------


_ARANGE = np.zeros(0, dtype=np.int64)


def _arange_view(n: int) -> np.ndarray:
    """Read-only view of [0..n) from a grow-on-demand cached iota —
    avoids re-faulting a fresh arange buffer in every kernel call
    (the hot loops run per Arrow batch, thousands of times per task)."""
    global _ARANGE
    if len(_ARANGE) < n:
        _ARANGE = np.arange(max(n, 2 * len(_ARANGE)), dtype=np.int64)
    return _ARANGE[:n]


def inner_offsets(lens: np.ndarray) -> np.ndarray:
    """For segments with the given lengths, return the concatenated
    0..len_i-1 ranges: [0,1,..,l0-1, 0,1,..,l1-1, ...]."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.cumsum(lens) - lens
    rep = np.repeat(starts, lens)
    return np.subtract(_arange_view(total), rep, out=rep)


def scatter_segments(dest: np.ndarray, dest_starts: np.ndarray,
                     lens: np.ndarray, values: np.ndarray) -> None:
    """dest[dest_starts[i] : dest_starts[i]+lens[i]] = next lens[i] items
    of `values`, for all segments at once (vectorized gather/scatter)."""
    lens = np.asarray(lens, dtype=np.int64)
    if lens.sum() == 0:
        return
    pos = np.repeat(np.asarray(dest_starts, dtype=np.int64), lens) + inner_offsets(lens)
    dest[pos] = values


def fill_runs(dest: np.ndarray, dest_starts: np.ndarray,
              lens: np.ndarray, run_values: np.ndarray) -> None:
    """dest[dest_starts[i] : +lens[i]] = run_values[i] (vectorized memset)."""
    lens = np.asarray(lens, dtype=np.int64)
    if len(lens) == 0 or lens.sum() == 0:
        return
    pos = np.repeat(np.asarray(dest_starts, dtype=np.int64), lens) + inner_offsets(lens)
    dest[pos] = np.repeat(np.asarray(run_values), lens)


# ---------------------------------------------------------------------------
# run detection (vectorized analogue of the movemask run scan,
# /root/reference/src/rleX_extreme_cpu_encode.h:57-99)
# ---------------------------------------------------------------------------


def find_runs(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Return (run_starts, run_lens) for maximal equal-value runs of `a`."""
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    change = (a[1:] != a[:-1]).nonzero()[0]  # int64 already
    k = len(change)
    starts = np.empty(k + 1, dtype=np.int64)
    starts[0] = 0
    np.add(change, 1, out=starts[1:])
    lens = np.empty(k + 1, dtype=np.int64)
    np.subtract(starts[1:], starts[:-1], out=lens[:k])
    lens[k] = n - starts[k]
    return starts, lens


def long_runs(a: np.ndarray, min_len: int) -> tuple[np.ndarray, np.ndarray]:
    """`find_runs` filtered to runs of length >= min_len (min_len >= 2).

    Built from the equal-neighbour positions instead of the change
    positions: on token data nearly every run has length 1, so this
    index array is sparse where `find_runs` fills two n-length arrays."""
    if min_len < 2:
        raise ValueError(f"long_runs needs min_len >= 2, got {min_len}")
    eq = np.flatnonzero(a[1:] == a[:-1]) if len(a) > 1 else np.zeros(0, np.int64)
    if len(eq) == 0:
        return eq, eq.copy()
    # a run of length L is L-1 consecutive equal-neighbour positions
    brk = np.flatnonzero(np.diff(eq) != 1)
    first = np.concatenate(([0], brk + 1))
    last = np.concatenate((brk, [len(eq) - 1]))
    starts, lens = eq[first], last - first + 2
    if min_len > 2:
        keep = lens >= min_len
        starts, lens = starts[keep], lens[keep]
    return starts, lens


# ---------------------------------------------------------------------------
# byte-image views (symbol width is a codec parameter, not a data property:
# /root/reference/src/rleX_extreme_cpu.c:4-64)
# ---------------------------------------------------------------------------


def tokens_to_bytes(tokens: np.ndarray) -> np.ndarray:
    """Little-endian byte image of an int32 token array."""
    return np.ascontiguousarray(tokens, dtype="<i4").view(np.uint8)


def byte_image_symbols(img: np.ndarray, width_bits: int) -> tuple[np.ndarray, int]:
    """View a byte image as `width_bits`-bit symbols, zero-padding the
    tail. Returns (symbol_array, pad_bytes)."""
    step = width_bits // 8
    pad = (-len(img)) % step
    if pad:
        img = np.concatenate([img, np.zeros(pad, dtype=np.uint8)])
    return img.view(np.dtype(f"<u{step}")), pad


def sym_int_view(img: np.ndarray, sym_bytes: int, n_sym: int) -> np.ndarray:
    """Little-endian integers of the aligned symbol prefix. Native
    widths (1/2/4/8 bytes) are a free view; 24/48-bit (the reference's
    SYMBOL_MASK widths, masked u32/u64 loads) synthesize the ints from
    the byte matrix — no u3/u6 dtype exists."""
    if sym_bytes in (1, 2, 4, 8):
        return img[: sym_bytes * n_sym].view(f"<u{sym_bytes}")
    m = img[: sym_bytes * n_sym].reshape(n_sym, sym_bytes).astype(np.int64)
    return m @ (np.int64(1) << (8 * np.arange(sym_bytes, dtype=np.int64)))

"""F11: rle8_sh — RLE with a Huffman-esque bit-level command stream.

Reference semantics being reimplemented (NOT ported):
/root/reference/src/rle_sh.c — the reference's declared best-ratio /
slowest codec (README.md:59, 266-268). Format:
  * a BIT header written backwards from the end of the buffer carries
    prefix-coded commands (pattern table rle_sh.c:62-86); a forward
    byte stream carries counts, spelled symbols and raw copies;
  * per-byte symbol codes reference the last RLE symbol (1 bit), a
    cached 2nd/3rd "most important" symbol (3/4 bits), or spell the
    byte (2 bits + the byte); the 2nd/3rd cache promotes a spelled
    symbol when it repeats (rle_sh.c:140-148);
  * block commands: RLE small/large (u8+14 / u32+14 count, large
    carries the symbol and redefines the last-RLE symbol), copy
    small/large (u8+7 / u32+7 raw bytes), encoded-copy (u8+161
    per-byte-coded bytes), terminal = copy-large with count 0
    (rle_sh.c:62-86 patterns, :533-697 decoder).

This implementation keeps the exact command vocabulary, prefix code
table, count offsets and the encoded-copy-vs-raw-copy density rule
(n_rle*7 > n_other*2, rle_sh.c:350-356), but drives segmentation from
maximal runs (find_runs) instead of the reference's incremental
per-byte counters, and requires >= 14 bytes for a change-symbol run
(the reference's >= 10 threshold stores count-14 in a u32, wrapping
for 10..13 — we avoid the wrap; both are documented deviations under
SURVEY §2.1's "ratio parity, not byte-identical streams" position).

Throughput position: per-byte Python work inside literal regions —
this is the ratio-over-speed outlier in the reference too (an order
of magnitude slower decode than every other family). Trialed only at
effort="max"; blocks above _MAX_BYTES are split into independent
rle8m-style subsections (F8) so the tier survives large-block
configs.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import find_runs, pack_sections, unpack_sections

# prefix patterns, written LSB-first (rle_sh.c:62-86)
_LAST_RLE = (0b0, 1)
_COPY_SYM = (0b01, 2)
_SECOND = (0b011, 3)
_THIRD = (0b0111, 4)
_THIRD_ENC = (0b111, 3)          # inside an encoded-copy block
_RLE_SMALL = (0b01111, 5)
_COPY_SMALL = (0b0011111, 7)
_COPY_LARGE = (0b0111111, 7)
_RLE_LARGE = (0b1011111, 7)
_ENCODED_COPY = (0b1111111, 7)

_MIN_COPY = 7
_MIN_RLE = 14
_MIN_ENC_COPY = 161

_INIT_RLE = 0x7F
_INIT_SECOND = 0x80
_INIT_THIRD = 0x7E
_INIT_PREV = 0x80

_MAX_BYTES = 4 << 20  # decline beyond this: per-byte ratio tier


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits = bytearray()

    def write(self, pattern: int, count: int) -> None:
        for _ in range(count):
            self.bits.append(pattern & 1)
            pattern >>= 1

    def pack_reversed(self) -> bytes:
        """Final header bytes: bit i of the stream lands at bit (i%8)
        of byte (i//8), bytes then REVERSED so the first-written byte
        sits at the buffer end — the reference's backwards header
        (rle_sh.c:20-38, memmove :505)."""
        if not self.bits:
            return b"\x00"
        arr = np.frombuffer(bytes(self.bits), dtype=np.uint8)
        return np.packbits(arr, bitorder="little")[::-1].tobytes()


class _ShState:
    __slots__ = ("last_rle", "second", "third", "last_occ")

    def __init__(self):
        self.last_rle = _INIT_RLE
        self.second = _INIT_SECOND
        self.third = _INIT_THIRD
        self.last_occ = _INIT_PREV


def _emit_coded_bytes(region, out: bytearray, bw: _BitWriter,
                      st: _ShState, encoded_mode: bool) -> None:
    """Per-byte symbol codes (rle_sh.c:100-180 / :225-268)."""
    third_pat = _THIRD_ENC if encoded_mode else _THIRD
    if isinstance(region, np.ndarray):
        region = region.tolist()  # python ints iterate ~3x faster
    for sym in region:
        if sym == st.last_rle:
            bw.write(*_LAST_RLE)
        elif sym == st.second:
            bw.write(*_SECOND)
            st.last_occ = sym
        elif sym == st.third:
            bw.write(*third_pat)
            st.last_occ = sym
        else:
            bw.write(*_COPY_SYM)
            if sym == st.last_occ:
                st.third = st.second
                st.second = sym
            st.last_occ = sym
            out.append(sym)


def _flush_copy(region, out: bytearray, bw: _BitWriter,
                st: _ShState) -> None:
    """rle8_sh_copy: raw block for >= 7 bytes, per-byte codes below."""
    n = len(region)
    if n > 255 + _MIN_COPY:
        bw.write(*_COPY_LARGE)
        out += struct.pack("<I", n - _MIN_COPY)
        out += bytes(region)
    elif n >= _MIN_COPY:
        bw.write(*_COPY_SMALL)
        out.append(n - _MIN_COPY)
        out += bytes(region)
    else:
        _emit_coded_bytes(region, out, bw, st, encoded_mode=False)


def _flush_encoded_copy(region, out: bytearray, bw: _BitWriter,
                        st: _ShState) -> None:
    """rle8_sh_encoded_copy: chunked encoded blocks, per-byte-coded
    remainder in copy mode (rle_sh.c:100-205)."""
    pos = 0
    n = len(region)
    while n - pos > _MIN_ENC_COPY:
        stored = min(0xFF, n - pos - _MIN_ENC_COPY)
        consumed = stored + _MIN_ENC_COPY
        bw.write(*_ENCODED_COPY)
        out.append(stored)
        _emit_coded_bytes(region[pos:pos + consumed], out, bw, st,
                          encoded_mode=True)
        pos += consumed
    _emit_coded_bytes(region[pos:], out, bw, st, encoded_mode=False)


def _flush_literals(region, out: bytearray, bw: _BitWriter,
                    st: _ShState) -> None:
    n = len(region)
    if n == 0:
        return
    n_rle = int(np.count_nonzero(region == st.last_rle))
    # density rule (rle_sh.c:350-356): many last-RLE bytes -> the
    # 1-bit-per-byte encoded form beats a raw copy
    if n_rle * 7 > (n - n_rle) * 2:
        _flush_encoded_copy(region, out, bw, st)
    else:
        _flush_copy(region, out, bw, st)


def sh_encode_bytes(img: np.ndarray) -> bytes:
    """Encode a byte image. Images above _MAX_BYTES are split into
    independent rle8m-style subsections (F8, the reference's
    rle8_low_entropy_cpu.c:126-191 sectioning) sharing one outer
    header, so the ratio tier survives large-block configs instead of
    silently declining; each section resets the 2nd/3rd cache, costing
    ~0-2% ratio at 4 MiB sections."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    if n > _MAX_BYTES:
        parts = [_sh_encode_single(img[o:o + _MAX_BYTES])
                 for o in range(0, n, _MAX_BYTES)]
        # total==0 sentinel marks the sectioned container (a single
        # payload's total is its own length, always >= 9)
        return struct.pack("<II", n, 0) + pack_sections(parts)
    return _sh_encode_single(img)


def _sh_encode_single(img: np.ndarray) -> bytes:
    n = len(img)
    out = bytearray(struct.pack("<II", n, 0))
    bw = _BitWriter()
    st = _ShState()
    lit_start = 0
    if n:
        starts, lens = find_runs(img)
        for s, ln, v in zip(starts.tolist(), lens.tolist(),
                            img[starts].tolist()):
            if ln < _MIN_RLE:
                continue  # short runs ride the literal region
            _flush_literals(img[lit_start:s], out, bw, st)
            if v == st.last_rle and ln <= 255 + _MIN_RLE:
                bw.write(*_RLE_SMALL)
                out.append(ln - _MIN_RLE)
            else:
                # large form carries the symbol and redefines the
                # last-RLE symbol (rle_sh.c:436-441, decoder :628-640)
                bw.write(*_RLE_LARGE)
                out += struct.pack("<I", ln - _MIN_RLE)
                out.append(v)
                st.last_rle = v
            lit_start = s + ln
        _flush_literals(img[lit_start:], out, bw, st)
    # terminal: copy-large with count 0 (rle_sh.c:489-493)
    bw.write(*_COPY_LARGE)
    out += struct.pack("<I", 0)
    out += bw.pack_reversed()
    # total compressed size (the reference's pFileHeader[1]): the
    # decoder reads header bits backwards from THIS offset, so framed
    # payloads tolerate trailing junk (tail-scramble contract)
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


class _BitReader:
    __slots__ = ("buf", "idx", "bit")

    def __init__(self, buf, start_idx: int):
        self.buf = buf
        self.idx = start_idx
        self.bit = 0

    def read(self) -> int:
        b = (self.buf[self.idx] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.idx -= 1
        return b


def sh_decode_bytes(buf: bytes | memoryview) -> np.ndarray:
    mv = memoryview(buf)
    n, total = struct.unpack_from("<II", mv, 0)
    if total == 0:  # sectioned container (see sh_encode_bytes)
        parts = unpack_sections(mv[8:])
        out = np.concatenate([_sh_decode_single(p) for p in parts]) \
            if parts else np.zeros(0, np.uint8)
        if len(out) != n:
            raise ValueError("rle8_sh: sectioned payload length mismatch")
        return out
    return _sh_decode_single(mv)


def _sh_decode_single(mv: memoryview) -> np.ndarray:
    n, total = struct.unpack_from("<II", mv, 0)
    out = bytearray()
    br = _BitReader(mv, total - 1)
    st = _ShState()
    pos = 8
    while True:
        ones = 0
        while ones < 7 and br.read():
            ones += 1
        if ones == 0:
            out.append(st.last_rle)
        elif ones == 1:
            sym = mv[pos]
            pos += 1
            if sym == st.last_occ:
                st.third = st.second
                st.second = sym
            st.last_occ = sym
            out.append(sym)
        elif ones == 2:
            st.last_occ = st.second
            out.append(st.second)
        elif ones == 3:
            st.last_occ = st.third
            out.append(st.third)
        elif ones == 4:
            count = mv[pos] + _MIN_RLE
            pos += 1
            out += bytes([st.last_rle]) * count
        elif ones == 5:
            # one more bit disambiguates copy-small vs rle-large
            if br.read():
                count = struct.unpack_from("<I", mv, pos)[0] + _MIN_RLE
                pos += 4
                st.last_rle = mv[pos]
                pos += 1
                out += bytes([st.last_rle]) * count
            else:
                count = mv[pos] + _MIN_COPY
                pos += 1
                out += mv[pos:pos + count]
                pos += count
        elif ones == 6:
            # terminating 0 consumed: copy-large (count 0 = terminal)
            stored = struct.unpack_from("<I", mv, pos)[0]
            pos += 4
            if stored == 0:
                break
            count = stored + _MIN_COPY
            out += mv[pos:pos + count]
            pos += count
        else:  # 7 ones: encoded-copy block
            count = mv[pos] + _MIN_ENC_COPY
            pos += 1
            for _ in range(count):
                if not br.read():
                    out.append(st.last_rle)
                elif not br.read():
                    sym = mv[pos]
                    pos += 1
                    if sym == st.last_occ:
                        st.third = st.second
                        st.second = sym
                    st.last_occ = sym
                    out.append(sym)
                elif not br.read():
                    st.last_occ = st.second
                    out.append(st.second)
                else:
                    st.last_occ = st.third
                    out.append(st.third)
    result = np.frombuffer(bytes(out), dtype=np.uint8)
    if len(result) != n:
        raise ValueError(f"rle8_sh decode length {len(result)} != header {n}")
    return result

"""True F5 short-command block format (+ the F6 greedy tier that shares it).

The reference's best-ratio non-entropy family is the `Xsymlut_short`
grid: a 1-byte command packs [LUT-idx | count | range] for tiny runs, a
3-byte command carries 9-bit count + RANGE_BITS range, and u16/u32
escapes cover everything beyond; the run symbol is an index into an
MTF cache of the last 1/3/7 distinct run symbols and is only spelled
out on a miss (/root/reference/src/rleX_Xsl_short.h:13-53 bit budgets,
:156-372 process_symbol, :440-525 stream framing + terminal).

This module implements that grammar as a REAL stream format (not a
size model): 8-byte header, per-command 1 or 3(+2/4)(+2/4) bytes,
+symbol on LUT miss, interleaved literals, 7-byte / 9+tail terminal,
byte for byte the reference's emit expressions
(tests/refshort.py's ref_short_bytes_exact replays them independently).

The reference writes the format once, as a template instantiated at
every width (rleX_Xsl_short.c:7-270), and so does this module: one
sym-mode encoder/decoder pair over symbols of 1, 2, 3, 4, 6 or 8
bytes. Width 8 (`rle8_*sl_short`) is symbol width 1. Runs are
whole-symbol runs and the command count field stores SYMBOLS (the
reference divides the byte count by TYPE_SIZE/8 when storing,
rleX_Xsl_short.h:171-174); range stays a byte distance; a LUT miss
spells the sym_bytes-wide symbol. The accept rule replicates the
reference's penalty calculus including its 20-bit-vs-16-bit
escape-penalty quirk (:197 uses 0xFFFFF where the emitter switches at
0xFFFF).

Byte-mode greedy (`short_greedy_encode_bytes`, F6) adds the
partial-symbol tier (src/rleX_extreme_cpu_encode.h:114-164, greedy
LUT restart rleX_Xsl_short.h:858-983): runs are byte intervals that
may end inside a trailing symbol (ctz-of-xor prefix extension), and
after a run ends the encoder may restart a run from a LUT symbol on a
>=2-byte prefix match — the feature behind the reference's best
pixel-art ratios. Its counts are bytes, and otherwise its stream is
the F5 one: it goes through the same accept-and-emit step and is read
back by the same command parser, as the reference's F6 encoders reuse
the F5 decoder (src/codec_funcs.h:298-388).

Throughput position: command emission is per-RUN / per-EVENT work
(runs << bytes on the corpora where this family wins); run/event
discovery and stream materialization are vectorized NumPy. This is a
ratio-tier codec (effort="max"), not the speed path — the canonical
SoA formats remain the throughput kernels.
"""

from __future__ import annotations

import bisect
import struct

import numpy as np

from .base import find_runs, sym_int_view

# bit budgets per SYMBOL_COUNT (rleX_Xsl_short.h:13-53)
# lut_bits, count_bits_packed; range_bits_packed = 8 - lut - cbp
_PARAMS = {
    1: dict(lut_bits=1, cbp=3),
    3: dict(lut_bits=2, cbp=3),
    7: dict(lut_bits=3, cbp=2),
}
_COUNT_BITS = 9
_MAX_TINY_COUNT = (1 << _COUNT_BITS) - 1          # 511
_COUNT_OFFSET = 2
_RANGE_OFFSET = 2

# LUT seeds are the byte seeds broadcast across the symbol
# (rleX_Xsl_short.h:393-404, :762-770: 0x00/0x7F/0xFF * VALUE_BROADCAST)
_SEED_BYTES = {1: [0x00], 3: [0x00, 0x7F, 0xFF],
               7: [0x00, 0x7F, 0xFF, 0x01, 0x7E, 0x80, 0xFE]}

# the greedy tier's LUT is the 3-symbol one
_GREEDY_SC = 3


def _lut_seed(sym_count: int, sym_bytes: int) -> list[int]:
    bc = int.from_bytes(b"\x01" * sym_bytes, "little")  # VALUE_BROADCAST
    return [s * bc for s in _SEED_BYTES[sym_count]]


def _stored_offset(sym_bytes: int) -> int:
    """Stored count minus symbol count in sym mode: storedCount =
    count/(TS/8) - MIN_RANGE_SHORT/(TS/8) + 2 (rleX_Xsl_short.h:171-174)."""
    return _COUNT_OFFSET - (2 // sym_bytes)


def _budgets(sym_count: int, sym_bytes: int):
    p = _PARAMS[sym_count]
    lut_bits, cbp = p["lut_bits"], p["cbp"]
    rbp = 8 - lut_bits - cbp
    if sym_count == 7:
        # reference quirk: RANGE_BITS subtracts RBP, not CBP (:47-51)
        range_bits = 24 - lut_bits - rbp - _COUNT_BITS
    else:
        range_bits = 24 - lut_bits - cbp - _COUNT_BITS
    return dict(
        lut_bits=lut_bits, cbp=cbp, rbp=rbp, range_bits=range_bits,
        invalid=(1 << cbp) - 1,
        max_packed_count=(1 << cbp) - 2,
        max_packed_range=(1 << rbp) - 1,
        max_tiny_range=(1 << range_bits) - 1,
        min_long=3 + 4 + 4 + sym_bytes,
    )


def _command(b, idx: int, stored: int, rng: int) -> bytes:
    """Command bytes for one accepted run: the 1-byte tiny command, or
    the 3-byte medium one followed by its count and range escapes."""
    count3 = stored - _COUNT_OFFSET
    range3 = rng - _RANGE_OFFSET
    if range3 <= b["max_packed_range"] and count3 <= b["max_packed_count"]:
        return bytes(((idx << (b["cbp"] + b["rbp"]))
                      | (count3 << b["rbp"]) | range3,))
    if stored <= _MAX_TINY_COUNT:
        scx, cesc = stored, b""
    elif stored <= 0xFFFF:
        scx, cesc = 1, struct.pack("<H", stored)
    else:
        scx, cesc = 0, struct.pack("<I", stored)
    if rng <= b["max_tiny_range"]:
        rx, resc = rng, b""
    elif rng <= 0xFFFF:
        rx, resc = 1, struct.pack("<H", rng)
    else:
        rx, resc = 0, struct.pack("<I", rng)
    return _pack_medium(b, idx, scx, rx) + cesc + resc


def _pack_medium(b, idx: int, scx: int, rx: int) -> bytes:
    """3-byte medium command: byte0 = [lut | INVALID-marker | payload
    top bits] (the reference's valuePack1 shape, :298-310), bytes 1-2 =
    remaining payload = (storedCountX:9 | rangeX:RANGE_BITS)."""
    payload = (scx << b["range_bits"]) | rx
    vp1 = ((idx << (b["cbp"] + b["rbp"]))
           | (b["invalid"] << b["rbp"]) | (payload >> 16))
    return bytes([vp1, (payload >> 8) & 0xFF, payload & 0xFF])


def _penalty(b, miss: bool, sym_bytes: int, stored: int, rng: int) -> int:
    count3 = stored - _COUNT_OFFSET
    range3 = rng - _RANGE_OFFSET
    pen = sym_bytes if miss else 0
    tiny = (range3 <= b["max_packed_range"]
            and count3 <= b["max_packed_count"])
    if not tiny:
        pen += 2
        if not (stored <= _MAX_TINY_COUNT and rng <= b["max_tiny_range"]):
            # the reference's accept penalty switches at 20 bits even
            # though the emitter escapes at 16 (:197) — replicated
            pen += (0 if rng <= b["max_tiny_range"]
                    else 2 if rng <= 0xFFFFF else 4)
            pen += (0 if stored <= _MAX_TINY_COUNT
                    else 2 if stored <= 0xFFFFF else 4)
    return pen


def _emit(img: np.ndarray, sym_count: int, sym_bytes: int, runs,
          lut: list[int]) -> bytes:
    """The one accept-and-emit step of both encoders. `runs` yields
    candidate runs in stream order as (byte start, byte count, stored
    count, symbol). A run is kept if its bytes pay for its command (the
    reference's accept rule) and is written as command, missed symbol,
    then the literals before it. `lut` is the MTF cache this step keeps
    current; the greedy scan, a lazy `runs`, reads it between runs."""
    n = len(img)
    b = _budgets(sym_count, sym_bytes)
    min_long = b["min_long"]
    raw = memoryview(img)
    out = bytearray(struct.pack("<II", n, 0))
    last_rle = 0
    for start, cb, stored, v in runs:
        rng = start - last_rle + _RANGE_OFFSET
        try:
            idx = lut.index(v)
            miss = False
        except ValueError:
            idx = sym_count
            miss = True
        if (cb < min_long
                and cb < 2 + _penalty(b, miss, sym_bytes, stored, rng)):
            continue
        out += _command(b, idx, stored, rng)
        if miss:
            out += v.to_bytes(sym_bytes, "little")
            lut.insert(0, v)
            lut.pop()
        elif idx:
            lut.insert(0, lut.pop(idx))
        out += raw[last_rle:start]
        last_rle = start + cb
    # terminal: a medium command with count escape 0
    # (rleX_Xsl_short.h:460-525). Accepted-final: both escapes u16 zero
    # (7 bytes); else u16 zero count + u32 range carrying the tail copy
    # size (9 bytes + tail)
    if 0 < last_rle == n:
        out += _pack_medium(b, 0, 1, 1) + struct.pack("<HH", 0, 0)
    else:
        out += _pack_medium(b, 0, 1, 0) + struct.pack(
            "<HI", 0, n - last_rle + _RANGE_OFFSET)
        out += raw[last_rle:]
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def _escaped(data: bytes, pos: int, x: int) -> tuple[int, int]:
    """A medium-command field and the position after it: markers 1 and
    0 say the value follows as u16 / u32."""
    if x == 1:
        return struct.unpack_from("<H", data, pos)[0], pos + 2
    if x == 0:
        return struct.unpack_from("<I", data, pos)[0], pos + 4
    return x, pos


def _parse(buf: bytes | memoryview, sym_count: int, sym_bytes: int):
    """The one command parser of both decoders: header, 1-byte and
    3-byte commands, u16/u32 escapes, the LUT move-to-front update and
    the terminal. Returns (n, payload bytes, literal offsets, literal
    lengths, run symbols, stored counts, tail span); literal i precedes
    run i, and the tail (offset, length) follows the last run."""
    data = bytes(buf)
    n = struct.unpack_from("<I", data, 0)[0]
    b = _budgets(sym_count, sym_bytes)
    cbp, rbp, invalid = b["cbp"], b["rbp"], b["invalid"]
    range_bits, rmask = b["range_bits"], (1 << b["rbp"]) - 1
    lut = _lut_seed(sym_count, sym_bytes)
    lit_offs: list[int] = []
    lit_lens: list[int] = []
    syms: list[int] = []
    stored_counts: list[int] = []
    pos = 8
    while True:
        first = data[pos]
        count3f = (first >> rbp) & invalid
        idx = first >> (cbp + rbp)
        if count3f != invalid:
            stored = count3f + _COUNT_OFFSET
            lit_len = first & rmask
            pos += 1
        else:
            payload = (((first & rmask) << 16) | (data[pos + 1] << 8)
                       | data[pos + 2])
            stored, pos = _escaped(data, pos + 3,
                                   (payload >> range_bits) & _MAX_TINY_COUNT)
            rng, pos = _escaped(data, pos, payload & ((1 << range_bits) - 1))
            if stored == 0:  # terminal (accepted-final carries rng 0)
                return (n, data, lit_offs, lit_lens, syms, stored_counts,
                        (pos, max(rng - _RANGE_OFFSET, 0)))
            lit_len = rng - _RANGE_OFFSET
        if idx == sym_count:
            v = int.from_bytes(data[pos:pos + sym_bytes], "little")
            pos += sym_bytes
            lut.insert(0, v)
            lut.pop()
        else:
            v = lut[idx]
            if idx:
                lut.insert(0, lut.pop(idx))
        lit_offs.append(pos)
        lit_lens.append(lit_len)
        pos += lit_len
        syms.append(v)
        stored_counts.append(stored)


def _fill(data: bytes, lit_offs, lit_lens, syms, run_bytes,
          sym_bytes: int, tail: tuple[int, int]) -> np.ndarray:
    """Byte-wise materialization: each run is its literals, then its
    symbol's little-endian bytes repeated over its byte count (a
    partial trailing symbol is a truncation), then the tail."""
    parts = []
    for o, ln, v, cb in zip(lit_offs, lit_lens, syms, run_bytes):
        parts.append(data[o:o + ln])
        parts.append((v.to_bytes(sym_bytes, "little")
                      * (cb // sym_bytes + 1))[:cb])
    parts.append(data[tail[0]:tail[0] + tail[1]])
    return np.frombuffer(bytearray().join(parts), np.uint8)


def _checked(out: np.ndarray, n: int) -> np.ndarray:
    if len(out) != n:
        raise ValueError(f"short decode length {len(out)} != header {n}")
    return out


def short_sym_encode_bytes(img: np.ndarray, sym_count: int = 3,
                           sym_bytes: int = 4) -> bytes:
    """Sym-mode Xsymlut_short at symbol widths 1/2/3/4/6/8 bytes:
    whole-symbol runs, counts stored in symbols; unaligned trailing
    bytes ride the terminal copy."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    sym = sym_int_view(img, sym_bytes, len(img) // sym_bytes)
    starts, lens = find_runs(sym)
    # runs under 2 bytes (length-1 runs at width 1) are exactly the
    # ones the accept rule rejects at every width
    keep = lens * sym_bytes >= 2
    starts, lens = starts[keep], lens[keep]
    runs = zip((starts * sym_bytes).tolist(), (lens * sym_bytes).tolist(),
               (lens + _stored_offset(sym_bytes)).tolist(),
               sym[starts].tolist())
    return _emit(img, sym_count, sym_bytes, runs,
                 _lut_seed(sym_count, sym_bytes))


def short_sym_decode_bytes(buf: bytes | memoryview, sym_count: int = 3,
                           sym_bytes: int = 4) -> np.ndarray:
    """Parse a sym-mode stream back to the byte image. Native widths
    materialize in one symbol-wide np.repeat plus the byte tail; 24/48
    bits (no u3/u6 dtype) fill byte-wise."""
    n, data, lit_offs, lit_lens, syms, stored, tail = _parse(
        buf, sym_count, sym_bytes)
    off = _stored_offset(sym_bytes)
    if sym_bytes in (3, 6):
        run_bytes = [(s - off) * sym_bytes for s in stored]
        return _checked(_fill(data, lit_offs, lit_lens, syms, run_bytes,
                              sym_bytes, tail), n)
    # mid-stream literals are whole symbols in sym mode: join their
    # slices of the payload and view the result once
    dt = np.dtype(f"<u{sym_bytes}")
    lits = np.frombuffer(
        b"".join([data[o:o + ln] for o, ln in zip(lit_offs, lit_lens)]), dt)
    k = len(syms)
    ins = np.cumsum(np.array(lit_lens, np.int64) // sym_bytes) + np.arange(k)
    values = np.empty(len(lits) + k, dtype=dt)
    counts = np.ones(len(lits) + k, dtype=np.int64)
    mask = np.zeros(len(values), dtype=bool)
    mask[ins] = True
    values[~mask] = lits
    # explicit dtype: a plain list assignment coerces through int64
    # and overflows for 64-bit symbols >= 2^63
    values[ins] = np.array(syms, dtype=dt)
    counts[ins] = np.array(stored, np.int64) - off
    out = np.repeat(values, counts).view(np.uint8)
    if tail[1]:
        out = np.concatenate(
            (out, np.frombuffer(data, np.uint8, tail[1], tail[0])))
    return _checked(out, n)


# ---------------------------------------------------------------------------
# F6: byte-mode greedy at widths 16/24/32/48/64 (partial-symbol runs +
# LUT restart)
# ---------------------------------------------------------------------------


def _word_at(img: np.ndarray, p: int, sym_bytes: int) -> int:
    return int.from_bytes(img[p:p + sym_bytes].tobytes(), "little")


def _prefix_len(a: int, b_: int, sym_bytes: int) -> int:
    """Matching little-endian prefix bytes of two symbol words
    (ctz(xor)/8, rleX_extreme_cpu_encode.h:127-137)."""
    d = a ^ b_
    if d == 0:
        return sym_bytes
    return ((d & -d).bit_length() - 1) // 8


class _MatchIndex:
    """Sorted positions of every 2-byte prefix (where a >=2-byte prefix
    match can begin), from one stable sort of the image's byte pairs;
    a query bisects one prefix's slice of that sort through a
    memoryview, so no position becomes a Python object until read."""

    def __init__(self, img: np.ndarray):
        pairs = img[:-1] | (img[1:].astype(np.uint16) << 8)
        self.order = np.argsort(pairs, kind="stable")
        self.pairs = pairs[self.order]
        self.cache: dict[int, memoryview] = {}

    def next_match(self, sym: int, i: int, limit: int) -> int:
        pos = self.cache.get(sym)
        if pos is None:
            key = np.uint16(sym & 0xFFFF)
            pos = self.cache[sym] = memoryview(self.order[
                self.pairs.searchsorted(key):
                self.pairs.searchsorted(key, "right")])
        j = bisect.bisect_left(pos, i)
        p = pos[j] if j < len(pos) else limit
        return p if p < limit else limit


def _greedy_runs(img: np.ndarray, S: int, lut: list[int]):
    """The greedy scan's candidate runs (rleX_Xsl_short.h:858-983) as
    `_emit` takes them, counts in bytes: self-runs need two full
    symbols and extend through the partial trailing symbol (ctz); runs
    may restart from a LUT symbol on a >=2-byte prefix match. Reads
    `lut`, which `_emit` moves to front as it accepts runs."""
    n = len(img)
    # periodicity mask + event indices (vectorized once)
    if n > S:
        eqS = img[S:] == img[:-S]
    else:
        eqS = np.zeros(0, dtype=bool)
    if len(eqS) >= S:
        wS = eqS[: len(eqS) - S + 1].copy()
        for o in range(1, S):
            wS &= eqS[o: len(eqS) - S + 1 + o]
        self_pos = np.flatnonzero(wS).tolist()
    else:
        self_pos = []
    false_pos = np.flatnonzero(~eqS).tolist()
    midx = _MatchIndex(img)
    i = 0
    limit = n - S  # last position where a full symbol fits (<= limit)
    while i <= limit:
        # next self-run start
        j = bisect.bisect_left(self_pos, i)
        p_self = self_pos[j] if j < len(self_pos) else n
        # next LUT-restart candidate (>=2-byte prefix with any entry)
        p_lut = min(midx.next_match(s, i, limit + 1) for s in lut)
        p = min(p_self, p_lut)
        if p > limit:
            return
        if p == p_self:
            # self run: periodic region [p, f+S), f = first eqS False
            jf = bisect.bisect_left(false_pos, p)
            f = false_pos[jf] if jf < len(false_pos) else len(eqS)
            count = f + S - p
            yield p, count, count, _word_at(img, p, S)
            i = p + count
            continue
        # LUT restart at p: first exact match wins, else longest
        # strict-max prefix (rleX_Xsl_short.h:899-948)
        w = _word_at(img, p, S)
        best_len, best_idx = 0, 0
        for jj, s in enumerate(lut):
            pl = _prefix_len(w, s, S)
            if pl == S:
                best_len, best_idx = S, jj
                break
            if pl > best_len:
                best_len, best_idx = pl, jj
        if best_len < 2:
            i = p + 1
            continue
        sym = lut[best_idx]
        count = best_len
        if best_len == S:
            # full match: extend while symbols repeat + partial tail
            pat = np.frombuffer(sym.to_bytes(S, "little"), np.uint8)
            e = p + S
            while e < n and img[e] == pat[(e - p) % S]:
                e += 1
            count = e - p
        yield p, count, count, sym
        i = p + count


def short_greedy_encode_bytes(img: np.ndarray,
                              sym_bytes: int = 4) -> bytes:
    """3symlut byte-mode SHORT encode with the reference's greedy scan
    at widths 16/24/32/48/64; partial LUT runs are emitted
    immediately."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    lut = _lut_seed(_GREEDY_SC, sym_bytes)
    return _emit(img, _GREEDY_SC, sym_bytes,
                 _greedy_runs(img, sym_bytes, lut), lut)


def short_greedy_decode_bytes(buf: bytes | memoryview,
                              sym_bytes: int = 4) -> np.ndarray:
    """Decode a byte-mode greedy stream: the F5 parser, then each
    `count` bytes are a pattern fill of the sym_bytes-wide symbol
    (partial trailing symbol = truncation)."""
    n, data, lit_offs, lit_lens, syms, counts, tail = _parse(
        buf, _GREEDY_SC, sym_bytes)
    return _checked(_fill(data, lit_offs, lit_lens, syms, counts,
                          sym_bytes, tail), n)

"""True F5 short-command block format (+ F6 greedy tier).

The reference's best-ratio non-entropy family is the `Xsymlut_short`
grid: a 1-byte command packs [LUT-idx | count | range] for tiny runs, a
3-byte command carries 9-bit count + RANGE_BITS range, and u16/u32
escapes cover everything beyond; the run symbol is an index into an
MTF cache of the last 1/3/7 distinct run symbols and is only spelled
out on a miss (/root/reference/src/rleX_Xsl_short.h:13-53 bit budgets,
:156-372 process_symbol, :440-525 stream framing + terminal).

This module implements that grammar as a REAL stream format (not a
size model): encode emits the reference's exact byte sizes — 8-byte
header, per-command 1 or 3(+2/4)(+2/4) bytes, +symbol on LUT miss,
interleaved literals, 7-byte / 9+tail terminal — with a canonical
little-endian bit order inside the command word (the budgets, field
widths and escape thresholds match the reference; only the in-word bit
placement is canonicalized, SURVEY §2.1's declared position).

Width-8 (`short_encode_bytes`, SYMBOL_COUNT 1/3/7) walks maximal byte
runs; the accept rule replicates the reference's penalty calculus
including its 20-bit-vs-16-bit escape-penalty quirk
(rleX_Xsl_short.h:197 uses 0xFFFFF where the emitter switches at
0xFFFF).

Byte-mode greedy (`short_greedy_encode_bytes`, F6) adds the
partial-symbol tier (src/rleX_extreme_cpu_encode.h:114-164, greedy
LUT restart rleX_Xsl_short.h:858-983): runs are byte intervals that
may end inside a trailing symbol (ctz-of-xor prefix extension), and
after a run ends the encoder may restart a run from a LUT symbol on a
>=2-byte prefix match — the feature behind the reference's best
pixel-art ratios.

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

from .base import find_runs

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

# reference LUT seeds (rleX_Xsl_short.h:393-404)
_INIT_LUT = {
    1: [0x00],
    3: [0x00, 0x7F, 0xFF],
    7: [0x00, 0x7F, 0xFF, 0x01, 0x7E, 0x80, 0xFE],
}


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


def _cmd_parts(b, idx, sym_count, count, rng):
    """(cmd_bytes, count_escape, range_escape) for one accepted run.
    storedCount == count for width-8 / UNBOUND byte mode."""
    stored = count
    count3 = stored - _COUNT_OFFSET
    range3 = rng - _RANGE_OFFSET
    if range3 <= b["max_packed_range"] and count3 <= b["max_packed_count"]:
        word = ((idx << (b["cbp"] + b["rbp"]))
                | (count3 << b["rbp"]) | range3)
        return bytes([word]), b"", b""
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
    return _pack_medium(b, idx, scx, rx), cesc, resc


def _pack_medium(b, idx: int, scx: int, rx: int) -> bytes:
    """3-byte medium command: byte0 = [lut | INVALID-marker | payload
    top bits] (the reference's valuePack1 shape, :298-310), bytes 1-2 =
    remaining payload = (storedCountX:9 | rangeX:RANGE_BITS)."""
    payload = (scx << b["range_bits"]) | rx
    vp1 = ((idx << (b["cbp"] + b["rbp"]))
           | (b["invalid"] << b["rbp"]) | (payload >> 16))
    return bytes([vp1, (payload >> 8) & 0xFF, payload & 0xFF])


def _parse_medium(b, first: int, b1: int, b2: int):
    idx = first >> (b["cbp"] + b["rbp"])
    payload = ((first & ((1 << b["rbp"]) - 1)) << 16) | (b1 << 8) | b2
    scx = (payload >> b["range_bits"]) & _MAX_TINY_COUNT
    rx = payload & ((1 << b["range_bits"]) - 1)
    return idx, scx, rx


def _penalty(b, miss: bool, sym_bytes: int, count: int, rng: int) -> int:
    stored = count
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


def short_encode_bytes(img: np.ndarray, sym_count: int = 7) -> bytes:
    """Width-8 Xsymlut_short encode: true command stream, exact
    reference byte sizes."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    b = _budgets(sym_count, 1)
    out = bytearray(struct.pack("<II", n, 0))
    lut = list(_INIT_LUT[sym_count])
    if n == 0:
        out += _terminal(b, sym_count, accepted=False, tail=b"")
        struct.pack_into("<I", out, 4, len(out))
        return bytes(out)
    starts, lens = find_runs(img)
    last_rle = 0
    min_long = b["min_long"]
    mv = img  # numpy view; sliced per emit
    for s, ln, v in zip(starts.tolist(), lens.tolist(),
                        img[starts].tolist()):
        if ln < 2:
            continue
        rng = s - last_rle + _RANGE_OFFSET
        try:
            idx = lut.index(v)
            miss = False
        except ValueError:
            idx = sym_count
            miss = True
        if not (ln >= min_long
                or ln >= 2 + _penalty(b, miss, 1, ln, rng)):
            continue
        cmd, cesc, resc = _cmd_parts(b, idx, sym_count, ln, rng)
        out += cmd
        out += cesc
        out += resc
        if miss:
            out.append(v)
            lut.insert(0, v)
            lut.pop()
        elif idx:
            lut.insert(0, lut.pop(idx))
        out += mv[last_rle:s].tobytes()
        last_rle = s + ln
    out += _terminal(b, sym_count, accepted=(last_rle == n),
                     tail=mv[last_rle:].tobytes())
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def _terminal(b, sym_count: int, accepted: bool, tail: bytes) -> bytes:
    """Reference terminal: medium command with count escape == 0
    (rleX_Xsl_short.h:460-525). Accepted-final: both escapes u16 zero
    (7 bytes); else u16 zero count + u32 range carrying the tail copy
    size (9 bytes + tail)."""
    if accepted:
        return _pack_medium(b, 0, 1, 1) + struct.pack("<HH", 0, 0)
    return (_pack_medium(b, 0, 1, 0)
            + struct.pack("<HI", 0, len(tail) + _RANGE_OFFSET) + tail)


def short_decode_bytes(buf: bytes | memoryview,
                       sym_count: int = 7) -> np.ndarray:
    """Parse the width-8 command stream back to the byte image.

    Sequential per-COMMAND parse collecting (literal span, run value,
    run length); the byte image materializes in one vectorized
    np.repeat at the end (commands << bytes)."""
    mv = memoryview(buf)
    n = struct.unpack_from("<I", mv, 0)[0]
    b = _budgets(sym_count, 1)
    lut = list(_INIT_LUT[sym_count])
    pos = 8
    lit_spans: list[tuple[int, int]] = []  # (offset, length) into buf
    run_vals: list[int] = []
    run_lens: list[int] = []
    cbp, rbp = b["cbp"], b["rbp"]
    range_bits, invalid = b["range_bits"], b["invalid"]
    tail_span = (0, 0)
    while True:
        first = mv[pos]
        count3f = (first >> rbp) & ((1 << cbp) - 1)
        if count3f != invalid:
            idx = first >> (cbp + rbp)
            count = (count3f & ((1 << cbp) - 1)) + _COUNT_OFFSET
            lit_len = first & ((1 << rbp) - 1)
            pos += 1
        else:
            idx, scx, rx = _parse_medium(b, first, mv[pos + 1],
                                         mv[pos + 2])
            pos += 3
            if scx == 1:
                stored = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif scx == 0:
                stored = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                stored = scx
            if rx == 1:
                rng = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif rx == 0:
                rng = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                rng = rx
            if stored == 0:  # terminal (accepted-final carries rng 0)
                tail_span = (pos, max(rng - _RANGE_OFFSET, 0))
                break
            count = stored
            lit_len = rng - _RANGE_OFFSET
        if idx == sym_count:
            v = mv[pos]
            pos += 1
            lut.insert(0, v)
            lut.pop()
        else:
            v = lut[idx]
            if idx:
                lut.insert(0, lut.pop(idx))
        lit_spans.append((pos, lit_len))
        pos += lit_len
        run_vals.append(v)
        run_lens.append(count)
    base = np.frombuffer(mv, dtype=np.uint8)
    k = len(run_vals)
    segs = np.empty(2 * k + 1, dtype=np.int64)
    segs[0:2 * k:2] = [sp[1] for sp in lit_spans]
    segs[1:2 * k:2] = run_lens
    segs[2 * k] = tail_span[1]
    lit_parts = [base[o:o + ln] for o, ln in lit_spans]
    lit_parts.append(base[tail_span[0]:tail_span[0] + tail_span[1]])
    lits = (np.concatenate(lit_parts) if lit_parts
            else np.zeros(0, np.uint8))
    # one-repeat materialization: literals are length-1 runs
    values = np.empty(len(lits) + k, dtype=np.uint8)
    counts = np.ones(len(lits) + k, dtype=np.int64)
    lit_cum = np.cumsum(segs[0::2])[:-1] if k else np.zeros(0, np.int64)
    ins = lit_cum + np.arange(k)
    mask = np.zeros(len(values), dtype=bool)
    mask[ins] = True
    values[~mask] = lits
    values[ins] = run_vals
    counts[ins] = run_lens
    out = np.repeat(values, counts)
    assert len(out) == n, f"short decode length {len(out)} != {n}"
    return out


# ---------------------------------------------------------------------------
# F5 at widths 16/24/32/48/64, SYM-aligned: rle{16..64}_Xsymlut_short
# ---------------------------------------------------------------------------

# LUT seeds are the byte seeds broadcast across the symbol
# (rleX_Xsl_short.h:762-770: 0x00/0x7F/0xFF * VALUE_BROADCAST)
_SEED_BYTES = {1: [0x00], 3: [0x00, 0x7F, 0xFF],
               7: [0x00, 0x7F, 0xFF, 0x01, 0x7E, 0x80, 0xFE]}


def _init_lut_wide(sym_count: int, sym_bytes: int) -> list[int]:
    bc = int.from_bytes(b"\x01" * sym_bytes, "little")  # VALUE_BROADCAST
    return [s * bc for s in _SEED_BYTES[sym_count]]


def sym_int_view(img: np.ndarray, sym_bytes: int, n_sym: int) -> np.ndarray:
    """Little-endian integers of the aligned symbol prefix. Native
    widths are a free view; 24/48-bit (the reference's SYMBOL_MASK
    widths, masked u32/u64 loads) synthesize the ints from the byte
    matrix — no u3/u6 dtype exists."""
    if sym_bytes in (2, 4, 8):
        return img[: sym_bytes * n_sym].view(f"<u{sym_bytes}")
    m = img[: sym_bytes * n_sym].reshape(n_sym, sym_bytes).astype(np.int64)
    return m @ (np.int64(1) << (8 * np.arange(sym_bytes, dtype=np.int64)))


def short_sym_encode_bytes(img: np.ndarray, sym_count: int = 3,
                           sym_bytes: int = 4) -> bytes:
    """SYM-mode Xsymlut_short at widths 16/32/64: the same command
    grammar as the width-8 form, but runs are whole-symbol runs and the
    command count field stores SYMBOLS — the reference divides the byte
    count by TYPE_SIZE/8 when storing (rleX_Xsl_short.h:171-174:
    storedCount = count/(TS/8) - MIN_RANGE_SHORT/(TS/8) + 2); range
    stays a byte distance; a LUT miss spells the sym_bytes-wide symbol
    (penalty sym_bytes, :187). Unaligned trailing bytes ride the
    terminal copy."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    b = _budgets(sym_count, sym_bytes)
    out = bytearray(struct.pack("<II", n, 0))
    lut = _init_lut_wide(sym_count, sym_bytes)
    n_sym = n // sym_bytes
    if n_sym == 0:
        out += _terminal(b, sym_count, accepted=False, tail=img.tobytes())
        struct.pack_into("<I", out, 4, len(out))
        return bytes(out)
    sym = sym_int_view(img, sym_bytes, n_sym)
    starts, lens = find_runs(sym)
    last_rle = 0  # byte offset
    min_long = b["min_long"]  # 3 + 4 + 4 + sym_bytes
    stored_off = _COUNT_OFFSET - (2 // sym_bytes)
    for s, ln, v in zip(starts.tolist(), lens.tolist(),
                        sym[starts].tolist()):
        cb = sym_bytes * ln  # run bytes
        sb = sym_bytes * s
        rng = sb - last_rle + _RANGE_OFFSET
        try:
            idx = lut.index(v)
            miss = False
        except ValueError:
            idx = sym_count
            miss = True
        stored = ln + stored_off  # symbols (see docstring)
        if not (cb >= min_long
                or cb >= 2 + _penalty(b, miss, sym_bytes, stored, rng)):
            continue
        cmd, cesc, resc = _cmd_parts(b, idx, sym_count, stored, rng)
        out += cmd
        out += cesc
        out += resc
        if miss:
            out += int(v).to_bytes(sym_bytes, "little")
            lut.insert(0, v)
            lut.pop()
        elif idx:
            lut.insert(0, lut.pop(idx))
        out += img[last_rle:sb].tobytes()
        last_rle = sb + cb
    out += _terminal(b, sym_count, accepted=(last_rle == n),
                     tail=img[last_rle:].tobytes())
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def short_sym_decode_bytes(buf: bytes | memoryview, sym_count: int = 3,
                           sym_bytes: int = 4) -> np.ndarray:
    """Parse a sym-mode stream back to the byte image: same command
    walk as width-8, counts are symbols, misses carry sym_bytes-wide
    symbols; materialization is one symbol-wide np.repeat + byte tail."""
    mv = memoryview(buf)
    n = struct.unpack_from("<I", mv, 0)[0]
    b = _budgets(sym_count, sym_bytes)
    lut = _init_lut_wide(sym_count, sym_bytes)
    pos = 8
    lit_spans: list[tuple[int, int]] = []  # (offset, BYTE length)
    run_vals: list[int] = []
    run_lens: list[int] = []               # SYMBOL counts
    cbp, rbp = b["cbp"], b["rbp"]
    stored_off = _COUNT_OFFSET - (2 // sym_bytes)
    tail_span = (0, 0)
    while True:
        first = mv[pos]
        count3f = (first >> rbp) & ((1 << cbp) - 1)
        if count3f != b["invalid"]:
            idx = first >> (cbp + rbp)
            n_syms = count3f + _COUNT_OFFSET - stored_off
            lit_len = first & ((1 << rbp) - 1)
            pos += 1
        else:
            idx, scx, rx = _parse_medium(b, first, mv[pos + 1],
                                         mv[pos + 2])
            pos += 3
            if scx == 1:
                stored = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif scx == 0:
                stored = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                stored = scx
            if rx == 1:
                rng = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif rx == 0:
                rng = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                rng = rx
            if stored == 0:  # terminal
                tail_span = (pos, max(rng - _RANGE_OFFSET, 0))
                break
            n_syms = stored - stored_off
            lit_len = rng - _RANGE_OFFSET
        if idx == sym_count:
            v = int.from_bytes(mv[pos:pos + sym_bytes], "little")
            pos += sym_bytes
            lut.insert(0, v)
            lut.pop()
        else:
            v = lut[idx]
            if idx:
                lut.insert(0, lut.pop(idx))
        lit_spans.append((pos, lit_len))
        pos += lit_len
        run_vals.append(v)
        run_lens.append(n_syms)
    base = np.frombuffer(mv, dtype=np.uint8)
    k = len(run_vals)
    tail = base[tail_span[0]:tail_span[0] + tail_span[1]]
    if sym_bytes in (2, 4, 8):
        # aligned body in symbol space (mid-stream literals are
        # sym_bytes multiples in sym mode), one-repeat materialization;
        # the byte tail is appended. frombuffer(offset=...) tolerates
        # the arbitrary byte offsets the command stream leaves literals
        # at (a .view would require alignment)
        dt = f"<u{sym_bytes}"
        lit_parts = [np.frombuffer(mv, dt, count=ln // sym_bytes,
                                   offset=o)
                     for o, ln in lit_spans]
        lits = (np.concatenate(lit_parts) if lit_parts
                else np.zeros(0, dt))
        values = np.empty(len(lits) + k, dtype=dt)
        counts = np.ones(len(lits) + k, dtype=np.int64)
        lit_cum = (np.cumsum([sp[1] // sym_bytes for sp in lit_spans])
                   if k else np.zeros(0, np.int64))
        ins = lit_cum + np.arange(k)
        mask = np.zeros(len(values), dtype=bool)
        mask[ins] = True
        values[~mask] = lits
        # explicit dtype: a plain list assignment coerces through int64
        # and overflows for 64-bit symbols >= 2^63
        values[ins] = np.array(run_vals, dtype=dt)
        counts[ins] = run_lens
        body = np.repeat(values, counts).view(np.uint8)
        out = np.concatenate((body, tail)) if len(tail) else body
    else:
        # 24/48-bit: no u3/u6 dtype — per-command byte pieces (literal
        # slices + bytes-repeated symbols), one concatenate at the end
        pieces = []
        for (o, ln), v, c in zip(lit_spans, run_vals, run_lens):
            if ln:
                pieces.append(base[o:o + ln])
            pieces.append(np.frombuffer(
                int(v).to_bytes(sym_bytes, "little") * c, np.uint8))
        if len(tail):
            pieces.append(tail)
        out = (np.concatenate(pieces) if pieces
               else np.zeros(0, np.uint8))
    assert len(out) == n, f"short sym decode length {len(out)} != {n}"
    return out


# ---------------------------------------------------------------------------
# F6: byte-mode greedy at widths 16/24/32/48/64 (partial-symbol runs +
# LUT restart)
# ---------------------------------------------------------------------------

_W32_SC = 3
_W32_INIT = [0x00000000, 0x7F7F7F7F, 0xFFFFFFFF]


def _word_at(img: np.ndarray, p: int, sym_bytes: int = 4) -> int:
    return int.from_bytes(img[p:p + sym_bytes].tobytes(), "little")


def _prefix_len(a: int, b_: int, sym_bytes: int = 4) -> int:
    """Matching little-endian prefix bytes of two symbol words
    (ctz(xor)/8, rleX_extreme_cpu_encode.h:127-137)."""
    d = a ^ b_
    if d == 0:
        return sym_bytes
    return ((d & -d).bit_length() - 1) // 8


class _MatchIndex:
    """Per-symbol sorted positions where a >=2-byte prefix match can
    begin (vectorized once per distinct symbol, then O(log n) bisect
    queries — C-level, no per-event numpy overhead)."""

    def __init__(self, img: np.ndarray):
        self.img = img
        self.cache: dict[int, list[int]] = {}

    def next_match(self, sym: int, i: int, limit: int) -> int:
        pos = self.cache.get(sym)
        if pos is None:
            im = self.img
            b0, b1 = sym & 0xFF, (sym >> 8) & 0xFF
            if len(im) >= 2:
                m = (im[:-1] == b0) & (im[1:] == b1)
                pos = np.flatnonzero(m).tolist()
            else:
                pos = []
            self.cache[sym] = pos
        j = bisect.bisect_left(pos, i)
        p = pos[j] if j < len(pos) else limit
        return p if p < limit else limit


def short_greedy_encode_bytes(img: np.ndarray,
                              sym_bytes: int = 4) -> bytes:
    """3symlut byte-mode SHORT encode with the reference's greedy scan
    at widths 16/24/32/48/64: self-runs need two full symbols, extend
    through the partial trailing symbol (ctz), and runs may restart
    from a LUT symbol on a >=2-byte prefix match — partial LUT runs
    are emitted immediately (rleX_Xsl_short.h:858-983)."""
    S = sym_bytes
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    b = _budgets(_W32_SC, S)
    out = bytearray(struct.pack("<II", n, 0))
    lut = _init_lut_wide(_W32_SC, S)
    if n == 0:
        out += _terminal(b, _W32_SC, accepted=False, tail=b"")
        struct.pack_into("<I", out, 4, len(out))
        return bytes(out)
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
    last_rle = 0
    i = 0
    min_long = b["min_long"]
    limit = n - S  # last position where a full symbol fits (<= limit)

    def accept_emit(sym: int, count: int, run_start: int) -> bool:
        nonlocal last_rle
        rng = run_start - last_rle + _RANGE_OFFSET
        try:
            idx = lut.index(sym)
            miss = False
        except ValueError:
            idx = _W32_SC
            miss = True
        if not (count >= min_long
                or count >= 2 + _penalty(b, miss, S, count, rng)):
            return False
        cmd, cesc, resc = _cmd_parts(b, idx, _W32_SC, count, rng)
        out_local = out
        out_local += cmd
        out_local += cesc
        out_local += resc
        if miss:
            out_local += sym.to_bytes(S, "little")
            lut.insert(0, sym)
            lut.pop()
        elif idx:
            lut.insert(0, lut.pop(idx))
        out_local += img[last_rle:run_start].tobytes()
        last_rle = run_start + count
        return True

    while i <= limit:
        # next self-run start
        j = bisect.bisect_left(self_pos, i)
        p_self = self_pos[j] if j < len(self_pos) else n
        # next LUT-restart candidate (>=2-byte prefix with any entry)
        p_lut = min(midx.next_match(s, i, limit + 1) for s in lut)
        p = min(p_self, p_lut)
        if p > limit:
            break
        if p == p_self:
            # self run: periodic region [p, f+S), f = first eqS False
            jf = bisect.bisect_left(false_pos, p)
            f = false_pos[jf] if jf < len(false_pos) else len(eqS)
            count = f + S - p
            sym = _word_at(img, p, S)
            accept_emit(sym, count, p)
            i = p + count
        else:
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
            if best_len < S:
                count = best_len
                accept_emit(sym, count, p)
                i = p + count
            else:
                # full match: extend while symbols repeat + partial tail
                pat = np.frombuffer(sym.to_bytes(S, "little"), np.uint8)
                e = p + S
                while e < n and img[e] == pat[(e - p) % S]:
                    e += 1
                count = e - p
                accept_emit(sym, count, p)
                i = e
    out += _terminal(b, _W32_SC, accepted=(last_rle == n),
                     tail=img[last_rle:].tobytes())
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def short_greedy_decode_bytes(buf: bytes | memoryview,
                              sym_bytes: int = 4) -> np.ndarray:
    """Decode a byte-mode greedy stream: commands replay the same MTF
    LUT; `count` bytes are a pattern fill of the sym_bytes-wide symbol
    (partial trailing symbol = truncation)."""
    S = sym_bytes
    mv = memoryview(buf)
    n = struct.unpack_from("<I", mv, 0)[0]
    b = _budgets(_W32_SC, S)
    lut = _init_lut_wide(_W32_SC, S)
    pos = 8
    cbp, rbp = b["cbp"], b["rbp"]
    range_bits, invalid = b["range_bits"], b["invalid"]
    out = np.empty(n, dtype=np.uint8)
    w = 0
    base = np.frombuffer(mv, dtype=np.uint8)
    while True:
        first = mv[pos]
        count3f = (first >> rbp) & ((1 << cbp) - 1)
        if count3f != invalid:
            idx = first >> (cbp + rbp)
            count = count3f + _COUNT_OFFSET
            lit_len = first & ((1 << rbp) - 1)
            pos += 1
        else:
            idx, scx, rx = _parse_medium(b, first, mv[pos + 1],
                                         mv[pos + 2])
            pos += 3
            if scx == 1:
                stored = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif scx == 0:
                stored = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                stored = scx
            if rx == 1:
                rng = struct.unpack_from("<H", mv, pos)[0]
                pos += 2
            elif rx == 0:
                rng = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            else:
                rng = rx
            if stored == 0:
                tail = max(rng - _RANGE_OFFSET, 0)
                out[w:w + tail] = base[pos:pos + tail]
                w += tail
                break
            count = stored
            lit_len = rng - _RANGE_OFFSET
        if idx == _W32_SC:
            sym = int.from_bytes(mv[pos:pos + S], "little")
            pos += S
            lut.insert(0, sym)
            lut.pop()
        else:
            sym = lut[idx]
            if idx:
                lut.insert(0, lut.pop(idx))
        out[w:w + lit_len] = base[pos:pos + lit_len]
        pos += lit_len
        w += lit_len
        pat = np.frombuffer(sym.to_bytes(S, "little"), np.uint8)
        reps = count // S + 1
        out[w:w + count] = np.tile(pat, reps)[:count]
        w += count
    assert w == n, f"short greedy decode length {w} != {n}"
    return out

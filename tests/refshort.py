"""Independent replays of the reference's F5 short grammar, the test
oracles for codecs/short.py: ref_short_bytes_exact builds
rleX_Xsl_short.h's whole stream for an image
(`test_short_stream_bytes_match_ref_replay`), ref_short_size_exact
only its byte count (`test_short_sym_stream_matches_ref_model`)."""

from __future__ import annotations

import struct

import numpy as np

from rle_spark.codecs.base import find_runs


# --- F5 short-command (Xsymlut_short) replay --------------------------------
#
# Independent replay of the short grammar
# (/root/reference/src/rleX_Xsl_short.h:156-372 process_symbol,
# :440-525 framing): 1-byte tiny / 3-byte medium (+2/4-byte escapes at
# the 16-bit boundary), +1 symbol byte on MTF-LUT miss, interleaved
# literals, 7-byte or 9+tail terminal. The accept penalty uses the
# reference's 20-bit escape thresholds (:197) even though the emitter
# escapes at 16 bits — replicated. Cross-checks codecs/short.py's real
# stream builder byte for byte (tests assert equality), without sharing
# its emission code; ref_short_size_exact below replays the sizes alone.

_SHORT_PARAMS = {1: (1, 3), 3: (2, 3), 7: (3, 2)}  # (lut_bits, cbp)
_SHORT_INIT = {
    1: [0x00],
    3: [0x00, 0x7F, 0xFF],
    7: [0x00, 0x7F, 0xFF, 0x01, 0x7E, 0x80, 0xFE],
}


def _short_seeds_wide(sym_count: int, sym_bytes: int) -> list[int]:
    """Byte seeds broadcast across the symbol width (the reference's
    0x00/0x7F/0xFF * VALUE_BROADCAST, rleX_Xsl_short.h:762-770)."""
    bc = int.from_bytes(b"\x01" * sym_bytes, "little")
    return [s * bc for s in _SHORT_INIT[sym_count]]


def ref_short_bytes_exact(img: np.ndarray, sym_count: int = 7,
                          sym_bytes: int = 1) -> bytes:
    """BYTE-level independent replay of the reference short encoder —
    the emit expressions transcribed directly from
    rleX_Xsl_short.h:269 (1-byte valuePack8), :283-319 (medium
    valuePack1-3 + u16/u32 escapes, markers storedCountX/rangeX in
    {1, 0}), :352-356 (LUT-miss symbol), :455-517 (terminal forms),
    :390 (8-byte header, [1] = compressed length). Deliberately NOT
    implemented in terms of short.py: stream equality between this
    replay and short_sym_encode_bytes (width 8 = symbol width 1) is the
    byte-exactness proof for the F5 family."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    lut_bits, cbp = _SHORT_PARAMS[sym_count]
    rbp = 8 - lut_bits - cbp
    range_bits = (24 - lut_bits - rbp - 9 if sym_count == 7
                  else 24 - lut_bits - cbp - 9)
    invalid = (1 << cbp) - 1
    max_packed_count = (1 << cbp) - 2
    max_packed_range = (1 << rbp) - 1
    max_tiny_range = (1 << range_bits) - 1
    min_long = 3 + 4 + 4 + sym_bytes
    out = bytearray(struct.pack("<II", n, 0))
    n_sym = n // sym_bytes

    def emit_cmd(idx, stored, rng, v, miss, lit):
        if (rng - 2 <= max_packed_range
                and stored - 2 <= max_packed_count):
            out.append((idx << (cbp + rbp)) | ((stored - 2) << rbp)
                       | (rng - 2))
        else:
            scx = stored if stored <= 511 else (1 if stored <= 0xFFFF
                                                else 0)
            rx = rng if rng <= max_tiny_range else (1 if rng <= 0xFFFF
                                                    else 0)
            out.append(((idx << (cbp + rbp)) | (invalid << rbp)
                        | ((scx << (range_bits - 8)) >> 8)) & 0xFF)
            out.append(((scx << (range_bits - 8)) | (rx >> 8)) & 0xFF)
            out.append(rx & 0xFF)
            if stored != scx:
                out.extend(struct.pack("<H" if stored <= 0xFFFF else "<I",
                                       stored))
            if rng != rx:
                out.extend(struct.pack("<H" if rng <= 0xFFFF else "<I",
                                       rng))
        if miss:
            out.extend(int(v).to_bytes(sym_bytes, "little"))
        out.extend(lit)

    def terminal(sc_byte_payload, accepted, tail):
        out.append(invalid << rbp)
        out.append(sc_byte_payload)
        if accepted:
            out.append(1)
            out.extend(struct.pack("<HH", 0, 0))
        else:
            out.append(0)
            out.extend(struct.pack("<HI", 0, len(tail) + 2))
            out.extend(tail)

    # terminal pv2: 0b100 (sc=3) / 0b1000 (sc=1) / 0b10 (sc=7)
    # (rleX_Xsl_short.h:462-472)
    sc_byte = {3: 0b00000100, 1: 0b00001000, 7: 0b00000010}[sym_count]
    if n_sym == 0:
        terminal(sc_byte, False, img.tobytes())
        struct.pack_into("<I", out, 4, len(out))
        return bytes(out)
    if sym_bytes == 1:
        sym = img
        lut = list(_SHORT_INIT[sym_count])
    elif sym_bytes in (2, 4, 8):
        sym = img[: n_sym * sym_bytes].view(f"<u{sym_bytes}")
        lut = _short_seeds_wide(sym_count, sym_bytes)
    else:
        mtx = (img[: n_sym * sym_bytes]
               .reshape(n_sym, sym_bytes).astype(np.int64))
        sym = mtx @ (np.int64(1) << (8 * np.arange(sym_bytes,
                                                   dtype=np.int64)))
        lut = _short_seeds_wide(sym_count, sym_bytes)
    starts, lens = find_runs(sym)
    last_rle = 0
    for s, ln, v in zip(starts.tolist(), lens.tolist(),
                        sym[starts].tolist()):
        cb = ln * sym_bytes
        sb = s * sym_bytes
        if cb < 2:
            continue
        rng = sb - last_rle + 2
        stored = ln - (2 // sym_bytes) + 2
        miss = v not in lut
        pen = sym_bytes if miss else 0
        tiny = (rng - 2 <= max_packed_range
                and stored - 2 <= max_packed_count)
        if not tiny:
            pen += 2
            if not (stored <= 511 and rng <= max_tiny_range):
                pen += (0 if rng <= max_tiny_range
                        else 2 if rng <= 0xFFFFF else 4)
                pen += 0 if stored <= 511 else 2 if stored <= 0xFFFFF else 4
        if not (cb >= min_long or cb >= 2 + pen):
            continue
        idx = sym_count if miss else lut.index(v)
        emit_cmd(idx, stored, rng, v, miss,
                 img[last_rle:sb].tobytes())
        if miss:
            lut.insert(0, v)
            lut.pop()
        elif idx:
            lut.insert(0, lut.pop(idx))
        last_rle = sb + cb
    terminal(sc_byte, last_rle == n, img[last_rle:].tobytes())
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def ref_short_size_exact(img: np.ndarray, sym_count: int = 7,
                         sym_bytes: int = 1) -> int:
    """sym_bytes=1: width-8 form. sym_bytes=4: the rle32 SYM-mode form
    (runs on whole uint32 symbols, the stored count is in SYMBOLS —
    storedCount = count/(TS/8) - MIN_RANGE_SHORT/(TS/8) + 2,
    rleX_Xsl_short.h:171-174 — range stays a byte distance, a LUT miss
    costs sym_bytes both in the stream and in the accept penalty)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    lut_bits, cbp = _SHORT_PARAMS[sym_count]
    rbp = 8 - lut_bits - cbp
    range_bits = (24 - lut_bits - rbp - 9 if sym_count == 7
                  else 24 - lut_bits - cbp - 9)
    max_packed_count = (1 << cbp) - 2
    max_packed_range = (1 << rbp) - 1
    max_tiny_range = (1 << range_bits) - 1
    min_long = 3 + 4 + 4 + sym_bytes
    size = 8  # 2*u32 header
    n_sym = n // sym_bytes
    if n_sym == 0:
        return size + 9 + n
    if sym_bytes == 1:
        sym = img
        lut = list(_SHORT_INIT[sym_count])
    elif sym_bytes in (2, 4, 8):
        sym = img[: n_sym * sym_bytes].view(f"<u{sym_bytes}")
        lut = _short_seeds_wide(sym_count, sym_bytes)
    else:
        # 24/48-bit (SYMBOL_MASK widths): synthesize the little-endian
        # ints — no u3/u6 dtype (independent of short.py's helper)
        mtx = (img[: n_sym * sym_bytes]
               .reshape(n_sym, sym_bytes).astype(np.int64))
        sym = mtx @ (np.int64(1) << (8 * np.arange(sym_bytes,
                                                   dtype=np.int64)))
        lut = _short_seeds_wide(sym_count, sym_bytes)
    starts, lens = find_runs(sym)
    last_rle = 0  # bytes
    for s, ln, v in zip(starts.tolist(), lens.tolist(),
                        sym[starts].tolist()):
        cb = ln * sym_bytes  # run bytes
        sb = s * sym_bytes
        if cb < 2:
            continue
        rng = sb - last_rle + 2
        stored = ln - (2 // sym_bytes) + 2
        miss = v not in lut
        pen = sym_bytes if miss else 0
        tiny = (rng - 2 <= max_packed_range
                and stored - 2 <= max_packed_count)
        if not tiny:
            pen += 2
            if not (stored <= 511 and rng <= max_tiny_range):
                pen += (0 if rng <= max_tiny_range
                        else 2 if rng <= 0xFFFFF else 4)
                pen += 0 if stored <= 511 else 2 if stored <= 0xFFFFF else 4
        if not (cb >= min_long or cb >= 2 + pen):
            continue
        if tiny:
            size += 1
        else:
            size += 3
            size += 0 if stored <= 511 else 2 if stored <= 0xFFFF else 4
            size += (0 if rng <= max_tiny_range
                     else 2 if rng <= 0xFFFF else 4)
        if miss:
            size += sym_bytes
            lut.insert(0, v)
            lut.pop()
        else:
            i = lut.index(v)
            if i:
                lut.insert(0, lut.pop(i))
        size += sb - last_rle  # literals
        last_rle = sb + cb
    if last_rle == n:
        return size + 7
    return size + 9 + (n - last_rle)

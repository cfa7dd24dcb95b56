"""TRUE interleaved command streams for F1 (base) and F2 (packed).

Reference semantics being reimplemented (NOT ported):
/root/reference/src/rleX_extreme_cpu_encode.h:14-609 (emit decisions +
flush/terminator) and src/rleX_extreme_cpu_decode.h:27-164 (the
copy-then-memset replay loop), constants src/rleX_extreme_cpu.h:1-16.

Format (sym-aligned, symbol width S bytes):
  header: u32 inSize | u32 compSize(unused here; parity comes from the
  command stream), then commands
  F1 command:  [symbol S][storedCount u8, 0 => +u32][range u8, 0 =>
               +u32][literal bytes]      (range = literal length + 1)
  F2 command:  [count u8: bit7 = same-as-last-symbol, low 7 =
               storedCount, 0 => +u32][symbol S only if NOT same]
               [range varint: u8 with LSB 0 = range<<1, else
               u32 = (range<<1)|1]        (PREFER_7_BIT_OR_4_BYTE_COPY,
               always defined for PACKED, src/rleX_extreme_cpu.c:30-33)
  storedCount = n_syms - MIN_RANGE_SHORT/S + 1; decode reverses it
  (src/rleX_extreme_cpu_decode.h:131-135). Emit thresholds
  (src/rleX_extreme_cpu.h:9-16): F1 short needs range <= 255 and
  count_bytes >= S+4; F2 short needs range <= 127 and (count >= 3 with
  the SAME symbol, or count >= S+3); long forms at S+10 / S+11.
  Terminator: zero-count command whose range carries the trailing
  literals (+1), or a zero range when none remain.

The repo's canonical struct-of-arrays formats remain the speed path
(SURVEY §2.1); these are the format-fidelity forms — F1's stream is
asserted byte-for-byte equal to `refmodel.ref_rle_size_exact` on
symbol-aligned inputs (unaligned tails follow the C flush: literal
bytes, where the size model zero-pads instead).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import find_runs, sym_int_view


def _constants(sym_bytes: int, packed: bool):
    if packed:
        return dict(max_range=127,
                    min_short=3,
                    min_medium=sym_bytes + 3,
                    min_long=sym_bytes + 1 + 4 + 5 + 1)
    ms = sym_bytes + 1 + 1 + 2
    return dict(max_range=255, min_short=ms, min_medium=ms,
                min_long=sym_bytes + 1 + 4 + 4 + 2)


def _unbound_runs(img: np.ndarray, S: int, min_bytes: int):
    """Byte-aligned (UNBOUND) runs: maximal intervals where
    img[i] == img[i-S] — runs start anywhere and may end inside a
    partial trailing symbol (src/rleX_extreme_cpu.h:23-35). Yields
    (byte_start, byte_count, symbol_int) with the symbol read at the
    run start (the pattern phase anchor). Intervals shorter than
    min_bytes are prefiltered VECTORIZED — noisy data otherwise
    produces millions of never-emittable two-byte intervals that the
    per-run Python loop would walk."""
    n = len(img)
    if n <= S:
        return
    m = img[S:] == img[:-S]
    starts, lens = find_runs(m)
    good = m[starts] & (lens + S >= min_bytes)
    for s, ln in zip(starts[good].tolist(), lens[good].tolist()):
        yield s, ln + S, int.from_bytes(img[s:s + S].tobytes(), "little")


def rlex_encode_bytes(img: np.ndarray, sym_bytes: int = 4,
                      packed: bool = False,
                      unbound: bool = False) -> bytes:
    S = sym_bytes
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    c = _constants(S, packed)
    out = bytearray(struct.pack("<II", n, 0))
    last_rle = 0
    last_symbol = 0  # packed state init (encode.h:43)
    n_sym = n // S
    if unbound:
        # UNBOUND: byte counts, runs start anywhere
        # (storedCount = count - MIN_SHORT + 1, encode.h:192-196)
        run_iter = _unbound_runs(img, S, c["min_short"])
        stored_off = 1 - c["min_short"]
    elif n_sym:
        sym = sym_int_view(img, S, n_sym)
        starts, lens = find_runs(sym)
        stored_off = 1 - c["min_short"] // S
        run_iter = ((S * s, S * ln, v) for s, ln, v in
                    zip(starts.tolist(), lens.tolist(),
                        sym[starts].tolist()))
    else:
        run_iter = iter(())
        stored_off = 0
    for sb, cb, v in run_iter:
        if unbound and sb < last_rle:
            # adjacent stride intervals overlap by up to S-1 bytes (one
            # false stride position separates the m-runs but not the
            # byte spans); re-anchor the survivor at last_rle — the
            # periodicity still holds, only the pattern phase moves
            if sb + cb <= last_rle:
                continue
            cb -= last_rle - sb
            sb = last_rle
            v = int.from_bytes(img[sb:sb + S].tobytes(), "little")
        ln = cb if unbound else cb // S
        rng = sb - last_rle + 1
        same = packed and v == last_symbol
        if rng <= c["max_range"] and (
                cb >= (c["min_short"] if (same or not packed)
                       else c["min_medium"])):
            long_form = False
        elif cb >= c["min_long"]:
            long_form = True
        else:
            continue
        stored = ln + stored_off
        if packed:
            mask = 0x80 if same else 0
            last_symbol = v
            if stored <= 0x7F:
                out.append(stored | mask)
            else:
                out.append(mask)
                out += struct.pack("<I", stored)
            if not same:
                out += int(v).to_bytes(S, "little")
            if long_form:
                out += struct.pack("<I", (rng << 1) | 1)
            else:
                out.append((rng << 1) & 0xFF)
        else:
            out += int(v).to_bytes(S, "little")
            if stored <= 255:
                out.append(stored)
            else:
                out.append(0)
                out += struct.pack("<I", stored)
            if long_form:
                out.append(0)
                out += struct.pack("<I", rng)
            else:
                out.append(rng)
        out += img[last_rle:sb].tobytes()
        last_rle = sb + cb
    # terminator (encode.h:455-601): zero count, range carries the tail
    tail = n - last_rle
    if packed:
        out.append(0x80)
        out += struct.pack("<I", 0)
        out += struct.pack("<I", ((tail + 1) << 1) | 1 if tail else 1)
    else:
        out += b"\x00" * S
        out.append(0)
        out += struct.pack("<I", 0)
        out.append(0)
        out += struct.pack("<I", tail + 1 if tail else 0)
    out += img[last_rle:].tobytes()
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def rlex_decode_bytes(buf: bytes | memoryview, sym_bytes: int = 4,
                      packed: bool = False,
                      unbound: bool = False) -> np.ndarray:
    """Copy-then-memset replay (decode.h:27-164): per command, copy
    range-1 literal bytes, then fill the run; storedCount 0 after the
    copy (or a zero range) terminates. UNBOUND counts are bytes and
    the symbol pattern truncates mid-symbol (decode.h:131-135)."""
    S = sym_bytes
    mv = memoryview(buf)
    n = struct.unpack_from("<I", mv, 0)[0]
    c = _constants(S, packed)
    add_back = (c["min_short"] - 1 if unbound
                else c["min_short"] // S - 1)
    base = np.frombuffer(mv, dtype=np.uint8)
    pos = 8
    pieces = []
    last_symbol = 0
    while True:
        if packed:
            b0 = mv[pos]
            pos += 1
            same = bool(b0 & 0x80)
            stored = b0 & 0x7F
            if stored == 0:
                stored = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            if same:
                v = last_symbol
            else:
                v = int.from_bytes(mv[pos:pos + S], "little")
                pos += S
                last_symbol = v
            r0 = mv[pos]
            if r0 & 1:
                rng = struct.unpack_from("<I", mv, pos)[0] >> 1
                pos += 4
                if rng == 0:
                    break
            else:
                rng = r0 >> 1
                pos += 1
        else:
            v = int.from_bytes(mv[pos:pos + S], "little")
            pos += S
            stored = mv[pos]
            pos += 1
            if stored == 0:
                stored = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
            rng = mv[pos]
            pos += 1
            if rng == 0:
                rng = struct.unpack_from("<I", mv, pos)[0]
                pos += 4
                if rng == 0:
                    break
        lit = rng - 1
        if lit:
            pieces.append(base[pos:pos + lit])
            pos += lit
        if stored == 0:  # terminator after its tail copy
            break
        cb = (stored + add_back) * (1 if unbound else S)
        pat = int(v).to_bytes(S, "little") * (cb // S + 1)
        pieces.append(np.frombuffer(pat[:cb], np.uint8))
    out = (np.concatenate(pieces) if pieces else np.zeros(0, np.uint8))
    if len(out) != n:
        raise ValueError(f"rlex decode length {len(out)} != header {n}")
    return out

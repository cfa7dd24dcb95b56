"""Independent size-only replay of the reference's F5 short grammar:
the byte count of rleX_Xsl_short.h's stream for an image, without
building it — the test oracle `test_short_sym_stream_matches_ref_model`
checks codecs/short.py's stream lengths against. The grammar's LUT
parameters and seeds come from rle_spark.codecs.refmodel, whose
ref_short_bytes_exact replays the full stream."""

from __future__ import annotations

import numpy as np

from rle_spark.codecs.base import find_runs
from rle_spark.codecs.refmodel import (_SHORT_INIT, _SHORT_PARAMS,
                                       _short_seeds_wide)


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

"""Single-symbol RLE (family F3).

Reference semantics: pick ONE most-profitable symbol for the whole
block and RLE only runs of that symbol; the command stream then drops
the symbol field entirely. Selection heuristic is the reference's
run-aware savings argmax `saved = total_run_len - 2*run_count`
(/root/reference/src/rle8_extreme_cpu.c:53-153, esp. :135-152); the
chosen symbol is carried in the header like the reference's
`rle8_extreme_t.symbol` (/root/reference/src/rle8_extreme_cpu.h:359-370).

Our format (struct-of-arrays, like rle.py but with no run_values
stream):
  [0] header      — pack_ints([chosen_symbol])
  [1] run_lens    — pack_ints
  [2] lit_lens    — pack_ints (k+1 spans)
  [3] lit_values  — pack_ints
"""

from __future__ import annotations

import numpy as np

from .base import (
    fill_runs,
    long_runs,
    pack_ints,
    pack_ints_size,
    pack_sections,
    packed_size,
    scatter_segments,
    sections_size,
    unpack_ints,
    unpack_sections,
)
from .rle import literal_sizes, literal_spans


def single_runs(sym: np.ndarray, runs=None):
    """(symbol, run_starts, run_lens) for the argmax-savings symbol per
    the reference heuristic, or None if no symbol has positive savings.
    A symbol saves sum(len - 2) over its runs of length >= 2, which is
    positive exactly when one of them has length >= 3. `runs` may pass
    in `long_runs(sym, 2)`."""
    starts, lens = runs if runs is not None else long_runs(sym, 2)
    if not len(starts):
        return None
    uniq, inv = np.unique(sym[starts], return_inverse=True)
    savings = np.bincount(inv, weights=(lens - 2).astype(np.float64))
    best = int(np.argmax(savings))
    if savings[best] <= 0:
        return None
    keep = inv == best
    return int(uniq[best]), starts[keep], lens[keep]


def single_encode_symbols(sym: np.ndarray) -> bytes | None:
    """Encode runs of one chosen symbol only; everything else literal.

    Returns None when no profitable symbol exists (caller falls back)."""
    chosen = single_runs(sym)
    if chosen is None:
        return None
    symbol, run_starts, run_lens = chosen
    lit_lens, lit_values = literal_spans(sym, run_starts, run_lens)
    return pack_sections([
        pack_ints(np.array([symbol], dtype=np.int64)),
        pack_ints(run_lens),
        pack_ints(lit_lens),
        pack_ints(lit_values),
    ])


def single_size(sym: np.ndarray, runs, lo: int, hi: int) -> float:
    """len(single_encode_symbols(sym)), or inf when it declines, without
    encoding, from `runs = long_runs(sym, 2)` and sym's min lo and max
    hi."""
    chosen = single_runs(sym, runs)
    if chosen is None:
        return float("inf")
    symbol, run_starts, run_lens = chosen
    return sections_size([
        pack_ints_size(1, symbol, symbol), packed_size(run_lens),
        *literal_sizes(sym, run_starts, run_lens, lo, hi,
                       np.array([symbol]))])


def single_decode_symbols(buf: bytes | memoryview, dtype) -> np.ndarray:
    s = unpack_sections(buf)
    symbol = int(unpack_ints(s[0])[0])
    run_lens = unpack_ints(s[1])
    lit_lens = unpack_ints(s[2])
    # int32 targets assemble in int32 directly: the O(n) literal stream
    # is emitted at 4 B/elem and the final converting copy disappears
    # (values fit dtype by construction — they were encoded from it)
    dt = np.dtype(dtype)
    work = np.int32 if dt == np.int32 else np.int64
    lit_values = unpack_ints(s[3], out_dtype=work)
    k = len(run_lens)
    seg = np.empty(2 * k + 1, dtype=np.int64)
    seg[0::2] = lit_lens
    seg[1::2] = run_lens
    starts = np.cumsum(seg) - seg
    out = np.empty(int(seg.sum()), dtype=work)
    scatter_segments(out, starts[0::2], lit_lens, lit_values)
    fill_runs(out, starts[1::2], run_lens,
              np.full(k, symbol, dtype=work))
    return out.astype(dt, copy=False)

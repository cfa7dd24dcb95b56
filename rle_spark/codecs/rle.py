"""Hybrid run-length codec over fixed-width symbols (families F1/F2/F5).

Reference semantics being reimplemented (NOT ported):
  * multi-width RLE with alternating literal-copy / run regions —
    /root/reference/src/rleX_extreme_cpu_encode.h:14-609 (the greedy
    scan emitting (symbol, count, range=copy-len) commands) and the
    matching memcpy/memset decode loop
    /root/reference/src/rleX_extreme_cpu_decode.h:27-164.
  * symbol width as a codec parameter (8/16/32/64 bit), macro-
    instantiated in the reference at /root/reference/src/rleX_extreme_cpu.c:4-64.
  * a run is only emitted when longer than the command cost
    (MIN_RANGE thresholds, /root/reference/src/rleX_extreme_cpu.h:10-15).

Our format is struct-of-arrays instead of an interleaved command
stream — the Spark-native choice: four frame-of-reference bit-packed
sub-streams decode with np.repeat/scatter (fully vectorized), where the
reference replays commands one at a time. Ratio parity vs the
reference's interleaved format is asserted in tests against the exact
size model in `refmodel.py` ("ratio parity is what matters, not
byte-identical streams" — SURVEY.md §2.1 F5).

Layout (via pack_sections):
  [0] run_values  — pack_ints of the per-run symbols
  [1] run_lens    — pack_ints of run lengths (always >= min_run)
  [2] lit_lens    — pack_ints of the k+1 literal-span lengths
  [3] lit_values  — pack_ints of the literal symbols, in order

The "packed" variant (F2's same-as-last-symbol bit,
/root/reference/src/rleX_extreme_cpu_encode.h:206-228) is expressed here
as delta-coding of run_values: runs repeating a recent symbol cost ~0
bits after frame-of-reference packing of the deltas, which subsumes the
1-bit flag without a separate format.
"""

from __future__ import annotations

import numpy as np

from .base import (
    fill_runs,
    find_runs,
    inner_offsets,
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

DEFAULT_MIN_RUN = 3
# k runs over n symbols take the O(k) slice-copy kernels when
# k * SPARSE_RUN_SPAN < n (on average more than this many symbols per
# run), and the vectorized mask/repeat kernels otherwise; encode and
# decode must agree on the cut
SPARSE_RUN_SPAN = 2500


def split_runs_literals(sym: np.ndarray, min_run: int = DEFAULT_MIN_RUN):
    """Partition a symbol array into emitted runs and literal spans.

    Returns (run_starts, run_lens, run_values, lit_lens, lit_values)
    where lit_lens has len(runs)+1 entries (spans between/around runs).
    """
    run_starts, run_lens = long_runs(sym, min_run)
    run_values = sym[run_starts] if len(run_starts) else sym[:0]
    return (run_starts, run_lens, run_values,
            *literal_spans(sym, run_starts, run_lens))


def literal_spans(sym: np.ndarray, run_starts: np.ndarray,
                  run_lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lit_lens, lit_values): the k+1 spans around k sorted,
    disjoint runs and the symbols in them, in order."""
    n = len(sym)
    lit_starts = np.concatenate(([0], run_starts + run_lens))
    lit_ends = np.concatenate((run_starts, [n]))
    lit_lens = (lit_ends - lit_starts).astype(np.int64)
    total_lit = int(lit_lens.sum())
    k = len(run_lens)
    if not total_lit:
        lit_values = sym[:0]
    elif k * SPARSE_RUN_SPAN < n:
        # few runs (the token-corpus shape: ~0.3 runs/ktok): copy the
        # k+1 contiguous literal spans with plain slices — memcpy
        # speed, no O(n) mask build. The python loop is over RUNS, not
        # elements, so it stays O(k) with k bounded by the threshold.
        out = np.empty(total_lit, dtype=sym.dtype)
        pos = 0
        for s, e in zip(lit_starts.tolist(), lit_ends.tolist()):
            if e > s:
                out[pos:pos + e - s] = sym[s:e]
                pos += e - s
        lit_values = out
    else:
        # run-dense: boolean-mask compress beats both the slice loop
        # and a fancy-index gather — one bool repeat (1 B/elem) + one
        # C-kernel compress, no 8 B/elem position array
        seg = np.empty(2 * k + 1, dtype=np.int64)
        seg[0::2] = lit_lens
        seg[1::2] = run_lens
        flags = np.zeros(2 * k + 1, dtype=bool)
        flags[0::2] = True
        lit_values = sym[np.repeat(flags, seg)]
    return lit_lens, lit_values


def literal_sizes(sym: np.ndarray, run_starts: np.ndarray,
                  run_lens: np.ndarray, lo: int, hi: int,
                  run_syms: np.ndarray) -> list[int]:
    """pack_ints sizes of the lit_lens and lit_values streams around
    these runs of run_syms. lo and hi are the min and max of sym: the
    literals span them unless a run symbol is one of them, and only
    then are the literals gathered to find their range."""
    n = len(sym)
    lit_lens = (np.concatenate((run_starts, [n]))
                - np.concatenate(([0], run_starts + run_lens)))
    n_lit = n - int(run_lens.sum())
    if n_lit and np.isin(run_syms, (lo, hi)).any():
        lit = packed_size(literal_spans(sym, run_starts, run_lens)[1])
    else:
        lit = pack_ints_size(n_lit, lo, hi)
    return [packed_size(lit_lens), lit]


def rle_size(sym: np.ndarray, runs, lo: int, hi: int) -> int:
    """len(rle_encode_symbols(sym, packed=True)), without encoding, from
    `runs = long_runs(sym, 2)` and sym's min lo and max hi."""
    starts, lens = runs
    keep = lens >= DEFAULT_MIN_RUN
    run_starts, run_lens = starts[keep], lens[keep]
    run_values = sym[run_starts]
    rv = run_values.astype(np.int64)
    rv[1:] -= run_values[:-1]  # the packed form delta-codes run symbols
    return sections_size([packed_size(rv), packed_size(run_lens),
                          *literal_sizes(sym, run_starts, run_lens, lo, hi,
                                         run_values), 1])


def rle_encode_symbols(sym: np.ndarray, min_run: int = DEFAULT_MIN_RUN,
                       packed: bool = False) -> bytes:
    """Encode any integer symbol array with the hybrid RLE format."""
    _, run_lens, run_values, lit_lens, lit_values = split_runs_literals(sym, min_run)
    rv = run_values.astype(np.int64, copy=True)
    if packed and len(rv) > 1:
        rv[1:] -= rv[:-1].copy()  # delta of run symbols (mod 2^64 — exact)
    return pack_sections([
        pack_ints(rv),
        pack_ints(run_lens),
        pack_ints(lit_lens),
        pack_ints(lit_values),
        bytes([1 if packed else 0]),
    ])


def rle_encode_multi(components: list[np.ndarray],
                     min_run: int = DEFAULT_MIN_RUN) -> bytes:
    """Hybrid RLE over composite symbols given as parallel component
    arrays (the 128-bit family: a 16-byte symbol = two u64 lanes,
    /root/reference/src/rle128_extreme_cpu.h:47-50 uses __m128i the
    same way). Run boundaries require ALL components equal."""
    n = len(components[0])
    if n == 0:
        neq = np.zeros(0, dtype=bool)
    else:
        neq = np.zeros(n - 1, dtype=bool)
        for comp in components:
            neq |= comp[1:] != comp[:-1]
    change = np.flatnonzero(neq) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [n])).astype(np.int64)
    lens = ends - starts
    keep = lens >= min_run
    run_starts = starts[keep]
    run_lens = lens[keep]
    lit_starts = np.concatenate(([0], run_starts + run_lens))
    lit_ends = np.concatenate((run_starts, [n]))
    lit_lens = (lit_ends - lit_starts).astype(np.int64)
    pos = (np.repeat(lit_starts, lit_lens) + inner_offsets(lit_lens)
           if lit_lens.sum() else np.zeros(0, np.int64))
    parts = [pack_ints(run_lens), pack_ints(lit_lens)]
    for comp in components:
        parts.append(pack_ints(comp[run_starts] if len(run_starts) else comp[:0]))
        parts.append(pack_ints(comp[pos] if len(pos) else comp[:0]))
    return pack_sections(parts)


def rle_decode_multi(buf: bytes | memoryview, n_components: int,
                     dtype) -> list[np.ndarray]:
    s = unpack_sections(buf)
    run_lens = unpack_ints(s[0])
    lit_lens = unpack_ints(s[1])
    k = len(run_lens)
    seg = np.empty(2 * k + 1, dtype=np.int64)
    seg[0::2] = lit_lens
    seg[1::2] = run_lens
    starts = np.cumsum(seg) - seg
    n = int(seg.sum())
    out = []
    for c in range(n_components):
        run_values = unpack_ints(s[2 + 2 * c])
        lit_values = unpack_ints(s[3 + 2 * c])
        comp = np.empty(n, dtype=np.int64)
        scatter_segments(comp, starts[0::2], lit_lens, lit_values)
        fill_runs(comp, starts[1::2], run_lens, run_values)
        out.append(comp.astype(dtype, copy=False)
                   if np.dtype(dtype) != np.int64 else comp)
    return out


def rle_stride_encode_bytes(img: np.ndarray, stride: int,
                            min_run: int = 8) -> bytes:
    """Byte-aligned (UNBOUND) RLE: a run is a maximal byte interval
    where img[i] == img[i-stride], so runs start anywhere and may end
    inside a partial trailing symbol — the reference's byte-aligned
    semantics (/root/reference/src/rleX_extreme_cpu.h:23-35, partial
    tail extension src/rleX_extreme_cpu_encode.h:114-164). The stride
    covers the 16/24/32/48/64/128-bit widths as stride 2/3/4/6/8/16.

    Sections: [stride u8 header][run_lens][lit_lens][seeds raw]
    [literal bytes raw]. Each run stores its `stride` seed bytes
    explicitly (like the reference command's inline symbol), so decode
    is a dependency-free vectorized pattern fill.
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    n = len(img)
    if n > stride:
        m = img[stride:] == img[:-stride]
        starts, lens = find_runs(m)
        good = m[starts] & (lens >= max(min_run, stride + 2))
        iv_start = starts[good] + stride  # covered byte interval start
        iv_len = lens[good]
    else:
        iv_start = np.zeros(0, dtype=np.int64)
        iv_len = np.zeros(0, dtype=np.int64)
    k = len(iv_start)
    lit_starts = np.concatenate(([0], iv_start + iv_len))
    lit_ends = np.concatenate((iv_start, [n]))
    lit_lens = (lit_ends - lit_starts).astype(np.int64)
    if lit_lens.sum():
        seg = np.empty(2 * k + 1, dtype=np.int64)
        seg[0::2] = lit_lens
        seg[1::2] = iv_len
        flags = np.zeros(2 * k + 1, dtype=bool)
        flags[0::2] = True
        lit_bytes = img[np.repeat(flags, seg)]
    else:
        lit_bytes = img[:0]
    if k:
        seed_pos = (np.repeat(iv_start - stride, stride)
                    + inner_offsets(np.full(k, stride, dtype=np.int64)))
        seeds = img[seed_pos]
    else:
        seeds = img[:0]
    return pack_sections([
        bytes([stride]),
        pack_ints(iv_len),
        pack_ints(lit_lens),
        seeds.tobytes(),
        lit_bytes.tobytes(),
    ])


def rle_stride_decode_bytes(buf: bytes | memoryview) -> np.ndarray:
    s = unpack_sections(buf)
    stride = s[0][0]
    run_lens = unpack_ints(s[1])
    lit_lens = unpack_ints(s[2])
    seeds = np.frombuffer(s[3], dtype=np.uint8)
    lit_bytes = np.frombuffer(s[4], dtype=np.uint8)
    k = len(run_lens)
    seg = np.empty(2 * k + 1, dtype=np.int64)
    seg[0::2] = lit_lens
    seg[1::2] = run_lens
    starts = np.cumsum(seg) - seg
    out = np.empty(int(seg.sum()), dtype=np.uint8)
    scatter_segments(out, starts[0::2], lit_lens, lit_bytes)
    if k:
        # pattern fill: out[run_start + j] = seed[j % stride]
        inner = inner_offsets(run_lens)
        dest = np.repeat(starts[1::2], run_lens) + inner
        seed_base = np.repeat(np.arange(k, dtype=np.int64) * stride, run_lens)
        out[dest] = seeds[seed_base + inner % stride]
    return out


def rle_decode_symbols(buf: bytes | memoryview, dtype) -> np.ndarray:
    """Decode to a symbol array of the given integer dtype.

    Two materialization strategies, picked by run density — both are
    the vectorized equivalent of the reference's memcpy/memset replay
    loop (/root/reference/src/rleX_extreme_cpu_decode.h:27-164):
    sparse runs alternate O(k) literal-span slice copies with scalar
    run fills (memcpy/memset speed, 2.2x the repeat kernel on the
    token corpus); run-dense data builds interleaved (values, counts)
    streams with np.insert and materializes in ONE C repeat kernel
    (~2x a fancy-index scatter there)."""
    s = unpack_sections(buf)
    run_values = unpack_ints(s[0])
    run_lens = unpack_ints(s[1])
    lit_lens = unpack_ints(s[2])
    # the literal stream is the O(n) one: emit it at the target width
    # directly when it fits (int64 fallback is handled by the downcast
    # below); run_values stay int64 for the exact mod-2^64 cumsum
    lit_values = unpack_ints(s[3], out_dtype=dtype)
    if len(s) > 4 and len(s[4]) and s[4][0] == 1 and len(run_values) > 1:
        run_values = np.cumsum(run_values)
    dt = np.dtype(dtype)
    if dt != np.int64:
        # downcast the SMALL value streams before the O(n) repeat so the
        # output materializes at the target width directly (int32 tokens:
        # 4 B/elem writes instead of 8 B + a full converting copy after);
        # values fit dt by construction (they were encoded from dt), and
        # the packed cumsum above already ran in mod-2^64 int64
        run_values = run_values.astype(dt, copy=False)
        lit_values = lit_values.astype(dt, copy=False)
    k = len(run_lens)
    if k == 0:
        out = lit_values
    elif k * SPARSE_RUN_SPAN < (n := int(lit_lens.sum() + run_lens.sum())):
        # sparse runs (the token-corpus shape): alternate O(k) slice
        # copies (literal spans, memcpy speed) and scalar fills (runs,
        # memset speed) into a preallocated output — np.repeat walks
        # its count array per ELEMENT, which for ~264k count-1 literals
        # costs 2.2x this loop over ~85 runs (measured)
        out = np.empty(n, dt)
        ll = lit_lens.tolist()
        rl = run_lens.tolist()
        pos = lo = 0
        for i in range(k):
            length = ll[i]
            if length:
                out[pos:pos + length] = lit_values[lo:lo + length]
                pos += length
                lo += length
            r = rl[i]
            out[pos:pos + r] = run_values[i]
            pos += r
        length = ll[k]
        if length:
            out[pos:pos + length] = lit_values[lo:lo + length]
    else:
        # run-dense: ONE C repeat kernel over the interleaved
        # (values, counts) streams. run i sits after literal span i:
        # insertion point = cumulative literal length; after insertion
        # it lands at ins_pos[i] + i
        ins_pos = np.cumsum(lit_lens[:k])
        values = np.insert(lit_values, ins_pos, run_values)
        counts = np.ones(len(values), dtype=np.int64)
        counts[ins_pos + np.arange(k)] = run_lens
        out = np.repeat(values, counts)
    return out.astype(dt, copy=False)

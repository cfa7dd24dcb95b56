"""Exact size accounting of the reference RLE format — the ratio yardstick.

The north rule requires our compressed bytes per column to be <= the
reference's RLE output on the same blocks. Rather than porting the
reference encoder, we model its output SIZE exactly and assert
`engine_size <= ref_rle_size` in tests (SURVEY.md §7.3).

Modeled format: non-PACKED, symbol-aligned F1
(/root/reference/src/rleX_extreme_cpu_encode.h:172-311, flush
:384-470):
  * a maximal run of `count` bytes of one symbol ends at scan pos i;
    copy range = i - lastRLE - count + 1 (literals since last emit +1)
  * short emit if range <= 255 and count >= MIN_SHORT
      cost = sizeof(sym) + (1 if storedCount<=255 else 5) + 1 + copySize
  * long emit if count >= MIN_LONG = sizeof(sym)+1+4+4+2
      cost = sizeof(sym) + (1 if storedCount<=255 else 5) + 1+4 + copySize
  * storedCount = count/sizeof(sym) - MIN_SHORT/sizeof(sym) + 1
  * otherwise the run stays inside the literal region
  * header = 2*u32 (:21-24); terminator = zero command + tail literals
    (:455-470 in the flush block)

`ref_rle_size_exact` replays this greedy sequentially over the run
list (test/analysis use only — NOT the hot path).

`ref_rle_size_model_v1` is the order-independent variant used for the
SQL oracle (gap measured to the previous emit-eligible run instead of
the previous actually-emitted run); it must match the SQL in
__spark_entry__.py exactly, value for value.
"""

from __future__ import annotations

import numpy as np

from .base import find_runs


def _min_short(sym_bytes: int) -> int:
    return sym_bytes + 1 + 1 + 2


def _min_long(sym_bytes: int) -> int:
    return sym_bytes + 1 + 4 + 4 + 2


def ref_rle_size_exact(img: np.ndarray, sym_bytes: int = 1) -> int:
    """Sequential replay of the reference emit decisions; returns bytes.

    `img` is the byte image; runs are detected on sym_bytes-wide symbols
    (sym-aligned). Only the size is computed, not the stream.
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    nbytes = len(img)
    if nbytes == 0:
        return 8
    if sym_bytes > 1:
        pad = (-nbytes) % sym_bytes
        if pad:
            img = np.concatenate([img, np.zeros(pad, dtype=np.uint8)])
        if sym_bytes in (2, 4, 8):
            sym = img.view(np.dtype(f"<u{sym_bytes}"))
        else:
            # 24/48-bit: synthesize little-endian symbol ints (no u3/u6)
            mtx = img.reshape(-1, sym_bytes).astype(np.int64)
            sym = mtx @ (np.int64(1) << (8 * np.arange(sym_bytes,
                                                       dtype=np.int64)))
    else:
        sym = img
    starts, lens = find_runs(sym)
    min_short = _min_short(sym_bytes)
    min_long = _min_long(sym_bytes)
    size = 8  # 2*u32 header
    last_rle = 0  # in bytes
    for s, ln in zip(starts.tolist(), lens.tolist()):
        count = ln * sym_bytes
        if count < min_short:
            continue
        end = (s + ln) * sym_bytes
        rng = end - last_rle - count + 1
        stored = ln - min_short // sym_bytes + 1
        count_bytes = 1 if stored <= 255 else 5
        copy_size = end - count - last_rle
        if rng <= 255:
            size += sym_bytes + count_bytes + 1 + copy_size
            last_rle = end
        elif count >= min_long:
            size += sym_bytes + count_bytes + 1 + 4 + copy_size
            last_rle = end
    # flush: terminator command + remaining literals
    tail = len(img) - last_rle
    size += sym_bytes + 1 + 4 + 1 + 4 + tail
    return size


def ref_rle_size_model_v1(img: np.ndarray, sym_bytes: int = 1) -> int:
    """Order-independent size model (SQL-oracle-expressible).

    Differences from exact: a run is emit-eligible iff its byte count
    >= MIN_SHORT; the copy gap is measured to the END of the previous
    emit-eligible run; eligible runs with gap+1 > 255 use the long
    (range-escape) form when count >= MIN_LONG, else fall back to
    literals. Matches `q_ref_rle8_size` in __spark_entry__.py.
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    nbytes = len(img)
    if nbytes == 0:
        return 8
    if sym_bytes > 1:
        pad = (-nbytes) % sym_bytes
        if pad:
            img = np.concatenate([img, np.zeros(pad, dtype=np.uint8)])
        if sym_bytes in (2, 4, 8):
            sym = img.view(np.dtype(f"<u{sym_bytes}"))
        else:
            # 24/48-bit: synthesize little-endian symbol ints (no u3/u6)
            mtx = img.reshape(-1, sym_bytes).astype(np.int64)
            sym = mtx @ (np.int64(1) << (8 * np.arange(sym_bytes,
                                                       dtype=np.int64)))
    else:
        sym = img
    starts, lens = find_runs(sym)
    min_short = _min_short(sym_bytes)
    min_long = _min_long(sym_bytes)
    counts = lens * sym_bytes
    elig = counts >= min_short
    e_starts = starts[elig] * sym_bytes
    e_counts = counts[elig]
    e_lens = lens[elig]
    e_ends = e_starts + e_counts
    prev_end = np.concatenate(([0], e_ends[:-1]))
    rng = e_starts - prev_end + 1
    stored = e_lens - min_short // sym_bytes + 1
    count_bytes = np.where(stored <= 255, 1, 5)
    short_ok = rng <= 255
    long_ok = (~short_ok) & (e_counts >= min_long)
    emitted = short_ok | long_ok
    cmd = sym_bytes + count_bytes + np.where(short_ok, 1, 5)
    cmd_total = int(cmd[emitted].sum())
    run_bytes_total = int(e_counts[emitted].sum())
    literal_total = int(nbytes - run_bytes_total)
    return 8 + cmd_total + literal_total + sym_bytes + 10

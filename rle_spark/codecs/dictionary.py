"""Dictionary encoding (north-rule extra; no reference counterpart —
closest in-reference precedent is the n-Sym-LUT recent-symbols cache,
/root/reference/src/rleX_Xsl.h:134-188, which is a 1/3/7-entry
dictionary).

Format: sorted unique values, delta-coded then frame-of-reference
bit-packed; codes bit-packed at ceil(log2(k)) bits via pack_ints.
Sections: [0] dict deltas, [1] codes.
"""

from __future__ import annotations

import numpy as np

from .base import (
    pack_ints,
    pack_ints_size,
    pack_sections,
    sections_size,
    unpack_ints,
    unpack_sections,
)


_DENSE_SPAN = 1 << 20


def _present(offs: np.ndarray, span: int) -> np.ndarray:
    """The sorted distinct values of offs, all in [0, span), from a
    dense presence bitmap: O(n + span), no sort."""
    present = np.zeros(span, dtype=bool)
    present[offs] = True
    return np.flatnonzero(present)


def sorted_uniques(a: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """np.unique(a) for a non-empty array with min lo and max hi: the
    presence bitmap when the span is at most _DENSE_SPAN, else
    np.unique's sort (on 262144 random wide values that is ~4x faster
    than pandas' hash unique plus a sort of the uniques)."""
    span = hi - lo + 1
    if span > _DENSE_SPAN:
        return np.unique(a)
    return _present(a - lo, span) + lo


def dict_size(uniq: np.ndarray, n: int) -> int:
    """len(dict_encode(a)), without encoding, for n tokens whose sorted
    uniques are uniq (non-empty)."""
    k = len(uniq)
    first = int(uniq[0])  # delta-coded against 0
    gaps = np.subtract(uniq[1:], uniq[:-1], dtype=np.int64)
    lo, hi = ((min(int(gaps.min()), first), max(int(gaps.max()), first))
              if k > 1 else (first, first))
    return sections_size([pack_ints_size(k, lo, hi),
                          pack_ints_size(n, 0, k - 1)])


def _unique_inverse(a: np.ndarray):
    """np.unique(return_inverse), with the ranks built on the presence
    bitmap of `sorted_uniques` for narrow value ranges (token
    vocabularies), avoiding the O(n log n) sort."""
    if len(a) == 0:
        return a, np.zeros(0, dtype=np.int64)
    lo = int(a.min())
    span = int(a.max()) - lo + 1
    if span <= _DENSE_SPAN:
        offs = (a - lo).astype(np.int64)
        uniq_off = _present(offs, span)
        rank = np.empty(span, dtype=np.int64)
        rank[uniq_off] = np.arange(len(uniq_off))
        return uniq_off + lo, rank[offs]
    try:
        # wide spans: pandas' hash-based factorize beats numpy's sort
        # when the inverse is needed too and the dictionary is small
        # (~4x on 262144 tokens of 300 values); sort the dict table
        # after and remap the codes so the output is identical to
        # np.unique(return_inverse)
        import pandas as pd
        codes, uniq_seen = pd.factorize(a, sort=False)
        order = np.argsort(uniq_seen, kind="stable")
        remap = np.empty(len(order), dtype=np.int64)
        remap[order] = np.arange(len(order))
        return uniq_seen[order], remap[codes]
    except ImportError:
        return np.unique(a, return_inverse=True)


def dict_encode(arr: np.ndarray) -> bytes:
    # keep the source dtype through the O(n) unique/inverse pass (the
    # int64 promotion was a full extra pass); only the SMALL dict
    # table is widened for the exact delta math below
    a = np.ascontiguousarray(arr)
    if not np.issubdtype(a.dtype, np.integer):
        raise TypeError(f"dict_encode needs an integer array, got {a.dtype}")
    uniq, inv = _unique_inverse(a)
    uniq = uniq.astype(np.int64, copy=False)
    deltas = np.diff(uniq, prepend=uniq[:1]) if len(uniq) else uniq
    if len(uniq):
        deltas = deltas.copy()
        deltas[0] = uniq[0]
    return pack_sections([pack_ints(deltas), pack_ints(inv)])


def dict_decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    s = unpack_sections(buf)
    uniq = np.cumsum(unpack_ints(s[0]))
    # codes are in [0, |dict|) so the int32 emission always engages;
    # downcasting the small dict table before the O(n) gather makes the
    # output materialize at the target width directly
    codes = unpack_ints(s[1], out_dtype=np.int32)
    if len(uniq) == 0:
        return np.zeros(0, dtype=dtype)
    dt = np.dtype(dtype)
    if dt != np.int64:
        uniq = uniq.astype(dt, copy=False)
    return uniq[codes]

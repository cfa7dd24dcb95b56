"""Codec registry — the codec_funcs.h analogue, as one table.

The reference registers every codec as a (compress, decompress) pair in
one function-pointer table (src/codec_funcs.h:270-410) keyed by a codec
enum; its benchmark loop iterates that table. `CODECS` is the same
table, one row per codec:

    codec_id  stable integer persisted in every block frame
    name      stable string id (block metadata, selector allow-lists)
    encode    int32 tokens -> payload bytes, or None if the codec declines
    decode    (payload, n_tokens) -> int32 tokens
    tier      how the selector uses the codec (below)
    estimate  block_stats -> exact payload bytes, inf if the codec
              declines (estimate tier only)

Rows are built from two adapters (all but `raw`, whose payload is the
image itself). `_tokens` hands the int32 tokens to the kernel. `_image`
hands it the tokens' little-endian byte image, checks that the decoded
image is n tokens padded to whole symbols, and turns its first n*4
bytes back into tokens. The symbol width is a codec parameter, not a
property of the data (src/rleX_extreme_cpu.c:4-64).

Tiers:

    estimate  token codecs whose payload size follows exactly from
              block_stats; the selector encodes only the smallest
    probe     byte-image codecs cheap enough to trial-encode when the
              estimates are weak or the block is run-heavy, each
              gated by a trial on a sample of the block
    max       ratio-oriented codecs, trialed only at effort="max" (the
              reference's greedy-encoder tier, README.md:251-254)
    fidelity  reference formats kept byte-exact and tested, never
              trialed: the canonical formats are never larger

Within a tier the rows are in trial order. The selector keeps the first
of two payloads of equal size, so reordering rows can change the codec
a block gets, and so the bytes on disk. Codec ids are frozen: never
renumber, only append.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Callable, Optional

import numpy as np

from .base import (
    byte_image_symbols,
    pack_ints,
    pack_ints_size,
    tokens_to_bytes,
    unpack_ints,
)
from .dictionary import dict_decode, dict_encode, dict_size
from .entropy import compose_zlib, decompose_zlib
from .fsst import fsst_decode_bytes, fsst_encode_bytes
from .interleaved import rlex_decode_bytes, rlex_encode_bytes
from .low_entropy import low_entropy_decode_bytes, low_entropy_encode_bytes
from .lut import lut_decode_symbols, lut_encode_symbols
from .mtf import (
    bitmmtf_decode_bytes,
    bitmmtf_encode_bytes,
    mtf_decode_bytes,
    mtf_encode_bytes,
)
from .rle import (
    rle_decode_multi,
    rle_decode_symbols,
    rle_encode_multi,
    rle_encode_symbols,
    rle_size,
    rle_stride_decode_bytes,
    rle_stride_encode_bytes,
)
from .sh import sh_decode_bytes, sh_encode_bytes
from .short import (
    short_greedy_decode_bytes,
    short_greedy_encode_bytes,
    short_sym_decode_bytes,
    short_sym_encode_bytes,
)
from .single import single_decode_symbols, single_encode_symbols, single_size

TOKEN_DTYPE = np.dtype("<i4")


@dataclass(frozen=True)
class Codec:
    codec_id: int
    name: str
    encode: Callable[[np.ndarray], Optional[bytes]]
    decode: Callable[[bytes, int], np.ndarray]
    tier: str
    estimate: Optional[Callable[[dict], float]] = None


# ---------------------------------------------------------------------------
# adapters: each returns an (encode, decode) pair for one row
# ---------------------------------------------------------------------------


def _tokens(encode, decode):
    """`encode(tokens)` sees contiguous int32 tokens; `decode(buf)`
    returns them."""
    return (lambda a: encode(np.ascontiguousarray(a, dtype=TOKEN_DTYPE)),
            lambda buf, n: decode(buf))


def _image(encode, decode, *, symbol_bytes=1, **params):
    """`encode(img, **params)` sees the byte image; `decode(buf,
    **params)` returns the image, zero-padded to whole symbol_bytes-wide
    symbols; a decoded image that is not n tokens so padded raises, as
    does a nonzero padding byte (the frame's n is too short)."""
    enc, dec = partial(encode, **params), partial(decode, **params)

    def decode_tokens(buf, n):
        img = np.frombuffer(dec(buf), np.uint8)
        if len(img) != -(-4 * n // symbol_bytes) * symbol_bytes:
            raise ValueError(f"decoded image of {len(img)} bytes is not "
                             f"{n} tokens")
        if img[4 * n:].any():
            raise ValueError(f"decoded image holds nonzero bytes past "
                             f"its {n} tokens")
        return img[:4 * n].view(TOKEN_DTYPE).copy()

    return (lambda a: enc(tokens_to_bytes(a))), decode_tokens


def _sym_rle(width_bits):
    """The canonical RLE over width_bits-wide symbols of the image."""
    dt = np.dtype(f"<u{width_bits // 8}")
    return _image(
        lambda img: rle_encode_symbols(byte_image_symbols(img, width_bits)[0],
                                       packed=True),
        partial(rle_decode_symbols, dtype=dt), symbol_bytes=dt.itemsize)


def _components(comp_bytes, n_comp):
    """Sym-aligned RLE over a symbol of n_comp comp_bytes-wide lanes:
    the image, zero-padded to whole symbols, becomes n_comp parallel
    columns and runs end on whole symbols only. 24-bit = 3 u8 lanes,
    48-bit = 3 u16 lanes (src/rle24_extreme_cpu.c:1-28,
    src/rle48_extreme_cpu.c:1-27), 128-bit = 2 u64 lanes."""
    dt = np.dtype(f"<u{comp_bytes}")

    def encode(img):
        pad = np.zeros((-len(img)) % (comp_bytes * n_comp), np.uint8)
        m = np.concatenate([img, pad]).view(dt).reshape(-1, n_comp)
        return rle_encode_multi([np.ascontiguousarray(c) for c in m.T])

    return _image(encode,
                  lambda buf: np.stack(rle_decode_multi(buf, n_comp, dt), axis=1),
                  symbol_bytes=comp_bytes * n_comp)


def _rle_after(transform, inverse, **params):
    """A byte transform of the image, then byte RLE of its output."""
    fwd, inv = partial(transform, **params), partial(inverse, **params)
    return _image(lambda img: rle_encode_symbols(fwd(img)),
                  lambda buf: inv(rle_decode_symbols(buf, np.uint8)))


def _zlib_after(stream):
    """Another codec's payload through zlib (the Low Entropy F7
    analogues: the reference shapes these streams for an entropy
    coder)."""
    enc, dec = stream
    return (lambda a: compose_zlib(enc(a)),
            lambda buf, n: dec(decompose_zlib(buf), n))


_short_sym = partial(_image, short_sym_encode_bytes, short_sym_decode_bytes)
_greedy = partial(_image, short_greedy_encode_bytes, short_greedy_decode_bytes)
_rlex = partial(_image, rlex_encode_bytes, rlex_decode_bytes)


def _stride(stride):
    return _image(partial(rle_stride_encode_bytes, stride=stride),
                  rle_stride_decode_bytes)


def _lut(window):
    return _tokens(partial(lut_encode_symbols, window=window),
                   partial(lut_decode_symbols, dtype=TOKEN_DTYPE))


# ---------------------------------------------------------------------------
# estimates (cost model inputs: see selector.block_stats). Each is the
# exact payload size, or inf when the codec would decline the block.
# ---------------------------------------------------------------------------


def _est_raw(st):
    return 4 * st["n"] + 16


def _est_for(st):
    return pack_ints_size(st["n"], st["vmin"], st["vmax"])


def _est_delta(st):
    return pack_ints_size(st["n"], st["dmin"], st["dmax"])


def _est_dict(st):
    return dict_size(st["uniq"], st["n"])


def _est_rle32(st):
    return rle_size(st["tokens"], st["runs"], st["vmin"], st["vmax"])


def _est_single32(st):
    return single_size(st["tokens"], st["runs"], st["vmin"], st["vmax"])


# ---------------------------------------------------------------------------
# the table: grouped by tier, each tier in trial order
# ---------------------------------------------------------------------------

CODECS: list[Codec] = [
    # no adapter: the payload IS the image, so its extent is the
    # caller's (blocks.decode_block checks it); decode reads n tokens
    Codec(0, "raw", lambda a: bytes(tokens_to_bytes(a)),
          lambda buf, n: np.frombuffer(buf, TOKEN_DTYPE, count=n).copy(),
          "estimate", _est_raw),
    Codec(1, "for_bitpack",
          *_tokens(pack_ints, lambda buf: unpack_ints(buf, out_dtype=TOKEN_DTYPE)
                   .astype(TOKEN_DTYPE, copy=False)),
          "estimate", _est_for),
    Codec(2, "delta_bitpack",
          *_tokens(lambda a: pack_ints(np.diff(a.astype(np.int64), prepend=0)),
                   lambda buf: np.cumsum(unpack_ints(buf)).astype(TOKEN_DTYPE)),
          "estimate", _est_delta),
    Codec(3, "dict_bitpack",
          *_tokens(dict_encode, partial(dict_decode, dtype=TOKEN_DTYPE)),
          "estimate", _est_dict),
    # int32 goes straight in: pack_ints promotes internally
    Codec(4, "rle32_sym",
          *_tokens(partial(rle_encode_symbols, packed=True),
                   partial(rle_decode_symbols, dtype=TOKEN_DTYPE)),
          "estimate", _est_rle32),
    Codec(5, "rle32_single",
          *_tokens(single_encode_symbols,
                   partial(single_decode_symbols, dtype=TOKEN_DTYPE)),
          "estimate", _est_single32),

    Codec(8, "rle64_sym", *_sym_rle(64), "probe"),
    Codec(15, "rle128_sym", *_components(8, 2), "probe"),
    Codec(6, "rle8", *_sym_rle(8), "probe"),
    Codec(7, "rle16_sym", *_sym_rle(16), "probe"),
    Codec(9, "rle8_single",
          *_image(single_encode_symbols, partial(single_decode_symbols, dtype=np.uint8)),
          "probe"),
    Codec(12, "fsst8", *_image(fsst_encode_bytes, fsst_decode_bytes), "probe"),
    # byte-aligned (UNBOUND) family: stride in bytes = 16/24/32/48/64/128-bit
    Codec(19, "rle32_byte", *_stride(4), "probe"),

    Codec(10, "mtf16_rle8", *_rle_after(mtf_encode_bytes, mtf_decode_bytes, lanes=16),
          "max"),
    Codec(11, "mtf32_rle8", *_rle_after(mtf_encode_bytes, mtf_decode_bytes, lanes=32),
          "max"),
    Codec(13, "zlib_raw", *_zlib_after(_image(bytes, memoryview)), "max"),
    Codec(14, "rle8_lz", *_zlib_after(_sym_rle(8)), "max"),
    # true Low Entropy: eligibility bitmap + count-byte stream; the
    # single variant run-codes only the argmax-savings symbol
    # (rle8_low_entropy_cpu.c:340-439) and shares the decoder
    Codec(27, "rle8_le",
          *_zlib_after(_image(low_entropy_encode_bytes, low_entropy_decode_bytes)),
          "max"),
    Codec(30, "rle8_le_single",
          *_zlib_after(_image(partial(low_entropy_encode_bytes, single=True),
                              low_entropy_decode_bytes)),
          "max"),
    # F4 LUT recency windows of 7, 1 and 3 symbols
    Codec(16, "rle32_lut", *_lut(7), "max"),
    Codec(28, "rle32_lut1", *_lut(1), "max"),
    Codec(29, "rle32_lut3", *_lut(3), "max"),
    Codec(17, "rle16_byte", *_stride(2), "max"),
    Codec(18, "rle24_byte", *_stride(3), "max"),
    Codec(20, "rle48_byte", *_stride(6), "max"),
    Codec(21, "rle64_byte", *_stride(8), "max"),
    Codec(22, "rle128_byte", *_stride(16), "max"),
    # bit-plane MMTF (F9 bitmmtf8/16): XOR-vs-previous transform + RLE
    Codec(23, "bitmmtf8_rle",
          *_rle_after(bitmmtf_encode_bytes, bitmmtf_decode_bytes, stride=1), "max"),
    Codec(24, "bitmmtf16_rle",
          *_rle_after(bitmmtf_encode_bytes, bitmmtf_decode_bytes, stride=2), "max"),
    # 24/48-bit sym-aligned widths (byte-aligned strides 3/6 are ids 18/20)
    Codec(25, "rle24_sym", *_components(1, 3), "max"),
    Codec(26, "rle48_sym", *_components(2, 3), "max"),
    # true F5 short-command streams with the reference's exact bytes
    # (src/rleX_Xsl_short.h), one sym-mode format at every width: width
    # 8 is symbol width 1, where a stored count is a byte count (at
    # width 32 one symbol is one token)
    Codec(31, "rle8_1sl_short", *_short_sym(sym_count=1, sym_bytes=1), "max"),
    Codec(32, "rle8_3sl_short", *_short_sym(sym_count=3, sym_bytes=1), "max"),
    Codec(33, "rle8_7sl_short", *_short_sym(sym_count=7, sym_bytes=1), "max"),
    Codec(36, "rle16_3sl_short", *_short_sym(sym_count=3, sym_bytes=2), "max"),
    Codec(39, "rle24_3sl_short", *_short_sym(sym_count=3, sym_bytes=3), "max"),
    Codec(35, "rle32_3sl_short", *_short_sym(sym_count=3, sym_bytes=4), "max"),
    Codec(40, "rle48_3sl_short", *_short_sym(sym_count=3, sym_bytes=6), "max"),
    Codec(37, "rle64_3sl_short", *_short_sym(sym_count=3, sym_bytes=8), "max"),
    # F6 greedy partial-symbol tier: only width 32 is trialed (five
    # greedy trials per block would dominate effort="max" walls)
    Codec(34, "rle32_3sl_byte_short_greedy", *_greedy(sym_bytes=4), "max"),
    Codec(53, "rle32_1sl_short", *_short_sym(sym_count=1, sym_bytes=4), "max"),
    Codec(58, "rle32_7sl_short", *_short_sym(sym_count=7, sym_bytes=4), "max"),
    # F11: the reference's ratio-over-speed outlier (bit-level
    # prefix-coded command stream, src/rle_sh.c); huge blocks are split
    # into independent rle8m-style subsections
    Codec(38, "rle8_sh", *_image(sh_encode_bytes, sh_decode_bytes), "max"),

    Codec(41, "rle16_3sl_byte_short_greedy", *_greedy(sym_bytes=2), "fidelity"),
    Codec(42, "rle24_3sl_byte_short_greedy", *_greedy(sym_bytes=3), "fidelity"),
    Codec(43, "rle48_3sl_byte_short_greedy", *_greedy(sym_bytes=6), "fidelity"),
    Codec(44, "rle64_3sl_byte_short_greedy", *_greedy(sym_bytes=8), "fidelity"),
    # true interleaved F1/F2 command streams (F1 byte-exact against
    # refmodel.ref_rle_size_exact; F2 = the packed same-as-last-symbol
    # bit + 7-bit counts); unbound = byte counts, runs start anywhere
    # and may end inside a partial trailing symbol
    Codec(45, "rle32_sym_interleaved", *_rlex(sym_bytes=4, packed=False), "fidelity"),
    Codec(46, "rle32_sym_packed", *_rlex(sym_bytes=4, packed=True), "fidelity"),
    Codec(47, "rle8_interleaved", *_rlex(sym_bytes=1, packed=False), "fidelity"),
    Codec(48, "rle8_packed", *_rlex(sym_bytes=1, packed=True), "fidelity"),
    Codec(49, "rle32_byte_interleaved",
          *_rlex(sym_bytes=4, packed=False, unbound=True), "fidelity"),
    Codec(50, "rle32_byte_packed",
          *_rlex(sym_bytes=4, packed=True, unbound=True), "fidelity"),
    # F5 grid completion: the reference registers the full {1,3,7}-LUT
    # grid (src/rleX_Xsl_short.c:7-270, src/codec_funcs.h:298-388)
    Codec(51, "rle16_1sl_short", *_short_sym(sym_count=1, sym_bytes=2), "fidelity"),
    Codec(52, "rle24_1sl_short", *_short_sym(sym_count=1, sym_bytes=3), "fidelity"),
    Codec(54, "rle48_1sl_short", *_short_sym(sym_count=1, sym_bytes=6), "fidelity"),
    Codec(55, "rle64_1sl_short", *_short_sym(sym_count=1, sym_bytes=8), "fidelity"),
    Codec(56, "rle16_7sl_short", *_short_sym(sym_count=7, sym_bytes=2), "fidelity"),
    Codec(57, "rle24_7sl_short", *_short_sym(sym_count=7, sym_bytes=3), "fidelity"),
    Codec(59, "rle48_7sl_short", *_short_sym(sym_count=7, sym_bytes=6), "fidelity"),
    Codec(60, "rle64_7sl_short", *_short_sym(sym_count=7, sym_bytes=8), "fidelity"),
]

REGISTRY: dict[str, Codec] = {c.name: c for c in CODECS}
BY_ID: dict[int, Codec] = {c.codec_id: c for c in CODECS}
TIERS: dict[str, list[str]] = {
    t: [c.name for c in CODECS if c.tier == t]
    for t in ("estimate", "probe", "max", "fidelity")}
PROBE_CODECS = TIERS["probe"]
MAX_EFFORT_CODECS = TIERS["max"]

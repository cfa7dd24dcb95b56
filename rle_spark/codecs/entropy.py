"""Entropy-coder-composed codecs (family F7: Low Entropy, and the
R*H/log2|S| headroom idea of the reference's entropy metric).

The reference's Low Entropy codec emits an RLE stream deliberately
shaped for a downstream ANS/Huffman coder
(/root/reference/src/rle8_low_entropy_cpu.c:254-338); its benchmark
prints the entropy headroom of every codec's output
(/root/reference/src/main.c:1221-1244). Here the downstream coder is
stdlib zlib (DEFLATE — public, in-container); the composition points
are the same: raw byte image, or the hybrid RLE stream.
"""

from __future__ import annotations

import zlib

LEVEL = 6


def _decompress_tail_safe(buf: bytes) -> bytes:
    """decompressobj stops at the DEFLATE stream end — appended garbage
    lands in unused_data instead of raising (tail-scramble safety)."""
    return zlib.decompressobj().decompress(bytes(buf))


def compose_zlib(payload: bytes) -> bytes:
    return zlib.compress(payload, LEVEL)


def decompose_zlib(buf: bytes) -> bytes:
    return _decompress_tail_safe(buf)

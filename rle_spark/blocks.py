"""Block format + Spark schemas for encoded columns.

The reference frames every stream with a self-describing header
(`rle_extreme_t`: uncompressedLength/compressedLength/mode,
/root/reference/src/rle8_extreme_cpu.c:5-15). Our equivalent has two
layers:
  * a per-block binary frame (magic, version, codec id, token count)
    so a payload is decodable in isolation, and
  * block metadata surfaced as DataFrame COLUMNS (codec name, sizes,
    doc offsets) so Spark can prune/aggregate without touching
    payload bytes — the columnar re-expression of the header.

The rle8m subsection + offset-table layout
(/root/reference/src/rle8_low_entropy_cpu.c:126-191) maps to: one
parquet row per block, blocks grouped by (source, bucket) partitions,
with `doc_ids`/`doc_lens` as the intra-block offset table.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import BY_ID, REGISTRY
from .codecs.base import MAGIC

BLOCK_FRAME_VERSION = 1
_HEADER_BYTES = len(MAGIC) + struct.calcsize("<BHQ")  # 15

# Spark-side schemas (DDL strings keep this module Spark-import-free)
BLOCK_SCHEMA_DDL = (
    "block_id string, source string, bucket int, seq int, "
    "n_docs int, n_tokens long, doc_ids array<string>, doc_lens array<int>, "
    "codec string, orig_bytes long, comp_bytes long, payload binary"
)

DECODED_SCHEMA_DDL = "doc_id string, tokens array<int>"


def frame_payload(codec_name: str, n_tokens: int, payload: bytes) -> bytes:
    codec = REGISTRY[codec_name]
    return (MAGIC + struct.pack("<BHQ", BLOCK_FRAME_VERSION,
                                codec.codec_id, n_tokens) + payload)


def unframe_payload(buf: bytes) -> tuple[str, int, memoryview]:
    # unsigned bytes: a pyarrow Buffer (the decode kernel's as_buffer())
    # exports signed chars, which byte-indexing decoders misread
    mv = memoryview(buf).cast("B")
    if len(mv) < _HEADER_BYTES:
        raise ValueError(f"block frame of {len(mv)} bytes is shorter than "
                         f"its {_HEADER_BYTES}-byte header")
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad block magic")
    ver, codec_id, n_tokens = struct.unpack_from("<BHQ", mv, 4)
    if ver != BLOCK_FRAME_VERSION:
        raise ValueError(f"unsupported block version {ver}")
    if codec_id not in BY_ID:
        raise ValueError(f"unknown codec id {codec_id} in block frame")
    return BY_ID[codec_id].name, n_tokens, mv[_HEADER_BYTES:]


def decode_block(buf: bytes) -> np.ndarray:
    """Decode a framed block payload to the int32 token array; a
    payload that decodes to other than the frame's n_tokens raises (a
    raw payload is the tokens themselves: its length must match)."""
    name, n_tokens, body = unframe_payload(buf)
    out = REGISTRY[name].decode(body, n_tokens)
    if len(out) != n_tokens or (name == "raw" and len(body) != 4 * n_tokens):
        raise ValueError(f"{name} block of {len(body)} payload bytes decoded "
                         f"to {len(out)} tokens, its frame says {n_tokens}")
    return out


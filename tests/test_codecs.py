"""Per-codec roundtrip tests — the NumPy-level port of the reference's
roundtrip-everything CI + structured fuzzing (SURVEY.md §5).

Every codec must: encode, decode bit-identically, and survive tail
scramble (garbage appended after the payload must not change the
decode — /root/reference/src/main.c:942-948)."""

import hashlib
import struct

import numpy as np
import pytest

from rle_spark.codecs import BY_ID, MAX_EFFORT_CODECS, PROBE_CODECS, REGISTRY, TIERS
from rle_spark.codecs.base import (
    pack_bits, unpack_bits, pack_ints, unpack_ints,
    pack_sections, unpack_sections, find_runs,
)
from rle_spark.codecs.mtf import mtf_decode_bytes, mtf_encode_bytes
from rle_spark.codecs.fsst import fsst_decode_bytes, fsst_encode_bytes
from rle_spark.codecs.refmodel import ref_rle_size_exact, ref_rle_size_model_v1
from rle_spark.codecs.registry import CODECS

from fuzzgen import boundary_cases, fuzz_tokens

ALL_CODECS = sorted(REGISTRY)
CASES = boundary_cases()


def _roundtrip(name: str, arr: np.ndarray):
    codec = REGISTRY[name]
    payload = codec.encode(arr)
    if payload is None:
        return  # codec declined (e.g. no profitable single symbol)
    out = codec.decode(payload, len(arr))
    assert out.dtype == np.dtype("<i4") or np.array_equal(
        out.astype(np.int32), arr)
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int32), arr)
    # tail scramble: decoder must never read past declared lengths
    scrambled = codec.decode(bytes(payload) + b"\xa5" * 129, len(arr))
    np.testing.assert_array_equal(np.asarray(scrambled, dtype=np.int32), arr)


@pytest.mark.parametrize("name", ALL_CODECS)
@pytest.mark.parametrize("case", sorted(CASES))
def test_roundtrip_boundary_cases(name, case):
    _roundtrip(name, CASES[case])


@pytest.mark.parametrize("name", ALL_CODECS)
@pytest.mark.parametrize("seed", range(8))
def test_roundtrip_fuzz(name, seed):
    arr = fuzz_tokens(seed)
    if name.startswith("mtf") and len(arr) > 300_000:
        arr = arr[:300_000]  # MTF is O(256n); keep the suite fast
    if (("sl_short" in name or name == "rle8_sh")
            and len(arr) > 150_000):
        arr = arr[:150_000]  # per-command/per-byte emission; ratio tier
    _roundtrip(name, arr)


@pytest.mark.parametrize("name", ALL_CODECS)
@pytest.mark.parametrize("seed", range(4))
def test_roundtrip_small_vocab_fuzz(name, seed):
    arr = fuzz_tokens(seed + 100, vocab=256)
    if name.startswith("mtf") and len(arr) > 300_000:
        pytest.skip("MTF is O(256n); the suite skips inputs over 300k")
    _roundtrip(name, arr)


def test_dict_encode_rejects_non_integer_dtype():
    from rle_spark.codecs.dictionary import dict_encode
    with pytest.raises(TypeError, match="float64"):
        dict_encode(np.array([1.5, 2.5, 1.5, 7.25] * 10))


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("width", [0, 1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64])
def test_pack_bits_widths(width):
    rng = np.random.default_rng(width)
    hi = (1 << width) - 1 if width else 0
    v = rng.integers(0, hi + 1, 1000, dtype=np.uint64) if width else np.zeros(1000, np.uint64)
    buf = pack_bits(v, width)
    assert len(buf) == (1000 * width + 7) // 8
    np.testing.assert_array_equal(unpack_bits(buf, width, 1000), v)


@pytest.mark.parametrize("width", [1, 3, 5, 9, 12, 17, 23, 31, 33, 47, 63])
def test_pack_bits_lane_matrix_equivalence(width):
    """The lane kernel (large-n path) and the bit-matrix form must emit
    IDENTICAL bytes and invert each other across the size cutoff — the
    wire format is pinned by the matrix form, the lane kernel is the
    throughput implementation of the same stream."""
    from rle_spark.codecs.base import (_LANE_MIN_N, _pack_bits_matrix,
                                       _unpack_bits_matrix)
    rng = np.random.default_rng(100 + width)
    for n in (_LANE_MIN_N - 1, _LANE_MIN_N, _LANE_MIN_N * 3 + 7):
        v = rng.integers(0, 1 << width, n, dtype=np.uint64)
        buf = pack_bits(v, width)
        assert buf == _pack_bits_matrix(v, width)
        np.testing.assert_array_equal(unpack_bits(buf, width, n), v)
        np.testing.assert_array_equal(_unpack_bits_matrix(buf, width, n), v)


def test_pack_ints_full_range():
    v = np.array([-2**63, 2**63 - 1, 0, -1, 1], dtype=np.int64)
    np.testing.assert_array_equal(unpack_ints(pack_ints(v)), v)
    u = np.array([0, 2**64 - 1, 2**63], dtype=np.uint64)
    out = unpack_ints(pack_ints(u)).view(np.uint64)
    np.testing.assert_array_equal(out, u)


@pytest.mark.parametrize("lo,span_bits", [
    (0, 7), (-50, 7), (0, 20), (-2**30, 31),
    (2**31 - 2**10, 10),                # hugs the int32 ceiling exactly
    (-2**31, 10),                       # hugs the int32 floor
])
def test_unpack_ints_int32_emission(lo, span_bits):
    """unpack_ints(out_dtype=int32) must agree with the int64 path and
    actually emit int32 whenever lo + 2^w - 1 fits — across the lane
    cutoff and at both int32 boundaries. The span is width-tight
    (forced to exactly 2^span_bits - 1) because the engagement check is
    conservative: it bounds by the packed width, not the actual max."""
    from rle_spark.codecs.base import _LANE_MIN_N
    rng = np.random.default_rng(lo & 0xffff | 1)
    span = 2**span_bits - 1
    for n in (37, _LANE_MIN_N * 2 + 5):
        v = rng.integers(lo, lo + span + 1, n, dtype=np.int64)
        v[0], v[1] = lo, lo + span  # pin the width to span_bits
        buf = pack_ints(v)
        out = unpack_ints(buf, out_dtype=np.int32)
        assert out.dtype == np.int32
        np.testing.assert_array_equal(out.astype(np.int64), v)
        np.testing.assert_array_equal(unpack_ints(buf), v)


def test_unpack_ints_int32_fallback():
    """A frame-of-reference lo outside int32 must fall back to exact
    int64 output; any int32-valued stream takes the int32 path and
    decodes exactly — including full-span (w=32) streams where the
    old width-bound guard (lo + 2^w - 1 <= int32max) was too
    conservative: the mod-2^32 add is exact whenever the TRUE values
    fit int32, which is the out_dtype=int32 caller contract."""
    v = np.array([-2**40, 2**40, 0, 7], dtype=np.int64)
    out = unpack_ints(pack_ints(v), out_dtype=np.int32)
    assert out.dtype == np.int64
    np.testing.assert_array_equal(out, v)
    # full int32 span (w=32, lo + 2^w - 1 overflows int32): the int32
    # emission engages and stays exact
    w = np.array([2**31 - 2, -5, -2**31, 2**31 - 1], dtype=np.int64)
    out = unpack_ints(pack_ints(w), out_dtype=np.int32)
    assert out.dtype == np.int32
    np.testing.assert_array_equal(out.astype(np.int64), w)


@pytest.mark.parametrize("n", [2, 5000])
def test_unpack_ints_int32_emission_rejects_wide_values(n):
    """An out_dtype=int32 decode of a stream whose values pass int32 max
    raises instead of returning wrapped values; an int32-sourced stream
    whose frame top (lo + 2^w - 1) passes int32 max but whose values do
    not still decodes exactly."""
    top = 2**31 - 1
    wide = np.linspace(top - 9, top + 5, n).astype(np.int64)  # w = 4
    with pytest.raises(ValueError, match="int32"):
        unpack_ints(pack_ints(wide), out_dtype=np.int32)
    np.testing.assert_array_equal(unpack_ints(pack_ints(wide)), wide)
    near = np.linspace(top - 9, top, n).astype(np.int64)
    out = unpack_ints(pack_ints(near.astype(np.int32)), out_dtype=np.int32)
    assert out.dtype == np.int32
    np.testing.assert_array_equal(out.astype(np.int64), near)


def test_sections_tail_safety():
    buf = pack_sections([b"abc", b"", b"xyz123"])
    parts = unpack_sections(buf + b"garbagegarbage")
    assert [bytes(p) for p in parts] == [b"abc", b"", b"xyz123"]


def test_find_runs():
    starts, lens = find_runs(np.array([1, 1, 2, 3, 3, 3]))
    np.testing.assert_array_equal(starts, [0, 2, 3])
    np.testing.assert_array_equal(lens, [2, 1, 3])


def _long_run_inputs():
    from tests.fuzzgen import exhaustive_cases
    yield from CASES.items()
    yield from exhaustive_cases()
    for s in range(4):
        yield f"fuzz{s}", fuzz_tokens(s)
    for n in (0, 1, 2):
        yield f"n{n}", np.full(n, 5, np.int32)
    yield "n2_differ", np.array([1, 2], np.int32)
    yield "all_equal", np.full(1000, -3, np.int32)
    yield "alternating", np.tile(np.array([4, 9], np.int32), 500)
    yield "run_at_end", np.array([1, 2, 3, 7, 7, 7, 7], np.int32)
    yield "int64", np.array([2**40, 2**40, 2**40, -1, -1, 0], np.int64)
    yield "uint8", np.array([255, 255, 0, 0, 0, 1, 255, 255, 255], np.uint8)


@pytest.mark.parametrize("min_len", [2, 3])
def test_long_runs_match_filtered_find_runs(min_len):
    from rle_spark.codecs.base import long_runs
    for case_id, a in _long_run_inputs():
        starts, lens = find_runs(a)
        keep = lens >= min_len
        got_starts, got_lens = long_runs(a, min_len)
        assert np.array_equal(got_starts, starts[keep]), case_id
        assert np.array_equal(got_lens, lens[keep]), case_id


@pytest.mark.parametrize("lanes", [16, 32])
def test_mtf_transform(lanes):
    rng = np.random.default_rng(lanes)
    img = rng.integers(0, 256, 5000).astype(np.uint8)
    enc = mtf_encode_bytes(img, lanes)
    assert len(enc) == len(img)
    np.testing.assert_array_equal(mtf_decode_bytes(enc, lanes), img)
    # a repeated byte must map to MTF rank 0 after first occurrence
    rep = np.zeros(lanes * 10, dtype=np.uint8) + 55
    enc2 = mtf_encode_bytes(rep, lanes)
    assert (enc2[lanes:] == 0).all()


def test_fsst_bytes_with_escapes():
    rng = np.random.default_rng(3)
    img = np.concatenate([
        np.tile(np.array([255, 255, 254, 1], np.uint8), 500),  # ESC-heavy
        rng.integers(0, 256, 2000).astype(np.uint8),
    ])
    out = fsst_decode_bytes(fsst_encode_bytes(img))
    np.testing.assert_array_equal(out, img)


# ---------------------------------------------------------------------------
# reference size model (the ratio yardstick)
# ---------------------------------------------------------------------------


def test_ref_model_pure_run():
    # 1000 identical bytes: one short command + header + terminator
    img = np.zeros(1000, dtype=np.uint8)
    exact = ref_rle_size_exact(img, 1)
    assert exact < 40  # 8 hdr + (1 sym + 5 count + 1 range) + 11 term
    assert ref_rle_size_model_v1(img, 1) == exact


def test_ref_model_incompressible():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, 10_000).astype(np.uint8)
    exact = ref_rle_size_exact(img, 1)
    assert exact >= 10_000  # all literal + overhead


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("sym_bytes", [1, 2, 4, 8])
def test_engine_beats_reference_rle_size(seed, sym_bytes):
    """North-rule bound: selected size <= reference RLE size, any width."""
    from rle_spark.selector import select_and_encode
    arr = fuzz_tokens(seed + 50)
    img = np.ascontiguousarray(arr, dtype="<i4").view(np.uint8)
    ref = ref_rle_size_exact(img, sym_bytes)
    _, payload, _ = select_and_encode(arr)
    assert len(payload) + 15 <= ref + 16  # +15 frame, ref has 8B header


# ---------------------------------------------------------------------------
# bit-plane MMTF (bitmmtf8/16) + lane-MTF run-skip
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("stride", [1, 2])
@pytest.mark.parametrize("n", [0, 1, 2, 3, 17, 1001])
def test_bitmmtf_matches_naive_xor(stride, n):
    """Semantics check vs the reference transform written out naively:
    out[i] = in[i] ^ in[i-stride] over the stride-aligned prefix, tail
    verbatim (/root/reference/src/bit_mmtf.c:18-60)."""
    from rle_spark.codecs.mtf import bitmmtf_decode_bytes, bitmmtf_encode_bytes
    rng = np.random.default_rng(stride * 100 + n)
    a = rng.integers(0, 256, n).astype(np.uint8)
    enc = bitmmtf_encode_bytes(a, stride)
    cut = (n // stride) * stride
    ref = a.copy()
    for i in range(stride, cut):
        ref[i] = a[i] ^ a[i - stride]
    np.testing.assert_array_equal(enc, ref)
    np.testing.assert_array_equal(bitmmtf_decode_bytes(enc, stride), a)


def test_bitmmtf_zeroes_runs():
    # a run of any byte becomes 0x00 after the transform -> RLE-ready
    from rle_spark.codecs.mtf import bitmmtf_encode_bytes
    img = np.full(1000, 0xA7, dtype=np.uint8)
    enc = bitmmtf_encode_bytes(img, 1)
    assert enc[0] == 0xA7 and not enc[1:].any()


@pytest.mark.parametrize("lanes", [16, 32])
def test_mtf_run_skip_matches_naive(lanes):
    """The run-skip fast path must be bit-identical to a per-step naive
    MTF (independent per lane)."""
    rng = np.random.default_rng(lanes)
    img = np.repeat(rng.integers(0, 256, 300).astype(np.uint8),
                    rng.integers(1, 200, 300))[:20_000]
    enc = mtf_encode_bytes(img, lanes)
    # naive per-lane MTF
    steps = len(img) // lanes
    body = img[: steps * lanes].reshape(steps, lanes)
    want = np.empty_like(body)
    for lane in range(lanes):
        lst = list(range(256))
        for t in range(steps):
            s = int(body[t, lane])
            r = lst.index(s)
            want[t, lane] = r
            lst.pop(r)
            lst.insert(0, s)
    np.testing.assert_array_equal(enc[: steps * lanes].reshape(steps, lanes),
                                  want)
    np.testing.assert_array_equal(mtf_decode_bytes(enc, lanes), img)


# ---------------------------------------------------------------------------
# true Low Entropy (eligibility bitmap + count stream)
# ---------------------------------------------------------------------------


def test_low_entropy_eligibility_heuristic():
    """avg run length >= 2 gates the bitmap, mirroring
    /root/reference/src/rle8_low_entropy_cpu.c:298-302."""
    from rle_spark.codecs.low_entropy import (low_entropy_eligibility,
                                              low_entropy_encode_bytes)
    from rle_spark.codecs.base import find_runs, unpack_sections
    # symbol 7: two runs of total len 5 (avg 2.5) -> eligible
    # symbol 3: three isolated singles (avg 1.0) -> NOT eligible
    img = np.array([7, 7, 7, 3, 7, 7, 3, 9, 3], dtype=np.uint8)
    starts, lens = find_runs(img)
    elig = low_entropy_eligibility(img[starts], lens)
    assert elig[7] and not elig[3] and not elig[9]
    s = unpack_sections(low_entropy_encode_bytes(img))
    data = np.frombuffer(s[1], dtype=np.uint8)
    counts = np.frombuffer(s[2], dtype=np.uint8)
    # two eligible-run segments (7x3, 7x2); literals kept verbatim
    assert list(counts) == [2, 1]
    assert list(data) == [7, 3, 7, 3, 9, 3]


@pytest.mark.parametrize("seed", range(4))
def test_low_entropy_long_run_split(seed):
    from rle_spark.codecs.low_entropy import (low_entropy_decode_bytes,
                                              low_entropy_encode_bytes)
    rng = np.random.default_rng(seed)
    # runs straddling the 256-per-count-byte boundary
    img = np.repeat(rng.integers(0, 4, 50).astype(np.uint8),
                    rng.integers(250, 600, 50))
    out = low_entropy_decode_bytes(low_entropy_encode_bytes(img))
    np.testing.assert_array_equal(out, img)


def test_low_entropy_beats_plain_zlib_on_runny_bytes():
    """The headroom claim: pre-transforming runs into (sym, count)
    streams must beat zlib over the raw image on run-heavy data."""
    import zlib
    from rle_spark.codecs.low_entropy import low_entropy_encode_bytes
    rng = np.random.default_rng(11)
    img = np.repeat(rng.integers(0, 64, 3000).astype(np.uint8),
                    rng.integers(2, 40, 3000))
    le = len(zlib.compress(low_entropy_encode_bytes(img), 6))
    plain = len(zlib.compress(img.tobytes(), 6))
    assert le < plain


def test_low_entropy_single_restricts_to_argmax_symbol():
    """only_max_frequency: at most ONE bit set in the eligibility
    bitmap — the symbol with maximal (total - 2*runs) savings — and the
    shared decoder roundtrips the stream."""
    import numpy as np
    from rle_spark.codecs.base import find_runs, unpack_sections
    from rle_spark.codecs.low_entropy import (
        low_entropy_decode_bytes, low_entropy_encode_bytes,
        low_entropy_single_eligibility)
    rng = np.random.default_rng(11)
    img = np.repeat(rng.integers(0, 5, 300).astype(np.uint8),
                    rng.integers(1, 20, 300))
    buf = low_entropy_encode_bytes(img, single=True)
    bitmap = np.unpackbits(np.frombuffer(unpack_sections(buf)[0],
                                         dtype=np.uint8),
                           bitorder="little")
    assert bitmap.sum() <= 1
    starts, lens = find_runs(img)
    want = low_entropy_single_eligibility(img[starts], lens)
    assert bitmap.astype(bool).tolist() == want.tolist()
    np.testing.assert_array_equal(low_entropy_decode_bytes(buf), img)
    # incompressible input: no symbol saves -> zero bits, pure verbatim
    flat = np.arange(256, dtype=np.uint8)
    buf2 = low_entropy_encode_bytes(flat, single=True)
    bm2 = np.frombuffer(unpack_sections(buf2)[0], dtype=np.uint8)
    assert not bm2.any()
    np.testing.assert_array_equal(low_entropy_decode_bytes(buf2), flat)


@pytest.mark.parametrize("codec", ["rle8", "rle16_sym", "rle24_sym",
                                   "rle32_sym", "rle64_sym",
                                   "dict_bitpack", "rle16_byte",
                                   "rle32_byte", "rle8_le_single",
                                   "rle8_3sl_short", "rle32_3sl_short",
                                   "rle24_3sl_short", "rle8_sh",
                                   "rle32_3sl_byte_short_greedy",
                                   "rle32_1sl_short", "rle32_7sl_short",
                                   "rle16_7sl_short", "rle48_7sl_short",
                                   "rle16_1sl_short", "rle24_1sl_short",
                                   "rle48_1sl_short", "rle64_1sl_short",
                                   "rle24_7sl_short", "rle64_7sl_short",
                                   "rle32_sym_interleaved",
                                   "rle32_sym_packed",
                                   "rle8_interleaved", "rle8_packed",
                                   "rle32_byte_interleaved",
                                   "rle32_byte_packed"])
def test_exhaustive_length_sweep(codec):
    """Iterative fuzz mode (rle_fuzz.c:159-283 analogue): EVERY small
    section length 1..280 plus the 17/16-stepped medium regime, for
    every symbol length x alignment x section order — no sampling.
    The multi-width RLE family is where length/alignment boundaries
    live."""
    from tests.fuzzgen import exhaustive_cases
    n = 0
    c = REGISTRY[codec]
    for case_id, toks in exhaustive_cases():
        payload = c.encode(toks)
        if payload is None:  # codec declined (selector falls back) — fine
            continue
        got = c.decode(payload, len(toks))
        assert np.array_equal(got, toks), f"{codec} failed on {case_id}"
        n += 1
    assert n > 2000  # the sweep really is exhaustive, not sampled


# --- true F5 short-command format + F6 greedy tier -------------------------


def _runny_images(seeds=range(5)):
    for seed in seeds:
        rng = np.random.default_rng(1000 + seed)
        yield np.repeat(rng.integers(0, 2 + seed * 3, 2000, dtype=np.uint8),
                        rng.integers(1, 5 + seed * 8, 2000))
        img = np.zeros(40_000, dtype=np.uint8)
        img[::4] = rng.integers(0, 50, 10_000)
        yield img


@pytest.mark.parametrize("sym_bytes", [1, 2, 3, 4, 6, 8])
@pytest.mark.parametrize("sc", [1, 3, 7])
def test_short_sym_stream_matches_ref_model(sc, sym_bytes):
    """SYM-mode short at widths 8/16/24/32/48/64 (counts stored in
    symbols, rleX_Xsl_short.h:171-174; width 8 is symbol width 1):
    roundtrip + byte-for-byte size parity with refmodel's independent
    replay, across aligned and unaligned tail lengths, token-shaped
    images, and full-range symbols (incl. the 2^64-1 broadcast seed);
    width 8 also over the runny byte images and a 9000-byte random
    one."""
    from refshort import ref_short_size_exact
    from rle_spark.codecs.short import (short_sym_decode_bytes,
                                        short_sym_encode_bytes)
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(32 + sc + sym_bytes)
    cases = [fuzz_tokens(s, vocab=40).view(np.uint8) for s in range(6)]
    cases += [rng.integers(0, 256, L).astype(np.uint8)
              for L in (0, 1, sym_bytes - 1, sym_bytes, sym_bytes + 1,
                        17, 4097)]
    pal = [0, (1 << (8 * sym_bytes)) - 1,
           int(rng.integers(1, 1 << min(8 * sym_bytes - 1, 62)))]
    idx = np.repeat(rng.integers(0, 3, 800), rng.integers(1, 30, 800))
    raw = b"".join(pal[i].to_bytes(sym_bytes, "little")
                   for i in idx.tolist())
    cases.append(np.frombuffer(raw, np.uint8))
    cases.append(np.frombuffer(raw, np.uint8)[:len(raw) - 1])
    if sym_bytes == 1:
        cases += list(_runny_images())
        cases.append(np.random.default_rng(7).integers(0, 256, 9000,
                                                       dtype=np.uint8))
    for img in cases:
        buf = short_sym_encode_bytes(img, sc, sym_bytes)
        np.testing.assert_array_equal(
            short_sym_decode_bytes(buf, sc, sym_bytes),
            np.ascontiguousarray(img, np.uint8))
        assert len(buf) == ref_short_size_exact(img, sc,
                                                sym_bytes=sym_bytes)


@pytest.mark.parametrize("sym_bytes", [2, 3, 6, 8])
def test_greedy_widths_roundtrip_and_compress(sym_bytes):
    """F6 greedy at the non-32 reference widths: roundtrip across
    token-shaped, random, and unaligned-tail inputs, and the
    partial-symbol tier actually compresses S-byte pixel-art where
    whole-symbol byte RLE sees no runs."""
    from rle_spark.codecs.short import (short_greedy_decode_bytes,
                                        short_greedy_encode_bytes)
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(40 + sym_bytes)
    cases = [fuzz_tokens(s, vocab=25).view(np.uint8)[:60_000]
             for s in range(4)]
    cases += [rng.integers(0, 256, L).astype(np.uint8)
              for L in (0, 1, sym_bytes, sym_bytes + 1, 999)]
    pal = [int(rng.integers(0, 1 << min(8 * sym_bytes, 62)))
           for _ in range(4)]
    idx = np.repeat(rng.integers(0, 4, 1500), rng.integers(1, 40, 1500))
    art = np.frombuffer(b"".join(pal[i].to_bytes(sym_bytes, "little")
                                 for i in idx.tolist()), np.uint8)
    cases.append(art)
    cases.append(art[: len(art) - 1])
    for img in cases:
        buf = short_greedy_encode_bytes(img, sym_bytes)
        np.testing.assert_array_equal(
            short_greedy_decode_bytes(buf, sym_bytes), img)
    assert (len(short_greedy_encode_bytes(art, sym_bytes))
            / max(len(art), 1)) < 0.2


# --- F1/F2 TRUE interleaved command streams ---------------------------------


@pytest.mark.parametrize("sym_bytes", [1, 2, 3, 4, 6, 8])
def test_interleaved_f1_matches_ref_size_model(sym_bytes):
    """The true F1 interleaved stream must be byte-for-byte the size
    refmodel.ref_rle_size_exact predicts (on symbol-aligned inputs —
    the model zero-pads unaligned tails where the stream keeps them as
    literals) and roundtrip everywhere, incl. unaligned tails."""
    from rle_spark.codecs.interleaved import (rlex_decode_bytes,
                                              rlex_encode_bytes)
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(50 + sym_bytes)
    cases = [fuzz_tokens(s, vocab=30).view(np.uint8) for s in range(4)]
    cases += [rng.integers(0, 5, L).astype(np.uint8)
              for L in (0, 1, sym_bytes, sym_bytes + 1, 999, 4096)]
    for img in cases:
        buf = rlex_encode_bytes(img, sym_bytes, packed=False)
        np.testing.assert_array_equal(
            rlex_decode_bytes(buf, sym_bytes, packed=False), img)
        if len(img) and len(img) % sym_bytes == 0:
            assert len(buf) == ref_rle_size_exact(img, sym_bytes)


@pytest.mark.parametrize("sym_bytes", [1, 2, 4, 8])
def test_interleaved_unbound_roundtrip_and_wins_on_misaligned(sym_bytes):
    """UNBOUND (byte-aligned) interleaved streams: roundtrip for base
    and packed — including the overlapping-adjacent-intervals shape
    (one false stride position separates the m-runs but not the byte
    spans) — and the byte-aligned form must beat the sym-aligned one on
    runny data offset by one byte (its raison d'etre)."""
    from rle_spark.codecs.interleaved import (rlex_decode_bytes,
                                              rlex_encode_bytes)
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(70 + sym_bytes)
    cases = [fuzz_tokens(s, vocab=30).view(np.uint8)[:100_000]
             for s in range(3)]
    cases += [rng.integers(0, 5, L).astype(np.uint8)
              for L in (0, 1, sym_bytes + 1, 999)]
    pal = [0, (1 << (8 * sym_bytes)) - 1, 0x3C]
    idx = np.repeat(rng.integers(0, 3, 700), rng.integers(1, 50, 700))
    raw = b"".join(pal[i].to_bytes(sym_bytes, "little")
                   for i in idx.tolist())
    mis = np.frombuffer(b"\x5a" + raw, np.uint8)
    cases.append(mis)
    for img in cases:
        for packed in (False, True):
            buf = rlex_encode_bytes(img, sym_bytes, packed, unbound=True)
            np.testing.assert_array_equal(
                rlex_decode_bytes(buf, sym_bytes, packed, unbound=True),
                img)
    if sym_bytes > 1:
        ub = len(rlex_encode_bytes(mis, sym_bytes, False, unbound=True))
        sb = len(rlex_encode_bytes(mis, sym_bytes, False, unbound=False))
        assert ub < sb


@pytest.mark.parametrize("sym_bytes", [1, 4])
def test_interleaved_f2_packed_roundtrip_and_wins(sym_bytes):
    """F2 packed: roundtrip, and the same-as-last-symbol bit + 7-bit
    counts must beat the base form when one symbol's runs repeat
    (its raison d'etre, src/rleX_extreme_cpu_encode.h:206-228)."""
    from rle_spark.codecs.interleaved import (rlex_decode_bytes,
                                              rlex_encode_bytes)
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(60 + sym_bytes)
    cases = [fuzz_tokens(s, vocab=30).view(np.uint8) for s in range(4)]
    cases += [rng.integers(0, 5, L).astype(np.uint8)
              for L in (0, 1, sym_bytes + 1, 999)]
    for img in cases:
        buf = rlex_encode_bytes(img, sym_bytes, packed=True)
        np.testing.assert_array_equal(
            rlex_decode_bytes(buf, sym_bytes, packed=True), img)
    # one symbol's runs separated by short literals: every run after
    # the first is same-symbol -> packed omits the symbol field
    sym = (0x42 if sym_bytes == 1
           else 0xDEADBEEF).to_bytes(sym_bytes, "little")
    parts = []
    for _ in range(300):
        parts.append(sym * 12)
        parts.append(bytes(rng.integers(0, 256, 5).astype(np.uint8)))
    img = np.frombuffer(b"".join(parts), np.uint8)
    packed = len(rlex_encode_bytes(img, sym_bytes, packed=True))
    base = len(rlex_encode_bytes(img, sym_bytes, packed=False))
    assert packed < base


# --- F11: rle8_sh (bit-level prefix-coded command stream) ------------------


def test_rle8_sh_roundtrip_boundaries():
    """Exact count-offset boundaries of every rle8_sh block command
    (copy 7/262, rle 14/269, encoded-copy 161) plus empty input and
    the init-symbol collisions (0x7F is the initial last-RLE symbol)."""
    from rle_spark.codecs.sh import sh_decode_bytes, sh_encode_bytes
    rng = np.random.default_rng(3)
    cases = [np.zeros(0, np.uint8)]
    for L in (1, 6, 7, 8, 13, 14, 15, 161, 162, 262, 263, 269, 270, 423):
        cases.append(rng.integers(0, 5, L).astype(np.uint8))
        cases.append(np.full(L, 0x7F, np.uint8))
        mixed = rng.integers(0, 256, L).astype(np.uint8)
        mixed[:: 2] = 0x7F  # dense last-RLE bytes: encoded-copy path
        cases.append(mixed)
    for img in cases:
        buf = sh_encode_bytes(img)
        np.testing.assert_array_equal(sh_decode_bytes(buf), img)


def test_rle8_sh_best_ratio_on_low_entropy():
    """The reference positions rle8_sh as its best-ratio codec
    (README.md:59): on a low-entropy corpus (80% one symbol) our
    grammar-faithful form must beat the Low Entropy + zlib composes."""
    from rle_spark.codecs import REGISTRY
    rng = np.random.default_rng(5)
    m = rng.integers(0, 256, 48_000).astype(np.uint8)
    m[rng.random(48_000) < 0.8] = 0x41
    arr = np.frombuffer(m.tobytes(), dtype=np.int32)
    sh = len(REGISTRY["rle8_sh"].encode(arr))
    for rival in ("rle8_le", "rle8_lz", "zlib_raw", "rle8"):
        assert sh < len(REGISTRY[rival].encode(arr)), rival


def test_rle8_sh_sections_oversized_blocks():
    """Above _MAX_BYTES the encoder must section rle8m-style (F8)
    rather than decline, so the best-ratio tier survives large-block
    configs: roundtrip bit-identical (incl. tail scramble) at 8-16 MiB
    and ratio within ~2% of the per-section optimum."""
    from rle_spark.codecs.sh import _MAX_BYTES, sh_decode_bytes, \
        sh_encode_bytes
    rng = np.random.default_rng(11)
    for total in (2 * _MAX_BYTES, 3 * _MAX_BYTES + 12345):
        img = rng.integers(0, 256, total).astype(np.uint8)
        img[rng.random(total) < 0.8] = 0x41  # low-entropy corpus
        buf = sh_encode_bytes(img)
        assert buf is not None
        np.testing.assert_array_equal(sh_decode_bytes(buf), img)
        np.testing.assert_array_equal(
            sh_decode_bytes(bytes(buf) + b"\xa5" * 129), img)
        per_section = sum(
            len(sh_encode_bytes(img[o:o + _MAX_BYTES]))
            for o in range(0, total, _MAX_BYTES))
        assert len(buf) <= per_section * 1.02


def test_short_beats_reference_base_rle_on_runny_corpora():
    """The reference's own benchmark tables show Xsymlut_short beating
    its base rle8 format on runny corpora (README.md best-ratio rows
    come from the short+greedy grid); our true-format implementation
    must reproduce that relationship: short size <= the exact base-RLE
    size model on every runny fixture. (The canonical bit-packed SoA
    formats remain denser still — they are the selector's speed/ratio
    default; the short family is format-fidelity + the reference's
    best-ratio grammar, chosen by trial when it wins.)"""
    from rle_spark.codecs.short import short_sym_encode_bytes
    tot_short = tot_base = 0
    for img in _runny_images():
        best_short = min(len(short_sym_encode_bytes(img, sc, 1))
                         for sc in (1, 3, 7))
        base = ref_rle_size_exact(img, 1)
        tot_short += best_short
        tot_base += base
        # strict per-fixture wherever the vocab fits the widest LUT —
        # the short family's home turf (large-vocab long-run fixtures
        # can favor base's flat 3-byte commands, as in the reference's
        # own mixed tables)
        if len(np.unique(img)) <= 7:
            assert best_short <= base, (best_short, base, len(img))
    assert tot_short < tot_base


def test_short32_partial_symbol_runs():
    """F6: a run ending inside a trailing symbol must be encoded as one
    command (count not a multiple of 4) and decode bit-identically."""
    from rle_spark.codecs.short import (short_greedy_encode_bytes,
                                        short_greedy_decode_bytes)
    pat = np.array([10, 20, 30, 40], dtype=np.uint8)
    # 40 full repeats + 2 partial trailing bytes, then noise: the
    # periodic region (162 bytes, count NOT a multiple of 4) must be
    # one command including the partial tail
    img = np.concatenate([np.tile(pat, 40), pat[:2],
                          np.array([99, 98, 97], dtype=np.uint8)])
    enc = short_greedy_encode_bytes(img, 4)
    dec = short_greedy_decode_bytes(enc, 4)
    np.testing.assert_array_equal(dec, img)
    # 8B header + one ~3B command + 4B miss symbol + 9B terminal + 3
    # literals — far below raw
    assert len(enc) < 40


def test_short32_lut_restart_gains():
    """Greedy LUT restart: short reappearances of a recent symbol that
    would NOT self-start (needs 2 full words) are still captured."""
    from rle_spark.codecs.short import (short_greedy_encode_bytes,
                                        short_greedy_decode_bytes)
    rng = np.random.default_rng(3)
    pat = np.array([1, 2, 3, 4], dtype=np.uint8)
    parts = [np.tile(pat, 10)]  # establish pat in the LUT
    for _ in range(30):
        parts.append(rng.integers(5, 250, 7, dtype=np.uint8))
        parts.append(pat)  # single occurrence: no self-start possible
    img = np.concatenate(parts)
    enc = short_greedy_encode_bytes(img, 4)
    np.testing.assert_array_equal(short_greedy_decode_bytes(enc, 4), img)
    # without LUT restarts every single `pat` occurrence stays literal
    # (raw-ish); with them the stream drops clearly below that
    no_restart_floor = len(img) - 40 + 17
    assert len(enc) < no_restart_floor


def test_7lut_short_beats_3lut_on_recurring_symbols(spark_noop=None):
    """The reference's best non-entropy ratios live in the 7-LUT short
    forms (README.md:48): with >3 recurring run symbols the deeper LUT
    must win (more 1-byte LUT-hit commands, fewer escapes), at width 32
    and width 8."""
    from rle_spark.codecs import REGISTRY
    rng = np.random.default_rng(9)
    pal = rng.integers(1, 1 << 30, 7).astype(np.int64)
    idx = np.repeat(rng.integers(0, 7, 3000), rng.integers(4, 40, 3000))
    arr = pal[idx].astype(np.int32)
    s3 = len(REGISTRY["rle32_3sl_short"].encode(arr))
    s7 = len(REGISTRY["rle32_7sl_short"].encode(arr))
    assert s7 < s3
    # width-8 runs over a 4-byte palette see few byte-level LUT hits:
    # the deeper LUT must never lose, and wins on a byte-valued corpus
    s3b = len(REGISTRY["rle8_3sl_short"].encode(arr))
    s7b = len(REGISTRY["rle8_7sl_short"].encode(arr))
    assert s7b <= s3b
    bpal = (pal.astype(np.int64) % 251 + 1) * 0x01010101  # byte-broadcast
    bytearr = bpal[idx].astype(np.uint32).view(np.int32)
    s3c = len(REGISTRY["rle8_3sl_short"].encode(bytearr))
    s7c = len(REGISTRY["rle8_7sl_short"].encode(bytearr))
    assert s7c < s3c
    # and a single-symbol corpus is where the 1-LUT form is smallest
    one = np.full(40_000, 77, np.int32)
    sizes = {sc: len(REGISTRY[f"rle32_{sc}sl_short"].encode(one))
             for sc in (1, 3, 7)}
    assert sizes[1] <= sizes[3] <= sizes[7]


@pytest.mark.parametrize("sym_bytes", [1, 2, 3, 4, 6, 8])
@pytest.mark.parametrize("sc", [1, 3, 7])
def test_short_stream_bytes_match_ref_replay(sc, sym_bytes):
    """BYTE-exactness of the F5 short streams: the encoder output must
    equal ref_short_bytes_exact — an independent transcription of the
    reference's emit expressions (valuePack8/1/2/3, escape markers,
    LUT-miss symbol, terminal forms, header) from rleX_Xsl_short.h.
    This retires the round-1..4 'in-word bit placement is
    canonicalized' deviation: sizes AND streams now match."""
    from refshort import ref_short_bytes_exact
    from rle_spark.codecs.short import short_sym_encode_bytes
    from tests.fuzzgen import fuzz_tokens
    rng = np.random.default_rng(97 + sc * 10 + sym_bytes)
    cases = [fuzz_tokens(s, vocab=30).view(np.uint8)[:40_000]
             for s in range(4)]
    cases += [rng.integers(0, 256, L).astype(np.uint8)
              for L in (0, 1, sym_bytes, sym_bytes + 1, 17, 4097)]
    pal = rng.integers(0, 1 << min(8 * sym_bytes - 1, 62), 6)
    idx = np.repeat(rng.integers(0, 6, 700), rng.integers(1, 28, 700))
    raw = b"".join(int(pal[i]).to_bytes(sym_bytes, "little")
                   for i in idx.tolist())
    cases.append(np.frombuffer(raw, np.uint8))
    cases.append(np.frombuffer(raw, np.uint8)[: max(0, len(raw) - 3)])
    for img in cases:
        assert (short_sym_encode_bytes(img, sc, sym_bytes)
                == ref_short_bytes_exact(img, sc, sym_bytes))


@pytest.mark.parametrize("name", ["rle32_3sl_short",
                                  "rle32_3sl_byte_short_greedy",
                                  "rle32_sym_interleaved", "rle8_sh"])
def test_decode_rejects_overlong_length_header(name):
    """A u32 length header one byte above what the stream decodes to
    raises ValueError. An assert would vanish under `python -O`, and the
    byte-image adapter's frombuffer(count=n) would then truncate
    silently."""
    arr = fuzz_tokens(1)[:5000]
    payload = bytearray(REGISTRY[name].encode(arr))
    n = struct.unpack_from("<I", payload, 0)[0]
    struct.pack_into("<I", payload, 0, n + 1)
    with pytest.raises(ValueError, match="decode length"):
        REGISTRY[name].decode(bytes(payload), len(arr))


# --- the codec table: wire bytes, tiers, block frame ------------------------

GOLDEN_WIRE_SHA256 = (
    "bd3efafe60601e5f73997a29bb4d15bf4d1d5639dd8cf3425c428e36c1bb7287")


def test_wire_bytes_golden_digest():
    """Pins the payload bytes of every codec, the never-trialed fidelity
    ids included: a refactor of the codec table must keep this digest."""
    inputs = sorted(CASES.items())
    inputs += [(f"fuzz{s}", fuzz_tokens(s)[:20_000]) for s in range(4)]
    inputs.append(("fuzz_vocab256", fuzz_tokens(100, vocab=256)[:20_000]))
    h = hashlib.sha256()
    for cid in sorted(BY_ID):
        codec = BY_ID[cid]
        for case, arr in inputs:
            payload = codec.encode(arr)
            size = -1 if payload is None else len(payload)
            h.update(f"{cid}:{codec.name}:{case}:{size}\n".encode())
            if payload is not None:
                h.update(bytes(payload))
    assert h.hexdigest() == GOLDEN_WIRE_SHA256


def test_codec_table_ids_and_tiers():
    assert sorted(c.codec_id for c in CODECS) == list(range(61))
    assert len(REGISTRY) == len(BY_ID) == 61
    assert set(TIERS) == {"estimate", "probe", "max", "fidelity"}
    assert sorted(n for names in TIERS.values() for n in names) == sorted(REGISTRY)
    for c in CODECS:
        assert c.name in TIERS[c.tier]
        assert (c.estimate is not None) == (c.tier == "estimate"), c.name
    # trial order: the selector keeps the first of two equal-size payloads
    assert PROBE_CODECS == ["rle64_sym", "rle128_sym", "rle8", "rle16_sym",
                            "rle8_single", "fsst8", "rle32_byte"]
    assert MAX_EFFORT_CODECS == [
        "mtf16_rle8", "mtf32_rle8", "zlib_raw", "rle8_lz", "rle8_le",
        "rle8_le_single", "rle32_lut", "rle32_lut1", "rle32_lut3",
        "rle16_byte", "rle24_byte", "rle48_byte", "rle64_byte", "rle128_byte",
        "bitmmtf8_rle", "bitmmtf16_rle", "rle24_sym", "rle48_sym",
        "rle8_1sl_short", "rle8_3sl_short", "rle8_7sl_short",
        "rle16_3sl_short", "rle24_3sl_short", "rle32_3sl_short",
        "rle48_3sl_short", "rle64_3sl_short", "rle32_3sl_byte_short_greedy",
        "rle32_1sl_short", "rle32_7sl_short", "rle8_sh"]
    assert ({REGISTRY[n].codec_id for n in TIERS["fidelity"]}
            == set(range(41, 61)) - {53, 58})


def test_unframe_rejects_short_frame_and_unknown_codec():
    from rle_spark.blocks import decode_block, frame_payload, unframe_payload
    arr = np.array([7, 7, 7, 9], np.int32)
    framed = frame_payload("rle32_sym", len(arr), REGISTRY["rle32_sym"].encode(arr))
    np.testing.assert_array_equal(decode_block(framed), arr)
    with pytest.raises(ValueError, match="shorter than its 15-byte header"):
        unframe_payload(framed[:14])
    bad = bytearray(framed)
    struct.pack_into("<H", bad, 5, 999)  # the codec id field
    with pytest.raises(ValueError, match="unknown codec id 999"):
        decode_block(bytes(bad))
    # an n_tokens header off by one raises, never returns 99 of 100
    # tokens or 100 of a claimed 101 (rle8: a byte-image codec)
    toks = np.arange(100, dtype=np.int32)
    for codec, n in (("raw", 99), ("for_bitpack", 101), ("rle8", 99)):
        with pytest.raises(ValueError, match=f"{n} tokens|says {n}"):
            decode_block(frame_payload(codec, n, REGISTRY[codec].encode(toks)))


@pytest.mark.parametrize("codec", ["rle64_sym", "rle128_sym", "rle48_sym"])
def test_image_frame_ending_inside_symbol_padding_raises(codec):
    """A 100-token block framed as 99 tokens: for 8- and 16-byte
    symbols the 99-token image pads to the same 400 bytes, so only the
    nonzero 100th token in the padding tells the frame is short."""
    from rle_spark.blocks import decode_block, frame_payload
    toks = np.arange(1, 101, dtype=np.int32)
    with pytest.raises(ValueError, match="99 tokens"):
        decode_block(frame_payload(codec, 99, REGISTRY[codec].encode(toks)))

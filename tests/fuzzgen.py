"""Port of the reference fuzzer's structured input generator.

Mirrors /root/reference/src/rle_fuzz.c: inputs are sequences of
sections, each either random bytes or a repeating k-byte symbol
(k in 1..16, aligned or not, from a fixed per-seed symbol pool —
:13-44, :360-438), with section lengths swept over three regimes:
small 1..280, medium 768..8192, and the u16 boundary 65528..65560
(:30-39). We generate int32 TOKEN arrays with the same section
structure (the engine's unit of encoding), plus byte-image cases via
the token LE image.
"""

from __future__ import annotations

import numpy as np

from rle_spark.codecs.rle import SPARSE_RUN_SPAN

SYMBOL_LENS = [1, 2, 3, 4, 6, 8, 16]  # rle_fuzz.c:291-296
LEN_REGIMES = [(1, 280), (768, 8192), (65528, 65560)]  # rle_fuzz.c:30-39


def fuzz_tokens(seed: int, n_sections: int = 6, vocab: int = 2**31 - 2,
                regime: int | None = None) -> np.ndarray:
    rng = np.random.default_rng(seed)
    pool = rng.integers(0, vocab, 16)  # 16 fixed symbols (rle_fuzz.c:13-44)
    parts = []
    for s in range(n_sections):
        lo, hi = LEN_REGIMES[int(rng.integers(0, 3)) if regime is None else regime]
        length = int(rng.integers(lo, hi + 1))
        if rng.random() < 0.5:
            parts.append(rng.integers(0, vocab, length))
        else:
            k = int(rng.choice(SYMBOL_LENS))
            sym = rng.choice(pool, k)
            reps = length // k + 1
            parts.append(np.tile(sym, reps)[:length])
    return np.concatenate(parts).astype(np.int32) if parts else np.zeros(0, np.int32)


def exhaustive_cases(sym_lens=(1, 2, 3, 4, 8, 16),
                     small_max: int = 280):
    """Deterministic EXHAUSTIVE sweep, the iterative-mode analogue of
    /root/reference/src/rle_fuzz.c:159-283: section lengths step
    through the small regime one by one (1..280) and the medium regime
    with the reference's *17/16 growth (768..8192); section order
    alternates (symbol-first / random-first); symbol length sweeps
    sym_lens, each unbound and (for k>1) aligned to the symbol length.
    Yields (case_id, tokens) with a fixed random tail per configuration
    so every case is reproducible."""
    def lengths():
        yield from range(1, small_max + 1)            # flt_small: +1
        cur = 768                                     # flt_medium: *17/16
        while cur <= 8192:
            yield cur
            cur = cur * 17 // 16
    for k in sym_lens:
        for bound in ((False,) if k == 1 else (False, True)):
            rng = np.random.default_rng(1000 * k + bound)
            pool = rng.integers(0, 2**31 - 2, 16)
            sym = rng.choice(pool, k)
            tail = rng.integers(0, 2**31 - 2, 37).astype(np.int64)
            for order in ("sym_first", "rand_first"):
                for L in lengths():
                    if bound and L % k:
                        continue
                    reps = L // k + 1
                    body = np.tile(sym, reps)[:L]
                    parts = ([body, tail] if order == "sym_first"
                             else [tail, body])
                    yield (f"k{k}_b{int(bound)}_{order}_L{L}",
                           np.concatenate(parts).astype(np.int32))


def boundary_cases() -> dict[str, np.ndarray]:
    """FIXTURES.md edge-case checklist: run lengths at the exact
    min-range/count-escape boundaries of the reference formats."""
    rng = np.random.default_rng(7)
    cases = {
        "empty": np.zeros(0, np.int32),
        "one": np.array([42], np.int32),
        "all_same": np.full(10_000, 7, np.int32),
        "alternating": np.tile(np.array([3, 9], np.int32), 5000),
        "int32_edges": np.array([-2**31, 2**31 - 1, 0, -1, 1] * 7, np.int32),
        "incompressible": rng.integers(0, 2**31 - 1, 20_000).astype(np.int32),
    }
    parts = []
    for run_len in (1, 2, 3, 4, 5, 6, 127, 128, 255, 256, 65535, 65536, 65537):
        parts.append(np.full(run_len, run_len % 97, np.int32))
        parts.append(rng.integers(0, 1000, 3).astype(np.int32))
    cases["escape_boundaries"] = np.concatenate(parts)
    # the sparse/dense kernel cut of the symbol RLE codecs: k = 2 runs
    # over n = k * SPARSE_RUN_SPAN + d tokens, d in (-1, 0, +1)
    for d in (-1, 0, 1):
        arr = np.arange(2 * SPARSE_RUN_SPAN + d, dtype=np.int32)
        for start in (len(arr) // 3, 2 * len(arr) // 3):
            arr[start:start + 8] = -7  # neighbours differ: one run each
        cases[f"sparse_run_cut{d:+d}"] = arr
    return cases


def selection_blocks(datagen: bool = True):
    """The selector's winner-diff set, as (name, tokens): up to four
    262144-token blocks per datagen source for seeds 11-14 (3000 docs
    each, tokens concatenated per source), then boundary_cases(),
    fuzz_tokens(0..11) and fuzz_tokens(100..111, vocab=256). 102
    blocks in all."""
    if datagen:
        from rle_spark.datagen import generate_docs_pandas
        for seed in range(11, 15):
            df = generate_docs_pandas(range(3000), seed)
            for src, g in df.groupby("source", sort=True):
                toks = np.concatenate(list(g["tokens"]))
                for i in range(0, min(len(toks), 4 << 18), 1 << 18):
                    yield f"dg{seed}_{src}_{i >> 18}", toks[i:i + (1 << 18)]
    yield from boundary_cases().items()
    for s in range(12):
        yield f"fuzz{s}", fuzz_tokens(s)
    for s in range(100, 112):
        yield f"fuzz{s}_vocab256", fuzz_tokens(s, vocab=256)

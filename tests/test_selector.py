"""Selector sanity (SURVEY.md §5 ported strategy, items c & f)."""

import numpy as np
import pytest

from rle_spark.selector import SelectorConfig, block_stats, select_and_encode


def test_incompressible_never_inflates():
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 2**31 - 1, 50_000).astype(np.int32)
    name, payload, _ = select_and_encode(arr)
    # F12 memcpy-control semantics: ratio <= 100% + fixed header
    assert len(payload) <= 4 * len(arr) + 16


def test_runs_pick_rle_family():
    arr = np.repeat(np.arange(50, dtype=np.int32), 1000)
    name, payload, _ = select_and_encode(arr)
    assert name in ("rle32_sym", "rle32_single")
    assert len(payload) < 2000  # massive compression on pure runs


def test_small_vocab_picks_compact_codec():
    rng = np.random.default_rng(12)
    arr = rng.integers(0, 17, 100_000).astype(np.int32)
    name, payload, _ = select_and_encode(arr)
    # 17 distinct values -> ~5 bits/token plus overhead
    assert len(payload) < 0.2 * 4 * len(arr)
    assert name in ("dict_bitpack", "for_bitpack")


def test_sorted_picks_delta():
    rng = np.random.default_rng(13)
    arr = np.sort(rng.integers(0, 2**30, 200_000)).astype(np.int32)
    name, payload, _ = select_and_encode(arr)
    # sorted data: frame-of-reference on deltas bounds width by the max
    # gap (~17 bits here), far below the 31-bit value span
    assert name == "delta_bitpack"
    assert len(payload) < 0.65 * 4 * len(arr)


def test_allow_list_respected():
    arr = np.repeat(np.arange(50, dtype=np.int32), 1000)
    name, _, _ = select_and_encode(arr, SelectorConfig(allow=["raw", "for_bitpack"]))
    assert name in ("raw", "for_bitpack")


def test_allow_list_rejects_unknown_codec():
    with pytest.raises(ValueError, match="rle32_symm"):
        SelectorConfig(allow=["raw", "rle32_symm"])


def test_stats_keys():
    st = block_stats(np.array([5, 5, 5, 9, 1, 1], dtype=np.int32))
    assert st["n"] == 6 and st["n_runs"] == 3 and st["k_runs"] == 1
    assert st["max_run"] == 3 and st["vmin"] == 1 and st["vmax"] == 9
    assert st["distinct_est"] == 3


def test_empty_block():
    name, payload, st = select_and_encode(np.zeros(0, np.int32))
    assert name == "raw" and st["n"] == 0

"""Selector sanity (SURVEY.md §5 ported strategy, items c & f)."""

import dataclasses

import numpy as np
import pytest

from rle_spark.codecs import REGISTRY, TIERS
from rle_spark.selector import SelectorConfig, block_stats, select_and_encode

from fuzzgen import selection_blocks


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
    assert st["distinct"] == 3


def test_empty_block():
    name, payload, st = select_and_encode(np.zeros(0, np.int32))
    assert name == "raw" and st["n"] == 0


@pytest.mark.parametrize("codec", [c for c in TIERS["estimate"] if c != "raw"])
def test_estimate_is_exact_payload_size(codec):
    """The selector encodes only the lowest estimate, so every estimate
    must be the payload size, and inf exactly when the codec declines
    (rle32_single on a block without a run of 3)."""
    for case_id, arr in selection_blocks(datagen=False):
        if len(arr) == 0:
            continue
        est = REGISTRY[codec].estimate(block_stats(arr))
        payload = REGISTRY[codec].encode(arr)
        if payload is None:
            assert est == float("inf"), case_id
        else:
            assert est == len(payload), case_id


def test_aligned_wide_two_grams_select_rle64_sym():
    # repeated 2-grams of wide random values, between incompressible
    # sections: no token runs, so only the 64-bit symbol probe sees them
    rng = np.random.default_rng(5)
    parts = []
    for i in range(24):
        if i % 2:
            parts.append(rng.integers(0, 2**31 - 1, 2 * int(rng.integers(500, 1500))))
        else:
            parts.append(np.tile(rng.integers(0, 2**31 - 1, 2),
                                 int(rng.integers(1000, 3000))))
    arr = np.concatenate(parts).astype(np.int32)
    name, payload, _ = select_and_encode(arr)
    assert name == "rle64_sym"
    assert len(payload) < 0.6 * 4 * len(arr)


def test_random_block_trials_only_the_leader(monkeypatch):
    calls = []
    for name, codec in list(REGISTRY.items()):
        def encode(a, _name=name, _enc=codec.encode):
            calls.append((_name, len(a)))
            return _enc(a)
        monkeypatch.setitem(REGISTRY, name, dataclasses.replace(codec, encode=encode))
    rng = np.random.default_rng(14)
    arr = rng.integers(0, 2**31 - 2, 1 << 18).astype(np.int32)  # synth_rand
    name, _, _ = select_and_encode(arr)
    assert name == "for_bitpack"
    assert [c for c in calls if c[1] == len(arr)] == [("for_bitpack", len(arr))]


def test_selected_bytes_not_above_pinned_total():
    # the total over the boundary and fuzz blocks when every selection
    # still trial-encoded the two best estimates and every probe codec
    total = sum(len(select_and_encode(arr)[1])
                for _, arr in selection_blocks(datagen=False))
    assert total <= 7_658_586

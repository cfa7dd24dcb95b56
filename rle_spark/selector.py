"""Per-block codec selection: one stats pass, then one encode.

Trial rule. `block_stats` records, besides value/delta/run features,
the block's runs and sorted uniques, from which every estimate-tier
codec (for/delta/dict bitpack, rle32_sym, rle32_single) computes its
exact payload size before any encode, or inf when it would decline. The selector encodes only the leader,
the lowest estimate; no runner-up is trialed, since with exact sizes
there is no near-tie to settle. The byte-image probe codecs have no
estimate: when the leader's ratio is weak (> 0.5) or the block is
run-heavy, each is encoded on PROBE_WINDOWS spread windows of the
block first, and trialed on the whole block only if that sample beats
the best ratio so far. effort="max" trials probe and max-tier codecs
on the whole block.

The reference's only "optimizer" is manual codec choice plus the
benchmark loop trying everything (/root/reference/src/main.c:803-1076);
its in-codec precedents for cost-driven choice are the emit-threshold
constants (/root/reference/src/rleX_extreme_cpu.h:10-15), the
penalty-aware LUT emit (/root/reference/src/rleX_Xsl.h:130-132) and the
single-symbol argmax scan (/root/reference/src/rle8_extreme_cpu.c:135-152).
The --analyze feature extractor (/root/reference/src/main.c:1246-2257)
is the model for `block_stats`.

Selection contract (mirrors F12's memcpy control,
/root/reference/src/codec_funcs.h:130): the RAW codec is always a
candidate, so the chosen size never exceeds 4*n+16 — data is never
inflated past the raw image plus a fixed header.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .codecs import PROBE_CODECS, MAX_EFFORT_CODECS, REGISTRY, TIERS
from .codecs.base import long_runs
from .codecs.dictionary import sorted_uniques

# the probe gate's sample: PROBE_WINDOWS evenly spread windows of
# PROBE_WINDOW tokens (with one or two windows the rle128_sym win on
# fuzz_tokens(11) is missed; four catch it)
PROBE_WINDOWS = 4
PROBE_WINDOW = 1 << 12
# probe byte-image codecs when n_runs/n is below 1 - PROBE_RUN_FRAC
# (repetitive data)
PROBE_RUN_FRAC = 0.7
# full re-selection every Nth block per group; in between, encode with
# the sticky winner (raw-guarded). A full selection costs about 3x the
# winner's encode, most of it on a group's first, probing selection;
# over a traced task (perfbench --trace 1, seed 7) the sticky stream
# costs 1.1-1.4x the winners' encodes alone. The raw guard still
# catches a distribution collapse on EVERY block in between.
MEMO_EVERY = 32


def block_stats(arr: np.ndarray) -> dict:
    """Vectorized feature pass (the --analyze analogue).

    Besides the value, delta and run features it keeps what the exact
    estimates share: the block (`tokens`), its runs of length >= 2
    (`runs`, from `long_runs`) and its sorted uniques (`uniq`). Each
    codec's estimate turns them into its payload size. Runs in the
    source dtype: the delta min/max only needs the int64 range in the
    SUBTRACT output dtype (fused, no intermediate)."""
    a = np.ascontiguousarray(arr)
    n = len(a)
    st: dict = {"n": n}
    if n == 0:
        st.update(vmin=0, vmax=0, dmin=0, dmax=0, n_runs=0, k_runs=0,
                  max_run=0, distinct=0)
        return st
    st["vmin"] = int(a.min())
    st["vmax"] = int(a.max())
    # delta stats with d[0] = a[0] - 0 (the np.diff(prepend=0)
    # convention of delta_bitpack), a[0] folded in scalar-side instead
    # of materializing the prepended array
    a0 = int(a[0])
    if n > 1:
        d = np.subtract(a[1:], a[:-1], dtype=np.int64)
        st["dmin"] = min(int(d.min()), a0)
        st["dmax"] = max(int(d.max()), a0)
    else:
        st["dmin"] = st["dmax"] = a0
    st["tokens"] = a
    st["runs"] = long_runs(a, 2)
    lens = st["runs"][1]
    st["n_runs"] = n - int(lens.sum()) + len(lens)
    st["max_run"] = int(lens.max()) if len(lens) else 1
    st["k_runs"] = int((lens >= 3).sum())
    st["uniq"] = sorted_uniques(a, st["vmin"], st["vmax"])
    st["distinct"] = len(st["uniq"])
    return st


@dataclass
class SelectorConfig:
    effort: str = "balanced"  # fast | balanced | max
    allow: list[str] = field(default_factory=list)  # allow-list; [] = all

    def __post_init__(self):
        unknown = [c for c in self.allow if c not in REGISTRY]
        if unknown:
            raise ValueError(f"unknown codec(s) in allow-list: {unknown}")


def _probe_sample(arr: np.ndarray) -> np.ndarray:
    """PROBE_WINDOWS evenly spread windows of the block, concatenated
    (the block itself when it is no longer than that)."""
    n = len(arr)
    if n <= PROBE_WINDOWS * PROBE_WINDOW:
        return arr
    starts = np.linspace(0, n - PROBE_WINDOW, PROBE_WINDOWS).astype(np.int64)
    return np.concatenate([arr[s:s + PROBE_WINDOW] for s in starts])


def select_and_encode(arr: np.ndarray, cfg: SelectorConfig | None = None,
                      probes: bool = True) -> tuple[str, bytes, dict]:
    """Choose the cheapest codec for this block and encode with it.

    Trial rule: every estimate-tier estimate is the exact payload size
    (or inf when the codec would decline), so only the leader, the
    lowest estimate, is encoded, and only if it beats raw. The
    byte-image probe sweep, when the leader's prospects are weak or
    the block is run-heavy, encodes each probe codec on a spread
    sample first and trials it on the whole block only if the sample
    beats the best ratio so far. effort="max" also trials the
    ratio-oriented codecs, on the whole block.

    Returns (codec_name, payload, stats), with an `est_<name>` stat per
    estimated codec. Guaranteed: len(payload) <= 4*len(arr) + 16 (RAW
    fallback).
    """
    cfg = cfg or SelectorConfig()
    st = block_stats(arr)
    n = st["n"]
    allowed = set(cfg.allow) if cfg.allow else set(REGISTRY)

    raw_size = 4 * n + 16
    if n == 0:
        payload = REGISTRY["raw"].encode(arr)
        st["est_raw"] = raw_size
        return "raw", payload, st

    ests = []
    for name in TIERS["estimate"]:
        if name == "raw" or name not in allowed:
            continue
        e = REGISTRY[name].estimate(st)
        st[f"est_{name}"] = float(e)
        ests.append((e, name))

    best_name, best_payload, best_size = "raw", None, raw_size

    def trial(name):
        nonlocal best_name, best_payload, best_size
        payload = REGISTRY[name].encode(arr)
        if payload is not None and len(payload) < best_size:
            best_name, best_payload, best_size = name, payload, len(payload)

    leader_size, leader = min(ests, default=(raw_size, None))
    if leader_size < raw_size:
        trial(leader)
    if probes and cfg.effort in ("balanced", "max"):
        # probe byte-image codecs only when token-level prospects are
        # weak or the data shows byte-level structure worth chasing
        run_frac = st["n_runs"] / n
        if best_size / raw_size > 0.5 or run_frac < (1 - PROBE_RUN_FRAC):
            sample = _probe_sample(arr) if cfg.effort == "balanced" else arr
            for name in (c for c in PROBE_CODECS if c in allowed):
                if sample is not arr:
                    p = REGISTRY[name].encode(sample)
                    if p is None or len(p) * n >= best_size * len(sample):
                        continue
                trial(name)
    if cfg.effort == "max":
        extra = [c for c in MAX_EFFORT_CODECS if c in allowed]
        if st["n_runs"] / n > 0.5 and n > 4096:
            # lane-MTF's Python loop visits every change step; its
            # run-skip fast path only pays on run-heavy blocks, so
            # time-bound the trial: skip MTF when runs are scarce
            # (mean run < 2 tokens) and the block is big
            extra = [c for c in extra if not c.startswith("mtf")]
        for name in extra:
            trial(name)

    if best_payload is None:
        best_payload = REGISTRY["raw"].encode(arr)
    return best_name, best_payload, st


class StickySelector:
    """Per-group codec memo: blocks of one (source, bucket) stream are
    near-identically distributed, so the full stats+trial selection
    runs on every `MEMO_EVERY`-th block and the winner is reused in
    between (always raw-guarded so data can never inflate).

    This is the per-partition mirror of the reference's 'pick a codec
    per file' usage — the cost model runs per block only as often as
    the data actually drifts."""

    def __init__(self, cfg: SelectorConfig | None = None):
        self.cfg = cfg or SelectorConfig()
        self._memo: dict = {}   # group -> (codec_name, uses_left)
        self._probed: set = set()  # groups whose first selection probed

    def encode(self, group, arr: np.ndarray) -> tuple[str, bytes]:
        cfg = self.cfg
        memo = self._memo.get(group)
        if memo is not None and memo[1] > 0:
            name, left = memo
            payload = REGISTRY[name].encode(arr)
            raw_size = 4 * len(arr) + 16
            if payload is not None and len(payload) < raw_size:
                self._memo[group] = (name, left - 1)
                return name, payload
            # sticky choice went stale -> fall through to full selection
        # the byte-image probe sweep runs once per group: periodic
        # re-selections only re-rank the estimate-capable codecs (the
        # raw guard still catches a distribution collapse mid-stream)
        name, payload, _st = select_and_encode(
            arr, cfg, probes=group not in self._probed)
        self._probed.add(group)
        self._memo[group] = (name, MEMO_EVERY - 1)
        return name, payload

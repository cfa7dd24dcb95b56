"""Per-block codec selection: cheap stats -> cost model -> trial encode.

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
from .codecs.base import find_runs

SAMPLE_DISTINCT = 1 << 13
TRIAL_TOP = 2  # estimate-ranked candidates to trial-encode
# probe byte-image codecs when n_runs/n is below 1 - PROBE_RUN_FRAC
# (repetitive data)
PROBE_RUN_FRAC = 0.7
# full re-selection every Nth block per group; in between, encode with
# the sticky winner (raw-guarded). At 32 the amortized stats+trial
# overhead is ~5% of the winner's encode cost; the raw guard still
# catches a distribution collapse on EVERY block in between.
MEMO_EVERY = 32


def block_stats(arr: np.ndarray) -> dict:
    """O(n) vectorized feature pass (the --analyze analogue).

    Runs in the source dtype: the old int64 promotion was a full
    extra pass + 8 B/elem allocation per stats call, and the delta
    min/max only needs the int64 range in the SUBTRACT output dtype
    (fused, no intermediate)."""
    a = np.ascontiguousarray(arr)
    n = len(a)
    st: dict = {"n": n}
    if n == 0:
        st.update(vmin=0, vmax=0, dmin=0, dmax=0, n_runs=0, k_runs=0,
                  lit_count=0, max_run=0, runnable=0, best_sym_runnable=0,
                  distinct_est=0)
        return st
    st["vmin"] = int(a.min())
    st["vmax"] = int(a.max())
    # delta stats with d[0] = a[0] - 0 (the np.diff(prepend=0)
    # convention the estimates were calibrated on), a[0] folded in
    # scalar-side instead of materializing the prepended array
    a0 = int(a[0])
    if n > 1:
        d = np.subtract(a[1:], a[:-1], dtype=np.int64)
        st["dmin"] = min(int(d.min()), a0)
        st["dmax"] = max(int(d.max()), a0)
    else:
        st["dmin"] = st["dmax"] = a0
    starts, lens = find_runs(a)
    st["n_runs"] = len(lens)
    emit = lens >= 3
    st["k_runs"] = int(emit.sum())
    st["lit_count"] = int(lens[~emit].sum())
    st["max_run"] = int(lens.max())
    st["runnable"] = int(lens[emit].sum())
    if emit.any():
        vals = a[starts[emit]]
        uniq, inv = np.unique(vals, return_inverse=True)
        per_sym = np.bincount(inv, weights=lens[emit].astype(np.float64))
        st["best_sym_runnable"] = int(per_sym.max())
    else:
        st["best_sym_runnable"] = 0
    if n <= SAMPLE_DISTINCT:
        st["distinct_est"] = int(len(np.unique(a)))
    else:
        idx = np.linspace(0, n - 1, SAMPLE_DISTINCT).astype(np.int64)
        sample_distinct = len(np.unique(a[idx]))
        # first-order scale-up, capped by value span
        est = int(sample_distinct * (n / SAMPLE_DISTINCT) ** 0.5)
        st["distinct_est"] = min(max(sample_distinct, est),
                                 st["vmax"] - st["vmin"] + 1, n)
    return st


@dataclass
class SelectorConfig:
    effort: str = "balanced"  # fast | balanced | max
    allow: list[str] = field(default_factory=list)  # allow-list; [] = all

    def __post_init__(self):
        unknown = [c for c in self.allow if c not in REGISTRY]
        if unknown:
            raise ValueError(f"unknown codec(s) in allow-list: {unknown}")


def select_and_encode(arr: np.ndarray, cfg: SelectorConfig | None = None,
                      probes: bool = True) -> tuple[str, bytes, dict]:
    """Choose the cheapest codec for this block and encode with it.

    Returns (codec_name, payload, stats). Guaranteed:
    len(payload) <= 4*len(arr) + 16 (RAW fallback).
    """
    cfg = cfg or SelectorConfig()
    st = block_stats(arr)
    n = st["n"]
    allowed = set(cfg.allow) if cfg.allow else set(REGISTRY)

    raw_size = 4 * n + 16
    best_name, best_payload = "raw", None

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
    ests.sort()

    trial = [name for _, name in ests[:TRIAL_TOP]]
    if probes and cfg.effort in ("balanced", "max"):
        # probe byte-image codecs only when token-level prospects are
        # weak or the data shows byte-level structure worth chasing
        best_est_ratio = (ests[0][0] / raw_size) if ests else 1.0
        run_frac = st["n_runs"] / max(n, 1)
        if best_est_ratio > 0.5 or run_frac < (1 - PROBE_RUN_FRAC):
            trial += [c for c in PROBE_CODECS if c in allowed and c not in trial]
    if cfg.effort == "max":
        extra = [c for c in MAX_EFFORT_CODECS if c in allowed and c not in trial]
        if st["n_runs"] / max(n, 1) > 0.5 and n > 4096:
            # lane-MTF's Python loop visits every change step; its
            # run-skip fast path only pays on run-heavy blocks, so
            # time-bound the trial: skip MTF when runs are scarce
            # (mean run < 2 tokens) and the block is big
            extra = [c for c in extra if not c.startswith("mtf")]
        trial += extra
        trial += [name for _, name in ests[TRIAL_TOP:]]

    best_size = raw_size
    for name in trial:
        payload = REGISTRY[name].encode(arr)
        if payload is None:
            continue
        if len(payload) < best_size:
            best_size = len(payload)
            best_name, best_payload = name, payload

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

"""Single-thread, in-process replay of the file-transport encode and
decode pipeline, timed layer by layer (`--trace 1` runs only).

The replay takes the splits of the Spark job's first task, as the job
assigns them (`sources._balanced_contiguous_groups`), so its numbers
split one task's wall into layers. It reads them with pyarrow, runs the
engine's encode kernel (`engine._encode_iter_factory`, mapside, the
kernel every Spark task runs), writes the blocks with a zstd
`ParquetWriter`, reads them back and decodes them. Each layer is timed
by calling its functions directly, or by wrapping them for one traced
kernel pass. Every *_GBps is raw int32 token bytes per second, so each
layer compares directly with the end-to-end encode and decode GB/s.
Every decoded block is compared with the tokens that went into it.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

# codecs whose per-codec metrics are reported on every workload: the
# two that win blocks on the datagen mixes (rle32_sym on books, code,
# web and synth_rle; for_bitpack on synth_rand)
REPORTED_CODECS = ("rle32_sym", "for_bitpack")
# full selections trial-encode several codecs, some at ~0.02 GB/s on
# incompressible blocks: time them on an evenly spaced subset
FULL_SELECTION_BLOCKS = 24
REPEATS = 3


def _median_time(fn, repeats: int = REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _read_units(units, batch_rows: int, columns) -> list:
    import pyarrow.parquet as pq
    out = []
    for path, g0, g1, *_ in units:
        out.extend(pq.ParquetFile(path).iter_batches(
            batch_size=batch_rows, row_groups=list(range(g0, g1)),
            columns=columns))
    return out


def replay(src_dir: str, work_dir: str, cfg, tracer, n_tasks: int,
           split_bytes: int) -> tuple[dict, int, list[str]]:
    """Returns (metrics, checks attempted, failure messages)."""
    import pyarrow.parquet as pq
    from rle_spark import engine, selector, sources
    from rle_spark.blocks import decode_block, frame_payload
    from rle_spark.codecs import REGISTRY
    from rle_spark.memtune import warm_heap
    from spans import patched

    warm_heap()  # as warm_python_workers does in every worker

    failures: list[str] = []
    attempted = 0
    units = sources._balanced_contiguous_groups(
        sources.plan_parquet_splits(src_dir, split_bytes, with_bytes=True),
        n_tasks)[0]
    read_cols = sources._READ_COLUMNS
    batch_rows = sources._SCAN_BATCH_ROWS

    # sources: scan of the source splits
    batches = _read_units(units, batch_rows, read_cols)
    raw = 4 * sum(len(b.column("tokens").values) for b in batches)
    scan_s = _median_time(lambda: _read_units(units, batch_rows, read_cols))

    def kernel():
        return list(engine._encode_iter_factory(cfg, mapside=True)(
            iter(batches)))

    kernel_s = _median_time(kernel)

    # one traced kernel pass: spans around the selector (sticky and full
    # selections) and the block framing, plus every block's tokens
    recorded: list[tuple] = []   # (group key, tokens, codec)
    selections: list[tuple] = []  # (winner, estimate or None, actual, misrank)
    real_select = selector.select_and_encode

    def select_logged(arr, cfg_=None, probes=True):
        name, payload, st = real_select(arr, cfg_, probes)
        ests = {k[4:]: v for k, v in st.items()
                if k.startswith("est_") and k != "est_raw"}
        lowest = min(ests, key=ests.get) if ests else None
        selections.append((name, ests.get(name), len(payload),
                           lowest is not None and lowest != name))
        return name, payload, st

    class TracedSticky(selector.StickySelector):
        def encode(self, group, arr):
            with tracer.span("selector.sticky"):
                name, payload = super().encode(group, arr)
            recorded.append((group, arr, name))
            return name, payload

    with patched(selector, "select_and_encode", select_logged), \
            patched(engine, "StickySelector", TracedSticky), \
            tracer.wrap(engine, "frame_payload", "blocks.frame"), \
            tracer.span("engine.encode_kernel") as ks:
        out_batches = kernel()
    kernel_traced_s = ks["end"] - ks["start"]
    sticky_kernel_s = tracer.total("selector.sticky", "engine.encode_kernel")
    frame_kernel_s = tracer.total("blocks.frame", "engine.encode_kernel")

    # sources: zstd block write, then the block scan that decode starts
    blocks_path = os.path.join(work_dir, "replay-blocks.parquet")

    def write(bs):
        with pq.ParquetWriter(blocks_path, bs[0].schema,
                              compression=cfg.parquet_codec) as w:
            for b in bs:
                w.write_batch(b)

    write_s = _median_time(lambda: write(out_batches))
    blk_units = [(blocks_path, 0,
                  pq.ParquetFile(blocks_path).metadata.num_row_groups)]
    blk_cols = ["payload", "doc_ids", "doc_lens"]
    block_batches = _read_units(blk_units, 64, blk_cols)
    block_scan_s = _median_time(lambda: _read_units(blk_units, 64, blk_cols))

    # the whole single-thread pipeline, untraced: scan -> kernel -> write
    def pipeline():
        write(list(engine._encode_iter_factory(cfg, mapside=True)(
            iter(_read_units(units, batch_rows, read_cols)))))

    pipeline_s = _median_time(pipeline)

    # engine: decode kernel, with the decoded totals checked
    def decode_kernel():
        return sum(len(b.column("tokens").values)
                   for b in engine._decode_iter(iter(block_batches)))

    attempted += 1
    if decode_kernel() * 4 != raw:
        failures.append("replay decode kernel token count mismatch")
    decode_kernel_s = _median_time(decode_kernel)

    # blocks: every framed block decodes to exactly the tokens it encoded
    payloads = [p.as_buffer() for b in out_batches
                for p in b.column("payload")]
    attempted += 1
    if len(payloads) != len(recorded):
        failures.append(f"replay recorded {len(recorded)} blocks, "
                        f"kernel emitted {len(payloads)}")
        recorded = recorded[:len(payloads)]
    for i, ((_, arr, _), buf) in enumerate(zip(recorded, payloads)):
        attempted += 1
        try:
            if not np.array_equal(decode_block(buf), arr):
                failures.append(f"replay block {i} decoded to other tokens")
        except Exception as e:  # noqa: BLE001 -- counted as a failed block
            failures.append(f"replay block {i}: {type(e).__name__}: {e}")

    # selector: stats, full selection, sticky stream, winner alone
    arrs = [a for _, a, _ in recorded]
    stats_s = _median_time(lambda: [selector.block_stats(a) for a in arrs])
    step = max(1, len(arrs) // FULL_SELECTION_BLOCKS)
    subset = arrs[::step]
    full_s = _median_time(
        lambda: [selector.select_and_encode(a, cfg.selector) for a in subset],
        1)

    def sticky():
        s = selector.StickySelector(cfg.selector)
        for key, a, _ in recorded:
            s.encode(key, a)

    sticky_s = _median_time(sticky)
    winners = [n for _, _, n in recorded]
    enc_by_codec: dict[str, float] = {}
    codec_payloads: list[bytes] = []

    def winner_only():
        codec_payloads.clear()
        for a, n in zip(arrs, winners):
            t0 = time.perf_counter()
            codec_payloads.append(REGISTRY[n].encode(a))
            enc_by_codec[n] = enc_by_codec.get(n, 0.0) + (
                time.perf_counter() - t0)

    winner_s = _median_time(winner_only)
    enc_by_codec = {k: v / REPEATS for k, v in enc_by_codec.items()}

    # blocks: framing and the unframe overhead over the codec decode
    framed = [None] * len(arrs)

    def frame_all():
        for i, (a, n, p) in enumerate(zip(arrs, winners, codec_payloads)):
            framed[i] = frame_payload(n, len(a), p)

    frame_s = _median_time(frame_all)
    unframe_s = _median_time(lambda: [decode_block(f) for f in framed])
    codec_dec_s = _median_time(lambda: [
        REGISTRY[n].decode(memoryview(p), len(a))
        for a, n, p in zip(arrs, winners, codec_payloads)])

    m: dict[str, float] = {}
    gbps = (lambda nbytes, s: nbytes / s / 1e9 if s > 0 else 0.0)
    arr_bytes = lambda xs: 4 * sum(len(a) for a in xs)  # noqa: E731
    m["sources.scan_GBps"] = gbps(raw, scan_s)
    m["sources.write_GBps"] = gbps(raw, write_s)
    m["sources.block_scan_GBps"] = gbps(raw, block_scan_s)
    m["selector.stats_GBps"] = gbps(raw, stats_s)
    m["selector.full_GBps"] = gbps(arr_bytes(subset), full_s)
    m["selector.sticky_GBps"] = gbps(raw, sticky_s)
    m["selector.winner_GBps"] = gbps(raw, winner_s)
    m["selector.overhead_ratio"] = sticky_s / winner_s
    m["selector.full_selections"] = len(selections)
    m["selector.misrank_frac"] = (sum(s[3] for s in selections)
                                  / max(len(selections), 1))
    q = [max(e / a, a / e) for _, e, a, _ in selections if e]
    m["selector.qerror_p50"] = statistics.median(q) if q else 1.0
    m["selector.qerror_max"] = max(q) if q else 1.0
    for name in REPORTED_CODECS:
        won = [i for i, n in enumerate(winners) if n == name]
        m[f"codecs.{name}.blocks"] = len(won)
        if won:
            sel = [arrs[i] for i in won]
            enc_s = enc_by_codec[name]
            pays = [codec_payloads[i] for i in won]
        else:
            # won no block here: trial it on the same subset the full
            # selection timing uses, so the figure still exists
            sel, pays = subset, []

            def trial():
                pays[:] = [REGISTRY[name].encode(a) for a in sel]

            enc_s = _median_time(trial)
        dec_s = _median_time(lambda: [
            REGISTRY[name].decode(memoryview(p), len(a))
            for a, p in zip(sel, pays)])
        for a, p in zip(sel, pays):
            attempted += 1
            if not np.array_equal(REGISTRY[name].decode(memoryview(p),
                                                        len(a)), a):
                failures.append(f"codec {name} roundtrip mismatch")
        m[f"codecs.{name}.enc_GBps"] = gbps(arr_bytes(sel), enc_s)
        m[f"codecs.{name}.dec_GBps"] = gbps(arr_bytes(sel), dec_s)
    m["blocks.frame_GBps"] = gbps(raw, frame_s)
    m["blocks.unframe_overhead_ratio"] = unframe_s / codec_dec_s
    m["engine.encode_kernel_GBps"] = gbps(raw, kernel_s)
    m["engine.assembly_share"] = ((kernel_traced_s - sticky_kernel_s
                                   - frame_kernel_s) / kernel_traced_s)
    m["engine.decode_kernel_GBps"] = gbps(raw, decode_kernel_s)
    m["engine.pipeline_GBps"] = gbps(raw, pipeline_s)
    m["engine.layer_coverage"] = ((scan_s + sticky_kernel_s + frame_kernel_s
                                   + write_s) / pipeline_s)
    m["tracing.kernel_overhead_frac"] = kernel_traced_s / kernel_s - 1
    os.remove(blocks_path)
    return m, attempted, failures

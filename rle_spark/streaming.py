"""Structured Streaming ingest: incremental encode of a growing token
table.

The reference is a batch library with no streaming surface
(/root/reference/src/main.c — single whole-file read), so this module
is the Spark-native extension for continuous training-data ingest:
new parquet files landing under the input path are encoded per
micro-batch by the batch engine's mapside kernel, written through
the same block sink as every other encode writer
(sources._sink_task), and the manifest is folded from the sink's
lineage on the driver (engine.refresh_manifest; the fold heals
lineage that a crash left short or stale). compact_blocks rewrites the
epochs through the sink as well. Outputs are local or
shared-filesystem paths.

Delivery semantics: the checkpoint gives each micro-batch a stable
epoch id; each epoch writes to its OWN subdirectory
(blocks/epoch=<id>, lineage/epoch=<id>), cleared before the epoch
runs, so a replayed epoch (write succeeded, checkpoint commit lost)
rewrites the same files instead of appending duplicates —
exactly-once block identity without any read-side dedup.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from . import engine
from .blocks import BLOCK_SCHEMA_DDL
from .datagen import TOKEN_SCHEMA_DDL
from .engine import EngineConfig, _encode_iter_factory
from .sources import _TOTALS_DDL, _local_dir, _sink_task

_MAX_FILES_PER_TRIGGER = 8  # input files per micro-batch


def _epoch(out_dir: str, cfg: EngineConfig, df: DataFrame,
           epoch_id: int) -> None:
    """One micro-batch: the mapside kernel over `df` into the block
    sink under blocks/epoch=<epoch_id>, block ids prefixed e<id>:.
    The epoch's block and lineage dirs are cleared first, so at-least-
    once foreachBatch delivery never leaves duplicate block files."""
    subdir = f"epoch={epoch_id}"
    for sub in ("blocks", "lineage"):
        shutil.rmtree(os.path.join(out_dir, sub, subdir), ignore_errors=True)
    kernel, prefix = _encode_iter_factory(cfg, mapside=True), f"e{epoch_id}:"
    df.mapInArrow(lambda batches: _sink_task(out_dir, (
        rb.set_column(0, "block_id", pc.binary_join_element_wise(
            prefix, rb.column("block_id"), "")) for rb in kernel(batches)),
        subdir=subdir), _TOTALS_DDL).collect()


def encode_stream(spark: SparkSession, input_path: str, out_dir: str,
                  cfg: EngineConfig | None = None,
                  checkpoint: str | None = None,
                  available_now: bool = True):
    """Start the incremental encode stream; returns the StreamingQuery.

    With available_now=True the query drains everything currently in
    `input_path` and stops (the batch-backfill mode); otherwise it
    keeps running and encodes new files as they land. Every epoch runs
    the mapside kernel (bucket ids are scan-split ordinals within the
    epoch), whatever `cfg.layout` says.
    """
    cfg = cfg or EngineConfig(layout="mapside")
    out_dir = _local_dir(out_dir)
    checkpoint = checkpoint or os.path.join(out_dir, "_checkpoint")
    src = (spark.readStream.schema(TOKEN_SCHEMA_DDL)
           .option("maxFilesPerTrigger", str(_MAX_FILES_PER_TRIGGER))
           .parquet(input_path))
    writer = (src.writeStream.foreachBatch(partial(_epoch, out_dir, cfg))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_blocks(spark: SparkSession, out_dir: str,
                   target_bytes: int = 256 << 20) -> int:
    """Rewrite the (possibly many small) epoch-scoped block files into
    ~target_bytes parquet files — the periodic maintenance pass every
    streaming-ingest table needs (each micro-batch epoch leaves its own
    small files; at 100 TB the file count, not the byte count, is what
    kills scan planning). Block rows are carried verbatim (same
    block_id/payload — decode output is bit-identical).

    Layout: compacted files land under the RESERVED partition
    blocks/epoch=-1 (real epoch ids are >= 0), so the directory keeps a
    pure epoch-partitioned structure and later micro-batches writing
    blocks/epoch=K never create the mixed flat-file/partition-dir
    layout Spark's partition discovery rejects; repeated compactions
    fold everything back into epoch=-1. Run only while the stream is
    stopped with its checkpoint committed — a replay of an epoch whose
    files were just compacted would re-add its docs. The swap stages
    the new data in a dot-directory readers ignore and drops a
    _COMPACTING marker across the non-atomic window; on entry a
    leftover marker triggers recover_compaction() first, so a rerun
    after a mid-swap crash finishes the interrupted swap instead of
    re-reading a half-empty table. The compacted files are written
    through the block sink, so their lineage (moved in after the swap,
    replacing the compacted epochs') lets later waves fold the manifest
    from lineage; a crash in between only leaves the lineage short,
    and the fold heals it from the compacted files. Returns the number
    of files after compaction.
    """
    out_dir = _local_dir(out_dir)
    blocks_path = os.path.join(out_dir, "blocks")
    lineage_path = os.path.join(out_dir, "lineage")
    staged = os.path.join(out_dir, "_blocks_compacting")
    hidden_new = os.path.join(blocks_path, ".compact_new")
    old = os.path.join(out_dir, "_blocks_old")
    marker = os.path.join(out_dir, "_COMPACTING")
    recover_compaction(out_dir)  # finish any interrupted swap first
    total = sum(os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(blocks_path) for f in fs)
    n_files = max(1, (total + target_bytes - 1) // target_bytes)
    shutil.rmtree(staged, ignore_errors=True)
    for sub in ("blocks", "lineage"):
        os.makedirs(os.path.join(staged, sub, "epoch=-1"))
    (spark.read.schema(BLOCK_SCHEMA_DDL).parquet(blocks_path)
     .drop("epoch").repartition(int(n_files))
     .mapInArrow(lambda batches: _sink_task(staged, batches,
                                            subdir="epoch=-1"),
                 _TOTALS_DDL).collect())
    # pre-marker leftovers only: with no marker on disk, live data is
    # still fully under blocks/, so these copies are redundant garbage
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(hidden_new, ignore_errors=True)
    shutil.rmtree(lineage_path, ignore_errors=True)
    # hidden: readers ignore dot-dirs
    os.replace(os.path.join(staged, "blocks", "epoch=-1"), hidden_new)
    open(marker, "w").close()
    _finish_swap(blocks_path, old, hidden_new, marker)
    os.replace(os.path.join(staged, "lineage"), lineage_path)
    shutil.rmtree(staged)
    engine.refresh_manifest(out_dir)
    return sum(1 for _dp, _dn, fs in os.walk(blocks_path)
               for f in fs if f.endswith(".parquet"))


def _finish_swap(blocks_path: str, old: str, hidden_new: str,
                 marker: str) -> None:
    """Marker is on disk and .compact_new holds the COMPLETE new table
    (the staged write read everything then live). Move the live entries
    aside, promote, and only then drop the marker + old copies — this
    sequence is re-runnable from any crash point."""
    os.makedirs(old, exist_ok=True)
    for entry in os.listdir(blocks_path):
        if not entry.startswith((".", "_")):
            os.replace(os.path.join(blocks_path, entry),
                       os.path.join(old, entry))
    os.replace(hidden_new, os.path.join(blocks_path, "epoch=-1"))
    os.remove(marker)
    shutil.rmtree(old, ignore_errors=True)


def recover_compaction(out_dir: str) -> bool:
    """Finish a compact_blocks swap interrupted by a crash.

    Safe at any time: no-op without the _COMPACTING marker. With the
    marker, blocks/.compact_new (if still present) is a complete copy
    of the table, so the swap is simply resumed; if it is already
    promoted to epoch=-1 the leftovers are cleaned up. Nothing is
    deleted unless the surviving full copy is verified on disk.
    Returns True when a recovery was performed.
    """
    blocks_path = os.path.join(out_dir, "blocks")
    hidden_new = os.path.join(blocks_path, ".compact_new")
    old = os.path.join(out_dir, "_blocks_old")
    marker = os.path.join(out_dir, "_COMPACTING")
    if not os.path.exists(marker):
        return False
    if os.path.isdir(hidden_new):
        # crash before promotion: resume the swap (moves any live
        # entries — all duplicated inside .compact_new — aside first)
        _finish_swap(blocks_path, old, hidden_new, marker)
        return True
    if os.path.isdir(os.path.join(blocks_path, "epoch=-1")):
        # crash after promotion: data is live, just clean up
        os.remove(marker)
        shutil.rmtree(old, ignore_errors=True)
        return True
    raise RuntimeError(
        f"compaction marker {marker} present but neither "
        f"{hidden_new} nor epoch=-1 exists; manual inspection of "
        f"{old} required — refusing to touch the directory")


def encode_stream_backfill(spark: SparkSession, input_path: str,
                           out_dir: str,
                           cfg: EngineConfig | None = None) -> dict:
    """Drain the input path now, wait for completion, fold the
    manifest, and return the batch-style summary."""
    out_dir = _local_dir(out_dir)
    q = encode_stream(spark, input_path, out_dir, cfg, available_now=True)
    q.awaitTermination()
    return engine.refresh_manifest(out_dir)

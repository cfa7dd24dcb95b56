"""Structured Streaming ingest: incremental encode of a growing token
table.

The reference is a batch library with no streaming surface
(/root/reference/src/main.c — single whole-file read), so this module
is the Spark-native extension for continuous training-data ingest:
new parquet files landing under the input path are encoded per
micro-batch with the SAME mapside encode plan the batch engine uses
(engine.encode_dataframe), appended to <out>/blocks, and the
manifest is rebuilt from the committed files.

Delivery semantics: the checkpoint gives each micro-batch a stable
epoch id; each epoch writes to its OWN subdirectory
(blocks/epoch=<id>) with overwrite, so a replayed epoch (write
succeeded, checkpoint commit lost) rewrites the same directory
instead of appending duplicate block files — exactly-once block
identity without any read-side dedup. The manifest is always
recomputed from what is actually on disk (engine.refresh_manifest),
never incrementally guessed.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .blocks import BLOCK_SCHEMA_DDL
from .datagen import TOKEN_SCHEMA_DDL
from .engine import (EngineConfig, encode_dataframe, manifest_summary,
                     refresh_manifest)


def encode_stream(spark: SparkSession, input_path: str, out_dir: str,
                  cfg: EngineConfig | None = None,
                  checkpoint: str | None = None,
                  max_files_per_trigger: int = 8,
                  available_now: bool = True):
    """Start the incremental encode stream; returns the StreamingQuery.

    With available_now=True the query drains everything currently in
    `input_path` and stops (the batch-backfill mode); otherwise it
    keeps running and encodes new files as they land.
    """
    cfg = cfg or EngineConfig(layout="mapside")
    if cfg.layout != "mapside":
        # the per-epoch kernel is mapside by construction (bucket ids
        # are scan-split ordinals within the epoch); honor the caller's
        # other knobs but never silently run a different layout
        cfg = dataclasses.replace(cfg, layout="mapside")
    blocks_path = os.path.join(out_dir, "blocks")
    checkpoint = checkpoint or os.path.join(out_dir, "_checkpoint")

    src = (spark.readStream.schema(TOKEN_SCHEMA_DDL)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(input_path))

    def _epoch(df: DataFrame, epoch_id: int) -> None:
        blocks = encode_dataframe(df, cfg).withColumn(
            "block_id", F.concat(F.lit(f"e{epoch_id}:"), F.col("block_id")))
        # epoch-scoped overwrite: a replayed epoch rewrites its own
        # directory, so at-least-once foreachBatch delivery can never
        # leave duplicate block files behind
        (blocks.write.mode("overwrite")
         .option("compression", cfg.parquet_codec)
         .parquet(os.path.join(blocks_path, f"epoch={epoch_id}")))

    writer = (src.writeStream.foreachBatch(_epoch)
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
    re-reading a half-empty table. Returns the number of files after
    compaction.
    """
    import shutil
    blocks_path = os.path.join(out_dir, "blocks")
    staged = os.path.join(out_dir, "_blocks_compacting")
    hidden_new = os.path.join(blocks_path, ".compact_new")
    old = os.path.join(out_dir, "_blocks_old")
    marker = os.path.join(out_dir, "_COMPACTING")
    recover_compaction(out_dir)  # finish any interrupted swap first
    total = sum(os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(blocks_path) for f in fs)
    n_files = max(1, (total + target_bytes - 1) // target_bytes)
    (spark.read.schema(BLOCK_SCHEMA_DDL).parquet(blocks_path)
     .repartition(int(n_files))
     .write.mode("overwrite").parquet(staged))
    # pre-marker leftovers only: with no marker on disk, live data is
    # still fully under blocks/, so these copies are redundant garbage
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(hidden_new, ignore_errors=True)
    os.replace(staged, hidden_new)  # hidden: readers ignore dot-dirs
    open(marker, "w").close()
    _finish_swap(blocks_path, old, hidden_new, marker)
    refresh_manifest(spark, out_dir)
    return sum(1 for _dp, _dn, fs in os.walk(blocks_path)
               for f in fs if f.endswith(".parquet"))


def _finish_swap(blocks_path: str, old: str, hidden_new: str,
                 marker: str) -> None:
    """Marker is on disk and .compact_new holds the COMPLETE new table
    (the staged write read everything then live). Move the live entries
    aside, promote, and only then drop the marker + old copies — this
    sequence is re-runnable from any crash point."""
    import shutil
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
    import shutil
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
    """Drain the input path now, wait for completion, rebuild the
    manifest, and return the batch-style summary."""
    q = encode_stream(spark, input_path, out_dir, cfg, available_now=True)
    q.awaitTermination()
    refresh_manifest(spark, out_dir)
    return manifest_summary(spark, out_dir)

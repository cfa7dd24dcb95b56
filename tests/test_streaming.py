"""Structured Streaming ingest: incremental encode via foreachBatch
with the same mapInArrow kernel as the batch engine."""

import os

from pyspark.sql import functions as F

from rle_spark.datagen import token_table
from rle_spark.engine import (EngineConfig, decode_dataframe, read_encoded,
                              roundtrip_mismatch_count)
from rle_spark.streaming import encode_stream_backfill

CFG = EngineConfig(block_tokens=1 << 15, layout="mapside")


def _lineage_covers(out):
    """Every block file under <out>/blocks has a lineage record, and
    each record is the one the block sink committed: only the sink
    writes task_wall_sec, so a record the manifest fold rebuilt (a
    writer that stopped committing lineage) fails this."""
    import glob
    import json

    def rels(sub, ext):
        root = os.path.join(out, sub)
        return {os.path.relpath(p, root)[:-len(ext)]: p for p in glob.glob(
            os.path.join(root, "**", "*" + ext), recursive=True)}

    records = rels("lineage", ".json")
    return (rels("blocks", ".parquet").keys() == records.keys() and all(
        "task_wall_sec" in json.load(open(p)) for p in records.values()))


def test_stream_backfill_then_incremental(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    out = str(tmp_path_factory.mktemp("stream_out"))

    wave1 = token_table(spark, 80, seed=11).cache()
    wave1.count()
    wave1.write.mode("overwrite").parquet(src)

    s1 = encode_stream_backfill(spark, src, out, CFG)
    assert s1["n_docs"] == 80
    assert s1["ratio"] < 1.0
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(wave1, decoded) == 0

    # second wave lands as NEW files; the checkpoint makes the next
    # drain pick up only those
    wave2 = (token_table(spark, 40, seed=12)
             .withColumn("doc_id", F.concat(F.lit("w2-"), F.col("doc_id"))))
    wave2 = wave2.cache()
    wave2.count()
    wave2.write.mode("append").parquet(src)

    s2 = encode_stream_backfill(spark, src, out, CFG)
    assert s2["n_docs"] == 120  # manifest covers both waves
    both = wave1.unionByName(wave2)
    decoded2 = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(both, decoded2) == 0
    assert os.path.exists(os.path.join(out, "_checkpoint"))
    wave1.unpersist()
    wave2.unpersist()


def test_epoch_replay_overwrites_not_appends(spark, tmp_path_factory):
    """foreachBatch is at-least-once: replaying an epoch whose write
    committed but whose checkpoint didn't must replace the epoch's
    files, leaving zero duplicate blocks/docs. The replay here splits
    the micro-batch differently (3 tasks, then 2), so a stale part file
    of the first run would survive unless the epoch dirs are cleared."""
    import glob
    from rle_spark.sources import manifest_from_lineage
    from rle_spark.streaming import _epoch

    out = str(tmp_path_factory.mktemp("replay_out"))
    df = token_table(spark, 50, seed=13).cache()
    df.count()

    def files():
        return sorted(os.path.relpath(p, out) for p in glob.glob(
            os.path.join(out, "**", "*"), recursive=True)
            if os.path.isfile(p))

    _epoch(out, CFG, df.repartition(3), 0)
    assert len(files()) == 6
    _epoch(out, CFG, df.repartition(2), 0)  # the replay
    assert files() == [f"{d}/epoch=0/part-{i:05d}.{ext}"
                       for d, ext in (("blocks", "parquet"),
                                      ("lineage", "json"))
                       for i in range(2)]
    assert not glob.glob(os.path.join(out, "**", ".part-*"), recursive=True)
    manifest_from_lineage(out)
    got = read_encoded(spark, out)
    assert got.count() == got.select("block_id").distinct().count()
    assert got.filter(~F.col("block_id").startswith("e0:")).count() == 0
    decoded = decode_dataframe(got)
    assert decoded.count() == 50  # no duplicate docs
    assert roundtrip_mismatch_count(df, decoded) == 0
    man = spark.read.parquet(os.path.join(out, "manifest"))
    assert man.agg(F.sum("n_docs")).collect()[0][0] == 50
    df.unpersist()


def test_encode_stream_forces_mapside_layout(spark, tmp_path_factory):
    """A clustered EngineConfig must not silently run a different
    layout: encode_stream coerces it to mapside."""
    src = str(tmp_path_factory.mktemp("layout_src"))
    out = str(tmp_path_factory.mktemp("layout_out"))
    df = token_table(spark, 20, seed=14).cache()
    df.count()
    df.write.mode("overwrite").parquet(src)
    s = encode_stream_backfill(spark, src, out,
                               EngineConfig(block_tokens=1 << 15,
                                            layout="clustered"))
    assert s["n_docs"] == 20
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded) == 0
    df.unpersist()


def test_compact_blocks_preserves_data(spark, tmp_path_factory):
    """Compaction rewrites epoch files into few big ones; decode stays
    bit-identical and the manifest totals unchanged. The compacted
    files carry lineage in place of the compacted epochs', so the
    manifest still folds from lineage after compaction and after a
    later wave."""
    import glob
    from rle_spark.streaming import compact_blocks

    src = str(tmp_path_factory.mktemp("cmp_src"))
    out = str(tmp_path_factory.mktemp("cmp_out"))
    w1 = token_table(spark, 60, seed=31).cache()
    w1.count()
    w1.write.mode("overwrite").parquet(src)
    encode_stream_backfill(spark, src, out, CFG)
    w2 = (token_table(spark, 30, seed=32)
          .withColumn("doc_id", F.concat(F.lit("w2-"), F.col("doc_id")))).cache()
    w2.count()
    w2.write.mode("append").parquet(src)
    encode_stream_backfill(spark, src, out, CFG)

    before_files = glob.glob(os.path.join(out, "blocks", "**", "*.parquet"),
                             recursive=True)
    man0 = spark.read.parquet(os.path.join(out, "manifest")).agg(
        F.sum("n_docs"), F.sum("n_tokens"), F.sum("comp_bytes")).collect()[0]

    n_after = compact_blocks(spark, out, target_bytes=1 << 30)
    after_files = glob.glob(os.path.join(out, "blocks", "**", "*.parquet"),
                            recursive=True)
    assert n_after == len(after_files) < len(before_files)

    man1 = spark.read.parquet(os.path.join(out, "manifest")).agg(
        F.sum("n_docs"), F.sum("n_tokens"), F.sum("comp_bytes")).collect()[0]
    assert tuple(man0) == tuple(man1)
    assert os.listdir(os.path.join(out, "lineage")) == ["epoch=-1"]
    assert sorted(os.listdir(out)) == ["_checkpoint", "blocks", "lineage",
                                       "manifest"]
    assert not glob.glob(os.path.join(out, "**", "*.tmp"), recursive=True)
    assert _lineage_covers(out)
    both = w1.unionByName(w2)
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(both, decoded) == 0

    # a post-compaction micro-batch must coexist with the compacted
    # layout (epoch=-1 + new epoch=K dirs, no mixed-structure failure)
    w3 = (token_table(spark, 20, seed=33)
          .withColumn("doc_id", F.concat(F.lit("w3-"), F.col("doc_id")))).cache()
    w3.count()
    w3.write.mode("append").parquet(src)
    assert encode_stream_backfill(spark, src, out, CFG)["n_docs"] == 110
    assert _lineage_covers(out)
    all3 = both.unionByName(w3)
    decoded3 = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(all3, decoded3) == 0
    w1.unpersist()
    w2.unpersist()
    w3.unpersist()


def _encoded_out(spark, tmp_path_factory, n_docs, seed):
    src = str(tmp_path_factory.mktemp("crash_src"))
    out = str(tmp_path_factory.mktemp("crash_out"))
    df = token_table(spark, n_docs, seed=seed).cache()
    df.count()
    df.write.mode("overwrite").parquet(src)
    encode_stream_backfill(spark, src, out, CFG)
    return df, out


def _stage_crash_state(spark, out, promote: bool):
    """Build the exact on-disk state of a crash inside compact_blocks'
    swap window: staged copy written, marker dropped, live entries moved
    to _blocks_old; with promote=True also finish the epoch=-1 rename
    (= crash just before marker removal)."""
    from rle_spark.blocks import BLOCK_SCHEMA_DDL
    blocks_path = os.path.join(out, "blocks")
    staged = os.path.join(out, "_blocks_compacting")
    hidden_new = os.path.join(blocks_path, ".compact_new")
    old = os.path.join(out, "_blocks_old")
    (spark.read.schema(BLOCK_SCHEMA_DDL).parquet(blocks_path)
     .repartition(1).write.mode("overwrite").parquet(staged))
    os.replace(staged, hidden_new)
    open(os.path.join(out, "_COMPACTING"), "w").close()
    os.makedirs(old, exist_ok=True)
    for entry in os.listdir(blocks_path):
        if not entry.startswith((".", "_")):
            os.replace(os.path.join(blocks_path, entry),
                       os.path.join(old, entry))
    if promote:
        os.replace(hidden_new, os.path.join(blocks_path, "epoch=-1"))


def test_compaction_crash_before_promote_recovers(spark, tmp_path_factory):
    """Crash after live entries moved aside but before .compact_new is
    promoted: blocks/ holds only a dot-dir. A rerun of compact_blocks
    must recover the staged copy, not read an empty table and destroy
    both surviving copies (the round-2 data-loss bug)."""
    from rle_spark.streaming import compact_blocks
    df, out = _encoded_out(spark, tmp_path_factory, 40, seed=41)
    _stage_crash_state(spark, out, promote=False)
    compact_blocks(spark, out, target_bytes=1 << 30)  # the naive rerun
    assert not os.path.exists(os.path.join(out, "_COMPACTING"))
    assert not os.path.exists(os.path.join(out, "_blocks_old"))
    decoded = decode_dataframe(read_encoded(spark, out))
    assert decoded.count() == 40
    assert roundtrip_mismatch_count(df, decoded) == 0
    df.unpersist()


def test_compaction_crash_after_promote_recovers(spark, tmp_path_factory):
    """Crash after epoch=-1 is promoted but before the marker/old
    cleanup: recovery must just clean up, keeping the promoted data."""
    from rle_spark.streaming import recover_compaction
    df, out = _encoded_out(spark, tmp_path_factory, 30, seed=42)
    _stage_crash_state(spark, out, promote=True)
    assert recover_compaction(out) is True
    assert not os.path.exists(os.path.join(out, "_COMPACTING"))
    assert not os.path.exists(os.path.join(out, "_blocks_old"))
    decoded = decode_dataframe(read_encoded(spark, out))
    assert decoded.count() == 30
    assert roundtrip_mismatch_count(df, decoded) == 0
    df.unpersist()


def test_recover_compaction_refuses_ambiguous_state(tmp_path):
    """Marker present but neither .compact_new nor epoch=-1: refuse to
    touch anything rather than guess."""
    import pytest
    from rle_spark.streaming import recover_compaction
    out = str(tmp_path)
    os.makedirs(os.path.join(out, "blocks"))
    os.makedirs(os.path.join(out, "_blocks_old"))
    open(os.path.join(out, "_COMPACTING"), "w").close()
    with pytest.raises(RuntimeError, match="manual inspection"):
        recover_compaction(out)
    assert os.path.isdir(os.path.join(out, "_blocks_old"))  # untouched

"""File-granular parquet source: same kernel, pyarrow transport."""

import dataclasses
import os
import threading
import time
from functools import partial

import pytest

from pyspark.sql import functions as F

from rle_spark.datagen import token_table
from rle_spark.engine import (EngineConfig, decode_dataframe, encode_dataframe,
                              roundtrip_mismatch_count)
from rle_spark.sources import (_bounded_thread, _read_ahead,
                               encode_parquet_dir_summary, plan_parquet_splits)

CFG = EngineConfig(block_tokens=1 << 15, layout="mapside")


def test_file_source_roundtrip(spark, tmp_path_factory):
    """The file transport's encode kernel sees exactly the corpus the
    DataFrame-transport mapside path sees (bit-identity of the file
    transport is checked by the direct-writer tests)."""
    src = str(tmp_path_factory.mktemp("fsrc"))
    df = token_table(spark, 120, seed=21)
    df.repartition(4).write.mode("overwrite").parquet(src)

    cols = [F.sum("n_docs"), F.sum("n_tokens"), F.sum("orig_bytes")]
    want = (encode_dataframe(spark.read.parquet(src), CFG)
            .agg(*cols).collect()[0])
    got = encode_parquet_dir_summary(spark, src, CFG).agg(*cols).collect()[0]
    assert tuple(got) == tuple(want)
    assert got[0] == 120


def test_balanced_groups_cover_order_and_bytes():
    """_balanced_contiguous_groups: exact coverage in original order,
    exactly min(n, len) groups, and max group bytes no worse than the
    binary-search optimum it claims (checked against brute force on
    small inputs)."""
    import itertools
    import random
    from rle_spark.sources import _balanced_contiguous_groups

    def brute_opt(byts, n):
        # min over all contiguous partitions into exactly n groups
        m = len(byts)
        best = sum(byts)
        for cuts in itertools.combinations(range(1, m), n - 1):
            bounds = [0, *cuts, m]
            best = min(best, max(sum(byts[a:b])
                                 for a, b in zip(bounds, bounds[1:])))
        return best

    rng = random.Random(7)
    for trial in range(60):
        m = rng.randint(1, 9)
        units = [("p", i, i + 1, rng.randint(1, 100)) for i in range(m)]
        n = rng.randint(1, 12)
        gs = _balanced_contiguous_groups(units, n)
        assert len(gs) == min(n, m)
        assert [u for g in gs for u in g] == units  # order + coverage
        got = max(sum(u[3] for u in g) for g in gs)
        assert got == brute_opt([u[3] for u in units], min(n, m))


def test_split_planning_covers_all_row_groups(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("fsrc3"))
    df = token_table(spark, 60, seed=23)
    df.repartition(5).write.mode("overwrite").parquet(src)
    import pyarrow.parquet as pq
    import glob
    total_rgs = sum(pq.ParquetFile(p).metadata.num_row_groups
                    for p in glob.glob(os.path.join(src, "*.parquet")))
    # tiny target -> one split per row group; large target -> one per file
    fine = plan_parquet_splits(src, target_bytes=1)
    assert sum(g1 - g0 for _, g0, g1 in fine) == total_rgs
    coarse = plan_parquet_splits(src, target_bytes=1 << 40)
    assert sum(g1 - g0 for _, g0, g1 in coarse) == total_rgs
    assert len(coarse) <= len(fine)


def test_direct_writer_roundtrip_and_idempotence(spark, tmp_path_factory):
    from rle_spark.sources import (decode_parquet_dir_summary,
                                   encode_parquet_dir_direct)
    src = str(tmp_path_factory.mktemp("dsrc"))
    out = str(tmp_path_factory.mktemp("dout"))
    df = token_table(spark, 100, seed=24).cache()
    n_tok_total = df.agg(F.sum("n_tok")).collect()[0][0]
    df.repartition(4).write.mode("overwrite").parquet(src)

    s1 = encode_parquet_dir_direct(spark, src, out, CFG)
    assert s1["n_docs"] == 100 and 0 < s1["ratio"] < 1.0
    # decoded totals match the source exactly
    row = (decode_parquet_dir_summary(spark, out)
           .agg(F.sum("n_docs"), F.sum("n_tokens")).collect()[0])
    assert tuple(row) == (100, n_tok_total)
    # full bit-identity through the standard reader too
    from rle_spark.engine import read_encoded
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded) == 0

    # re-run overwrites the same task files: no duplicates, same totals
    s2 = encode_parquet_dir_direct(spark, src, out, CFG)
    assert s2["n_docs"] == 100 and s2["comp_bytes"] == s1["comp_bytes"]
    decoded2 = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded2) == 0
    import glob
    assert not glob.glob(os.path.join(out, "blocks", ".part-*"))  # no tmp left
    df.unpersist()


def test_direct_writer_resume_skips_committed_tasks(spark, tmp_path_factory):
    """Executor-loss recovery: delete one committed task file, resume —
    only that task re-encodes (other files untouched by mtime), totals
    and roundtrip unchanged. A changed plan falls back to clean rewrite."""
    import glob
    import time as _time
    from rle_spark.sources import encode_parquet_dir_direct
    src = str(tmp_path_factory.mktemp("rsrc"))
    out = str(tmp_path_factory.mktemp("rout"))
    df = token_table(spark, 90, seed=25).cache()
    df.count()
    df.repartition(6).write.mode("overwrite").parquet(src)

    s1 = encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=6)
    parts = sorted(glob.glob(os.path.join(out, "blocks", "part-*.parquet")))
    assert len(parts) >= 2
    victim = parts[0]
    survivors = {p: os.path.getmtime(p) for p in parts[1:]}
    os.remove(victim)
    _time.sleep(0.05)

    s2 = encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=6,
                                   resume=True)
    assert s2["n_docs"] == s1["n_docs"] == 90
    assert s2["comp_bytes"] == s1["comp_bytes"]
    assert os.path.exists(victim)  # re-written
    for p, mt in survivors.items():
        assert os.path.getmtime(p) == mt  # untouched
    from rle_spark.engine import read_encoded
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded) == 0

    # plan change (different task count) -> stale mapping -> clean rewrite
    s3 = encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=3,
                                   resume=True)
    assert s3["n_docs"] == 90
    parts3 = glob.glob(os.path.join(out, "blocks", "part-*.parquet"))
    assert len(parts3) <= 3  # no stale 6-task files left behind
    decoded3 = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded3) == 0
    df.unpersist()


def test_split_planning_recursive_and_strict(spark, tmp_path_factory):
    """Partitioned layouts (streaming epoch dirs) plan recursively; a
    missing path or a non-empty dir with zero parquet files raises
    instead of silently planning an empty table (round-2 advice)."""
    base = str(tmp_path_factory.mktemp("nested"))
    df = token_table(spark, 40, seed=28)
    df.write.mode("overwrite").parquet(os.path.join(base, "epoch=0"))
    df.write.mode("overwrite").parquet(os.path.join(base, "epoch=1"))
    units = plan_parquet_splits(base, target_bytes=1 << 40)
    assert {os.path.dirname(p) for p, _, _ in units} == {
        os.path.join(base, "epoch=0"), os.path.join(base, "epoch=1")}

    bogus = str(tmp_path_factory.mktemp("bogus"))
    open(os.path.join(bogus, "data.csv"), "w").write("x\n")
    with pytest.raises(ValueError, match="no .*parquet"):
        plan_parquet_splits(bogus)
    # truly empty dir still plans an empty list (no error)
    empty = str(tmp_path_factory.mktemp("empty"))
    assert plan_parquet_splits(empty) == []
    # a missing path (a mistyped or deleted dir) is an error, not []
    with pytest.raises(FileNotFoundError):
        plan_parquet_splits(os.path.join(empty, "missing"))
    # an out dir without blocks/ has nothing to decode
    from rle_spark.sources import decode_parquet_dir_summary
    with pytest.raises(FileNotFoundError, match="blocks"):
        decode_parquet_dir_summary(spark, empty)


def test_resume_config_change_forces_rewrite(spark, tmp_path_factory):
    """Changing a codec-affecting EngineConfig field between runs with
    resume=True must take the clean-rewrite path (the plan fingerprint
    covers the full config since round 3)."""
    import dataclasses
    import glob
    from rle_spark.selector import SelectorConfig
    from rle_spark.sources import encode_parquet_dir_direct
    src = str(tmp_path_factory.mktemp("cfg_src"))
    out = str(tmp_path_factory.mktemp("cfg_out"))
    df = token_table(spark, 50, seed=29).cache()
    df.count()
    df.repartition(4).write.mode("overwrite").parquet(src)
    encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=4)
    parts = sorted(glob.glob(os.path.join(out, "blocks", "part-*.parquet")))
    mtimes = {p: os.path.getmtime(p) for p in parts}
    import time as _time
    _time.sleep(0.05)
    # same config + resume: all committed files untouched
    encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=4, resume=True)
    assert all(os.path.getmtime(p) == mtimes[p] for p in parts)
    # restricted allow-list changes the codec choice -> full rewrite
    cfg2 = dataclasses.replace(
        CFG, selector=SelectorConfig(allow=["raw"]))
    s = encode_parquet_dir_direct(spark, src, out, cfg2, n_tasks=4,
                                  resume=True)
    assert any(os.path.getmtime(p) != mtimes[p] for p in parts)
    assert s["ratio"] >= 1.0  # raw-only: proof the new config applied
    from rle_spark.engine import read_encoded
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(df, decoded) == 0
    df.unpersist()


def test_decode_parquet_dir_full(spark, tmp_path_factory):
    from rle_spark.sources import decode_parquet_dir, encode_parquet_dir_direct
    src = str(tmp_path_factory.mktemp("ddsrc"))
    out = str(tmp_path_factory.mktemp("ddout"))
    df = token_table(spark, 70, seed=26).cache()
    df.count()
    df.repartition(3).write.mode("overwrite").parquet(src)
    encode_parquet_dir_direct(spark, src, out, CFG)
    decoded = decode_parquet_dir(spark, out)
    assert roundtrip_mismatch_count(df, decoded) == 0
    df.unpersist()


def test_direct_writer_lineage(spark, tmp_path_factory):
    """Every committed task file carries a lineage record naming the
    exact input splits it consumed: part-i's splits are group i of the
    plan, in order (the split_v3 resume fingerprint relies on this
    task <-> group mapping), and metrics sum to the job summary. The
    split source is a Range, so each task runs one python worker."""
    import json
    from rle_spark.sources import (_balanced_contiguous_groups, _map_splits,
                                   encode_parquet_dir_direct,
                                   plan_parquet_splits)
    src = str(tmp_path_factory.mktemp("lsrc"))
    out = str(tmp_path_factory.mktemp("lout"))
    df = token_table(spark, 60, seed=27)
    df.repartition(5).write.mode("overwrite").parquet(src)
    s = encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=3)
    groups = _balanced_contiguous_groups(
        plan_parquet_splits(src, with_bytes=True), 3)
    assert len(groups) == 3 and max(len(g) for g in groups) > 1
    assert len(os.listdir(os.path.join(out, "lineage"))) == 3
    recs = []
    for i, group in enumerate(groups):
        rec = json.load(open(os.path.join(out, "lineage",
                                          f"part-{i:05d}.json")))
        assert rec["file"] == f"part-{i:05d}.parquet"
        assert rec["splits"] == [list(u[:3]) for u in group]
        assert os.path.exists(os.path.join(out, "blocks", rec["file"]))
        recs.append(rec)
    assert sum(r["n_docs"] for r in recs) == s["n_docs"]
    assert sum(r["comp_bytes"] for r in recs) == s["comp_bytes"]

    job = _map_splits(spark, src, lambda splits: iter(()), "n long",
                      n_tasks=3)[0]
    plan = job._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "ExistingRDD" not in plan


def _rescan_manifest(spark, out):
    """The manifest rows by a Spark rescan of every block file under
    <out>/blocks: the oracle the lineage fold must equal, row for row
    (per-(source, bucket) totals and per-codec block counts)."""
    from rle_spark import __version__
    from rle_spark.blocks import BLOCK_SCHEMA_DDL
    sums = [F.sum(c).alias(c)
            for c in ("n_docs", "n_tokens", "orig_bytes", "comp_bytes")]
    per_codec = (spark.read.schema(BLOCK_SCHEMA_DDL)
                 .parquet(os.path.join(out, "blocks"))
                 .groupBy("source", "bucket", "codec")
                 .agg(F.count("*").alias("n_blocks"), *sums))
    rows = (per_codec.groupBy("source", "bucket")
            .agg(F.sum("n_blocks").alias("n_blocks"), *sums,
                 F.map_from_entries(F.collect_list(F.struct(
                     "codec", "n_blocks"))).alias("codecs"))
            .collect())
    return sorted(
        (r["source"], r["bucket"], r["n_blocks"], r["n_docs"], r["n_tokens"],
         r["orig_bytes"], r["comp_bytes"], tuple(sorted(r["codecs"].items())),
         __version__) for r in rows)


def _manifest_rows(out):
    """<out>/manifest's rows, in _rescan_manifest's form."""
    import pyarrow.parquet as pq
    return sorted(
        (r["source"], r["bucket"], r["n_blocks"], r["n_docs"], r["n_tokens"],
         r["orig_bytes"], r["comp_bytes"], tuple(sorted(r["codecs"])),
         r["engine_version"])
        for r in pq.read_table(os.path.join(out, "manifest")).to_pylist())


@pytest.mark.parametrize("writer", ["direct", "clustered", "mapside",
                                    "stream", "spark", "compact_crash"])
def test_manifest_from_lineage_matches_spark_rescan(spark, tmp_path_factory,
                                                    writer):
    """Every encode writer commits lineage through the one block sink,
    and the driver-side lineage fold equals a Spark rescan of the
    written blocks for flat, source=/bucket= and epoch= layouts. The
    fold heals the lineage first, so it still equals the rescan over a
    dir that Spark's partitionBy wrote (no lineage), in a compaction's
    crash window (records of the moved-away epochs, none for the
    promoted files), and after half the records are deleted, one loses
    its rollup, or one block file is deleted."""
    import glob
    import json
    from rle_spark.engine import encode_table
    from rle_spark.sources import encode_parquet_dir_direct, manifest_from_lineage
    from rle_spark.streaming import encode_stream_backfill
    from test_streaming import _lineage_covers, _stage_crash_state
    src = str(tmp_path_factory.mktemp("msrc"))
    out = str(tmp_path_factory.mktemp("mout"))
    df = token_table(spark, 70, seed=28)
    df.repartition(4).write.mode("overwrite").parquet(src)
    clustered = EngineConfig(block_tokens=1 << 15,
                             target_bucket_tokens=1 << 17)
    if writer == "direct":
        encode_parquet_dir_direct(spark, src, out, CFG, n_tasks=4)
    elif writer in ("stream", "compact_crash"):
        encode_stream_backfill(spark, src, out, CFG)
        (token_table(spark, 30, seed=29)
         .withColumn("doc_id", F.concat(F.lit("w2-"), F.col("doc_id")))
         .write.mode("append").parquet(src))
        encode_stream_backfill(spark, src, out, CFG)
        if writer == "compact_crash":
            _stage_crash_state(spark, out, promote=True)
    elif writer == "spark":
        (encode_dataframe(spark.read.parquet(src), clustered).write
         .partitionBy("source", "bucket")
         .parquet(os.path.join(out, "blocks")))
    else:
        encode_table(spark, spark.read.parquet(src), out,
                     dataclasses.replace(clustered, layout=writer),
                     resume=False)

    def block_files():
        return sorted(glob.glob(os.path.join(out, "blocks", "**", "*.parquet"),
                                recursive=True))

    def lineage():
        return sorted(glob.glob(os.path.join(out, "lineage", "**", "*.json"),
                                recursive=True))

    oracle = _rescan_manifest(spark, out)
    assert oracle  # non-empty
    if writer in ("direct", "clustered", "mapside", "stream"):
        assert _lineage_covers(out)
        assert _manifest_rows(out) == oracle
    manifest_from_lineage(out)
    assert _manifest_rows(out) == oracle
    # every block file has a record now, and the manifest is the same
    # after half of them are deleted
    assert len(lineage()) == len(block_files())
    for p in lineage()[::2]:
        os.remove(p)
    manifest_from_lineage(out)
    assert _manifest_rows(out) == oracle
    # a record without its rollup is rebuilt from its block file
    rec = json.load(open(lineage()[0]))
    rec.pop("groups")
    json.dump(rec, open(lineage()[0], "w"))
    manifest_from_lineage(out)
    assert _manifest_rows(out) == oracle
    assert "groups" in json.load(open(lineage()[0]))
    # a deleted block file takes its record out of the manifest
    victim = block_files()[0]
    os.remove(victim)
    manifest_from_lineage(out)
    assert len(lineage()) == len(block_files())
    assert _manifest_rows(out) == _rescan_manifest(spark, out) != oracle


def test_fold_heals_empty_source_keys(spark, tmp_path_factory):
    """The sink records an empty source as "", and a clustered file of
    that source lives under source=__HIVE_DEFAULT_PARTITION__, which
    reads back as null. The heal rebuilds such a record with "" too, so
    with half the lineage and the manifest deleted, the fold (and a
    resume over it) still sorts its keys and gives the same manifest."""
    import glob
    import shutil
    from rle_spark.engine import encode_table, refresh_manifest
    src = str(tmp_path_factory.mktemp("empty_src_in"))
    out = str(tmp_path_factory.mktemp("empty_src"))
    (token_table(spark, 70, seed=28).withColumn("source", F.when(
        F.pmod(F.xxhash64("doc_id"), 2) == 0, F.lit("")).otherwise("a"))
     .write.mode("overwrite").parquet(src))
    df = spark.read.parquet(src)
    cfg = EngineConfig(block_tokens=1 << 15, target_bucket_tokens=1 << 17)
    s1 = encode_table(spark, df, out, cfg)
    rows = _manifest_rows(out)
    assert {r[0] for r in rows} == {"", "a"}
    records = sorted(glob.glob(os.path.join(out, "lineage", "**", "*.json"),
                               recursive=True))
    assert "source=__HIVE_DEFAULT_PARTITION__" in records[0]
    for p in records[::2]:
        os.remove(p)
    shutil.rmtree(os.path.join(out, "manifest"))
    assert refresh_manifest(out) == {k: s1[k] for k in s1
                                     if k != "skipped_partitions"}
    assert _manifest_rows(out) == rows
    assert encode_table(spark, df, out, cfg)["skipped_partitions"] == len(rows)
    assert _manifest_rows(out) == rows


def _lingering(before: set, timeout: float = 5.0) -> list:
    """Threads started since `before` that are still alive after
    waiting up to `timeout` seconds for them to exit."""
    deadline = time.monotonic() + timeout
    while True:
        extra = [t for t in threading.enumerate()
                 if t not in before and t.is_alive()]
        if not extra or time.monotonic() > deadline:
            return extra
        time.sleep(0.01)


def _count(n=1000):
    yield from range(n)


def test_bounded_thread_order_and_errors():
    """Readahead preserves order and re-raises producer exceptions in
    the consumer; so does a failing call handed to the helper thread
    (how a task-file write error arrives)."""
    assert list(_read_ahead(_count(), 2)) == list(range(1000))
    assert list(_read_ahead(_count(), 1)) == list(range(1000))

    def boom():
        yield 1
        raise ValueError("scan failed")

    out = []
    with pytest.raises(ValueError, match="scan failed"):
        for x in _read_ahead(boom(), 2):
            out.append(x)
    assert out == [1]

    def fail(x):
        if x == 5:
            raise OSError("disk full")
        return x

    before = set(threading.enumerate())
    out = []
    with pytest.raises(OSError, match="disk full"):
        for x in _bounded_thread((partial(fail, x) for x in _count()), 4):
            out.append(x)
    assert out == list(range(5))
    assert not _lingering(before)


def test_bounded_thread_close_mid_stream_stops_producer():
    before = set(threading.enumerate())
    it = _read_ahead(_count(), 2)
    assert [next(it), next(it)] == [0, 1]
    it.close()
    assert not _lingering(before)


def test_bounded_thread_consumer_error_stops_producer():
    """A failing loop body in the consumer stops and joins the
    producer."""
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="kernel failed"):
        for x in _read_ahead(_count(), 2):
            if x == 3:
                raise RuntimeError("kernel failed")
    assert not _lingering(before)


def test_bounded_thread_nested_close_stops_both():
    """kernel over scan, as in the direct writer: the scan is read
    ahead on one thread, the kernel runs on the caller's thread and
    hands its output to a second helper thread. Closing the outer
    helper from outside stops and joins both threads."""
    before = set(threading.enumerate())

    def kernel():
        for x in _read_ahead(_count(), 2):
            yield partial(abs, -x)

    it = _bounded_thread(kernel(), 4)
    assert [next(it), next(it), next(it)] == [0, 1, 2]
    it.close()
    assert not _lingering(before)


def test_direct_writer_part_files_are_plain(spark, tmp_path_factory):
    """No column chunk of a direct-writer part file has a dictionary
    page; part files written with dictionary pages (pyarrow's default,
    the earlier layout) hold the same rows and decode bit-identically
    through both decode entry points."""
    import glob
    import pyarrow.parquet as pq
    from rle_spark.sources import (decode_parquet_dir,
                                   decode_parquet_dir_summary,
                                   encode_parquet_dir_direct)
    src = str(tmp_path_factory.mktemp("plsrc"))
    out = str(tmp_path_factory.mktemp("plout"))
    df = token_table(spark, 60, seed=27).cache()
    df.count()
    df.repartition(2).write.mode("overwrite").parquet(src)
    encode_parquet_dir_direct(spark, src, out, CFG)
    parts = sorted(glob.glob(os.path.join(out, "blocks", "part-*.parquet")))
    assert parts

    def chunks(path):
        md = pq.ParquetFile(path).metadata
        return [md.row_group(g).column(c) for g in range(md.num_row_groups)
                for c in range(md.num_columns)]

    assert not any(c.has_dictionary_page for p in parts for c in chunks(p))

    def totals():
        return tuple(decode_parquet_dir_summary(spark, out)
                     .agg(F.sum("n_docs"), F.sum("n_tokens")).collect()[0])

    want = totals()
    for p in parts:
        table = pq.read_table(p)
        with pq.ParquetWriter(p, table.schema, compression="zstd") as w:
            for rb in table.to_batches():
                w.write_batch(rb)
        assert any(c.has_dictionary_page for c in chunks(p))
    assert totals() == want
    assert roundtrip_mismatch_count(df, decode_parquet_dir(spark, out)) == 0
    df.unpersist()


def test_sink_retry_skips_committed_file_and_heals_lineage(tmp_path):
    """A task retried after its attempt committed the block file but
    not the lineage leaves its input untouched (compaction hands the
    sink Spark's own batch iterator, a plain map with no close()),
    writes the lineage from the committed file and returns the same
    totals row."""
    import pyarrow as pa
    from rle_spark.datagen import generate_docs_pandas
    from rle_spark.engine import _encode_iter_factory
    from rle_spark.sources import _sink_task, manifest_from_lineage

    pdf = generate_docs_pandas(range(30), seed=4)
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": pdf["doc_id"].tolist(),
         "tokens": [t.tolist() for t in pdf["tokens"]],
         "source": pdf["source"].tolist()},
        schema=pa.schema([("doc_id", pa.string()),
                          ("tokens", pa.list_(pa.int32())),
                          ("source", pa.string())]))
    out = str(tmp_path)
    blocks = _encode_iter_factory(CFG, mapside=True)(iter([batch]))
    first = list(_sink_task(out, blocks, subdir="epoch=-1"))
    lin = os.path.join(out, "lineage", "epoch=-1", "part-00000.json")
    os.remove(lin)

    def boom(_):
        raise AssertionError("a committed task read its input")

    again = list(_sink_task(out, map(boom, [1]), subdir="epoch=-1"))
    assert again[0].to_pydict() == first[0].to_pydict()
    assert first[0].to_pydict()["n_docs"] == [30]
    assert os.path.exists(lin)
    assert sum(manifest_from_lineage(out).column("n_docs").to_pylist()) == 30


def test_file_transport_streams_block_batches(tmp_path, monkeypatch):
    """Both ends of the file transport stream a few blocks at a time:
    over ~16 MiB of incompressible tokens (four emission bounds) the
    encode kernel yields its first block batch into the sink before
    the scan has pulled the last input batch, the committed part file
    holds one row group per block batch, and the block scan reads that
    file back in more than one batch. Restoring either bound to a
    whole task's output fails it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from rle_spark import engine, sources

    n_docs, doc_len = 32_000, 128
    flat = np.random.default_rng(14).integers(
        0, 2**31 - 1, n_docs * doc_len, dtype=np.int32)
    assert flat.nbytes >= 3 * engine._OUT_FLUSH_BYTES
    src = str(tmp_path / "tokens.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array([f"d{i:06d}" for i in range(n_docs)]),
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.arange(n_docs + 1, dtype=np.int32) * doc_len),
            pa.array(flat)),
        "source": pa.array(["synth_rand"] * n_docs)}), src,
        row_group_size=4096)

    pulls = []
    row_groups = sources._iter_row_groups

    def recorded(*args):
        for rb in row_groups(*args):
            pulls.append(rb.num_rows)
            yield rb

    monkeypatch.setattr(sources, "_iter_row_groups", recorded)
    pulled_at_emit = []

    def watched(blocks):
        for rb in blocks:
            pulled_at_emit.append(len(pulls))
            yield rb

    out = str(tmp_path / "out")
    splits = [(src, 0, pq.ParquetFile(src).metadata.num_row_groups)]
    encode = sources._file_encode_iter(EngineConfig(layout="mapside"))
    (totals,) = sources._sink_task(out, watched(encode(splits)))
    assert totals.to_pydict()["n_tokens"] == [flat.size]
    assert sum(pulls) == n_docs
    assert len(pulled_at_emit) >= 3
    assert pulled_at_emit[0] < len(pulls)

    part = os.path.join(out, "blocks", "part-00000.parquet")
    n_rg = pq.ParquetFile(part).metadata.num_row_groups
    assert n_rg == len(pulled_at_emit) > 1
    with sources._scan([(part, 0, n_rg)], ["payload"],
                       sources._BLOCK_BATCH_ROWS) as batches:
        assert len(list(batches)) > 1

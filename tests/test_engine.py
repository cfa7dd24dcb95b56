"""Spark end-to-end: encode -> decode bit-identical, manifests, resume
(SURVEY.md §5 ported strategy items b & e)."""

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from rle_spark.datagen import token_table
from rle_spark.engine import (
    EngineConfig,
    decode_dataframe,
    encode_dataframe,
    encode_table,
    read_encoded,
    roundtrip_mismatch_count,
)

CFG = EngineConfig(block_tokens=1 << 15, target_bucket_tokens=1 << 19)


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = token_table(spark, 200, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def parquet_df(spark, tokens_df, tmp_path_factory):
    """tokens_df's docs read back from parquet: an input whose files
    and plan pin its rows, so encode_table can resume over it."""
    src = str(tmp_path_factory.mktemp("tokens_parquet"))
    tokens_df.write.mode("overwrite").parquet(src)
    return spark.read.parquet(src)


def test_encode_decode_bit_identical(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, CFG).cache()
    try:
        assert blocks.count() > 0
        decoded = decode_dataframe(blocks)
        assert roundtrip_mismatch_count(tokens_df, decoded) == 0
    finally:
        blocks.unpersist()


def test_blocks_respect_partitioning(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, CFG)
    rows = blocks.select("block_id", "source", "bucket", "n_tokens").collect()
    seen = set()
    for r in rows:
        assert r.block_id.startswith(f"{r.source}:{r.bucket:05d}:")
        assert r.block_id not in seen
        seen.add(r.block_id)


def test_ratio_below_raw(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, CFG)
    agg = blocks.agg(F.sum("orig_bytes").alias("o"),
                     F.sum("comp_bytes").alias("c")).collect()[0]
    assert agg["c"] < agg["o"]  # corpus contains compressible sources


def test_incompressible_source_selects_raw(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, CFG)
    codecs = {r["codec"] for r in
              blocks.filter(F.col("source") == "synth_rand")
              .select("codec").distinct().collect()}
    # random tokens over a 2^31 vocab: raw or near-raw bitpack only
    assert codecs <= {"raw", "for_bitpack"}


def test_encode_table_and_resume(spark, parquet_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    shutil.rmtree(out, ignore_errors=True)
    s1 = encode_table(spark, parquet_df, out, CFG)
    assert s1["skipped_partitions"] == 0
    assert s1["n_docs"] == 200
    assert 0 < s1["ratio"] <= 1.0
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    n_parts = manifest.count()
    assert n_parts > 0
    # resume over the same input: everything skipped, manifest unchanged
    s2 = encode_table(spark, parquet_df, out, CFG)
    assert s2["skipped_partitions"] == n_parts
    assert s2["comp_bytes"] == s1["comp_bytes"]
    assert s2["n_docs"] == s1["n_docs"]
    # decoded output still bit-identical after resume
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(parquet_df, decoded) == 0


def test_resume_after_partial_manifest(spark, parquet_df, tmp_path_factory):
    """Kill-after-partial-commit (SURVEY.md §5 item e): a clustered run
    that committed half its keys (block file and lineage) and no
    manifest resumes from the lineage alone. It skips exactly those
    keys, keeps their files as they are, rewrites the rest and ends in
    the same state."""
    out = str(tmp_path_factory.mktemp("enc2"))
    s1 = encode_table(spark, parquet_df, out, CFG)
    records = sorted(glob.glob(os.path.join(out, "lineage", "source=*",
                                            "bucket=*", "*.json")))
    keep = records[: len(records) // 2]
    assert keep
    kept = {p.replace(os.path.join(out, "lineage"),
                      os.path.join(out, "blocks"))[:-len(".json")]
            + ".parquet" for p in keep}
    kept = {p: os.stat(p).st_mtime_ns for p in kept}
    for p in records[len(keep):]:
        os.remove(p)
    shutil.rmtree(os.path.join(out, "manifest"))
    s2 = encode_table(spark, parquet_df, out, CFG)
    assert s2["skipped_partitions"] == len(keep)
    assert (s2["comp_bytes"], s2["n_docs"]) == (s1["comp_bytes"], s1["n_docs"])
    assert {p: os.stat(p).st_mtime_ns for p in kept} == kept
    assert not glob.glob(os.path.join(out, "**", ".part-*"), recursive=True)
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(parquet_df, decoded) == 0


@pytest.mark.parametrize("via", ["memory", "parquet", "rand"])
def test_resume_never_returns_another_inputs_blocks(spark, tmp_path_factory,
                                                    via):
    """encode_table's default resume=True over an out dir that holds
    another input's blocks rewrites them: an in-memory input has no
    plan signature, a parquet input rewritten in place has new files,
    and a rand() filter's rows change with the scan's split layout
    (here a smaller spark.sql.files.maxPartitionBytes). Skipping the
    keys the old manifest listed returned the first input's blocks,
    without error."""
    src = str(tmp_path_factory.mktemp("stale_src"))
    out = str(tmp_path_factory.mktemp("stale_out"))

    def table(seed):
        df = token_table(spark, 120, seed=seed)
        if via == "memory":
            return df
        if via == "rand":
            if seed == 5:
                df.repartition(4).write.mode("overwrite").parquet(src)
            else:
                spark.conf.set("spark.sql.files.maxPartitionBytes", 1 << 16)
            return spark.read.parquet(src).filter(F.rand(3) < 0.5)
        df.write.mode("overwrite").parquet(src)
        return spark.read.parquet(src)

    try:
        encode_table(spark, table(5), out, CFG)
        df = table(6)
        s = encode_table(spark, df, out, CFG)
        assert s["skipped_partitions"] == 0
        assert s["n_tokens"] == df.agg(F.sum("n_tok")).collect()[0][0]
        decoded = decode_dataframe(read_encoded(spark, out))
        assert roundtrip_mismatch_count(df, decoded) == 0
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_bucket_skew_bounded(spark, tokens_df):
    """Skew handling: no (source,bucket) partition should dwarf the
    target size by more than one max-doc overshoot."""
    from rle_spark.engine import apply_buckets, bucket_counts
    b = apply_buckets(tokens_df, bucket_counts(tokens_df, CFG))
    sizes = (b.groupBy("source", "bucket").agg(F.sum("n_tok").alias("t"))
             .collect())
    max_doc = tokens_df.agg(F.max("n_tok")).collect()[0][0]
    limit = CFG.target_bucket_tokens + max_doc
    for r in sizes:
        assert r["t"] <= limit * 2, (r["source"], r["bucket"], r["t"])


def test_clustered_partition_dirs_escape_sources(spark, tokens_df,
                                                 tmp_path_factory):
    """The block sink names clustered partition dirs as Spark's own
    partitionBy writer does (percent-escaped source values), so
    read_encoded returns every source value unchanged."""
    names = ["a/b", "x=y", "p%q", "sp ace"]
    df = tokens_df.limit(60).withColumn(
        "source", F.element_at(F.array(*map(F.lit, names)),
                               (F.pmod(F.xxhash64("doc_id"), 4) + 1)
                               .cast("int"))).cache()
    out = str(tmp_path_factory.mktemp("escaped"))
    encode_table(spark, df, out, CFG, resume=False)
    blocks = read_encoded(spark, out)
    assert {r[0] for r in blocks.select("source").distinct().collect()} \
        == set(names)
    assert roundtrip_mismatch_count(df, decode_dataframe(blocks)) == 0
    spark_dirs = str(tmp_path_factory.mktemp("spark_dirs"))
    (df.select("source", F.lit(0).alias("bucket"), F.lit(1).alias("x"))
     .write.mode("overwrite").partitionBy("source", "bucket")
     .parquet(spark_dirs))
    assert (sorted(os.listdir(os.path.join(out, "blocks")))
            == sorted(d for d in os.listdir(spark_dirs)
                      if d.startswith("source=")))
    df.unpersist()


@pytest.mark.parametrize("writer", ["clustered", "mapside", "direct",
                                    "stream", "compact"])
def test_sink_refuses_object_store_uris(spark, tokens_df, tmp_path,
                                        monkeypatch, writer):
    """The block sink writes with os calls, so an s3a:// out_dir would
    land on each executor's own disk and fold to an empty manifest:
    every writer refuses it before any job, creating nothing."""
    from rle_spark.sources import encode_parquet_dir_direct
    from rle_spark.streaming import compact_blocks, encode_stream_backfill
    monkeypatch.chdir(tmp_path)
    out = "s3a://bucket/encoded"
    run = {"clustered": lambda: encode_table(spark, tokens_df, out, CFG),
           "mapside": lambda: encode_table(spark, tokens_df, out,
                                           MAPSIDE_CFG),
           "direct": lambda: encode_parquet_dir_direct(spark, "src", out),
           "stream": lambda: encode_stream_backfill(spark, "src", out),
           "compact": lambda: compact_blocks(spark, out)}[writer]
    with pytest.raises(ValueError, match="s3a"):
        run()
    assert os.listdir(tmp_path) == []


def test_encode_table_file_uri(spark, tokens_df, tmp_path_factory):
    """A file: URI out_dir writes to its path."""
    out = str(tmp_path_factory.mktemp("file_uri"))
    df = tokens_df.limit(40)
    s = encode_table(spark, df, "file://" + out, CFG, resume=False)
    assert s["n_docs"] == 40
    assert roundtrip_mismatch_count(
        df, decode_dataframe(read_encoded(spark, out))) == 0


# ---------------------------------------------------------------------------
# mapside (zero-shuffle) layout
# ---------------------------------------------------------------------------

MAPSIDE_CFG = EngineConfig(block_tokens=1 << 15, layout="mapside")


def test_mapside_encode_decode_bit_identical(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, MAPSIDE_CFG).cache()
    try:
        assert blocks.count() > 0
        decoded = decode_dataframe(blocks)
        assert roundtrip_mismatch_count(tokens_df, decoded) == 0
    finally:
        blocks.unpersist()


def test_mapside_matches_clustered_bytes(spark, tokens_df):
    """Same data, same codecs -> mapside and clustered compress within
    a few % of each other (block packing differs, content does not)."""
    a = (encode_dataframe(tokens_df, MAPSIDE_CFG)
         .agg(F.sum("comp_bytes")).collect()[0][0])
    b = (encode_dataframe(tokens_df, CFG)
         .agg(F.sum("comp_bytes")).collect()[0][0])
    assert abs(a - b) / b < 0.10


def test_mapside_block_ids_unique(spark, tokens_df):
    blocks = encode_dataframe(tokens_df, MAPSIDE_CFG)
    total = blocks.count()
    assert blocks.select("block_id").distinct().count() == total


def test_mapside_encode_table_and_decode(spark, tokens_df, parquet_df,
                                        tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mapside_out"))
    shutil.rmtree(out, ignore_errors=True)
    s = encode_table(spark, tokens_df, out, MAPSIDE_CFG, resume=False)
    assert s["ratio"] < 1.0
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(tokens_df, decoded) == 0
    # mapside files are keyed by scan-split ordinal, which no plan
    # signature pins: resume rewrites them, even over a parquet input
    for _ in range(2):
        s = encode_table(spark, parquet_df, out, MAPSIDE_CFG, resume=True)
        assert s["skipped_partitions"] == 0
    decoded = decode_dataframe(read_encoded(spark, out))
    assert roundtrip_mismatch_count(parquet_df, decoded) == 0


@pytest.mark.parametrize("codec", ["rle128_byte", "mtf32_rle8", "fsst8",
                                   "zlib_raw", "rle16_sym", "delta_bitpack"])
def test_forced_codec_spark_roundtrip(spark, tokens_df, codec):
    """Every codec family must survive the FULL Spark path (framing,
    parquet, decode) — not only the ones the selector favors."""
    from rle_spark.selector import SelectorConfig
    cfg = EngineConfig(block_tokens=1 << 15, layout="mapside",
                       selector=SelectorConfig(effort="max",
                                               allow=[codec, "raw"]))
    small = tokens_df.limit(40)
    blocks = encode_dataframe(small, cfg).cache()
    try:
        used = {r["codec"] for r in blocks.select("codec").distinct().collect()}
        assert used <= {codec, "raw"}
        assert roundtrip_mismatch_count(small, decode_dataframe(blocks)) == 0
    finally:
        blocks.unpersist()


def _kernel_blocks(batches, block_tokens=1 << 12):
    """Run the mapside encode kernel outside Spark; the output batches."""
    from rle_spark.engine import _encode_iter_factory
    cfg = EngineConfig(block_tokens=block_tokens, layout="mapside")
    return list(_encode_iter_factory(cfg, mapside=True)(iter(batches)))


@pytest.mark.parametrize("flush_bytes", [None, 1])
def test_encode_kernel_payload_column(monkeypatch, flush_bytes):
    """The payload column holds frame_payload(codec, n, codec payload)
    of each block's tokens and comp_bytes their lengths, also when an
    emit is forced after every block inside one input batch."""
    import pyarrow as pa
    from rle_spark import engine
    from rle_spark.blocks import decode_block, frame_payload
    from rle_spark.codecs import REGISTRY
    from rle_spark.datagen import generate_docs_pandas
    if flush_bytes is not None:
        monkeypatch.setattr(engine, "_OUT_FLUSH_BYTES", flush_bytes)
    pdf = generate_docs_pandas(range(40), seed=3)
    docs = dict(zip(pdf["doc_id"], pdf["tokens"]))
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": pdf["doc_id"].tolist(),
         "tokens": [t.tolist() for t in pdf["tokens"]],
         "source": pdf["source"].tolist()},
        schema=pa.schema([("doc_id", pa.string()),
                          ("tokens", pa.list_(pa.int32())),
                          ("source", pa.string())]))
    out = _kernel_blocks([batch])
    # one input batch: more than one output batch means mid-batch emits
    assert (len(out) > 1) == (flush_bytes is not None)
    n_blocks = 0
    for b in out:
        b.validate(full=True)
        rows = b.to_pydict()
        assert rows["comp_bytes"] == [len(p) for p in rows["payload"]]
        for codec, ids, payload in zip(rows["codec"], rows["doc_ids"],
                                       rows["payload"]):
            tokens = np.concatenate([docs[i] for i in ids]).astype(np.int32)
            assert payload == frame_payload(codec, len(tokens),
                                            REGISTRY[codec].encode(tokens))
            np.testing.assert_array_equal(decode_block(payload), tokens)
            n_blocks += 1
    assert sum(len(b.column("doc_ids").flatten()) for b in out) == 40
    assert n_blocks > 1


def test_encode_kernel_empty_input():
    import pyarrow as pa
    from rle_spark.engine import _binary_array
    empty = pa.RecordBatch.from_pydict(
        {"doc_id": [], "tokens": [], "source": []},
        schema=pa.schema([("doc_id", pa.string()),
                          ("tokens", pa.list_(pa.int32())),
                          ("source", pa.string())]))
    assert _kernel_blocks([]) == [] and _kernel_blocks([empty]) == []
    assert _binary_array([], []).equals(pa.array([], pa.binary()))


def _cut_rule(rows, block_tokens):
    """The kernel's block cut, doc by doc over (key, doc_id, tokens) rows
    in arrival order: a key's block closes at the first doc that brings
    it to block_tokens, closed blocks go out in the order of the row
    that filled them, and the open ones at the end in first-seen key
    order. (block_id, doc_ids, doc_lens, tokens) per block."""
    open_, seqs, out = {}, {}, []

    def close(key):
        docs, open_[key] = open_[key], []
        seqs[key] = seq = seqs.get(key, -1) + 1
        out.append((f"{key[0]}:{key[1]:05d}:{seq:06d}",
                    [d for d, _ in docs], [len(t) for _, t in docs],
                    [x for _, t in docs for x in t]))

    for key, doc_id, tokens in rows:
        open_.setdefault(key, []).append((doc_id, tokens))
        if sum(len(t) for _, t in open_[key]) >= block_tokens:
            close(key)
    for key in [k for k, docs in open_.items() if docs]:
        close(key)
    return out


def _oracle_case(name):
    """(batches as pydicts, mapside) of one cut-rule case."""
    rng = np.random.default_rng(len(name))
    lens = {"interleaved": rng.integers(1, 40, 90),
            "zero_length": [0, 0, 5, 0, 30, 0, 0, 12, 0, 33, 0, 0, 7, 0] * 4,
            "exact_fill": [30, 34, 64, 1, 63, 64, 64, 0, 64, 2] * 3,
            "null_and_empty_sources": rng.integers(0, 50, 60),
            "clustered_two_buckets": rng.integers(0, 50, 70)}[name]
    srcs = {"interleaved": ["a", "b", "c"], "zero_length": ["z", "z", "y"],
            "exact_fill": ["x"], "null_and_empty_sources": [None, "", "n"],
            "clustered_two_buckets": ["s"]}[name]
    rows = [{"doc_id": f"d{i}", "source": srcs[i % len(srcs)],
             "tokens": rng.integers(0, 9, n).tolist(),
             "bucket": (i * 7 // 3) % 2} for i, n in enumerate(lens)]
    step = len(rows) // 3 + 1
    return ([rows[i:i + step] for i in range(0, len(rows), step)],
            name != "clustered_two_buckets")


@pytest.mark.parametrize("flush_bytes", [None, 1])
@pytest.mark.parametrize("case", ["interleaved", "zero_length", "exact_fill",
                                  "null_and_empty_sources",
                                  "clustered_two_buckets"])
def test_encode_kernel_matches_cut_rule(monkeypatch, case, flush_bytes):
    """The kernel's blocks (ids, doc_ids, doc_lens, decoded tokens) and
    their emission order equal the cut rule written again doc by doc,
    over keys interleaved row by row across batches, zero-length docs,
    docs that land exactly on block_tokens, null and "" sources as two
    keys, and clustered keys with two buckets in one batch."""
    import pyarrow as pa
    from rle_spark import engine
    from rle_spark.blocks import decode_block
    if flush_bytes is not None:
        monkeypatch.setattr(engine, "_OUT_FLUSH_BYTES", flush_bytes)
    batches, mapside = _oracle_case(case)
    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("source", pa.string())]
                       + ([] if mapside else [("bucket", pa.int32())]))
    cfg = EngineConfig(block_tokens=64, layout="mapside" if mapside
                       else "clustered")
    out = list(engine._encode_iter_factory(cfg, mapside)(
        pa.RecordBatch.from_pylist(b, schema=schema) for b in batches))
    got = [(r["block_id"], r["doc_ids"], r["doc_lens"],
            decode_block(r["payload"]).tolist())
           for b in out for r in b.to_pylist()]
    rows = [((r["source"], 0 if mapside else r["bucket"]), r["doc_id"],
             r["tokens"]) for b in batches for r in b]
    assert got == _cut_rule(rows, 64)
    assert len({key for key, *_ in rows}) > 1 or case == "exact_fill"
    if flush_bytes == 1:
        assert [b.num_rows for b in out[:-1]] == [1] * (len(out) - 1)


def test_binary_array_offsets_never_wrap():
    """Values past the int32 offsets of a binary array raise before any
    buffer is built, instead of wrapping."""
    import pyarrow as pa
    from rle_spark.engine import _binary_array
    vals = [b"ab", b"", b"cde"]
    assert _binary_array(vals, [2, 0, 3]).equals(pa.array(vals, pa.binary()))
    with pytest.raises(ValueError, match="int32"):
        _binary_array(vals, [2**30, 2**30, 3])


def _block_batch(blocks):
    """A block batch (payload, doc_ids, doc_lens) of framed blocks from
    (codec, tokens, doc_lens) triples; docs are numbered d0, d1, ...
    across the batch."""
    import pyarrow as pa
    from rle_spark.blocks import frame_payload
    from rle_spark.codecs import REGISTRY
    rows = {"payload": [], "doc_ids": [], "doc_lens": []}
    n_docs = 0
    for codec, tokens, doc_lens in blocks:
        rows["payload"].append(frame_payload(codec, len(tokens),
                                             REGISTRY[codec].encode(tokens)))
        rows["doc_ids"].append([f"d{n_docs + i}" for i in range(len(doc_lens))])
        rows["doc_lens"].append(list(doc_lens))
        n_docs += len(doc_lens)
    return pa.RecordBatch.from_pydict(rows, schema=pa.schema(
        [("payload", pa.binary()), ("doc_ids", pa.list_(pa.string())),
         ("doc_lens", pa.list_(pa.int32()))]))


def _run_tokens(rng, n_runs=10, run=5):
    return np.repeat(rng.integers(0, 9, n_runs), run).astype(np.int32)


def test_decode_kernel_rejects_doc_lens_across_block_edge():
    """doc_lens off by one across a block edge ([20, 31] over a 50-token
    block, [19, 30] over the next) raise instead of giving d1 a token
    of the next block."""
    from rle_spark.engine import _decode_iter
    rng = np.random.default_rng(5)
    batch = _block_batch([("rle32_sym", _run_tokens(rng), lens)
                          for lens in ([20, 31], [19, 30])])
    with pytest.raises(ValueError, match="row 0 decoded to 50 tokens"):
        list(_decode_iter(iter([batch])))


def test_decode_summary_rejects_doc_lens_that_disagree(spark, tmp_path):
    """A block file whose doc_lens do not sum to its payload's tokens
    fails decode_parquet_dir_summary's job with the step's ValueError
    instead of being counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from rle_spark.sources import decode_parquet_dir_summary
    rng = np.random.default_rng(6)
    batch = _block_batch([("rle32_sym", _run_tokens(rng), [20, 31])])
    os.makedirs(tmp_path / "blocks")
    pq.write_table(pa.Table.from_batches([batch]),
                   str(tmp_path / "blocks" / "part-00000.parquet"))
    with pytest.raises(Exception, match="ValueError: block batch row 0 "
                                        "decoded to 50 tokens"):
        decode_parquet_dir_summary(spark, str(tmp_path)).collect()


def test_decode_kernel_every_codec(tmp_path, monkeypatch):
    """One block per codec id, all 61, through the one decode step
    without Spark: _decode_iter returns every doc exactly, as one batch
    per block whose tokens ListArray is built over that block's tokens
    alone (offsets from 0, values exactly its tokens), and the per-task
    counts of decode_parquet_dir_summary, its tasks run in-process,
    add up to the same docs and tokens."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from rle_spark import sources
    from rle_spark.codecs import REGISTRY
    from rle_spark.engine import _decode_iter
    rng = np.random.default_rng(7)
    inputs = [np.repeat(rng.integers(0, 9, 300),
                        rng.integers(1, 12, 300)).astype(np.int32),
              rng.integers(0, 2**31 - 1, 1000).astype(np.int32)]
    blocks = []
    for codec in sorted(REGISTRY.values(), key=lambda c: c.codec_id):
        tokens = next(a for a in inputs if codec.encode(a) is not None)
        cut = len(tokens) // 3
        blocks.append((codec.name, tokens, [cut, 0, len(tokens) - cut]))
    assert len(blocks) == 61
    batch = _block_batch(blocks)
    want = {}
    for _, tokens, lens in blocks:
        for doc, part in zip(range(len(want), len(want) + 3),
                             np.split(tokens, np.cumsum(lens)[:-1])):
            want[f"d{doc}"] = part

    out = list(_decode_iter(iter([batch])))
    assert len(out) == len(blocks)
    got = {}
    for b, (_, tokens, _) in zip(out, blocks):
        b.validate(full=True)
        col = b.column("tokens")
        assert col.offsets[0].as_py() == 0
        np.testing.assert_array_equal(col.values.to_numpy(), tokens)
        for doc_id, toks in zip(b.column("doc_id").to_pylist(), col):
            got[doc_id] = toks.values.to_numpy()
    assert got.keys() == want.keys()
    for doc_id, toks in want.items():
        np.testing.assert_array_equal(got[doc_id], toks, err_msg=doc_id)

    # the summary's tasks, run here over two tasks' splits of the file
    os.makedirs(tmp_path / "blocks")
    pq.write_table(pa.Table.from_batches([batch]),
                   str(tmp_path / "blocks" / "part-00000.parquet"),
                   row_group_size=8)

    def in_process(spark, src_dir, task, schema, n_tasks):
        units = sources.plan_parquet_splits(src_dir, 1, with_bytes=True)
        groups = sources._balanced_contiguous_groups(units, n_tasks)
        return [rb for g in groups for rb in task([u[:3] for u in g])], None

    monkeypatch.setattr(sources, "_map_splits", in_process)
    counts = pa.Table.from_batches(
        sources.decode_parquet_dir_summary(None, str(tmp_path), n_tasks=2))
    assert counts.num_rows == 2 and min(counts.column("n_docs").to_pylist()) > 0
    assert sum(counts.column("n_docs").to_pylist()) == len(want)
    assert sum(counts.column("n_tokens").to_pylist()) == sum(
        len(t) for _, t, _ in blocks)

"""DataFrame encode/decode pipeline.

Spark-first equivalents of the reference's execution model
(SURVEY.md §3.2): the 1 GiB single buffer becomes a stream of bounded
blocks per partition; rle8m's independently-decodable subsections +
offset table (the reference's src/rle8_low_entropy_cpu.c:126-250)
become (source, bucket) parquet partitions + per-block doc offset
columns; SIMD dispatch becomes Arrow-vectorized NumPy inside
mapInArrow. The encode kernel's loops run once per key and once per
block of a batch (its one finer step is a slice of the flat token
buffer per run of a key's consecutive rows), the decode kernel's once
per block.

Scale design (100 TB / 10^12 sequences):
  * two-pass plan: a cheap stats aggregation over (source, n_tok) —
    column-pruned at the parquet scan — sizes the bucket count per
    source so every shuffle partition lands near `target_bucket_tokens`
    regardless of source skew (books-like sources with 1000x longer
    docs get proportionally more buckets; the doc-hash spreads them).
  * exactly ONE shuffle (the repartition by source+bucket); encode,
    framing, the block write and the lineage rollup all ride map-side
    on top of it.
  * blocks are bounded (`block_tokens`) and the encode kernel emits a
    block batch whenever `_OUT_FLUSH_BYTES` (4 MiB) of framed payload
    has built up, so a task holds its open blocks (one per key, each
    under block_tokens * 4 bytes raw), the batch being filled (under
    4 MiB + one block) and the sink's write-behind queue (at most
    sources._WRITE_BEHIND_DEPTH + 1 such batches), on top of the
    scan's readahead batches: O(keys * block), not O(partition).
  * no Spark block write: encode_table runs the kernel straight into
    the block sink (sources._sink_task), which writes each task's
    files from Python with an atomic rename per file, so the payloads
    never return to the JVM. Clustered blocks land under Spark's
    source=/bucket= partition dirs, one file per pair.
  * resume: one commit rule for every batch writer
    (sources._start_run). A block file is committed when it and its
    lineage record both exist under the run's plan signature (config,
    input files with sizes and mtimes, plan text); a resume under the
    same signature skips the committed (source,bucket) pairs and keeps
    their files (SURVEY.md §7.1 step 7), and rewrites every other
    file. Any other run rewrites everything, so stale blocks are never
    returned and re-running a failed job is idempotent. The manifest
    is the driver-side fold of the lineage, never a Spark rescan.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field
from typing import ClassVar

import numpy as np

from . import memtune

memtune.apply()  # must precede JVM launch (workers inherit driver env)

from pyspark.sql import DataFrame, SparkSession, functions as F

from .blocks import BLOCK_SCHEMA_DDL, DECODED_SCHEMA_DDL, decode_block, frame_payload
from .selector import SelectorConfig, StickySelector


@dataclass
class EngineConfig:
    block_tokens: int = 1 << 18          # tokens per encoded block
    target_bucket_tokens: int = 8 << 20  # tokens per (source,bucket)
    selector: SelectorConfig = field(default_factory=SelectorConfig)
    parquet_codec: ClassVar[str] = "zstd"  # page codec of every block file
    # layout = how blocks are grouped on disk:
    #   "clustered": one explicit shuffle to (source, bucket) partitions —
    #     re-clusters arbitrary input, manifest-level resume skips
    #     committed buckets (the north-star repartition+salt path).
    #   "mapside": ZERO shuffle — encode rides the scan partitions
    #     (bucket = task partition id). The at-scale default when the
    #     table is already source-clustered (Iceberg write layout):
    #     no 2x network+spill of the token payload, parallelism =
    #     split count, skew bounded by spark.sql.files.maxPartitionBytes
    #     rather than by key salting.
    layout: str = "clustered"


def get_spark(app: str = "rle_spark", cpus: int | None = None) -> SparkSession:
    """Local-mode session with the engine's recommended conf.

    On a real cluster the same conf applies minus `master`; the job is
    shipped via spark-submit --py-files (see rle_spark/jobs/encode.py).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("RLE_SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """One dry pass that spawns a python worker per core and makes its
    zip-import caches lazy (see memtune) — the engine's analogue of the
    reference benchmark's untimed dry run (src/main.c:808-811)."""

    def it(batches):
        memtune.lazy_zip_invalidation()
        yield from batches

    (spark.range(cpus * 2, numPartitions=cpus * 2)
     .mapInPandas(it, "id long").count())


# ---------------------------------------------------------------------------
# bucket planning (explicit skew handling)
# ---------------------------------------------------------------------------


def bucket_counts(df: DataFrame, cfg: EngineConfig) -> dict[str, int]:
    """Per-source bucket counts from token totals.

    The stats pass only touches (source, n_tok) — Catalyst prunes the
    token arrays out of the scan — so it is cheap even at 100 TB.
    """
    totals = (df.groupBy("source").agg(F.sum("n_tok").alias("total"))
              .collect())
    return {
        r["source"]: max(1, int(np.ceil((r["total"] or 0)
                                        / cfg.target_bucket_tokens)))
        for r in totals
    }


def apply_buckets(df: DataFrame, buckets: dict[str, int]) -> DataFrame:
    """Add the `bucket` column. The per-source bucket counts are a tiny
    driver-side map compiled into the plan (a literal-map lookup — no
    join, no broadcast needed)."""
    if not buckets:  # empty input: single bucket, no map lookup
        return df.withColumn("bucket", F.lit(0))
    mapping = F.create_map(*[F.lit(x) for kv in buckets.items() for x in kv])
    n_buckets = mapping[F.col("source")]
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("doc_id")), n_buckets).cast("int"),
    )


def _arrange(bucketed: DataFrame, buckets: dict[str, int]) -> DataFrame:
    """One explicit shuffle sized to the bucket count.

    The partition count is pinned to the number of (source,bucket)
    pairs so encode parallelism tracks the data volume — AQE would
    otherwise coalesce the small-looking shuffle into a handful of
    tasks and serialize the (CPU-heavy) encode stage behind it.
    """
    n_parts = max(sum(buckets.values()), 1)
    return (bucketed
            .repartition(n_parts, "source", "bucket")
            .sortWithinPartitions("source", "bucket", "doc_id"))


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _block_id(source: str, bucket: int, seq: int) -> str:
    return f"{source}:{bucket:05d}:{seq:06d}"


# Arrow schema mirror of BLOCK_SCHEMA_DDL (mapInArrow needs pa types)
def _block_arrow_schema():
    import pyarrow as pa
    return pa.schema([
        ("block_id", pa.string()),
        ("source", pa.string()),
        ("bucket", pa.int32()),
        ("seq", pa.int32()),
        ("n_docs", pa.int32()),
        ("n_tokens", pa.int64()),
        ("doc_ids", pa.list_(pa.string())),
        ("doc_lens", pa.list_(pa.int32())),
        ("codec", pa.string()),
        ("orig_bytes", pa.int64()),
        ("comp_bytes", pa.int64()),
        ("payload", pa.binary()),
    ])


# a block batch is emitted once its framed payloads reach this: a few
# blocks, so the sink's write-behind runs while encoding continues and
# a task holds O(block) payload bytes, not its whole output (one block
# past 2 GiB still meets _binary_array's int32-offset guard)
_OUT_FLUSH_BYTES = 4 << 20


def _binary_array(values: list, lens: list):
    """Arrow binary array of `values` (bytes of the given lengths) from
    one joined buffer and int32 offsets. pa.array over the list copies
    every value into a builder that grows by reallocation: 6.0 against
    1.9 ms for 28 framed payloads (15 MiB), 14.7 against 5.3 ms for 32
    (31 MiB), and a lower worker peak RSS. Raises ValueError when the
    values pass the 2 GiB reach of int32 offsets."""
    import pyarrow as pa
    offsets = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{offsets[-1]} bytes pass the int32 offsets of "
                         "an Arrow binary array")
    return pa.Array.from_buffers(
        pa.binary(), len(lens),
        [None, pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(b"".join(values))])


def _encode_iter_factory(cfg: EngineConfig, mapside: bool = False):
    """mapInArrow kernel: Arrow RecordBatch in -> block RecordBatch out.

    The token column is consumed through the ListArray's FLAT values
    buffer (`offsets` + `values`): the per-doc arrays are never
    materialized as Python objects. This is the Spark/Arrow analogue of
    the reference operating on a single `uint8_t*` buffer (its
    src/rle.h:100-105): the Arrow value buffer IS that buffer.

    One open block is kept per (source, bucket) key, so input need not
    be sorted by key: clustered mode feeds whole-key partitions, mapside
    mode feeds raw scan splits with interleaved sources. Per batch, each
    key's rows are found once (dictionary codes, one stable argsort),
    and Python loops run once per key and once per block: one cumsum
    per key and one searchsorted per block cut its docs, a block
    closing at the first doc that brings it to block_tokens. A block
    takes its tokens as one slice of the flat buffer per run of
    consecutive rows, and its doc_ids as one slice (one take when the
    rows are not consecutive). Blocks that fill in a batch are encoded
    in the order of the row that filled them, the open ones at the end
    in first-seen key order; memory is O(n_keys * block_tokens).
    """
    import pyarrow as pa

    block_tokens = cfg.block_tokens
    out_schema = _block_arrow_schema()

    def encode_iter(batches):
        memtune.lazy_zip_invalidation()
        sticky = StickySelector(cfg.selector)
        if mapside:
            from pyspark import TaskContext
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
        # the open block of each key, in first-seen key order: [token
        # slices, doc_id arrays, doc_lens arrays, token count]
        opened: dict = {}
        seqs: dict = {}
        closed: list = []  # one record per encoded block, until emitted
        size = 0           # framed payload bytes in `closed`

        def close(key, toks, ids, lens, _):
            nonlocal size
            seq = seqs[key] = seqs.get(key, -1) + 1
            tokens = toks[0] if len(toks) == 1 else np.concatenate(toks)
            name, payload = sticky.encode(key, tokens)
            framed = frame_payload(name, len(tokens), payload)
            lens = np.concatenate(lens)
            closed.append((_block_id(*key, seq), *key, seq, len(lens),
                           len(tokens), name, 4 * len(tokens), len(framed),
                           framed, ids, lens))
            size += len(framed)

        def emit():
            nonlocal size
            (bid, source, bucket, seq, n_docs, n_tokens, codec, orig, comp,
             payload, ids, lens) = zip(*closed)
            offsets = pa.array(np.cumsum((0, *n_docs)), pa.int32())
            closed.clear()
            size = 0
            return pa.record_batch([
                pa.array(bid, pa.string()),
                pa.array(source, pa.string()),
                pa.array(bucket, pa.int32()),
                pa.array(seq, pa.int32()),
                pa.array(n_docs, pa.int32()),
                pa.array(n_tokens, pa.int64()),
                pa.ListArray.from_arrays(
                    offsets, pa.concat_arrays([a for b in ids for a in b])),
                pa.ListArray.from_arrays(
                    offsets, pa.array(np.concatenate(lens))),
                pa.array(codec, pa.string()),
                pa.array(orig, pa.int64()),
                pa.array(comp, pa.int64()),
                _binary_array(payload, comp),
            ], schema=out_schema)

        for rb in batches:
            if not rb.num_rows:
                continue
            # key codes: source dictionary index << 32 | bucket; each
            # key's rows, ascending, from one stable argsort
            src = rb.column("source").dictionary_encode(null_encoding="encode")
            names = src.dictionary.to_pylist()
            codes = src.indices.to_numpy().astype(np.int64) << 32 | (
                pid if mapside else rb.column("bucket").to_numpy())
            order = np.argsort(codes, kind="stable")
            key_rows = np.split(order,
                                np.flatnonzero(np.diff(codes[order])) + 1)
            doc_ids, toks = rb.column("doc_id"), rb.column("tokens")
            offs = toks.offsets.to_numpy().astype(np.int64)
            flat = toks.values.to_numpy(zero_copy_only=False).astype(
                np.int32, copy=False)
            doc_lens = np.diff(offs).astype(np.int32)
            full = []  # (filling row, key, block) of the blocks filled
            for rows in sorted(key_rows, key=lambda r: r[0]):
                code = int(codes[rows[0]])
                key = (names[code >> 32], code & 0xFFFFFFFF)
                blk = opened.setdefault(key, [[], [], [], 0])
                cum = np.cumsum(doc_lens[rows], dtype=np.int64) + blk[3]
                a, base = 0, 0
                while a < len(rows):
                    b = min(len(rows),
                            int(np.searchsorted(cum, base + block_tokens)) + 1)
                    piece = rows[a:b]
                    # one token slice per run of consecutive rows
                    lo, hi = piece[:1], piece[-1:] + 1
                    if hi[0] - lo[0] != b - a:
                        brk = np.diff(piece) != 1
                        lo = piece[np.concatenate(([True], brk))]
                        hi = piece[np.concatenate((brk, [True]))] + 1
                    blk[0] += [flat[i:j] for i, j in
                               zip(offs[lo].tolist(), offs[hi].tolist())]
                    blk[1].append(doc_ids.slice(lo[0], b - a) if len(lo) == 1
                                  else doc_ids.take(piece))
                    blk[2].append(doc_lens[piece])
                    blk[3] = int(cum[b - 1]) - base
                    if blk[3] >= block_tokens:
                        full.append((piece[-1], key, blk))
                        blk = opened[key] = [[], [], [], 0]
                    a, base = b, int(cum[b - 1])
            for _, key, blk in sorted(full, key=lambda f: f[0]):
                close(key, *blk)
                if size >= _OUT_FLUSH_BYTES:
                    yield emit()
        for key, blk in opened.items():
            if blk[2]:
                close(key, *blk)
        if closed:
            yield emit()

    return encode_iter


def encode_dataframe(df: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """token table (doc_id, tokens, n_tok, source) -> encoded block rows.

    Lazy: returns the block DataFrame; one shuffle (source, bucket).
    """
    cfg = cfg or EngineConfig()
    mapside = cfg.layout == "mapside"
    return _encode_input(df, cfg).mapInArrow(
        _encode_iter_factory(cfg, mapside), BLOCK_SCHEMA_DDL)


def _encode_input(df: DataFrame, cfg: EngineConfig,
                  done: DataFrame | None = None) -> DataFrame:
    """What the encode kernel runs over: mapside, the scan partitions
    as they are; clustered, the rows bucketed, without the (source,
    bucket) pairs in `done` (resume), shuffled to one partition per
    pair."""
    if cfg.layout == "mapside":
        return df
    buckets = bucket_counts(df, cfg)
    bucketed = apply_buckets(df, buckets)
    if done is not None:
        bucketed = bucketed.join(F.broadcast(done), ["source", "bucket"],
                                 "left_anti")
    return _arrange(bucketed, buckets)


def _table_plan(df: DataFrame, cfg: EngineConfig) -> list | None:
    """What encode_table's plan signature covers: the config, the
    (path, size, mtime_ns) of every input file, the text of the
    canonicalized analyzed plan, which pins filters and limits and
    reads the same in another JVM (DataFrame.semanticHash does not),
    and what sets the scan's split layout (default parallelism and the
    spark.sql.files.* confs set), which a limit's rows depend on.
    None when the plan does not pin its rows: no input files (a file
    read cached in the session lists none), a file off the local file:
    scheme, a leaf that is not a file relation (in-memory, RDD, range
    or JDBC data, whose rows the text does not show), a
    nondeterministic plan (rand(seed) values follow the split layout)
    or a Python UDF (its code is not in the text)."""
    from urllib.parse import unquote, urlparse
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    urls = [urlparse(f) for f in sorted(df.inputFiles())]
    if (not urls or not plan.deterministic() or "PythonUDF" in plan.toJSON()
            or any(u.scheme != "file" for u in urls)
            or any(n.getClass().getSimpleName() != "LogicalRelation" or
                   n.relation().getClass().getSimpleName() != "HadoopFsRelation"
                   for n in map(leaves.apply, range(leaves.size())))):
        return None
    stats = [[u.geturl(), st.st_size, st.st_mtime_ns]
             for u in urls for st in [os.stat(unquote(u.path))]]
    split = [df.sparkSession.sparkContext.defaultParallelism, sorted(
        kv for kv in df.sparkSession.conf.getAll.items()
        if kv[0].startswith(("spark.sql.files.", "spark.sql.leafNode")))]
    return [asdict(cfg), stats, plan.canonicalized().toString(), split]


def encode_table(spark: SparkSession, df: DataFrame, out_dir: str,
                 cfg: EngineConfig | None = None, resume: bool = True) -> dict:
    """Full encode job: blocks, lineage and manifest on disk, idempotent
    resume. The kernel's blocks go straight into the block sink
    (sources._sink_task) in the same task: mapside writes one file per
    scan split (blocks/part-<pid>.parquet); clustered writes one file
    per (source, bucket) under source=/bucket= dirs, so reads prune
    partitions.

    resume=True keeps what the last run committed under the same plan
    signature (of _table_plan; the commit rule is
    sources._start_run): clustered skips the (source, bucket) pairs
    whose file and lineage record both exist, including those a run
    that crashed mid-job finished, and rewrites the rest. An input
    with no signature (in-memory, non-file, nondeterministic or
    Python-UDF), a changed input, config or split layout, and every
    mapside run (its files are keyed by scan-split ordinal) rewrite
    everything.

    Returns a summary dict (ratio, bytes, skipped partitions).
    """
    from .sources import _TOTALS_DDL, _local_dir, _sink_task, _start_run
    cfg = cfg or EngineConfig()
    mapside = cfg.layout == "mapside"
    out_dir = _local_dir(out_dir)
    kept = _start_run(out_dir, None if mapside else _table_plan(df, cfg),
                      resume)
    done = sorted({(s, b) for rec in kept for s, b, *_ in rec["groups"]})
    kernel = _encode_iter_factory(cfg, mapside)
    _encode_input(df, cfg, spark.createDataFrame(
        done, "source string, bucket int") if done else None).mapInArrow(
        lambda batches: _sink_task(out_dir, kernel(batches),
                                   by_key=not mapside), _TOTALS_DDL).collect()
    return {**refresh_manifest(out_dir), "skipped_partitions": len(done)}


def refresh_manifest(out_dir: str) -> dict:
    """Every encode writer's last step: (re)build <out_dir>/manifest as
    the fold of the committed files' lineage, healed first
    (sources.manifest_from_lineage), and return the corpus totals:
    bytes, ratio, tokens, docs (zeros and ratio 1.0 when empty). Runs
    on the driver: no Spark job."""
    import pyarrow.compute as pc
    from . import sources
    t = sources.manifest_from_lineage(out_dir)
    orig, comp, n_tokens, n_docs = (
        pc.sum(t.column(c)).as_py() or 0
        for c in ("orig_bytes", "comp_bytes", "n_tokens", "n_docs"))
    return {"orig_bytes": orig, "comp_bytes": comp,
            "ratio": (comp / orig) if orig else 1.0,
            "n_tokens": n_tokens, "n_docs": n_docs}


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _decode_blocks(rb):
    """The one decode step, under every decode path: per row of a block
    batch (only `payload` and `doc_lens` are read), ONE codec-kernel
    call, then a check of the decoded length against the sum of that
    row's doc_lens. Yields (row, doc_lens, tokens); a block whose tokens
    would spill into a neighbour's docs raises ValueError."""
    lens = rb.column("doc_lens")
    offs, vals = lens.offsets.to_numpy(), lens.values.to_numpy()
    for row, payload in enumerate(rb.column("payload")):
        # as_buffer: zero-copy view of the Arrow payload slab
        tokens = decode_block(payload.as_buffer())
        doc_lens = vals[offs[row]:offs[row + 1]]
        if len(tokens) != (n := doc_lens.sum(dtype=np.int64)):
            raise ValueError(f"block batch row {row} decoded to "
                             f"{len(tokens)} tokens, its doc_lens sum to {n}")
        yield row, doc_lens, tokens


def _decode_iter(batches):
    """mapInArrow inverse: block rows -> (doc_id, tokens) rows, one
    output batch per block (`_decode_blocks`). The tokens ListArray
    wraps the block's own decoded array (no copy, offsets from 0); the
    per-doc re-slicing is pure offset arithmetic — zero per-doc Python,
    mirroring the encoder.
    """
    import pyarrow as pa

    memtune.lazy_zip_invalidation()
    for rb in batches:
        doc_ids = rb.column("doc_ids")
        for row, doc_lens, tokens in _decode_blocks(rb):
            offsets = np.insert(np.cumsum(doc_lens, dtype=np.int64), 0, 0)
            tokens_list = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(tokens.astype(np.int32, copy=False)))
            yield pa.record_batch([doc_ids[row].values, tokens_list],
                                  names=["doc_id", "tokens"])


def decode_dataframe(blocks: DataFrame) -> DataFrame:
    """Encoded block rows -> (doc_id, tokens) rows."""
    cols = blocks.select("payload", "doc_ids", "doc_lens")
    return cols.mapInArrow(_decode_iter, DECODED_SCHEMA_DDL)


def read_encoded(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "blocks"))


def roundtrip_mismatch_count(original: DataFrame, decoded: DataFrame) -> int:
    """Number of docs whose decoded token array differs (0 == bit-identical)."""
    joined = (original.select("doc_id", F.col("tokens").alias("t0"))
              .join(decoded.select("doc_id", F.col("tokens").alias("t1")),
                    "doc_id", "full_outer"))
    bad = joined.filter(
        F.col("t0").isNull() | F.col("t1").isNull() |
        (F.col("t0") != F.col("t1")))
    return bad.count()

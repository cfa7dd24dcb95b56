"""DataFrame encode/decode pipeline.

Spark-first equivalents of the reference's execution model
(SURVEY.md §3.2): the 1 GiB single buffer becomes a stream of bounded
blocks per partition; rle8m's independently-decodable subsections +
offset table (/root/reference/src/rle8_low_entropy_cpu.c:126-250)
become (source, bucket) parquet partitions + per-block doc offset
columns; SIMD dispatch becomes Arrow-vectorized NumPy inside
mapInArrow. Zero per-row Python anywhere.

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
    buffer (`offsets` + `values`) — the per-doc arrays are never
    materialized as Python objects, so the only O(data) work between
    the parquet scan and the codec kernel is one contiguous int32
    slice per block. This is the Spark/Arrow analogue of the
    reference operating on a single `uint8_t*` buffer
    (/root/reference/src/rle.h:100-105): the Arrow value buffer IS
    that buffer. Python loops run per GROUP and per BLOCK, never per
    row/doc.

    One open block is kept per (source, bucket) key, so input does
    NOT need to be sorted by key — clustered mode feeds whole-key
    partitions, mapside mode feeds raw scan splits with interleaved
    sources; both stream through the same state machine with
    O(n_keys * block_tokens) memory.
    """
    import pyarrow as pa

    block_tokens = cfg.block_tokens
    sel_cfg = cfg.selector
    out_schema = _block_arrow_schema()

    def encode_iter(batches):
        memtune.lazy_zip_invalidation()
        sticky = StickySelector(sel_cfg)
        seqs: dict = {}
        if mapside:
            from pyspark import TaskContext
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
        # open blocks carried across batch boundaries, one per key:
        # fragments of the flat token buffer + parallel id/len fragments
        open_blocks: dict = {}

        def _fresh():
            return {"toks": [], "ids": [], "lens": [], "ntok": 0,
                    "ndocs": 0}
        # completed-block accumulators (scalars + fragments per block)
        out: dict = {k: [] for k in ("block_id", "source", "bucket", "seq",
                                     "n_docs", "n_tokens", "codec",
                                     "orig_bytes", "comp_bytes", "payload")}
        out_ids: list = []    # one (list of pa.Array fragments) per block
        out_lens: list = []   # one np.int32 array per block
        out_bytes = 0

        def flush_block(key):
            nonlocal out_bytes
            cur = open_blocks.get(key)
            if cur is None or not cur["ndocs"]:
                return
            source, bucket = key
            seq = seqs.get(key, 0)
            seqs[key] = seq + 1
            tokens = (cur["toks"][0] if len(cur["toks"]) == 1
                      else np.concatenate(cur["toks"])
                      if cur["toks"] else np.zeros(0, np.int32))
            name, payload = sticky.encode(key, tokens)
            framed = frame_payload(name, len(tokens), payload)
            out["block_id"].append(_block_id(source, bucket, seq))
            out["source"].append(source)
            out["bucket"].append(bucket)
            out["seq"].append(seq)
            out["n_docs"].append(cur["ndocs"])
            out["n_tokens"].append(len(tokens))
            out["codec"].append(name)
            out["orig_bytes"].append(4 * len(tokens))
            out["comp_bytes"].append(len(framed))
            out["payload"].append(framed)
            out_ids.append(cur["ids"])
            out_lens.append(np.concatenate(cur["lens"]) if cur["lens"]
                            else np.zeros(0, np.int32))
            out_bytes += len(framed)
            cur.update(toks=[], ids=[], lens=[], ntok=0, ndocs=0)

        def emit_batch():
            nonlocal out_bytes
            id_counts = np.fromiter(
                (sum(len(f) for f in frags) for frags in out_ids),
                dtype=np.int64, count=len(out_ids))
            id_offsets = np.concatenate(([0], np.cumsum(id_counts)))
            id_values = pa.concat_arrays(
                [f for frags in out_ids for f in frags])
            len_counts = np.fromiter((len(a) for a in out_lens),
                                     dtype=np.int64, count=len(out_lens))
            len_offsets = np.concatenate(([0], np.cumsum(len_counts)))
            len_values = np.concatenate(out_lens)
            batch = pa.record_batch([
                pa.array(out["block_id"], pa.string()),
                pa.array(out["source"], pa.string()),
                pa.array(out["bucket"], pa.int32()),
                pa.array(out["seq"], pa.int32()),
                pa.array(out["n_docs"], pa.int32()),
                pa.array(out["n_tokens"], pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(id_offsets, pa.int32()), id_values),
                pa.ListArray.from_arrays(
                    pa.array(len_offsets, pa.int32()),
                    pa.array(len_values.astype(np.int32, copy=False))),
                pa.array(out["codec"], pa.string()),
                pa.array(out["orig_bytes"], pa.int64()),
                pa.array(out["comp_bytes"], pa.int64()),
                _binary_array(out["payload"], out["comp_bytes"]),
            ], schema=out_schema)
            for v in out.values():
                v.clear()
            out_ids.clear()
            out_lens.clear()
            out_bytes = 0
            return batch

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            sources = rb.column("source").to_numpy(zero_copy_only=False)
            if mapside:
                bucks = np.full(n, pid, dtype=np.int64)
            else:
                bucks = rb.column("bucket").to_numpy(zero_copy_only=False)
            ids_arr = rb.column("doc_id")
            tok_col = rb.column("tokens")
            offs = tok_col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = tok_col.values.to_numpy(zero_copy_only=False)
            if flat.dtype != np.int32:
                flat = flat.astype(np.int32)
            doc_lens = np.diff(offs).astype(np.int32)
            # group boundaries within the batch (usually 0 or few)
            chg = np.flatnonzero(
                (sources[1:] != sources[:-1]) | (bucks[1:] != bucks[:-1])) + 1
            bounds = np.concatenate(([0], chg, [n]))
            for g0, g1 in zip(bounds[:-1], bounds[1:]):
                key = (sources[g0], int(bucks[g0]))
                cur = open_blocks.get(key)
                if cur is None:
                    cur = open_blocks[key] = _fresh()
                # block cut points via cumulative token counts
                cum = np.cumsum(doc_lens[g0:g1], dtype=np.int64) + cur["ntok"]
                cuts = [g0]
                target = block_tokens
                while True:
                    nxt = int(np.searchsorted(cum, target)) + 1
                    if nxt >= g1 - g0:
                        break
                    cuts.append(g0 + nxt)
                    target = cum[nxt - 1] + block_tokens
                cuts.append(g1)
                for c0, c1 in zip(cuts[:-1], cuts[1:]):
                    cur["toks"].append(flat[offs[c0]:offs[c1]])
                    cur["ids"].append(ids_arr.slice(c0, c1 - c0))
                    cur["lens"].append(doc_lens[c0:c1])
                    cur["ndocs"] += c1 - c0
                    cur["ntok"] = int(cum[c1 - g0 - 1]
                                      - (cum[c0 - g0 - 1] if c0 > g0 else 0))
                    if c1 != g1 or cur["ntok"] >= block_tokens:
                        flush_block(key)
                        if out_bytes >= _OUT_FLUSH_BYTES:
                            yield emit_batch()
        for key in list(open_blocks):
            flush_block(key)
        if out["block_id"]:
            yield emit_batch()

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
    kernel, codec = _encode_iter_factory(cfg, mapside), cfg.parquet_codec
    _encode_input(df, cfg, spark.createDataFrame(
        done, "source string, bucket int") if done else None).mapInArrow(
        lambda batches: _sink_task(out_dir, codec, kernel(batches),
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

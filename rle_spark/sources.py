"""File-granular parquet source for the encode job.

Why this exists (measured on the bench corpus, local[1], page-cached):
Spark's JVM parquet reader + row->Arrow conversion of `array<int>`
columns delivers token batches to a Python worker at ~0.08 GB/s, while
pyarrow reads the same files at 0.31 GB/s — the nested-list row
conversion, not the codecs, dominates the pipeline. For a full-scan
encode job there is no predicate to push down, so the idiomatic fix is
the one petastorm / Ray Data use: ship SPLITS (path + row-group range)
to the tasks, and let each task read its own row groups with pyarrow
inside the kernel.

The split source is `spark.range(n_tasks)`: task i gets id i and looks
up its group of splits in the closure. The plan is MapInArrow <- Range,
so each task runs ONE python worker. A DataFrame of split rows built
from an RDD (Scan ExistingRDD) would start a second python worker per
task just to hand the rows over, and pay the worker handshake twice.

Every entry point is the same task skeleton — split source, then the
one kernel, then a sink — built from three helpers: `_map_splits`
(plan splits, byte-balance them over tasks, mapInArrow over the range),
`_scan` (a task's splits -> parquet batches, read ahead) and
`_bounded_thread` (one helper thread, a bounded number of calls ahead,
that overlaps the scan with the kernel and the kernel with the
task-file write). Entry points and their sinks:

  encode_parquet_dir_summary  token splits -> encode kernel -> block
                              metadata rows (payload dropped in-task)
  encode_parquet_dir_direct   token splits -> encode kernel -> the
                              block sink: one parquet file + lineage
                              JSON per task, manifest folded from the
                              lineage
  decode_parquet_dir          block splits -> decode kernel ->
                              (doc_id, tokens) rows
  decode_parquet_dir_summary  block splits -> the decode kernel's
                              per-block step -> per-task (n_docs,
                              n_tokens)

The block sink (`_sink_task`, then engine.refresh_manifest on the
driver) is every encode writer's sink, not only the direct writer's:
engine.encode_table runs it over a DataFrame source (mapside: one file
per task; clustered: one file per (source, bucket) in Spark's
source=/bucket= layout) and streaming runs it per micro-batch epoch
and for compaction. The batch writers share one commit rule
(`_start_run`): a block file is committed when it and its lineage
record both exist under the run's plan signature, and resume keeps
exactly those. The manifest is always the fold of the lineage
(`manifest_from_lineage`), which heals the lineage first; no writer
runs a Spark job to build a manifest or to plan a resume.

The kernels are the ones the DataFrame path uses
(engine._encode_iter_factory, engine._decode_iter, and under every
decode path its one length-checked step engine._decode_blocks) — this
module only swaps the transport.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from contextlib import closing
from functools import partial
from itertools import count

from pyspark.sql import DataFrame, SparkSession

from . import engine
from .engine import EngineConfig, _encode_iter_factory
from .memtune import lazy_zip_invalidation

_READ_COLUMNS = ["doc_id", "tokens", "source"]

# batches in flight between the scan and the kernel
_READAHEAD_DEPTH = 2
# block batches in flight between the encode kernel and the task file
_WRITE_BEHIND_DEPTH = 4
# rows per token-scan batch: in-flight memory is ~depth x batch bytes
# per task, so keep it a few block sizes, not 100+ MB
_SCAN_BATCH_ROWS = 2048
# rows per block-scan batch: a few blocks (~1 MB framed each at the
# default block_tokens), so readahead decompresses batch k+1 while
# batch k decodes and in-flight memory is ~depth x 4 blocks
_BLOCK_BATCH_ROWS = 4


def _bounded_thread(calls, depth: int):
    """The one bounded producer/consumer helper: run the callables that
    the generator `calls` yields, in order, on one helper thread, at
    most `depth` calls ahead of the consumer, and yield their results
    in order. The consumer's thread pulls `calls`, so whatever creates
    them stays on it: the encode kernel that feeds the task-file writes
    (write-behind), or nothing but `next` on a generator whose work
    then moves to the helper thread (readahead, `_read_ahead`). A
    call's exception re-raises in the consumer. When the consumer stops early
    (close(), or an exception in its loop body), calls not yet started
    are cancelled, the running one finishes and the thread is joined
    before `calls` is closed, so no thread outlives its task."""
    with closing(calls), ThreadPoolExecutor(1) as pool:
        pending: deque = deque()
        try:
            for call in calls:
                pending.append(pool.submit(call))
                if len(pending) > depth:
                    yield pending.popleft().result()
            while pending:
                yield pending.popleft().result()
        finally:
            for f in pending:
                f.cancel()


def _read_ahead(gen, depth: int):
    """Yield the items of the generator `gen`, each pulled on a helper
    thread up to `depth` items ahead of the consumer: how a task
    overlaps the parquet scan (pyarrow's decode releases the GIL) with
    the kernel."""
    end = object()
    calls = (partial(next, gen, end) for _ in count())
    with closing(gen), closing(_bounded_thread(calls, depth)) as items:
        for item in items:
            if item is end:
                return
            yield item


def _iter_row_groups(splits, columns: list[str], batch_rows: int):
    """Read a task's (path, rg0, rg1) splits with pyarrow: `columns` of
    every row group they name, in `batch_rows`-row record batches."""
    import pyarrow.parquet as pq
    for path, g0, g1 in splits:
        yield from pq.ParquetFile(path).iter_batches(
            batch_size=batch_rows, row_groups=list(range(g0, g1)),
            columns=columns)


def _scan(splits, columns: list[str], batch_rows: int):
    """A task's split source: its row groups (`_iter_row_groups`), read
    one readahead stage ahead; use it in a with block."""
    return closing(_read_ahead(_iter_row_groups(splits, columns, batch_rows),
                               _READAHEAD_DEPTH))


def _balanced_contiguous_groups(units, n_tasks: int) -> list[list]:
    """Partition sized units (4-tuples ending in byte size) into
    exactly min(n_tasks, len) CONTIGUOUS groups minimizing the max
    group bytes (binary search on the cap + greedy fill). Contiguity
    keeps consecutive row groups in one task (read locality) and makes
    the assignment a pure function of (units, n_tasks) for the resume
    plan signature. Count-positional slicing (what parallelize does)
    left 12% byte skew between tasks on the bench corpus — the stage
    wall is the max task, so that skew came straight out of the
    measured scaling efficiency; byte-balanced boundaries get 1.4%."""
    n = min(n_tasks, len(units))
    byts = [u[3] for u in units]

    def n_groups_at(cap: int) -> int:
        g, acc = 1, 0
        for b in byts:
            if acc + b > cap:
                g, acc = g + 1, b
            else:
                acc += b
        return g

    lo, hi = max(byts), sum(byts)
    while lo < hi:
        mid = (lo + hi) // 2
        if n_groups_at(mid) <= n:
            hi = mid
        else:
            lo = mid + 1
    cap = lo
    groups: list[list] = []
    i, m = 0, len(units)
    for j in range(n):
        left = n - j - 1  # groups still to fill after this one
        grp, acc = [units[i]], byts[i]
        i += 1
        # take more while under cap, leaving >=1 unit per later group;
        # the last group takes everything that remains
        while i < m and (m - i) > left and (left == 0
                                            or acc + byts[i] <= cap):
            grp.append(units[i])
            acc += byts[i]
            i += 1
        groups.append(grp)
    if i < m:  # defensive: cap infeasible under the reserve rule
        groups[-1].extend(units[i:])
    return groups


def _map_splits(spark: SparkSession, src_dir: str, task, schema: str,
                target_bytes: int = 128 << 20,
                n_tasks: int | None = None
                ) -> tuple[DataFrame, list[tuple], int]:
    """The one split planner: plan `src_dir`'s splits, assign them to
    tasks, and run `task` over each task's list of (path, rg0, rg1)
    splits with mapInArrow. Returns (the lazy result DataFrame, the
    sized units, the task count); an empty directory gives an empty
    DataFrame of `schema`.

    Tasks are FAT (~3x cores by default): a task that does nothing
    still costs ~75 ms of scheduling and python worker round trip
    (local[4], warm workers), and a real cluster also wants a small
    multiple of total cores, not one task per row group. Each task gets one byte-balanced contiguous group of units —
    the stage wall is the slowest task, so task bytes, not unit counts,
    must be equal."""
    units = plan_parquet_splits(src_dir, target_bytes, with_bytes=True)
    if n_tasks is None:
        n_tasks = max(1, spark.sparkContext.defaultParallelism * 3)
    n_tasks = min(n_tasks, max(len(units), 1))
    if not units:
        return spark.createDataFrame([], schema), units, n_tasks
    groups = [[u[:3] for u in g]
              for g in _balanced_contiguous_groups(units, n_tasks)]

    def run(id_batches):
        lazy_zip_invalidation()
        for rb in id_batches:
            for i in rb.column("id").to_pylist():
                yield from task(groups[i])

    # partition i of the range holds exactly id i, so task i runs group
    # i; the plan is MapInArrow <- Range, so no second python worker
    # feeds the task its input rows
    return (spark.range(len(groups), numPartitions=len(groups))
            .mapInArrow(run, schema), units, n_tasks)


def parquet_files(root: str) -> list[str]:
    """The parquet files of a table directory, sorted: every *.parquet
    below `root`, recursively, except under a '.'- or '_'-prefixed
    component below it (a crashed compaction's _blocks_old staging copy,
    an in-flight .tmp dir) — recursive '**' would otherwise traverse
    those and read duplicate data."""
    return _visible_files(root, ".parquet")


def _visible_files(root: str, suffix: str) -> list[str]:
    return sorted(p for p in glob.glob(
        os.path.join(root, "**", "*" + suffix), recursive=True)
        if not any(part.startswith((".", "_"))
                   for part in os.path.relpath(p, root).split(os.sep)))


def plan_parquet_splits(src_dir: str,
                        target_bytes: int = 128 << 20,
                        with_bytes: bool = False) -> list[tuple]:
    """Driver-side split planning: group each file's row groups into
    ~target_bytes units (metadata-only reads — the driver never touches
    data pages; at 100 TB this is the Iceberg manifest listing).

    Globs recursively so partitioned layouts (the streaming sink's
    blocks/epoch=K dirs, compacted epoch=-1) plan the same as flat
    dirs; hidden dot-dirs (staging areas) are skipped by glob itself.
    A missing path, or a directory with visible entries but zero
    parquet files, raises — silently planning nothing turned a valid
    table into an empty DataFrame (round-2 advice). An empty directory
    plans [].

    with_bytes=True appends each unit's total row-group byte size as a
    4th field — _map_splits uses it to byte-balance the task groups."""
    import pyarrow.parquet as pq
    units: list[tuple[str, int, int]] = []
    if not os.path.exists(src_dir):
        raise FileNotFoundError(f"no such table directory: {src_dir!r}")
    files = parquet_files(src_dir)
    if not files and os.path.isdir(src_dir) and any(
            not e.startswith((".", "_")) for e in os.listdir(src_dir)):
        raise ValueError(
            f"no *.parquet files found under non-empty directory "
            f"{src_dir!r} (recursive scan) — wrong path or unsupported "
            f"layout, refusing to plan an empty table")
    for path in files:
        md = pq.ParquetFile(path).metadata
        cur0, acc = 0, 0
        for i in range(md.num_row_groups):
            acc += md.row_group(i).total_byte_size
            if acc >= target_bytes:
                units.append((path, cur0, i + 1, acc))
                cur0, acc = i + 1, 0
        if cur0 < md.num_row_groups:
            units.append((path, cur0, md.num_row_groups, acc))
    if with_bytes:
        return units
    return [(p, g0, g1) for p, g0, g1, _ in units]


def _file_encode_iter(cfg: EngineConfig):
    """The encode kernel over split rows: the task's row groups, read
    one readahead stage ahead, through the standard encode state
    machine."""
    inner = _encode_iter_factory(cfg, mapside=True)

    def it(splits):
        with _scan(splits, _READ_COLUMNS, _SCAN_BATCH_ROWS) as batches:
            yield from inner(batches)

    return it


BLOCK_SUMMARY_DDL = ("block_id string, source string, bucket int, seq int, "
                     "n_docs int, n_tokens long, codec string, "
                     "orig_bytes long, comp_bytes long")
_SUMMARY_COLS = ["block_id", "source", "bucket", "seq", "n_docs",
                 "n_tokens", "codec", "orig_bytes", "comp_bytes"]


def encode_parquet_dir_summary(spark: SparkSession, src_dir: str,
                               cfg: EngineConfig | None = None,
                               target_split_bytes: int = 128 << 20,
                               n_tasks: int | None = None) -> DataFrame:
    """Block METADATA only — the payload/doc-offset columns are dropped
    inside the task, so benchmarking the encode stage measures
    read + codecs, not an artificial payload round-trip to the JVM
    (the real job hands payloads straight to the python-side writer,
    encode_parquet_dir_direct)."""
    encode = _file_encode_iter(cfg or EngineConfig(layout="mapside"))

    def it(splits):
        import pyarrow as pa
        for rb in encode(splits):
            yield pa.record_batch([rb.column(c) for c in _SUMMARY_COLS],
                                  names=_SUMMARY_COLS)

    return _map_splits(spark, src_dir, it, BLOCK_SUMMARY_DDL,
                       target_split_bytes, n_tasks)[0]


_TOTAL_COLS = ["n_blocks", "n_docs", "n_tokens", "orig_bytes", "comp_bytes"]
_TOTALS_DDL = ", ".join(f"{c} long" for c in _TOTAL_COLS)
_ROLL_COLS = ["source", "bucket", "codec", *_TOTAL_COLS[1:]]
# the characters Spark's partition writer percent-escapes in a
# directory name (ExternalCatalogUtils.escapePathName, non-Windows)
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?[\\]^{\x7f')


def _partition_dir(source: str, bucket: int) -> str:
    """The directory Spark's partitionBy("source", "bucket") writes a
    key to, so Spark's reader finds the same partition values."""
    s = ("".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in source)
         if source else "__HIVE_DEFAULT_PARTITION__")
    return os.path.join(f"source={s}", f"bucket={bucket}")


def _key_runs(rb):
    """(source, bucket) and zero-copy slice of each run of equal keys."""
    keys = list(zip(rb.column("source").to_pylist(),
                    rb.column("bucket").to_pylist()))
    starts = [i for i in range(len(keys)) if i == 0 or keys[i] != keys[i - 1]]
    for a, b in zip(starts, starts[1:] + [len(keys)]):
        yield keys[a], rb.slice(a, b - a)


def _roll(groups: dict, tbl) -> None:
    """Add a batch's blocks to a per-(source, bucket, codec) rollup of
    [n_blocks, n_docs, n_tokens, orig_bytes, comp_bytes]. A null source
    rolls up as "": both go to the __HIVE_DEFAULT_PARTITION__ dir, which
    a clustered file's source is read back from as null."""
    for s, b, c, *vals in zip(*(tbl.column(c).to_pylist()
                                for c in _ROLL_COLS)):
        g = groups.setdefault((s or "", int(b), c), [0] * 5)
        for i, v in enumerate((1, *vals)):
            g[i] += int(v)


def _file_groups(blocks_dir: str, rel: str) -> dict:
    """The rollup of one committed block file, from its metadata
    columns; a clustered file has no source and bucket columns, so
    they come from its percent-escaped source=/bucket= dirs."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    keys = ds.partitioning(pa.schema([("source", pa.string()),
                                      ("bucket", pa.int32())]), flavor="hive")
    groups: dict = {}
    _roll(groups, ds.dataset(os.path.join(blocks_dir, rel), format="parquet",
                             partitioning=keys, partition_base_dir=blocks_dir)
          .to_table(columns=_ROLL_COLS))
    return groups


def _lineage_path(lineage_dir: str, rel: str) -> str:
    """Where the lineage record of block file blocks/<rel> lives."""
    return os.path.join(lineage_dir, rel[:-len(".parquet")] + ".json")


def _tmp(path: str, tag) -> str:
    """The hidden tmp a writer tagged `tag` (a task attempt) fills
    before an atomic os.replace onto `path`."""
    d, f = os.path.split(path)
    return os.path.join(d, f".{f}.{tag}.tmp")


def _load_json(path: str) -> dict:
    """The JSON object in `path`; {} when it is missing or unreadable."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (ValueError, OSError):
        return {}


def _commit_lineage(lineage_dir: str, rel: str, groups: dict, tag,
                    **fields) -> dict:
    """Write the lineage record of block file blocks/<rel> (its totals
    and per-(source, bucket, codec) rollup `groups`, plus `fields`)
    through a tmp and an atomic os.replace; returns it."""
    sums = [sum(g[i] for g in groups.values()) for i in range(5)]
    rec = {"file": rel, **fields, **dict(zip(_TOTAL_COLS, sums)),
           "groups": [[s, b, c, *v] for (s, b, c), v in sorted(groups.items())]}
    lin = _lineage_path(lineage_dir, rel)
    os.makedirs(os.path.dirname(lin), exist_ok=True)
    with open(_tmp(lin, tag), "w") as fh:
        json.dump(rec, fh)
    os.replace(_tmp(lin, tag), lin)
    return rec


def _committed(out_dir: str) -> dict:
    """Every visible block file under <out_dir>/blocks (its path
    relative to blocks/) -> its lineage record, or None when it has
    none. Deletes each lineage record whose block file is gone, and
    each that is unreadable or has no `groups` rollup."""
    blocks_dir = os.path.join(out_dir, "blocks")
    lineage_dir = os.path.join(out_dir, "lineage")
    recs = {os.path.relpath(p, blocks_dir): None
            for p in parquet_files(blocks_dir)}
    for path in _visible_files(lineage_dir, ".json"):
        rel = os.path.relpath(path, lineage_dir)[:-len(".json")] + ".parquet"
        if rel in recs and "groups" in (rec := _load_json(path)):
            recs[rel] = rec
        else:
            os.remove(path)
    return recs


def _start_run(out_dir: str, plan: list | None, resume: bool) -> list[dict]:
    """The one resume rule of the batch writers. A block file counts as
    committed when it and its lineage record both exist under the
    run's plan signature, the sha256 of the JSON list `plan` (None: an
    input with no signature), which <out_dir>/encode_plan.json
    records. With `resume` on and the recorded signature equal to this
    run's, the committed files and their records stay and everything
    else under blocks/ and lineage/ goes; in every other case (resume
    off, no signature, another signature) both dirs are cleared.
    Records the signature and returns the kept files' lineage records."""
    import hashlib
    sig = plan and hashlib.sha256(
        json.dumps(plan, sort_keys=True).encode()).hexdigest()
    plan_path = os.path.join(out_dir, "encode_plan.json")
    kept = ({rel: rec for rel, rec in _committed(out_dir).items() if rec}
            if resume and sig and _load_json(plan_path).get("sig") == sig
            else {})
    keep = {p for rel in kept for p in (os.path.join("blocks", rel),
                                        _lineage_path("lineage", rel))}
    for sub in ("blocks", "lineage"):
        root = os.path.join(out_dir, sub)
        for dp, _, fs in os.walk(root, topdown=False):
            for f in fs:
                path = os.path.join(dp, f)
                if os.path.relpath(path, out_dir) not in keep:
                    os.remove(path)
            if dp != root and not os.listdir(dp):
                os.rmdir(dp)
        os.makedirs(root, exist_ok=True)
    with open(_tmp(plan_path, "run"), "w") as fh:
        json.dump({"sig": sig}, fh)
    os.replace(_tmp(plan_path, "run"), plan_path)
    return list(kept.values())


def _sink_task(out_dir: str, blocks, subdir: str = "", by_key: bool = False,
               **lineage):
    """The one block sink, run inside a task over the encode kernel's
    (unstarted) block batches `blocks`; yields the task's one totals
    row. Every encode writer commits through it:

      encode_parquet_dir_direct, encode_table mapside
                          blocks/part-<pid>.parquet
      streaming epochs, compaction
                          blocks/epoch=<N>/part-<pid>.parquet (subdir)
      encode_table clustered (by_key)
                          blocks/source=<S>/bucket=<B>/part-00000.parquet,
                          one file per key without the source and
                          bucket columns, as partitionBy writes them

    Files are PLAIN parquet with EngineConfig.parquet_codec pages,
    written behind the kernel on the `_bounded_thread` helper, into a
    tmp named after the task attempt (a speculative duplicate never
    writes into the live attempt's tmp) and committed by an atomic
    os.replace, so a re-run or a duplicate overwrites rather than
    duplicates. Then each file's
    lineage JSON commits the same way at the mirrored path under
    lineage/: its totals, its per-(source, bucket, codec) rollup (what
    manifest_from_lineage folds), task_wall_sec and the `lineage`
    keyword fields. A task whose one file is already committed skips
    the kernel; a crash between the data and lineage commits heals
    there, from the committed file's metadata columns."""
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    t0 = time.time()
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    attempt = tc.taskAttemptId() if tc is not None else 0
    blocks_dir = os.path.join(out_dir, "blocks")
    lineage_dir = os.path.join(out_dir, "lineage")

    # rel path under blocks/ -> [writer, rollup, tmp (None: committed)]
    files: dict[str, list] = {}

    def write(f, rb):
        if f[0] is None:
            # PLAIN, no dictionary pages: a payload is already a
            # compressed stream, so a dictionary over its first
            # 0.5-1 MB of values saves nothing (file bytes over raw
            # 0.9696 -> 0.9693 on incompressible blocks) and costs on
            # both sides; on a 31 MB task file the block scan took
            # 53 -> 41 ms and the write 80 -> 60-67 ms (4-cpu host)
            os.makedirs(os.path.dirname(f[2]), exist_ok=True)
            f[0] = pq.ParquetWriter(f[2], rb.schema,
                                    compression=EngineConfig.parquet_codec,
                                    use_dictionary=False)
        f[0].write_batch(rb)

    def writes():
        for rb in blocks:
            for key, part in (_key_runs(rb) if by_key else [(None, rb)]):
                rel = (os.path.join(_partition_dir(*key), "part-00000.parquet")
                       if by_key else task_file)
                f = files.setdefault(rel, [
                    None, {}, _tmp(os.path.join(blocks_dir, rel), attempt)])
                _roll(f[1], part)
                yield partial(write, f, part.drop_columns(["source", "bucket"])
                              if by_key else part)

    task_file = os.path.join(subdir, f"part-{pid:05d}.parquet")
    if not by_key and os.path.exists(os.path.join(blocks_dir, task_file)):
        files[task_file] = [None, _file_groups(blocks_dir, task_file), None]
    else:
        # write-behind: the kernel emits a block batch every few MiB
        # (engine._OUT_FLUSH_BYTES), and each one's row group write
        # (zstd releases the GIL) runs while the next is encoded; a
        # writer error re-raises here, before the atomic rename can
        # commit a broken file
        try:
            for _ in _bounded_thread(writes(), _WRITE_BEHIND_DEPTH):
                pass
        finally:
            for f in files.values():
                if f[0] is not None:
                    f[0].close()
    for rel, (_, groups, tmp) in files.items():
        if tmp is not None:
            os.replace(tmp, os.path.join(blocks_dir, rel))
        elif os.path.exists(_lineage_path(lineage_dir, rel)):
            continue
        _commit_lineage(lineage_dir, rel, groups, attempt, **lineage,
                        task_wall_sec=round(time.time() - t0, 3))
    yield pa.record_batch(
        [pa.array([sum(g[i] for f in files.values() for g in f[1].values())],
                  pa.int64()) for i in range(5)], names=_TOTAL_COLS)


def _local_dir(out_dir: str) -> str:
    """`out_dir` as the local or shared-filesystem path the sink writes
    with os calls (a file: URI gives its path). Any other scheme is
    refused: each executor would write to its own local disk, and the
    driver's lineage fold would find no blocks and report an empty
    corpus."""
    from urllib.parse import urlparse
    url = urlparse(out_dir)
    if url.scheme not in ("", "file"):
        raise ValueError(f"the block sink writes local or shared-filesystem"
                         f" paths, not {url.scheme}: URIs ({out_dir})")
    return url.path if url.scheme else out_dir


def manifest_from_lineage(out_dir: str):
    """Assemble <out_dir>/manifest driver-side from the lineage records
    the sink commits beside each block file — O(files) tiny JSONs, no
    Spark rescan of the written blocks (at 100 TB a rescan is a full
    metadata pass over the sink; the lineage fold is what an
    Iceberg/Delta commit does). A record's path mirrors its block
    file's path under blocks/, so flat, epoch and source=/bucket=
    layouts fold alike. The fold heals the lineage first: it deletes
    every record whose block file is gone or that has no `groups`
    rollup (see _committed), and rebuilds the record of every block
    file that has none (a crash between the two commits, a compaction
    crash window, blocks written before the sink) from the file's
    metadata columns. Returns the manifest as a pyarrow Table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from . import __version__
    blocks_dir = os.path.join(out_dir, "blocks")
    lineage_dir = os.path.join(out_dir, "lineage")
    agg: dict[tuple, list] = {}
    for rel, rec in _committed(out_dir).items():
        if rec is None:
            rec = _commit_lineage(lineage_dir, rel,
                                  _file_groups(blocks_dir, rel), "fold")
        for s, b, c, *vals in rec["groups"]:
            g = agg.setdefault((s, int(b)), [0, 0, 0, 0, 0, {}])
            for i, v in enumerate(vals):
                g[i] += v
            g[5][c] = g[5].get(c, 0) + vals[0]
    schema = pa.schema([("source", pa.string()), ("bucket", pa.int32()),
                        *[(c, pa.int64()) for c in _TOTAL_COLS],
                        ("codecs", pa.map_(pa.string(), pa.int64())),
                        ("engine_version", pa.string())])
    table = pa.Table.from_pylist([
        {"source": s, "bucket": b, **dict(zip(_TOTAL_COLS, g)),
         "codecs": sorted(g[5].items()), "engine_version": __version__}
        for (s, b), g in sorted(agg.items())], schema=schema)
    manifest_dir = os.path.join(out_dir, "manifest")
    shutil.rmtree(manifest_dir, ignore_errors=True)  # with Spark's .crc files
    os.makedirs(manifest_dir)
    tmp = os.path.join(manifest_dir, ".manifest.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_dir, "part-00000.parquet"))
    return table


def encode_parquet_dir_direct(spark: SparkSession, src_dir: str,
                              out_dir: str,
                              cfg: EngineConfig | None = None,
                              target_split_bytes: int = 128 << 20,
                              n_tasks: int | None = None,
                              resume: bool = False) -> dict:
    """Full encode job with PYTHON-SIDE block writes: each task streams
    its encoded block batches through the sink (`_sink_task`) into
    its own file blocks/part-<task>.parquet and returns only its
    totals — the compressed payload never crosses the Arrow IPC
    boundary back to the JVM, which measured ~2x the whole kernel
    cost on this host. This is also the at-scale sink shape:
    executors write straight to storage, the driver only folds
    manifests. Each task's lineage also names the input splits it
    consumed.

    resume=True: an interrupted job (executor/driver loss mid-write)
    re-runs skipping every task whose file and lineage record are both
    committed — only uncommitted tasks redo work. The plan signature
    (split plan, task count, config) is the commit rule's (_start_run):
    if the recorded one differs (input grew, task count changed), the
    task->file mapping is stale, so the job rewrites everything instead
    of silently mixing layouts."""
    import dataclasses
    cfg = cfg or EngineConfig(layout="mapside")
    encode = _file_encode_iter(cfg)
    out_dir = _local_dir(out_dir)

    job, units, n_tasks = _map_splits(
        spark, src_dir, lambda splits: _sink_task(
            out_dir, encode(splits), splits=[list(s) for s in splits]),
        _TOTALS_DDL, target_split_bytes, n_tasks)
    # The FULL EngineConfig (selector effort/allow-list, parquet codec,
    # layout, ...) is in the fingerprint: resuming after any
    # codec-affecting settings change must take the clean-rewrite path,
    # not mix blocks encoded under two configs. "split_v3" versions the
    # task-assignment function (byte-balanced contiguous groups).
    _start_run(out_dir, ["split_v3", units, n_tasks, dataclasses.asdict(cfg),
                         spark.sparkContext.defaultParallelism], resume)
    job.collect()
    return engine.refresh_manifest(out_dir)


def decode_parquet_dir(spark: SparkSession, out_dir: str,
                       n_tasks: int | None = None) -> DataFrame:
    """Decoded (doc_id, tokens) DataFrame over the file transport:
    tasks read their own block files with pyarrow and run the standard
    decode kernel (engine._decode_iter) — the file-source twin of
    engine.decode_dataframe(read_encoded(...))."""
    from .blocks import DECODED_SCHEMA_DDL
    from .engine import _decode_iter

    def it(splits):
        with _scan(splits, ["payload", "doc_ids", "doc_lens"],
                   _BLOCK_BATCH_ROWS) as batches:
            yield from _decode_iter(batches)

    return _map_splits(spark, os.path.join(out_dir, "blocks"), it,
                       DECODED_SCHEMA_DDL, n_tasks=n_tasks)[0]


def decode_parquet_dir_summary(spark: SparkSession, out_dir: str,
                               n_tasks: int | None = None) -> DataFrame:
    """Decode every committed block with the one decode step
    (engine._decode_blocks: decode, then the length check against
    doc_lens), tasks reading block files directly with pyarrow,
    returning per-task (n_docs, n_tokens) — the decode-throughput
    measurement shape: the decoded arrays materialize in the python
    worker (where a training dataloader consumes them) without an
    artificial Arrow IPC hop back to the JVM. Reads only
    payload/doc_lens: the doc ids and the per-doc ListArray that
    engine._decode_iter builds are not needed here."""

    def it(splits):
        import pyarrow as pa
        n_docs = n_tokens = 0
        with _scan(splits, ["payload", "doc_lens"],
                   _BLOCK_BATCH_ROWS) as blks:
            for blk in blks:
                for _, doc_lens, tokens in engine._decode_blocks(blk):
                    n_docs += len(doc_lens)
                    n_tokens += len(tokens)
        yield pa.record_batch(
            [pa.array([n_docs], pa.int64()), pa.array([n_tokens], pa.int64())],
            names=["n_docs", "n_tokens"])

    return _map_splits(spark, os.path.join(out_dir, "blocks"), it,
                       "n_docs long, n_tokens long", n_tasks=n_tasks)[0]

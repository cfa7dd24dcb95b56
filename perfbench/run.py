#!/usr/bin/env python3
"""rle-spark benchmark: encode and decode jobs at local[nproc], timed end
to end, and with --trace 1 layer by layer.

    python3 perfbench/run.py --workload mixed_files --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (perfbench/NOTES.md says why
each was chosen): mixed_files, incompressible_files, mixed_dataframe,
or `all` for the three in one process. The last line of stdout is one JSON
object {correct, attempted, failed, metrics}; the rest of the report
goes to stderr, and the full artifact (raw samples, failures, spans) to
.perfbench-work/results/. The exit code is 0 only when every check
passed. See perfbench/NOTES.md for the protocol.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path[:0] = [HERE, ROOT]

PROTOCOL = "perfbench-1"

WORKLOADS = {
    # raw int32 token MB per corpus; the dataframe transport moves every
    # token through the JVM scan, a shuffle and Arrow IPC, so its corpus
    # is smaller to keep one encode+decode iteration near the others
    "mixed_files": {"kind": "mixed", "raw_mb": 128, "transport": "files"},
    "incompressible_files": {"kind": "incompressible", "raw_mb": 128,
                             "transport": "files"},
    "mixed_dataframe": {"kind": "mixed", "raw_mb": 32,
                        "transport": "dataframe"},
}
SMOKE_MB = 4
SETUPS = 3            # set-ups per run; setup_s is their median
MIN_ITERATIONS = 3    # timed encode+decode iterations, at least
SPLIT_BYTES = 4 << 20  # file transport split size: ~10 splits per task
SPARK_MEMORY = "3g"
RSS_INTERVAL_S = 0.05


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def metric_units(section: str) -> dict:
    """name -> unit of the BENCHMARK.json "end_to_end" or "per_layer"."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def as_metrics(values: dict, section: str, ops) -> dict:
    """The section's metrics as {name: {value, unit}}; a listed metric
    that was not measured is a failed check."""
    units = metric_units(section)
    missing = sorted(set(units) - set(values))
    ops.check(not missing, f"{section} metrics not measured: {missing}")
    return {k: {"value": float(values[k]), "unit": u}
            for k, u in units.items() if k in values}


# ---------------------------------------------------------------------------
# process environment and the Spark session
# ---------------------------------------------------------------------------


def prepare_env() -> None:
    """Everything the JVM and the python workers inherit, besides the
    allocator tuning main() applies; must run before the first
    SparkSession."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import tempfile
    tempfile.tempdir = tmp


def start_session(cpus: int, event_log_dir: str | None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
         .config("spark.driver.memory", SPARK_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
         .config("spark.eventLog.enabled", str(bool(event_log_dir)).lower()))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class WorkerRss:
    """Peak summed RSS of the Spark python workers, sampled from /proc
    (the daemon and every worker forked from it)."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self):
        self.peak = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                if not (b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd):
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                continue  # exited between listdir and open
            self.pids.add(int(pid))
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def wait_pids_gone(pids, timeout: float = 30.0) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


# ---------------------------------------------------------------------------
# the two transports
# ---------------------------------------------------------------------------


class FilesJob:
    """rle_spark.sources: encode_parquet_dir_direct ->
    decode_parquet_dir_summary, one task per core."""

    def __init__(self, cpus: int):
        from rle_spark import sources
        from rle_spark.engine import EngineConfig
        self.cfg = EngineConfig(layout="mapside")
        self.n_tasks = cpus
        self.hooks = [(sources, "plan_parquet_splits", "sources.plan"),
                      (sources, "manifest_from_lineage", "sources.manifest")]

    def encode(self, spark, src, out) -> dict:
        from rle_spark.sources import encode_parquet_dir_direct
        return encode_parquet_dir_direct(
            spark, src, out, self.cfg, target_split_bytes=SPLIT_BYTES,
            n_tasks=self.n_tasks)

    def decode(self, spark, out) -> tuple[int, int]:
        from pyspark.sql import functions as F
        from rle_spark.sources import decode_parquet_dir_summary
        r = (decode_parquet_dir_summary(spark, out, n_tasks=self.n_tasks)
             .agg(F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t"))
             .collect()[0])
        return int(r["d"] or 0), int(r["t"] or 0)

    def decoded(self, spark, out):
        from rle_spark.sources import decode_parquet_dir
        return decode_parquet_dir(spark, out, n_tasks=self.n_tasks)

    @staticmethod
    def task_walls(out) -> list[float]:
        d = os.path.join(out, "lineage")
        walls = []
        for e in sorted(os.listdir(d)):
            if e.endswith(".json"):
                with open(os.path.join(d, e)) as fh:
                    walls.append(json.load(fh)["task_wall_sec"])
        return walls


class DataFrameJob:
    """rle_spark.engine: encode_table(layout="clustered") over
    spark.read.parquet -> decode_dataframe(read_encoded(...))."""

    def __init__(self, cpus: int, raw_mb: int):
        from rle_spark import engine
        # ~2 buckets per core, so the encode stage is two balanced waves
        self.cfg = engine.EngineConfig(
            layout="clustered",
            target_bucket_tokens=max(1 << 16,
                                     (raw_mb << 20) // 4 // (2 * cpus)))
        self.hooks = [(engine, "bucket_counts", "sources.plan"),
                      (engine, "refresh_manifest", "sources.manifest")]

    def encode(self, spark, src, out) -> dict:
        from rle_spark.engine import encode_table
        return encode_table(spark, spark.read.parquet(src), out, self.cfg,
                            resume=False)

    def decode(self, spark, out) -> tuple[int, int]:
        from pyspark.sql import functions as F
        r = (self.decoded(spark, out)
             .agg(F.count("*").alias("d"),
                  F.sum(F.size("tokens")).alias("t")).collect()[0])
        return int(r["d"] or 0), int(r["t"] or 0)

    def decoded(self, spark, out):
        from rle_spark.engine import decode_dataframe, read_encoded
        return decode_dataframe(read_encoded(spark, out))

    task_walls = None  # taken from the event log instead


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


class Ops:
    """Operations attempted and failed; every failure is also logged."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            log(f"FAILED: {what}")
        return ok


def blocks_on_disk(out: str) -> tuple[int, dict]:
    """(parquet bytes under blocks/, codec -> block count from manifest)."""
    import pyarrow.parquet as pq
    disk = 0
    for dp, _, fs in os.walk(os.path.join(out, "blocks")):
        disk += sum(os.path.getsize(os.path.join(dp, f)) for f in fs
                    if f.endswith(".parquet") and not f.startswith("."))
    codecs: dict = {}
    for row in pq.read_table(os.path.join(out, "manifest"),
                             columns=["codecs"]).column("codecs").to_pylist():
        for k, v in row:
            codecs[k] = codecs.get(k, 0) + v
    return disk, dict(sorted(codecs.items()))


def hash_agg(df) -> tuple[int, int]:
    """(rows, sum of xxhash64(doc_id, tokens)) — equal for two tables
    holding the same docs, in any order."""
    from pyspark.sql import functions as F
    r = (df.select(F.xxhash64("doc_id", "tokens").cast("decimal(38,0)")
                   .alias("h"))
         .agg(F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0])
    return int(r["n"]), int(r["s"] or 0)


def corrupt_one_block(out: str) -> None:
    """Self-test only: flip one byte mid-payload of the first block."""
    import glob
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = sorted(glob.glob(os.path.join(out, "blocks", "**", "*.parquet"),
                            recursive=True))[0]
    t = pq.read_table(path)
    pays = t.column("payload").to_pylist()
    buf = bytearray(pays[0])
    buf[15 + (len(buf) - 15) // 2] ^= 0x5A
    pays[0] = bytes(buf)
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     pa.array(pays, pa.binary()))
    pq.write_table(t, path, compression="zstd")


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "rle_spark")
    for dp, dns, fs in os.walk(pkg):
        dns[:] = sorted(d for d in dns if d != "__pycache__")
        for f in sorted(fs):
            if f.endswith(".py"):
                p = os.path.join(dp, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def timing(samples: list[float]) -> dict:
    """Median, plus the highest percentile with >= 10 samples beyond it."""
    out = {"n": len(samples), "median": statistics.median(samples),
           "samples": samples}
    for p in (99.9, 99, 95, 90, 75):
        if len(samples) * (1 - p / 100) >= 10:
            k = min(len(samples) - 1, int(len(samples) * p / 100))
            out[f"p{p:g}"] = sorted(samples)[k]
            break
    return out


# ---------------------------------------------------------------------------
# event log (traced runs)
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Finished tasks of every application in the event log dir (one
    per SparkContext, so one per set-up)."""
    tasks = []
    for app in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, app)) as fh:
            events = [json.loads(line) for line in fh
                      if '"SparkListenerTaskEnd"' in line]
        for ev in events:
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update")
                   for a in info.get("Accumulables", [])}
            tasks.append({
                "stage": (app, ev["Stage ID"]), "launch": info["Launch Time"],
                "finish": info["Finish Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_write": (tm.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "py_sent": int(acc.get("data sent to Python workers") or 0),
                "py_returned": int(
                    acc.get("data returned from Python workers") or 0)})
    return tasks


def stage_skew(tasks: list[dict], t0_ms: float, t1_ms: float):
    """(max/mean task wall, max task wall s) of the busiest stage of the
    tasks launched in [t0_ms, t1_ms]."""
    stages: dict = {}
    for t in tasks:
        if t0_ms <= t["launch"] <= t1_ms:
            stages.setdefault(t["stage"], []).append(
                (t["finish"] - t["launch"]) / 1000)
    if not stages:
        return None
    walls = max(stages.values(), key=sum)
    return max(walls) / statistics.mean(walls), max(walls)


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args):
        self.args = args
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.worker_pids: set[int] = set()

    def iteration(self, job, src, totals, out, ops, tracer, traced, ref):
        """One encode job and one decode job, both timed and checked
        against the source totals and, when given, the reference
        iteration. Returns the iteration record, or None if a job raised."""
        rows, n_tokens = totals["rows"], totals["n_tokens"]
        shutil.rmtree(out, ignore_errors=True)
        rec: dict = {"traced": traced}
        try:
            with contextlib.ExitStack() as hooks:
                if traced:
                    for mod, attr, name in job.hooks:
                        hooks.enter_context(tracer.wrap(mod, attr, name))
                with tracer.span("job.encode"):
                    rec["t0_ms"] = time.time() * 1000
                    t0 = time.perf_counter()
                    s = job.encode(self.spark, src, out)
                    rec["encode_s"] = time.perf_counter() - t0
                    rec["t1_ms"] = time.time() * 1000
        except Exception as e:  # noqa: BLE001 -- a raised job is a failure
            ops.check(False, f"encode job raised {type(e).__name__}: {e}")
            return None
        ops.check((s["n_docs"], s["n_tokens"]) == (rows, n_tokens),
                  f"encode counts {s['n_docs']}/{s['n_tokens']} != source "
                  f"{rows}/{n_tokens}")
        rec["orig_bytes"], rec["comp_bytes"] = s["orig_bytes"], s["comp_bytes"]
        rec["disk_bytes"], rec["codecs"] = blocks_on_disk(out)
        if ref is not None:
            same = all(rec[k] == ref[k] for k in
                       ("orig_bytes", "comp_bytes", "disk_bytes", "codecs"))
            ops.check(same, "nondeterminism: encode output differs from the "
                            "first dry pass in size or codec counts")
        if traced and job.task_walls is not None:
            rec["task_walls"] = job.task_walls(out)
        try:
            with tracer.span("job.decode"):
                t0 = time.perf_counter()
                got = job.decode(self.spark, out)
                rec["decode_s"] = time.perf_counter() - t0
                rec["t2_ms"] = time.time() * 1000
        except Exception as e:  # noqa: BLE001
            ops.check(False, f"decode job raised {type(e).__name__}: {e}")
            return None
        ops.check(got == (rows, n_tokens),
                  f"decode counts {got} != source {(rows, n_tokens)}")
        return rec

    def run_workload(self, name: str) -> dict:
        from corpus import get_corpus
        from spans import Tracer
        from rle_spark.engine import EngineConfig, warm_python_workers

        a, wl = self.args, WORKLOADS[name]
        raw_mb = SMOKE_MB if a.smoke else wl["raw_mb"]
        free = shutil.disk_usage(WORK).free
        if free < (4 * raw_mb << 20) + (1 << 30):
            raise SystemExit(f"only {free >> 20} MB free under {WORK}")
        corpus = get_corpus(os.path.join(WORK, "corpora"), wl["kind"],
                            a.seed, raw_mb)
        log(f"[{name}] corpus {corpus['path']}: {corpus['rows']} docs, "
            f"{corpus['n_tokens']} tokens, generated={corpus['generated']} "
            f"in {corpus['gen_s']:.2f}s")
        stamp = time.strftime("%Y%m%dT%H%M%S")
        run_id = f"{name}-s{a.seed}-t{a.trace}-{stamp}"
        tracer, off = Tracer(run_id, bool(a.trace)), Tracer(run_id, False)
        ops = Ops()
        job = (FilesJob(self.cpus) if wl["transport"] == "files"
               else DataFrameJob(self.cpus, raw_mb))
        out = os.path.join(WORK, "out", name)
        ev_dir = os.path.join(WORK, "eventlog", run_id) if a.trace else None

        # SETUPS set-ups (session + python workers + an untimed
        # encode/decode; the first also launches the JVM). Every set-up
        # but the first is followed by a timed block with an equal share
        # of --seconds: the JVM is still warming up through the first
        # dry pass (measured: iterations right after it ran 10-30%
        # slower), and spreading the timed iterations over generations
        # of python workers keeps one slow generation from setting the
        # run's median. Traced runs alternate untraced and traced
        # iterations, and every iteration must match the dry passes.
        n_rounds = 1 if a.smoke else SETUPS
        n_blocks = max(n_rounds - 1, 1)
        min_iters = -(-(1 if a.smoke else MIN_ITERATIONS) * (1 + a.trace)
                      // n_blocks)
        setup_s, setup_parts, dry_ref = [], [], None
        iters: list[dict] = []
        peaks, windows = [], []
        for i in range(n_rounds):
            with tracer.span("setup"):
                t0 = time.perf_counter()
                if self.spark is not None:
                    self.spark.stop()
                self.spark = start_session(self.cpus, ev_dir)
                t1 = time.perf_counter()
                warm_python_workers(self.spark, self.cpus)
                t2 = time.perf_counter()
                dry = self.iteration(job, corpus["path"], corpus, out, ops,
                                     off, False, dry_ref)
                setup_s.append(time.perf_counter() - t0)
                setup_parts.append({"session_s": t1 - t0, "warm_s": t2 - t1,
                                    "dry": dry})
            if dry is None:
                dry_ref = None
                break
            dry_ref = dry_ref or dry
            if i == 0 and n_rounds > 1:
                continue
            w0 = time.time() * 1000
            with WorkerRss() as rss:
                t_end = time.perf_counter() + a.seconds / n_blocks
                k = 0
                while True:
                    traced = bool(a.trace) and len(iters) % 2 == 1
                    rec = self.iteration(job, corpus["path"], corpus, out,
                                         ops, tracer if traced else off,
                                         traced, dry_ref)
                    if rec is not None:
                        iters.append(rec)
                    k += 1
                    if time.perf_counter() >= t_end and k >= min_iters:
                        break
            self.worker_pids |= rss.pids
            peaks.append(rss.peak)
            windows.append((w0, time.time() * 1000))
        ref = dry_ref if iters else None

        if ref is not None:
            if a.corrupt_block:
                corrupt_one_block(out)
            # bit identity, once per run, over the last iteration's blocks
            try:
                with tracer.span("check.bit_identity"):
                    got = hash_agg(job.decoded(self.spark, out))
                    want = hash_agg(self.spark.read.parquet(corpus["path"]))
                ops.check(got == want, f"bit identity: decoded (rows, hash) "
                                       f"{got} != source {want}")
            except Exception as e:  # noqa: BLE001
                ops.check(False, f"bit identity check raised "
                                 f"{type(e).__name__}: {e}")
            # output sizes and codec counts repeat across runs of a seed
            expect = {k: ref[k] for k in ("comp_bytes", "disk_bytes",
                                          "codecs")}
            exp_path = os.path.join(corpus["path"],
                                    f"_expect-{name}-{source_digest()[:16]}"
                                    f"-{self.cpus}.json")
            if os.path.exists(exp_path):
                with open(exp_path) as fh:
                    prev = json.load(fh)
                ops.check(prev == expect, f"nondeterminism across runs of "
                                          f"seed {a.seed}: {prev} != {expect}")
            else:
                with open(exp_path, "w") as fh:
                    json.dump(expect, fh)

        art = {"protocol": PROTOCOL, "workload": name, "seed": a.seed,
               "trace": a.trace, "smoke": a.smoke, "seconds": a.seconds,
               "nproc": self.cpus, "git_commit": git_commit(),
               "source_digest": source_digest(),
               "corpus": {k: corpus[k] for k in
                          ("kind", "raw_mb", "totals", "generated", "gen_s")},
               "setup_s": timing(setup_s) if setup_s else None,
               "setup_parts": setup_parts,
               "iterations": iters}
        untraced = [r for r in iters if not r["traced"]]
        e2e: dict = {}
        if ref is not None and untraced:
            orig = ref["orig_bytes"]
            enc = timing([r["encode_s"] for r in untraced])
            dec = timing([r["decode_s"] for r in untraced])
            art.update(encode_s=enc, decode_s=dec, codecs=ref["codecs"])
            e2e = {"encode_GBps": orig / enc["median"] / 1e9,
                   "decode_GBps": orig / dec["median"] / 1e9,
                   "ratio": ref["comp_bytes"] / orig,
                   "disk_ratio": ref["disk_bytes"] / orig,
                   "setup_s": statistics.median(setup_s),
                   "worker_peak_rss_mb": max(peaks) / (1 << 20)}
        if ops.check(bool(e2e), "no timed iteration completed"):
            art["end_to_end"] = as_metrics(e2e, "end_to_end", ops)

        layer: dict = {}
        if a.trace and e2e:
            self.spark.stop()  # flushes the event log
            self.spark = None
            layer = self.layer_metrics(job, iters, e2e, tracer, ops, ev_dir,
                                       corpus, windows,
                                       EngineConfig(layout="mapside"))
        art["per_layer"] = layer
        art["failures"] = ops.failures
        art["attempted"] = ops.attempted
        art["failed_frac"] = len(ops.failures) / max(ops.attempted, 1)
        res_dir = os.path.join(WORK, "results")
        os.makedirs(res_dir, exist_ok=True)
        art_path = os.path.join(res_dir, run_id + ".json")
        if a.trace:
            art["spans"] = run_id + ".spans.json"
            tracer.dump(os.path.join(res_dir, art["spans"]))
        with open(art_path, "w") as fh:
            json.dump(art, fh, indent=1)
        report(name, art, art_path)
        return {"correct": not ops.failures, "attempted": ops.attempted,
                "failed": len(ops.failures),
                "metrics": layer if a.trace else art.get("end_to_end", {})}

    def layer_metrics(self, job, iters, e2e, tracer, ops, ev_dir, corpus,
                      windows, replay_cfg) -> dict:
        import layers
        traced = [r for r in iters if r["traced"]]
        untraced = [r for r in iters if not r["traced"]]
        tasks = read_event_log(ev_dir)
        shutil.rmtree(ev_dir)  # the figures below are kept; the log is big
        m: dict = {}
        skews = []  # (max/mean task wall, encode wall - max task wall)
        for r in traced:
            if "task_walls" in r:
                w = r["task_walls"]
                sk = (max(w) / statistics.mean(w), max(w))
            else:
                sk = stage_skew(tasks, r["t0_ms"], r["t1_ms"])
            if sk is not None:
                skews.append((sk[0], r["encode_s"] - sk[1]))
        if skews:
            m["sources.task_skew"] = statistics.median(s for s, _ in skews)
            m["sources.job_overhead_s"] = statistics.median(
                o for _, o in skews)
        n = max(len(traced), 1)
        m["sources.plan_s"] = tracer.total("sources.plan", "job.encode") / n
        m["sources.manifest_s"] = tracer.total("sources.manifest",
                                               "job.encode") / n
        win = [t for t in tasks
               if any(w0 <= t["launch"] <= w1 for w0, w1 in windows)]
        per_it = max(len(iters), 1)
        m["spark.shuffle_write_mb"] = sum(
            t["shuffle_write"] for t in win) / per_it / (1 << 20)
        m["spark.python_sent_mb"] = sum(
            t["py_sent"] for t in win) / per_it / (1 << 20)
        m["spark.python_returned_mb"] = sum(
            t["py_returned"] for t in win) / per_it / (1 << 20)
        m["spark.executor_run_s"] = sum(
            t["run_ms"] for t in win) / per_it / 1e3
        m["spark.gc_s"] = sum(t["gc_ms"] for t in win) / per_it / 1e3
        m["tracing.job_overhead_frac"] = (
            statistics.median(r["encode_s"] for r in traced)
            / statistics.median(r["encode_s"] for r in untraced) - 1
            if traced else 0.0)
        replay_dir = os.path.join(WORK, "replay")
        os.makedirs(replay_dir, exist_ok=True)
        with tracer.span("replay"):
            rm, att, msgs = layers.replay(
                corpus["path"], replay_dir, replay_cfg, tracer, self.cpus,
                SPLIT_BYTES)
        ops.attempted += att - len(msgs)
        for msg in msgs:
            ops.check(False, msg)
        m.update(rm)
        m["spark.parallel_efficiency"] = (
            e2e["encode_GBps"] / (self.cpus * rm["engine.pipeline_GBps"]))
        return as_metrics(m, "per_layer", ops)


def report(name, art, art_path) -> None:
    log(f"[{name}] protocol {art['protocol']} seed {art['seed']} "
        f"nproc {art['nproc']} corpus {art['corpus']['raw_mb']} MB raw, "
        f"{art['corpus']['totals']['rows']} docs")
    for k, v in art.get("end_to_end", {}).items():
        log(f"  {k:<24} {v['value']:>12.5f} {v['unit']}")
    for key in ("encode_s", "decode_s", "setup_s"):
        t = art.get(key)
        if t:
            extra = "".join(f" {p}={v:.3f}" for p, v in t.items()
                            if p.startswith("p"))
            log(f"  {key:<24} median {t['median']:.3f} s, n={t['n']}{extra}")
    for k, v in art["per_layer"].items():
        log(f"  {k:<34} {v['value']:>12.5f} {v['unit']}")
    log(f"  {'failed_frac':<24} {art['failed_frac']:>12.5f} "
        f"({len(art['failures'])}/{art['attempted']})")
    log(f"  artifact: {art_path}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"{SMOKE_MB} MB corpora, one set-up, one timed "
                         "block")
    ap.add_argument("--corrupt-block", action="store_true",
                    help="self-test: corrupt one written block before the "
                         "bit-identity check, which must then fail")
    a = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401
        import rle_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    if os.environ.get("PERFBENCH_ALLOCATOR") != "1":
        # glibc reads the MALLOC_* tuning only at process start: re-exec
        # so that the layer replay in this process allocates like the
        # python workers, which inherit the same environment
        from rle_spark import memtune
        memtune.apply()
        os.environ["PERFBENCH_ALLOCATOR"] = "1"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__),
                                  *(sys.argv[1:] if argv is None else argv)])
    os.makedirs(WORK, exist_ok=True)
    # stdout carries only the result line: the JVM and the python
    # workers inherit fd 1, so point it at stderr for their lifetime
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    prepare_env()
    bench = Bench(a)
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    try:
        for name in names:
            results[name] = bench.run_workload(name)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        left = wait_pids_gone(bench.worker_pids)
        if left:
            log(f"killing python workers alive after JVM exit: {left}")
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            wait_pids_gone(left)
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{n}.{k}": v for n, r in results.items()
                             for k, v in r["metrics"].items()}}
    result_out.write(json.dumps(final) + "\n")
    result_out.flush()
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

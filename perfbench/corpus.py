"""Deterministic benchmark corpora, generated by `rle_spark.datagen`.

A corpus is a directory of parquet files with the token-table schema
(`doc_id, tokens, n_tok, source`). It is a pure function of
(kind, seed, raw token bytes): file `f` holds docs `f * 10**8 + j` for
j = 0, 1, ... until its share of the token budget is reached, and every
doc comes from datagen's per-(seed, index) generator. Generation runs
in one child process per file (this script, run with the file's
arguments); every child is waited for, so none outlives the caller.
`multiprocessing` is not used: its spawn start method leaves a resource
tracker process behind for a moment after the caller exits.

Corpora are cached under the work directory, keyed by all three inputs
and the generator version, and verified by row count and token sum
before use. The least recently used are evicted beyond a byte budget,
so disk use stays bounded when every run brings a new seed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

GEN_VERSION = 1
N_FILES = 4
ROW_GROUP_TOKENS = 1 << 19   # ~2 MB of int32 tokens per parquet row group
CACHE_BYTES = 2 << 30        # on-disk budget of the corpus cache


def _docs(kind: str, seed: int, start: int):
    """Yield (doc_id, tokens, source) for docs start, start + 1, ..."""
    from rle_spark import datagen
    _, _, vocab, profile = next(s for s in datagen.SOURCES
                                if s[0] == "synth_rand")
    lo, hi = datagen._LEN_PROFILE[profile]
    i = start
    while True:
        if kind == "incompressible":
            rng = np.random.default_rng([seed, i])
            yield (f"synth_rand-{i:012d}",
                   datagen._doc_tokens(rng, "synth_rand", vocab, lo, hi),
                   "synth_rand")
            i += 1
        else:
            df = datagen.generate_docs_pandas(range(i, i + 64), seed)
            yield from zip(df["doc_id"], df["tokens"], df["source"])
            i += 64


def _gen_file(kind: str, seed: int, f: int, budget_tokens: int,
              path: str) -> None:
    """Write one corpus file: docs in index order until the budget."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()), ("source", pa.string())])
    docs = _docs(kind, seed, f * 10 ** 8)
    total = 0
    with pq.ParquetWriter(path, schema, compression="zstd") as w:
        while total < budget_tokens:
            ids, toks, srcs, group = [], [], [], 0
            while group < ROW_GROUP_TOKENS and total < budget_tokens:
                doc_id, t, src = next(docs)
                ids.append(doc_id)
                toks.append(t)
                srcs.append(src)
                group += len(t)
                total += len(t)
            lens = np.array([len(t) for t in toks], np.int32)
            offs = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
            w.write_table(pa.table({
                "doc_id": pa.array(ids, pa.string()),
                "tokens": pa.ListArray.from_arrays(
                    pa.array(offs.astype(np.int32)),
                    pa.array(np.concatenate(toks), pa.int32())),
                "n_tok": pa.array(lens), "source": pa.array(srcs)},
                schema=schema))


def _scan_totals(path: str) -> dict:
    """Row count, token count and token sum, read back from the files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    rows = n_tokens = tok_sum = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, name), columns=["tokens"])
        vals = pc.list_flatten(t.column("tokens"))
        rows += t.num_rows
        n_tokens += len(vals)
        tok_sum += int(pc.sum(vals.cast("int64")).as_py() or 0)
    return {"rows": rows, "n_tokens": n_tokens, "token_sum": tok_sum}


def get_corpus(cache_dir: str, kind: str, seed: int, raw_mb: int) -> dict:
    """Return {path, rows, n_tokens, token_sum, generated, gen_s};
    generates only when no verified copy is cached."""
    key = f"{kind}-s{seed}-{raw_mb}mb-g{GEN_VERSION}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "_corpus.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if _scan_totals(path) == meta["totals"]:
            os.utime(path)
            generated, gen_s = False, 0.0
        else:
            meta = None
            shutil.rmtree(path)  # damaged cache entry: regenerate
    if meta is None:
        t0 = time.perf_counter()
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        budget = raw_mb * (1 << 20) // 4 // N_FILES
        os.makedirs(tmp)
        procs = [subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), kind, str(seed),
             str(f), str(budget), os.path.join(tmp, f"part-{f}.parquet")])
            for f in range(N_FILES)]
        try:
            codes = [p.wait() for p in procs]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if any(codes):
            raise RuntimeError(f"corpus generation failed: exit codes {codes}")
        meta = {"kind": kind, "seed": seed, "raw_mb": raw_mb,
                "gen_version": GEN_VERSION, "totals": _scan_totals(tmp)}
        with open(os.path.join(tmp, "_corpus.json"), "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, path)
        _evict(cache_dir)
        generated, gen_s = True, time.perf_counter() - t0
    return dict(meta, **meta["totals"], path=path, generated=generated,
                gen_s=gen_s)


def _evict(cache_dir: str) -> None:
    """Drop least recently used corpora beyond CACHE_BYTES."""
    entries = []
    for e in os.listdir(cache_dir):
        p = os.path.join(cache_dir, e)
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(p) for f in fs)
        entries.append((os.path.getmtime(p), size, p))
    total = 0
    for _, size, p in sorted(entries, reverse=True):
        total += size
        if total > CACHE_BYTES:
            shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    # one corpus file: corpus.py KIND SEED FILE_INDEX BUDGET_TOKENS PATH
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    k, sd, fi, b, out = sys.argv[1:]
    _gen_file(k, int(sd), int(fi), int(b), out)

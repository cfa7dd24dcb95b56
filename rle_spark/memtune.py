"""Python worker process tuning: glibc's allocator and the zip-import
caches.

Allocator. `apply` exports 1 GiB glibc mmap and trim thresholds and a
32 MiB top pad, so a task's large NumPy buffers stay in the heap and
reuse its pages instead of being unmapped on free and faulted in again.
It must run BEFORE the JVM gateway starts: python workers inherit the
driver JVM's environment. Measured on a 4-cpu, 16 GB host (perfbench
seed 1, 10 s runs, interleaved): without the three overrides
incompressible_files decode_GBps fell from a median 0.571 to 0.518
(lower in 8 of 10 pairs) and encode_GBps from 0.321 to 0.300; they
hold about 100 MB of worker_peak_rss_mb there (1088 against 991 MB).
On that host a fresh 256 MiB np.ones faults its pages at 6-7 GB/s and
reuses them at ~12 GB/s. Two overrides were dropped on the same runs,
as neither bought throughput: ARROW_DEFAULT_MEMORY_POOL=system (Arrow
keeps its bundled jemalloc; 110-125 MB less worker RSS) and a 128 MiB
per-worker heap warm-up (about 430 MB less). warm_heap stays only
because perfbench's layer replay calls it.

Zip imports. PySpark's worker calls importlib.invalidate_caches() at
the start of every task. Its sys.path holds the pyspark and py4j zips,
and on Python < 3.12 every zipimporter (16 in a worker) re-parses its
archive's whole central directory, in pure Python, on that call —
measured 177-234 ms per task in a local[4] worker on a 4-cpu host,
before the kernel starts (under 5 ms with the hook).
`lazy_zip_invalidation` gives the worker's zipimporters the Python
3.12 semantics (gh-103200): invalidation drops the cached directory,
and the next lookup that needs it reads it again.
"""

from __future__ import annotations

import os
import sys
import zipimport

_VARS = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_TOP_PAD_": str(1 << 25),
}


def apply() -> None:
    for k, v in _VARS.items():
        os.environ.setdefault(k, v)


def warm_heap(mb: int = 128) -> int:
    """Touch `mb` MiB once so later allocations reuse warm pages."""
    import numpy as np
    buf = np.ones(mb << 20, dtype=np.uint8)
    total = int(buf[:: 1 << 12].sum())  # force fault on every page
    del buf
    return total


class _LazyZipImporter(zipimport.zipimporter):
    """A zipimporter whose directory lives only in zipimport's shared
    cache: read on the first lookup after an invalidation, as on 3.12."""

    @property
    def _files(self):
        cache = zipimport._zip_directory_cache
        if self.archive not in cache:
            try:
                cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}  # archive gone: every lookup misses
        return cache[self.archive]

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)


def lazy_zip_invalidation() -> None:
    """Turn every plain zipimporter in sys.path_importer_cache into a
    _LazyZipImporter. Idempotent and cheap, so every task calls it:
    importers made after the last call are converted by the next. A
    no-op on Python >= 3.12, whose zipimporter is already lazy."""
    if sys.version_info >= (3, 12):
        return
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = _LazyZipImporter
            imp.__dict__.pop("_files", None)  # the property serves it now

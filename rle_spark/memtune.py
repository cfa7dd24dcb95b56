"""Python worker process tuning: the allocator and the zip-import caches.

Allocator. The 4-cpu VM this was measured on faults fresh anonymous
pages at a wildly bimodal rate (10 MB/s .. 3 GB/s for first-touch).
glibc's default MMAP_THRESHOLD makes every large NumPy buffer a fresh
mmap that is returned to the OS on free — so every codec call re-pays the fault
cost. Raising the thresholds keeps big allocations inside the heap
arena where pages are reused; together with a one-time per-worker
heap warmup (engine.warm_python_workers) steady-state kernel
throughput is ~3 GB/s/core instead of ~10 MB/s worst case. `apply`
must run BEFORE the JVM gateway starts: python workers inherit the
driver JVM's environment.

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
    # Route Arrow allocations through glibc malloc so they share the
    # tuned heap arena above: Arrow's bundled jemalloc returns big
    # scan-batch buffers to the OS on free, re-paying this host's
    # pathological first-touch fault cost on every batch — measured
    # ~7% off the 4-worker encode leg (8.06 -> 7.48 s at 6.7 GB).
    "ARROW_DEFAULT_MEMORY_POOL": "system",
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

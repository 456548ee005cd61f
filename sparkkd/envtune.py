"""Per-process tuning for the NumPy/Arrow-heavy Spark Python workers.

Every tune here is best-effort, idempotent and a no-op where the platform
does not permit it.  Three run in every process that imports sparkkd —
including each Spark Python worker, which imports the package when it
unpickles a sparkkd UDF closure — via ``sparkkd/__init__.py``:

* :func:`tune_malloc` — glibc mmap/trim thresholds, so large NumPy
  temporaries stay on the heap instead of being page-faulted in again on
  every Arrow batch;
* :func:`tune_arrow_pool` — pyarrow's default pool switched to mimalloc,
  the same page-retention fix for Arrow buffers;
* :func:`tune_zipimport_invalidation` — ``zipimporter.invalidate_caches``
  re-reads an archive's directory only when the archive changed on disk,
  removing a fixed ~0.1 s of CPU from every Spark Python-worker task.

:func:`disable_thp` is explicit-only (it writes system-wide sysfs knobs):
transparent huge pages (madvise + defrag) cause multi-second khugepaged /
kcompactd stalls on fresh large mmap first-touch on Firecracker VMs
(measured: 64 MB NumPy alloc+multiply 3-18 s with THP, 0.1-0.2 s
without).
"""

from __future__ import annotations

_MALLOC_TUNED = False


def tune_malloc(
    mmap_threshold: int = 512 << 20, trim_threshold: int = 128 << 20
) -> bool:
    """Stop glibc from mmap-cycling large NumPy temporaries.

    By default glibc serves allocations past M_MMAP_THRESHOLD (128 KB,
    dynamically raised to at most 32 MB) with a fresh ``mmap`` and gives
    the pages back on ``free`` — so every Arrow-batch kernel temporary is
    first-touch page-faulted again on the next batch.  Measured in this
    sandbox (300 x 16 MB alloc/compute/free): 2.44M minor faults, and
    under 32 concurrent Python workers the fault path serializes in
    kernel memcg accounting (host sampled at 71% sys / 0% usr, ~45k
    faults/s per worker; a 4-executor local-cluster run of the SE(3) kNN
    join was SLOWER than 1 executor because of it).  Raising
    M_MMAP_THRESHOLD keeps big temporaries on the brk heap and a finite
    M_TRIM_THRESHOLD (128 MB) lets truly idle workers still shrink:
    same loop runs with 4.1k faults — 600x fewer — and the fault-storm
    contention is gone.

    Called once per process on ``import sparkkd`` (Spark Python workers
    import the package when unpickling the UDF closures, so every worker
    self-tunes — no executorEnv plumbing needed).  No-op where mallopt
    is unavailable (non-glibc).  Opt out: SPARKKD_NO_MALLOC_TUNE=1."""
    global _MALLOC_TUNED
    if _MALLOC_TUNED:
        return True
    import os

    if os.environ.get("SPARKKD_NO_MALLOC_TUNE"):
        return False
    try:
        import ctypes
        import ctypes.util

        libc = ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6")
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        ok = bool(libc.mallopt(M_MMAP_THRESHOLD, mmap_threshold)) and bool(
            libc.mallopt(M_TRIM_THRESHOLD, trim_threshold)
        )
    except Exception:
        return False
    _MALLOC_TUNED = ok
    return ok


_ARROW_TUNED = False


def tune_arrow_pool() -> bool:
    """Switch pyarrow's default memory pool to mimalloc.

    pyarrow's bundled default is jemalloc, whose decay-based page purging
    returns Arrow-batch pages to the kernel between batches — every
    cogroup batch then refaults its buffers (the same first-touch-fault
    pathology tune_malloc fixes for NumPy temporaries, here for the Arrow
    side).  Alternating same-window A/B on the SE(3) kNN sf2 steady join
    (4M poses x 400k queries, local[32], min-of-2): jemalloc 99.6 s,
    jemalloc with decay disabled 81.8 s, **mimalloc 57.1 s** — mimalloc
    retains pages across batches and wins 1.75x end to end.

    Called on ``import sparkkd`` so every Spark Python worker self-tunes
    when it unpickles the UDF closures — before its first Arrow batch.
    Also honored via ARROW_DEFAULT_MEMORY_POOL for processes that import
    pyarrow first.  Opt out / override: SPARKKD_ARROW_POOL=off|system|
    jemalloc|mimalloc."""
    global _ARROW_TUNED
    if _ARROW_TUNED:
        return True
    import os

    choice = os.environ.get("SPARKKD_ARROW_POOL", "mimalloc").lower()
    if choice not in ("system", "mimalloc"):
        # fail safe: "off"/"jemalloc" keep pyarrow's default, and so does
        # any unrecognized value (a typo'd opt-out must not install the
        # pool it was trying to avoid)
        return False
    try:
        import pyarrow as pa

        pool = (
            pa.system_memory_pool()
            if choice == "system"
            else pa.mimalloc_memory_pool()
        )
        pa.set_memory_pool(pool)
    except Exception:
        return False
    _ARROW_TUNED = True
    return True


_ZIP_STAMPS: dict = {}  # archive path -> stat stamp of its cached directory
_ZIP_TUNED = False


def tune_zipimport_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of EVERY task (``pyspark.worker_util.setup_spark_files``), even
    in a reused worker.  Up to CPython 3.12 that makes every cached
    ``zipimporter`` re-parse its archive's whole central directory.  A
    worker holds 16 importers on ``pyspark.zip`` (1,328 entries), and one
    call cost 114-145 ms of worker CPU (0.04 ms tuned); a 9-Python-task
    identity ``mapInArrow`` over 500 rows used 1.3-1.6 s of task time
    (0.56-0.61 s tuned) — CPython 3.11.7, 4-core x86-64 VM.

    The replacement stats the archive and keeps the cached directory
    (``zipimport._zip_directory_cache``) when ``(st_mtime_ns, st_size,
    st_ino)`` equals the stamp recorded at its last re-read; otherwise —
    archive rewritten or replaced, never stamped, unreadable, or dropped
    from the cache — it runs CPython's own method and records the new
    stamp.  A rewritten archive is therefore still re-read, so
    invalidation keeps its meaning; like the path finder's own mtime
    check, a same-size in-place rewrite within one mtime tick is the
    blind spot.  The stamp is taken before the read, so a rewrite racing
    the read is caught by the next call.

    Installed only where CPython still invalidates eagerly (its method
    calls ``_read_directory``; 3.13+ merely drops the cache entry and is
    left alone).  Any missing private name makes this a no-op."""
    global _ZIP_TUNED
    if _ZIP_TUNED:
        return True
    import os
    import threading

    try:
        import zipimport

        cache = zipimport._zip_directory_cache
        original = zipimport.zipimporter.invalidate_caches
        eager = "_read_directory" in original.__code__.co_names
    except AttributeError:
        return False
    if not eager:
        return False
    lock = threading.RLock()

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        # one lock over check, re-read and stamp: a stamp must never be
        # paired with a directory read from an older file
        with lock:
            files = cache.get(archive)
            if (
                files is not None
                and stamp is not None
                and _ZIP_STAMPS.get(archive) == stamp
            ):
                self._files = files
                return
            original(self)
            if stamp is not None and archive in cache:
                _ZIP_STAMPS[archive] = stamp
            else:
                _ZIP_STAMPS.pop(archive, None)

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _ZIP_TUNED = True
    return True


def disable_thp() -> bool:
    ok = True
    for f in (
        "/sys/kernel/mm/transparent_hugepage/enabled",
        "/sys/kernel/mm/transparent_hugepage/defrag",
    ):
        try:
            with open(f, "w") as fh:
                fh.write("never")
        except OSError:
            ok = False
    return ok

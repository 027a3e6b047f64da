"""Parallel manifest work — a small fork pool for the jar-free
Iceberg reader, the shape real Iceberg plans manifests with
(``ManifestGroup.plan`` on an executor service).

Who uses it: ``iceberg_partition_stats.compute_partition_stats``
decodes AND aggregates each manifest on the pool (``run_tasks``), so
only small per-partition counter dicts cross back to the parent.

Who does not: the planner walk (``iceberg_reader._snapshot_entries``)
decodes in-process. Its result is one entry dict per live file, which
a worker has to pickle and the parent unpickle one at a time; the
pool's gain is gone once the parent stops paying the cyclic collector
for that result (``gc_pause``). On the 100k-file / 200-manifest
PLANTIME table in a Spark process (4 vCPU, PySpark 4.1.2), a full
``plan_file_list`` took 0.98-1.14 s in-process and 1.00-1.07 s with
the walk on this 2-worker pool, both with the collector paused (with
it running: 1.68-1.93 s and 1.10-1.26 s) — so the walk stays on one
core.

Design constraints:

- **Deterministic order**: results come back in input order
  (``Pool.starmap`` preserves it).
- **Fail-open**: pool creation or any task failure permanently falls
  back to in-process sequential work for the rest of the process
  (correctness never depends on the pool). Small batches never leave
  the process — below ``MIN_FILES``/``MIN_BYTES`` the fixed fork/IPC
  cost exceeds the work itself.
- **Fork, not spawn**: children must not re-import the package (its
  ``__init__`` pulls pyspark); fork inherits the loaded modules. The
  children only read files, zlib-inflate and decode — they never
  touch py4j or the JVM. Non-POSIX platforms (no fork) simply stay
  sequential.
- ``SPARK_GRAFT_MANIFEST_PROCS`` overrides the worker count
  (``0`` disables the pool entirely).
"""

from __future__ import annotations

import atexit
import gc
import os

_POOL = None
_DISABLED = False
_N_PROCS: int | None = None

MIN_FILES = 4
MIN_BYTES = 1 << 20  # 1 MiB of manifest bytes before forking pays

# Forking a process that already runs py4j/JVM gateway threads can
# (rarely) clone a held lock into the child and hang it; the children
# do pure file+zlib+struct work in milliseconds, so a generous
# per-batch timeout converts a wedged pool into a sequential retry
# instead of hanging planning forever (ADVICE r9).
TASK_TIMEOUT_S = 60.0


def _procs() -> int:
    global _N_PROCS
    if _N_PROCS is None:
        env = os.environ.get("SPARK_GRAFT_MANIFEST_PROCS")
        if env is not None:
            _N_PROCS = max(0, int(env))
        else:
            _N_PROCS = min(8, max(2, (os.cpu_count() or 4) // 4))
    return _N_PROCS


def _close_pool() -> None:
    global _POOL
    if _POOL is not None:
        try:
            _POOL.terminate()
            _POOL.join()
        except Exception:
            pass
        _POOL = None


def _ensure_pool():
    global _POOL, _DISABLED
    if _POOL is not None or _DISABLED:
        return _POOL
    try:
        import multiprocessing as mp

        n = _procs()
        if n < 2:
            _DISABLED = True
            return None
        # a pool forked inside a paused_gc call must not keep the
        # collector off in its long-lived workers
        _POOL = mp.get_context("fork").Pool(
            processes=n, initializer=gc.enable
        )
        atexit.register(_close_pool)
    except Exception:
        _DISABLED = True
        _POOL = None
    return _POOL


def run_tasks(fn, argtuples: list[tuple], paths: list[str]) -> list:
    """``[fn(*args) for args in argtuples]``, on the fork pool when
    the work is big enough to pay for it (``paths`` sizes the input),
    in-process otherwise — same results either way, in input order.
    ``fn`` must be a module-level function; a worker exception
    disables the pool and re-raises from the sequential retry (same
    error, pool never trusted again this process)."""
    global _DISABLED
    if len(argtuples) >= MIN_FILES and not _DISABLED:
        try:
            total = sum(os.path.getsize(p) for p in paths)
        except OSError:
            total = 0
        if total >= MIN_BYTES:
            pool = _ensure_pool()
            if pool is not None:
                try:
                    chunk = max(1, len(argtuples) // (_procs() * 4))
                    # async + timeout: a hung fork child (cloned lock)
                    # must degrade to the sequential path, not hang
                    # planning — a bare starmap can never time out
                    return pool.starmap_async(
                        fn, argtuples, chunksize=chunk
                    ).get(timeout=TASK_TIMEOUT_S)
                except Exception:
                    # fail-open: a broken pool must never break a plan
                    _DISABLED = True
                    _close_pool()
    return [fn(*args) for args in argtuples]

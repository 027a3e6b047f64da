"""Parallel manifest decode (plans/decode_pool): pool-vs-sequential
equality, input-order preservation, threshold gating, and fail-open.
The pool is process-global state, so tests snapshot/restore it."""

from __future__ import annotations

import json
import os

import pytest

from dst_spark_k8_lakehouse_spark.plans import avro_codec, decode_pool

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": ["null", "bytes"], "default": None},
    ],
}


def _write(tmp, k, n):
    p = os.path.join(tmp, f"f{k}.avro")
    rows = [
        {"i": k * 10_000 + i, "s": f"row-{k}-{i}",
         "b": bytes([k % 256, i % 256]) if i % 3 else None}
        for i in range(n)
    ]
    avro_codec.write_avro_file(p, json.dumps(SCHEMA), rows)
    return p, rows


def _decode(paths):
    """Whole record lists per file, through the pool when it pays."""
    return decode_pool.run_tasks(
        avro_codec.read_avro_file, [(p,) for p in paths], paths
    )


@pytest.fixture
def pool_state():
    saved = (decode_pool._POOL, decode_pool._DISABLED,
             decode_pool.MIN_FILES, decode_pool.MIN_BYTES)
    yield
    (decode_pool._POOL, decode_pool._DISABLED,
     decode_pool.MIN_FILES, decode_pool.MIN_BYTES) = saved


def test_parallel_equals_sequential_in_order(tmp_path, pool_state):
    paths, expect = [], []
    for k in range(9):
        p, rows = _write(str(tmp_path), k, 400)
        paths.append(p)
        expect.append(rows)
    decode_pool.MIN_FILES = 2
    decode_pool.MIN_BYTES = 1  # force the pool on
    decode_pool._DISABLED = False
    got = _decode(paths)
    assert not decode_pool._DISABLED, "pool fell back unexpectedly"
    assert got == expect  # values AND order


def test_below_threshold_stays_in_process(tmp_path, pool_state):
    p, rows = _write(str(tmp_path), 0, 10)
    decode_pool.MIN_FILES = 99
    assert _decode([p]) == [rows]


def test_worker_error_fails_open_and_reraises(tmp_path, pool_state):
    good, rows = _write(str(tmp_path), 1, 400)
    bad = os.path.join(str(tmp_path), "not-avro.avro")
    with open(bad, "wb") as fh:
        fh.write(b"definitely not an avro container")
    decode_pool.MIN_FILES = 2
    decode_pool.MIN_BYTES = 1
    decode_pool._DISABLED = False
    with pytest.raises(Exception):
        _decode([good, bad, good, good])
    # the sequential retry raised the same data error AND the pool is
    # out of the loop from now on
    assert decode_pool._DISABLED


def test_run_tasks_ships_processing(tmp_path, pool_state):
    # run_tasks executes an arbitrary module-level reducer on the pool
    # (the shape iceberg_partition_stats._manifest_partials uses)
    paths = [_write(str(tmp_path), k, 300)[0] for k in range(6)]
    decode_pool.MIN_FILES = 2
    decode_pool.MIN_BYTES = 1
    decode_pool._DISABLED = False
    out = decode_pool.run_tasks(
        _count_rows, [(p,) for p in paths], paths
    )
    assert out == [300] * 6
    assert not decode_pool._DISABLED


def _count_rows(path):
    return sum(1 for _ in avro_codec.read_avro_file(path))


def _sleep_forever(path):  # pragma: no cover - runs in a fork child
    import time

    time.sleep(3600)


def test_hung_worker_times_out_and_degrades(tmp_path, pool_state):
    """A wedged fork child (e.g. a lock cloned from a JVM-threaded
    parent) must NOT hang planning: the async get times out, the pool
    is terminated, and the work retries sequentially (ADVICE r9)."""
    paths = [_write(str(tmp_path), k, 50)[0] for k in range(4)]
    decode_pool.MIN_FILES = 2
    decode_pool.MIN_BYTES = 1
    decode_pool._DISABLED = False
    old = decode_pool.TASK_TIMEOUT_S
    decode_pool.TASK_TIMEOUT_S = 0.5
    try:
        out = decode_pool.run_tasks(
            _hang_then_count, [(p,) for p in paths], paths
        )
    finally:
        decode_pool.TASK_TIMEOUT_S = old
    # sequential fallback produced the answer anyway
    assert out == [50] * 4
    assert decode_pool._DISABLED
    assert decode_pool._POOL is None  # terminated, no stray workers


def _hang_then_count(path):
    # a fork child inherits _POOL/_DISABLED as they were at fork time,
    # so it sleeps past the (shrunk) timeout; the parent's sequential
    # retry runs AFTER the timeout flipped _DISABLED and sees neither
    import time as _time

    if decode_pool._POOL is not None or not decode_pool._DISABLED:
        _time.sleep(5)
    return sum(1 for _ in avro_codec.read_avro_file(path))


def _gc_enabled(_path):
    import gc

    return gc.isenabled()


def test_workers_collect_garbage_when_forked_under_paused_gc(
    tmp_path, pool_state
):
    """A pool first forked inside a ``paused_gc`` planner call keeps
    the cyclic collector ON in its long-lived workers, and the caller
    gets the collector back afterwards."""
    import gc

    from dst_spark_k8_lakehouse_spark.plans.gc_pause import paused_gc

    paths = [_write(str(tmp_path), k, 10)[0] for k in range(4)]
    decode_pool._POOL = None  # fork a fresh pool (the fixture restores)
    decode_pool.MIN_FILES = 2
    decode_pool.MIN_BYTES = 1
    decode_pool._DISABLED = False

    @paused_gc
    def probe():
        assert not gc.isenabled()
        return decode_pool.run_tasks(
            _gc_enabled, [(p,) for p in paths], paths
        )

    assert probe() == [True] * 4
    assert not decode_pool._DISABLED
    assert gc.isenabled()
    decode_pool._close_pool()

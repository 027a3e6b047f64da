#!/usr/bin/env python3
"""Whole-operation benchmark of the engine, end to end and per layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload corpus_curation --seed 1 \
        --seconds 3 --trace 0 [--sf 0.1]

Workloads (``BENCHMARK.json`` lists the ones a regression check runs, and
why each was chosen; ``interactive_sql`` is left out of it only to keep
the check's runs within their time budget):

- ``interactive_sql``: 26 relational registry ids over pinned tables;
- ``corpus_curation``: 16 LLM-data registry ids over pinned tables;
- ``lakehouse_writes``: a write cycle on fresh native Delta, native
  Iceberg and ``MetricsLogger``/``VersionedTable`` tables;
- ``metadata_planning``: ``plan_file_list`` on 1k/10k/100k-file
  metadata-only tables, and Iceberg partition statistics.

One process runs one workload with one closed-loop client on a fresh
session from ``get_session()``, with the engine's own defaults and
``SPARK_GRAFT_CPUS=1`` (``SPARK_CORES`` below says why), as a batch job
or a new notebook would. The benchmark first makes its inputs, oracle
results and references; the engine's set-up (import, session start,
table pinning, planning fixtures) is then reported as ``setup_s``:
process start to the first operation, less the benchmark's own work.
Measurement then runs whole rounds (a sweep over every query id, one
write cycle, or one pass over every planning call; inputs and orders
come from ``--seed``) until at least ``--seconds`` of operation time is
recorded. Nothing runs untimed first, so the first round pays the
session's first-call costs (code generation, JIT, the fixtures some
query builders create on first call), as a batch job does. Every result
is checked; a failed or wrong operation counts in ``failed``.

With ``--trace 1`` the same rounds are traced: spans around every call
into the engine, and Spark job, stage, task and SQL metrics per
operation. The run prints the per-layer metrics (sums over the traced
rounds) and each layer's self time. It then runs one more round
untraced and once more traced, and reports traced minus untraced
operation time as the tracing overhead. Spans go to
``perfbench/traces/``.

Every run works in its own temporary directory under ``perfbench/.tmp``
(inputs, tables, fixtures, Spark scratch space, warehouse) and removes
it at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the run's stamp (host, versions, source, seed).
"""

from __future__ import annotations

import argparse
import compileall
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
PACKAGE = "dst_spark_k8_lakehouse_spark"
WORKLOADS = ("interactive_sql", "corpus_curation", "lakehouse_writes", "metadata_planning")

# Spark task slots. On small shared VMs the parallel capacity a process
# gets can swing between one and all cores within minutes while one
# core's speed stays steady; on a 4-vCPU VM the run-to-run spread of
# corpus_curation's ops_per_s measured 0.42 (IQR/median) with 4 slots,
# 0.14 with 2 and 0.006 with 1. One slot trades parallel speed-ups,
# which this benchmark then cannot show, for comparable runs.
SPARK_CORES = 1

PLAN_SCALES = [("1k", 1_000, 10), ("10k", 10_000, 50), ("100k", 100_000, 200)]
SMOKE_PLAN_SCALES = [("1k", 1_000, 10)]


def _process_age() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution); falls back to time since import elsewhere."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _IMPORTED


_IMPORTED = time.perf_counter()


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _hd_quantile(values: list[float], q: float, grid: int = 20_000) -> float:
    """Harrell-Davis estimate of the q-quantile: the Beta(q(n+1),
    (1-q)(n+1))-weighted mean of all order statistics. With the 16-60
    samples of one run it varies much less than a single order
    statistic, which jumps between the clusters of a mixed operation
    set. The Beta CDF is integrated numerically on ``grid`` points."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    edges = cdf[np.rint(np.arange(n + 1) * grid / n).astype(int)]
    return float(np.diff(edges) @ x)


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((REPO / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(REPO)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    if not (REPO / ".git").exists():  # e.g. an exported source tree
        return None
    try:
        out = subprocess.run(["git", "-C", str(REPO), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def stamp(args, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__,
        "git_commit": _git_commit(), "source_sha256": _source_digest(),
        "machine": platform.machine(),
    }


def isolate(run_dir: str) -> None:
    """Point every scratch location at the run directory, before any
    Spark or engine import: Python and JVM temp files, Spark local dirs,
    and the working directory (where Spark puts ``spark-warehouse`` and
    ``derby.log``)."""
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_GRAFT_PLANTIME_DIR"] = os.path.join(run_dir, "plantime")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(os.path.join(run_dir, "cwd"))


def _rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the manifest-decode workers and Spark, and wait for the
    driver JVM to exit. The decode workers are forked from this process
    and hold the JVM's stdin pipe, which the JVM watches for end of
    file, so they go first."""
    from dst_spark_k8_lakehouse_spark.plans import decode_pool

    decode_pool._close_pool()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def build_workload(name: str, run, sf: float):
    import datagen
    import workloads

    if name in ("interactive_sql", "corpus_curation"):
        sf_dir = datagen.write_tables(os.path.join(run.run_dir, "data"), run.seed, sf)
        cls = workloads.InteractiveSql if name == "interactive_sql" else workloads.CorpusCuration
        return cls(run, sf_dir)
    if name == "lakehouse_writes":
        return workloads.LakehouseWrites(run, sf)
    return workloads.MetadataPlanning(run, PLAN_SCALES if sf >= 0.1 else SMOKE_PLAN_SCALES)


def end_to_end(run, setup_s: float) -> dict:
    lat = [s for _k, s in run.samples]
    first, last = run.wall[False]
    ok = run.attempted - run.failed
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lat) / (last - first) if lat else 0.0, "1/s"),
        "latency_p50_s": (_hd_quantile(lat, 0.5) if lat else 0.0, "s"),
        "latency_p90_s": (_hd_quantile(lat, 0.9) if lat else 0.0, "s"),
        "ok_rate": (ok / run.attempted if run.attempted else 0.0, "ratio"),
    }


def per_layer(run, wl, setup: dict, slots: int) -> dict:
    c = run.counters
    t = run.tracer
    out: dict[str, tuple[float, str]] = {}
    for name, unit in (("session.start_s", "s"), ("catalog.cache_s", "s"),
                       ("catalog.cached_bytes", "bytes"), ("session.peak_rss_mb", "MB")):
        out[name] = (setup.get(name, c.get(name, 0.0)), unit)
    exec_s = t.span_seconds("exec")
    out["registry.build_s"] = (t.span_seconds("registry.build"), "s")
    out["registry.build_jobs"] = (c["registry.build_jobs"], "count")
    out["catalyst.plan_s"] = (t.span_seconds("catalyst.plan"), "s")
    out["exec.s"] = (exec_s, "s")
    for name in ("jobs", "stages", "tasks"):
        out[f"exec.{name}"] = (c[f"exec.{name}"], "count")
    out["exec.task_busy_s"] = (c["exec.task_busy_s"], "s")
    out["exec.core_util"] = (c["exec.task_busy_s"] / (exec_s * slots) if exec_s else 0.0, "ratio")
    for name in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[f"exec.{name}"] = (c[f"exec.{name}"], "bytes")
    out["exec.gc_s"] = (c["exec.gc_s"], "s")
    out["python.rows_received"] = (c["python.rows_received"], "count")
    out["python.bytes_sent"] = (c["python.bytes_sent"], "bytes")
    out["python.bytes_received"] = (c["python.bytes_received"], "bytes")
    out["transfer.s"] = (t.span_seconds("transfer") - _exec_under("transfer", t), "s")
    out["transfer.rows"] = (c["transfer.rows"], "count")
    out["transfer.bytes"] = (c["transfer.bytes"], "bytes")

    for fmt in ("delta", "iceberg"):
        for verb in ("create", "append", "merge", "delete", "compact", "read", "time_travel", "replay"):
            out[f"{fmt}.{verb}_s"] = (t.span_seconds(f"{fmt}.{verb}"), "s")
        for name in ("files_written", "merge_files_rewritten", "files_live"):
            out[f"{fmt}.{name}"] = (c[f"{fmt}.{name}"], "count")
        for name in ("bytes_written", "metadata_bytes"):
            out[f"{fmt}.{name}"] = (c[f"{fmt}.{name}"], "bytes")
    for layer in ("writer", "dml", "reader", "planner"):
        out[f"jobs.{layer}"] = (c[f"jobs.{layer}"], "count")
    out["versioned_table.flush_s"] = (t.span_seconds("metrics_logger.flush"), "s")
    out["versioned_table.read_s"] = (t.span_seconds("versioned_table.read"), "s")
    amp = getattr(wl, "amp", [])
    out["storage_amp"] = (statistics.median(amp) if amp else 0.0, "ratio")

    def p50(kinds):
        vals = [s for k, s in run.traced_samples if k in kinds]
        return _hd_quantile(vals, 0.5) if vals else 0.0

    out["append_p50_s"] = (p50({"append"}), "s")
    out["merge_p50_s"] = (p50({"merge"}), "s")
    out["scan_p50_s"] = (p50({"read"}), "s")
    out["plan_full_p50_s"] = (p50({"plan_full_100k"}), "s")
    out["plan_pruned_p50_s"] = (p50({"plan_pruned_100k"}), "s")

    for fmt in ("delta", "delta_cp", "delta_cpv2", "iceberg"):
        for label, _n, _c in PLAN_SCALES:
            for verb in ("plan_full", "plan_pruned"):
                out[f"{fmt}.{verb}_s.{label}"] = (c[f"{fmt}.{verb}_s.{label}"], "s")
        out[f"{fmt}.files_kept"] = (c[f"{fmt}.files_kept"], "count")
        out[f"{fmt}.files_total"] = (c[f"{fmt}.files_total"], "count")
    for label, _n, _c in PLAN_SCALES:
        out[f"iceberg.pstats_s.{label}"] = (c[f"iceberg.pstats_s.{label}"], "s")

    selfs = t.self_times()
    for layer in selfs:
        out[f"self.{layer}_s"] = (selfs[layer], "s")
    out["trace.op_s"] = (run.round_seconds[True], "s")
    out["trace.overhead_s"] = (0.0, "s")  # measured by main() after these rounds
    out["trace.ops"] = (float(len(run.traced_samples)), "count")
    return out


def _exec_under(parent: str, tracer) -> float:
    """Seconds of ``exec`` spans whose parent span is ``parent``."""
    spans = tracer.spans
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == "exec" and s["parent"] is not None
               and spans[s["parent"]]["name"] == parent)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated inputs (0.001 = smoke mode)")
    args = ap.parse_args(argv)

    if not (REPO / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    cores = _cores()
    tmp_root = BENCH_DIR / ".tmp"
    tmp_root.mkdir(exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=tmp_root)
    cwd = os.getcwd()
    isolate(run_dir)
    sys.path[:0] = [str(BENCH_DIR), str(REPO)]
    spark = None
    try:
        # The benchmark's own set-up (byte-compiling the engine, the
        # stamp, input generation, oracle results and references) is
        # timed apart and left out of setup_s, which keeps process start
        # up to the first operation otherwise: interpreter and engine
        # import, session start, table pinning and fixture building.
        t0 = time.perf_counter()
        # byte-compile the engine now, so that a fresh checkout does not
        # pay it inside the first timed call of a lazily imported module
        compileall.compile_dir(str(REPO / PACKAGE), quiet=1)
        own = {"compile_s": time.perf_counter() - t0}
        from dst_spark_k8_lakehouse_spark import get_session, registry

        import workloads

        registry.load_all()
        t0 = time.perf_counter()
        info = stamp(args, cores)
        run = workloads.Run(None, run_dir, args.seed)
        wl = build_workload(args.workload, run, args.sf)
        wl.prepare()
        own["inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{args.workload}")
        setup = {"session.start_s": time.perf_counter() - t0}
        run.attach(spark)
        t0 = time.perf_counter()
        wl.setup()
        phases = {"fixtures_s": time.perf_counter() - t0, **own}
        setup_s = _process_age() - sum(own.values())

        traced = bool(args.trace)
        if traced:
            run.probe.install()
        run.set_traced(traced)
        i = 0
        while i == 0 or run.round_seconds[traced] < args.seconds:
            wl.sweep(i, traced=traced)
            i += 1
        setup["session.peak_rss_mb"] = _rss_mb(spark)
        if traced:
            metrics = per_layer(run, wl, setup, SPARK_CORES)
            # tracing overhead: one more round, untraced and then traced,
            # both on a session the rounds above have warmed
            spent = dict(run.round_seconds)
            run.set_traced(False)
            wl.sweep(i, traced=False)
            run.set_traced(True)
            wl.sweep(i, traced=True)
            run.set_traced(False)
            metrics["trace.overhead_s"] = (
                (run.round_seconds[True] - spent[True]) - (run.round_seconds[False] - spent[False]), "s")
            run.probe.uninstall()
            trace_dir = BENCH_DIR / "traces"
            trace_dir.mkdir(exist_ok=True)
            run.tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.jsonl"), info)
        else:
            metrics = end_to_end(run, setup_s)
        lat = [s for _k, s in run.samples]
        p90 = _hd_quantile(lat, 0.9) if lat else 0.0
        print(json.dumps({"stamp": info, "setup": {**phases, **setup}, "rounds": i, "samples": len(lat),
                          "samples_beyond_p90": sum(1 for s in lat if s > p90),
                          "latencies": {k: [round(s, 4) for kk, s in run.samples if kk == k]
                                        for k in sorted({k for k, _s in run.samples})},
                          "errors": run.errors[:20]}), flush=True)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The four benchmark workloads.

Each workload is driven by one closed-loop client: the next operation is
sent only when the previous one has returned. A workload's ``setup``
makes its inputs and fixtures; ``sweep(i, traced)`` runs one seeded
round of operations through ``Run.op``, which times each one, checks its
result and, in a traced round, records spans and Spark counters around
every call into the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa

from checks import IvfReference, LshReference, digest
from tracing import LAYER_OF, SparkProbe, Tracer

INTERACTIVE_IDS = [
    "j8_star_join", "x1_q3_shipping", "x2_q10_returns", "a5_groupby_agg",
    "a12_summary", "j1_inner_join", "j4_semi", "j5_broadcast", "w1_rank",
    "w4_topk_group", "o2_sort_limit", "p12_dedup_rows", "f1_string",
    "f2_date", "f5_json", "u2_intersect", "j7_asof",
    "u5b_pandas_grouped_agg", "t1_tumbling", "t2_sliding", "t3_session",
    "d37_delta_dv_read", "d38_iceberg_mor_read", "d43_iceberg_sortorder",
    "s13_kafka_wire", "x10_cbo_join",
]
CURATION_IDS = [
    "x3_corpus_health", "l1_exact_dedup", "l2_minhash_lsh",
    "l2_minhash_lsh_sigs", "l3_text_stats", "l3_unigram_logprob",
    "l3_gopher_gate", "l4_cosine_topk", "l4_ann_ivf_probe", "l6_chunk_docs",
    "l6_passage_dedup", "l6_vocab_topk", "l6_dsir_select", "l6_dsir_scan",
    "l7_contamination", "l7_contamination_scan",
]


class Run:
    """State of one benchmark process: session, counters, samples."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = Tracer(False)
        self.counters: dict[str, float] = defaultdict(float)
        self.attach(spark)
        self.samples: list[tuple[str, float]] = []  # (kind, latency), untraced
        self.traced_samples: list[tuple[str, float]] = []
        self.round_seconds = {False: 0.0, True: 0.0}
        self.wall = {False: [None, 0.0], True: [None, 0.0]}  # first op start, last op end
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_latency = 0.0
        self._traced = False

    def attach(self, spark) -> None:
        """Use ``spark``, the session that is started after the inputs
        are made."""
        self.spark = spark
        self.probe = None if spark is None else SparkProbe(spark, self.tracer, self.counters)

    def rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def set_traced(self, traced: bool) -> None:
        self._traced = traced
        self.tracer.enabled = traced

    def op(self, op_id: str, kind: str, body, check=None, span: str | None = None):
        """Run one operation: ``body()`` is the timed call into the
        engine; ``check(result)`` returns an error message or None.
        Returns the body's result (None when it raised)."""
        traced = self._traced
        if traced:
            self.tracer.op_id = op_id
            self.probe.begin(op_id)
        t0 = time.perf_counter()
        result, error = None, None
        try:
            with self.tracer.span("op"):
                if span is None:
                    result = body()
                else:
                    with self.tracer.span(span):
                        result = body()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
        latency = self.last_latency = time.perf_counter() - t0
        if traced:
            if span is not None:
                self.counters[f"jobs.{LAYER_OF[span]}"] += (
                    len(self.probe.group_jobs()) + len(self.probe.group_jobs("/exec")))
            self.probe.end()
        if error is None and check is not None:
            error = check(result)
        self.attempted += 1
        self.round_seconds[traced] += latency
        wall = self.wall[traced]
        if wall[0] is None:
            wall[0] = t0
        wall[1] = t0 + latency
        if error is not None:
            self.failed += 1
            self.errors.append(f"{op_id}: {error}")
            print(f"FAILED {op_id}: {error}", flush=True)
        else:
            (self.traced_samples if traced else self.samples).append((kind, latency))
        return result


# ---------------------------------------------------------------------------
# query workloads


class QueryWorkload:
    """Registry queries over tables pinned with ``cache_tables``; each
    sweep runs every id once. An op is
    ``registry.QUERIES[id](spark, sf_dir).toPandas()``, checked against
    the DuckDB oracle's digest, against a Python reference for the
    MinHash-LSH and IVF ids, or, for other ids without an oracle,
    against the row count of the id's first run."""

    ids: list[str] = []

    def __init__(self, run: Run, sf_dir: str):
        self.run = run
        self.sf_dir = sf_dir
        self.expected: dict[str, tuple[int, int | None]] = {}
        self.references: dict[str, object] = {}

    def prepare(self) -> None:
        """The benchmark's own set-up, before the session starts: oracle
        digests from DuckDB over the generated files, and the Python
        references."""
        import duckdb
        import pyarrow.parquet as pq

        from dst_spark_k8_lakehouse_spark import registry
        from dst_spark_k8_lakehouse_spark.llm.dedup import DUP_OFFSET
        from dst_spark_k8_lakehouse_spark.sources.catalog import TABLES

        missing = [q for q in self.ids if q not in registry.QUERIES]
        if missing:
            raise SystemExit(f"query ids not in the registry: {missing}")
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for qid in self.ids:
                if qid in registry.ORACLES:
                    self.expected[qid] = digest(con.sql(registry.ORACLES[qid]).df())
        finally:
            con.close()
        if {"l2_minhash_lsh", "l2_minhash_lsh_sigs"} & set(self.ids):
            lsh = LshReference(pq.read_table(f"{self.sf_dir}/documents.parquet").to_pandas(), DUP_OFFSET)
            self.references["l2_minhash_lsh"] = self.references["l2_minhash_lsh_sigs"] = lsh
        if "l4_ann_ivf_probe" in self.ids:
            # the probe returns as many rows as the exact top-k query
            k = self.expected["l4_cosine_topk"][0]
            self.references["l4_ann_ivf_probe"] = IvfReference(
                pq.read_table(f"{self.sf_dir}/embeddings.parquet"), k)

    def setup(self) -> None:
        from dst_spark_k8_lakehouse_spark.sources.catalog import cache_tables

        run = self.run
        t0 = time.perf_counter()
        cache_tables(run.spark, self.sf_dir)
        run.counters["catalog.cache_s"] = time.perf_counter() - t0
        run.counters["catalog.cached_bytes"] = sum(
            r.memSize() for r in run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )

    def _check(self, qid: str):
        if qid in self.references:
            return self.references[qid].check

        def check(pdf) -> str | None:
            got = digest(pdf)
            want = self.expected.get(qid)
            if want is None:  # no oracle: the first run fixes the row count
                self.expected[qid] = (got[0], None)
                return None
            if want[1] is None:
                return None if got[0] == want[0] else f"rows {got[0]} != {want[0]}"
            if got[0] != want[0]:
                return f"rows {got[0]} != oracle {want[0]}"
            return None if got[1] == want[1] else "value hash differs from the DuckDB oracle"
        return check

    def _query(self, qid: str, op_id: str) -> None:
        from dst_spark_k8_lakehouse_spark import registry

        run, fn, sf_dir = self.run, registry.QUERIES[qid], self.sf_dir
        tracer, probe = run.tracer, run.probe
        traced_df = None

        def body():
            nonlocal traced_df
            if not tracer.enabled:
                return fn(run.spark, sf_dir).toPandas()
            with tracer.span("registry.build"):
                traced_df = fn(run.spark, sf_dir)
            run.counters["registry.build_jobs"] += len(probe.group_jobs())
            probe.plan(traced_df)
            with tracer.span("transfer"):
                return traced_df.toPandas()

        if run.op(op_id, qid, body, self._check(qid)) is not None and traced_df is not None:
            probe.python_metrics(traced_df)

    def sweep(self, i: int, traced: bool) -> None:
        # The first round is every query's first run in the session, and
        # first-call costs shared between queries land on whichever runs
        # first: a seeded order there moved p50 by 18-50% between seeds.
        # That round runs in list order; later rounds in a seeded order.
        order = range(len(self.ids)) if i == 0 else self.run.rng(1, i).permutation(len(self.ids))
        for k in order:
            qid = self.ids[k]
            self._query(qid, f"s{i}{'t' if traced else ''}/{qid}")


class InteractiveSql(QueryWorkload):
    ids = INTERACTIVE_IDS


class CorpusCuration(QueryWorkload):
    ids = CURATION_IDS


# ---------------------------------------------------------------------------
# lakehouse writes

_SCHEMA = "id long, grp int, val double, name string, ts timestamp"


class LakehouseWrites:
    """A seeded write cycle on fresh tables in the three table stacks:
    native Delta, native Iceberg, and ``MetricsLogger.flush`` into a
    ``VersionedTable``. The result of every read is compared with a
    pure-pandas model of the same operation sequence.

    Every size follows a write path of the repository, at the run's
    scale factor (``datagen.row_counts``):

    - create: a table of the customer fixture's size, as the
      ``d16``/``d17`` DML queries (``plans/lakehouse_queries.py``) create
      their Delta and Iceberg tables from ``customer``;
    - appends: three micro-batches of a third of the events fixture
      each, with ``txn=(app_id, batch_id)``, as the ``t6``/``t8`` stream
      queries (``streaming/pipelines.py``) feed ``events`` through
      ``stream_to_delta`` and ``stream_to_iceberg``;
    - MERGE: every tenth live key updated plus one new key, and DELETE:
      one of five segments, as ``d16``/``d17`` merge and delete;
    - compaction to one file, as ``x4`` compacts after its DELETE and
      MERGE (``compact_delta(target_files=1)``);
    - one ``MetricsLogger`` flush per batch job, each with the events
      the job's ``MetricContext`` flushes at exit: ``curate_corpus`` 7,
      ``ingest_batch`` 4, ``revenue_report`` and ``gold_star_report`` 2
      (``jobs/``).
    """

    APPENDS = 3
    MERGE_EVERY = 10
    SEGMENTS = 5
    FLUSH_EVENTS = (7, 4, 2, 2)

    def __init__(self, run: Run, sf: float):
        import datagen

        self.run = run
        counts = datagen.row_counts(sf)
        self.n_create = counts["customer"]
        self.n_append = counts["events"] // self.APPENDS
        self.amp: list[float] = []

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        pass

    # -- inputs -------------------------------------------------------
    def _batch(self, rng, ids: np.ndarray, tag: str) -> pd.DataFrame:
        n = len(ids)
        base = np.datetime64("2024-01-01T00:00:00", "us")
        return pd.DataFrame({
            "id": ids.astype(np.int64),
            "grp": rng.integers(0, self.SEGMENTS, n).astype(np.int32),
            "val": np.round(rng.uniform(0, 1000, n), 3),
            "name": [f"{tag}-{v}" for v in rng.integers(0, 10**6, n)],
            "ts": base + rng.integers(0, 86_400 * 30, n).astype("timedelta64[s]"),
        })

    def _frame(self, pdf: pd.DataFrame):
        return self.run.spark.createDataFrame(pdf, _SCHEMA)

    @staticmethod
    def _expect(model: pd.DataFrame):
        want = digest(model)

        def check(got) -> str | None:
            have = digest(got)
            if have[0] != want[0]:
                return f"rows {have[0]} != model {want[0]}"
            return None if have[1] == want[1] else "table contents differ from the model"
        return check

    # -- the cycle ----------------------------------------------------
    def sweep(self, i: int, traced: bool) -> None:
        from dst_spark_k8_lakehouse_spark.metrics.logger import MetricsLogger
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_dml,
            delta_reader,
            delta_writer,
            iceberg_dml,
            iceberg_reader,
            iceberg_writer,
        )
        from dst_spark_k8_lakehouse_spark.plans.table import VersionedTable

        run = self.run
        spark = run.spark
        rng = run.rng(2, i)
        tag = f"c{i}{'t' if traced else ''}"
        root = os.path.join(run.run_dir, "tables", tag)
        paths = {f: os.path.join(root, f) for f in ("delta", "iceberg", "metrics")}
        n_create, n_append = self.n_create, self.n_append

        # model of the Delta/Iceberg table contents, shared by both
        model = self._batch(rng, np.arange(n_create), tag)
        next_id = n_create
        create_df = self._frame(model)
        writes = WriteProbe(run, paths) if traced else None

        def w(fmt, verb, body, check=None):
            op_id = f"{tag}/{fmt}.{verb}"
            if writes is not None:
                writes.before(fmt, verb)
            out = run.op(op_id, verb, body, check, span=f"{fmt}.{verb}")
            if writes is not None:
                writes.after(fmt, verb)
            return out

        iceberg_v0 = w("iceberg", "create", lambda: iceberg_writer.create_iceberg(create_df, paths["iceberg"]))
        w("delta", "create", lambda: delta_writer.create_delta(create_df, paths["delta"]))
        snapshot0 = model.copy()

        logger = MetricsLogger(spark, table_path=paths["metrics"])
        logged: list[dict] = []

        def flush(j: int):
            for k in range(self.FLUSH_EVENTS[j]):
                rec = {
                    "layer": "bench", "project": "perfbench", "dataset_year": 2024,
                    "description": f"event {j}-{k}",
                    "value": float(np.round(rng.uniform(0, 100), 3)),
                    "unit": "s", "function": "timer", "job_name": tag,
                    "run_id": f"{tag}-{j}-{k}", "duration_ms": int(rng.integers(0, 10**6)),
                }
                logger.log_metric(**rec)
                logged.append(rec)
            run.op(f"{tag}/metrics_logger.flush{j}", "flush", logger.flush,
                   span="metrics_logger.flush")

        flush(0)
        logged_v0 = list(logged)

        def committed(version) -> str | None:
            return "micro-batch skipped as a retry" if version == -1 else None

        app = f"perfbench-{tag}"
        for j in range(self.APPENDS):
            batch = self._batch(rng, np.arange(next_id, next_id + n_append), tag)
            next_id += n_append
            model = pd.concat([model, batch], ignore_index=True)
            df = self._frame(batch)
            w("delta", "append", lambda df=df, j=j: delta_writer.append_delta(
                df, paths["delta"], txn=(app, j)), committed)
            w("iceberg", "append", lambda df=df, j=j: iceberg_writer.append_iceberg(
                df, paths["iceberg"], txn=(app, j)), committed)
            flush(j + 1)

        # MERGE upsert: a seeded tenth of the live ids updated, one new id
        live = model["id"].to_numpy()
        upd = rng.choice(live, len(live) // self.MERGE_EVERY, replace=False)
        src = self._batch(rng, np.append(upd, next_id), tag + "m")
        next_id += 1
        model = pd.concat([model[~model["id"].isin(upd)], src], ignore_index=True)
        src_df = self._frame(src)
        w("delta", "merge", lambda: delta_dml.merge_delta(spark, paths["delta"], src_df, on=["id"]))
        w("iceberg", "merge", lambda: iceberg_dml.merge_iceberg(spark, paths["iceberg"], src_df, on=["id"]))

        g = int(rng.integers(0, self.SEGMENTS))
        model = model[model["grp"] != g].reset_index(drop=True)
        w("delta", "delete", lambda: delta_dml.delete_delta(spark, paths["delta"], f"grp = {g}"))
        w("iceberg", "delete", lambda: iceberg_dml.delete_iceberg(spark, paths["iceberg"], f"grp = {g}"))

        w("delta", "compact", lambda: delta_writer.compact_delta(spark, paths["delta"], target_files=1))
        w("iceberg", "compact", lambda: iceberg_writer.rewrite_data_files(
            spark, paths["iceberg"], sort_order=["id"], target_files=1))

        def has_files(key):
            return lambda plan: None if plan[key] else f"empty {key} list"

        w("delta", "replay", lambda: delta_reader.plan_file_list(spark, paths["delta"]), has_files("files"))
        w("iceberg", "replay", lambda: iceberg_reader.plan_file_list(spark, paths["iceberg"]), has_files("data"))

        check_now = self._expect(model)
        check_v0 = self._expect(snapshot0)
        w("delta", "read", lambda: delta_reader.read_delta(spark, paths["delta"]).toPandas(), check_now)
        w("iceberg", "read", lambda: iceberg_reader.read_iceberg(spark, paths["iceberg"]).toPandas(), check_now)
        w("delta", "time_travel", lambda: delta_reader.read_delta(spark, paths["delta"], version=0).toPandas(), check_v0)
        w("iceberg", "time_travel", lambda: iceberg_reader.read_iceberg(
            spark, paths["iceberg"], snapshot_id=iceberg_v0).toPandas(), check_v0)

        cols = ["run_id", "description", "metric_value", "duration_ms"]

        def logged_frame(recs):
            return pd.DataFrame({
                "run_id": [r["run_id"] for r in recs],
                "description": [r["description"] for r in recs],
                "metric_value": [r["value"] for r in recs],
                "duration_ms": [r["duration_ms"] for r in recs],
            })

        vt = VersionedTable(spark, paths["metrics"])
        check_logged = self._expect(logged_frame(logged))
        check_logged_v0 = self._expect(logged_frame(logged_v0))
        run.op(f"{tag}/versioned_table.read", "read", lambda: vt.read().select(*cols).toPandas(),
               check_logged, span="versioned_table.read")
        run.op(f"{tag}/versioned_table.time_travel", "time_travel",
               lambda: vt.read(version=0).select(*cols).toPandas(), check_logged_v0,
               span="versioned_table.read")

        # the Delta and Iceberg tables each hold `model`
        live_bytes = (2 * pa.Table.from_pandas(model, preserve_index=False).nbytes
                      + pa.Table.from_pandas(logged_frame(logged), preserve_index=False).nbytes)
        self.amp.append(sum(_listing(root).values()) / live_bytes)


def _listing(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


class WriteProbe:
    """Write volume per table format, from directory listings taken
    before and after each write, and MERGE write amplification from the
    live file lists the readers plan before and after the MERGE."""

    _META_DIRS = ("_delta_log", "metadata")

    def __init__(self, run: Run, paths: dict[str, str]):
        self.run = run
        self.paths = paths
        self._before: dict[str, int] = {}
        self._live_before: set[str] = set()

    def _live(self, fmt: str) -> set[str]:
        from dst_spark_k8_lakehouse_spark.plans import delta_reader, iceberg_reader

        if fmt == "delta":
            files = delta_reader.plan_file_list(self.run.spark, self.paths[fmt])["files"]
        else:
            files = iceberg_reader.plan_file_list(self.run.spark, self.paths[fmt])["data"]
        return {f if isinstance(f, str) else f["path"] for f in files}

    def before(self, fmt: str, verb: str) -> None:
        self._before = _listing(self.paths[fmt])
        if verb == "merge":
            self._live_before = self._live(fmt)

    def after(self, fmt: str, verb: str) -> None:
        c = self.run.counters
        for p, size in _listing(self.paths[fmt]).items():
            if p in self._before:
                continue
            if os.path.relpath(p, self.paths[fmt]).split(os.sep)[0] in self._META_DIRS:
                c[f"{fmt}.metadata_bytes"] += size
            elif p.endswith(".parquet"):
                c[f"{fmt}.files_written"] += 1
                c[f"{fmt}.bytes_written"] += size
        if verb == "merge":
            c[f"{fmt}.merge_files_rewritten"] += len(self._live_before - self._live(fmt))
            c[f"{fmt}.files_live"] += len(self._live_before)


# ---------------------------------------------------------------------------
# metadata planning

_PRUNE_DAYS = 3


class MetadataPlanning:
    """``plan_file_list`` on synthetic metadata-only Delta (JSON log,
    classic checkpoint, v2 checkpoint) and Iceberg tables at three file
    counts, full and with a seeded three-day ``ts`` window, plus
    ``iceberg_partition_stats.compute_partition_stats``. Fixtures are
    built with ``plans.plantime``'s builders under the run directory."""

    def __init__(self, run: Run, scales: list[tuple[str, int, int]]):
        self.run = run
        self.scales = scales
        self.tables: dict[str, dict[str, str]] = {}

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        from dst_spark_k8_lakehouse_spark.plans import plantime

        os.environ["SPARK_GRAFT_PLANTIME_DIR"] = os.path.join(self.run.run_dir, "plantime")
        saved = plantime.SCALES
        plantime.SCALES = list(self.scales)
        try:
            self.tables = plantime.ensure_tables(self.run.spark)
        finally:
            plantime.SCALES = saved

    def _ops(self):
        for label, n, _commits in self.scales:
            for fmt in ("delta", "delta_cp", "delta_cpv2", "iceberg"):
                yield label, n, fmt, "plan_full"
                yield label, n, fmt, "plan_pruned"
            yield label, n, "iceberg", "pstats"

    def sweep(self, i: int, traced: bool) -> None:
        ops = list(self._ops())
        rng = self.run.rng(3, i)
        # as for the query workloads, the first round keeps one order
        order = range(len(ops)) if i == 0 else rng.permutation(len(ops))
        for k in order:
            label, n, fmt, verb = ops[k]
            first_day = int(rng.integers(0, 100 - _PRUNE_DAYS + 1))
            self._plan(label, n, fmt, verb, first_day,
                       f"s{i}{'t' if traced else ''}/{fmt}.{verb}.{label}")

    def _plan(self, label, n, fmt, verb, first_day, op_id):
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_reader,
            iceberg_partition_stats,
            iceberg_reader,
        )

        run = self.run
        path = self.tables[label][fmt]
        spark = run.spark
        c = run.counters
        if verb == "pstats":
            def check(rows):
                files = sum(r["data_file_count"] for r in rows)
                return None if len(rows) == 100 and files == n else f"{len(rows)} partitions, {files} files"
            run.op(op_id, f"pstats_{label}", lambda: iceberg_partition_stats.compute_partition_stats(spark, path),
                   check, span="iceberg.pstats")
            if run.tracer.enabled:
                c[f"iceberg.pstats_s.{label}"] += run.last_latency
            return
        planner = iceberg_reader.plan_file_list if fmt == "iceberg" else delta_reader.plan_file_list
        key = "data" if fmt == "iceberg" else "files"
        if verb == "plan_full":
            kwargs, want = {}, n
        else:
            lo = dt.datetime(2024, 1, 1) + dt.timedelta(days=first_day)
            kwargs = {"predicates": [("ts", ">=", lo), ("ts", "<", lo + dt.timedelta(days=_PRUNE_DAYS))]}
            day = np.arange(n) * 100 // n
            want = int(((day >= first_day) & (day < first_day + _PRUNE_DAYS)).sum())

        def check(plan):
            return None if len(plan[key]) == want else f"{len(plan[key])} files kept, expected {want}"

        plan = run.op(op_id, f"{verb}_{label}", lambda: planner(spark, path, **kwargs), check,
                      span=f"{fmt}.{verb}")
        if run.tracer.enabled:
            c[f"{fmt}.{verb}_s.{label}"] += run.last_latency
            if verb == "plan_pruned" and plan is not None:
                c[f"{fmt}.files_kept"] += len(plan[key])
                c[f"{fmt}.files_total"] += n

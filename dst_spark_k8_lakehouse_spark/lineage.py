"""Local lineage events, OpenLineage-shaped — the engine-side analog
of the reference's OpenLineage listener wiring
(``/root/reference/docker/spark-notebook/connector.py:134-150``, which
points a Spark listener at a DataHub endpoint; SURVEY §0 keeps those
SERVICES out of scope — this module emits the same event SHAPE to a
local sink so a reference user's lineage consumers have something to
read, with no service dependency).

Three layers, each usable alone:

- ``extract_inputs(df)`` — input datasets from the PUBLIC
  ``DataFrame.inputFiles()`` API, ascended to TABLE roots (a Delta
  table's ``_delta_log`` parent, an Iceberg table's ``metadata``
  parent, a bare parquet file/dir otherwise) and tagged with the
  detected format. Honest limits, documented: a fully in-memory
  (cached) relation and a Python-DataSource scan report no input
  files — those frames yield ``[]``, never a guess.
- ``lineage_event(...)`` / ``FileLineageSink`` — OpenLineage 1.x
  RunEvent shape (eventType/eventTime/run/job/inputs/outputs,
  producer URI, schemaURL) appended as NDJSON; one file per day keeps
  the sink tail-able and prune-able.
- ``register_listener(spark, sink)`` — a REAL
  ``QueryExecutionListener`` registered through py4j's callback
  server: every successful action (collect/write/count) emits an
  event named after the action, inputs extracted from the executed
  plan's scanned files and OUTPUTS from the plan's write command
  node where present (``InsertIntoHadoopFsRelationCommand`` path +
  format, ascended to the owning table when the write lands inside
  one). Falls back LOUDLY (RuntimeError) if the callback server
  can't start — callers choose between the listener and explicit
  ``emit``.

WHY at 100 TB: lineage is metadata-sized (table roots, not file
lists — a 1M-file table is ONE input entry), so emission cost is
independent of data scale; the listener hooks the driver's
already-serial action path.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from typing import Any

PRODUCER = "dst-spark-k8-lakehouse-spark/lineage"
SCHEMA_URL = (
    "https://openlineage.io/spec/1-0-5/OpenLineage.json#/definitions/RunEvent"
)
DEFAULT_NAMESPACE = "local"


def table_root(path: str) -> tuple[str, str]:
    """Ascend from a data-file path to its TABLE root:
    ``(root_path, format)`` with format one of ``delta`` / ``iceberg``
    / ``parquet`` / ``file``. A Delta data file lives under the dir
    holding ``_delta_log``; an Iceberg one under the dir holding
    ``metadata``; plain parquet maps to the ``*.parquet`` file or its
    hive root."""
    # inputFiles() spells URIs as file:/x, file://host/x or file:///x —
    # normpath collapses the slash runs (dirname of "///" is "///",
    # which would spin the ascend loop forever)
    p = os.path.normpath(path.removeprefix("file:"))
    probe = os.path.dirname(p)
    while probe:
        if os.path.isdir(os.path.join(probe, "_delta_log")):
            return probe, "delta"
        if os.path.isdir(os.path.join(probe, "metadata")) and any(
            f.endswith(".metadata.json")
            for f in os.listdir(os.path.join(probe, "metadata"))
        ):
            return probe, "iceberg"
        parent = os.path.dirname(probe)
        if parent == probe:  # filesystem root (any spelling)
            break
        probe = parent
    if p.endswith(".parquet"):
        return p, "parquet"
    return p, "file"


def output_dataset(path: str, fmt_hint: str | None = None) -> dict[str, str]:
    """An OUTPUT dataset entry for a write destination: ascend like
    ``table_root`` (a parquet write landing INSIDE a native table —
    the engine's own data-file writes — reports the TABLE, not the
    part directory); a plain directory write reports itself with the
    write command's format."""
    # appending a fake child makes table_root's dirname-first ascent
    # examine `path` itself
    root, fmt = table_root(os.path.join(path, "_"))
    if fmt in ("file", "parquet"):
        return {
            "namespace": DEFAULT_NAMESPACE,
            "name": os.path.normpath(path.removeprefix("file:")),
            "format": fmt_hint or "file",
        }
    return {"namespace": DEFAULT_NAMESPACE, "name": root, "format": fmt}


def extract_inputs(df) -> list[dict[str, str]]:
    """Input datasets of a DataFrame via the public ``inputFiles()``
    surface, deduplicated to table roots. Frames with no file-backed
    scan (pure in-memory, Python DataSource, ``spark.range``) return
    ``[]`` — absence, not invention."""
    roots: dict[str, str] = {}
    for f in df.inputFiles():
        root, fmt = table_root(f)
        roots.setdefault(root, fmt)
    return [
        {"namespace": DEFAULT_NAMESPACE, "name": root, "format": fmt}
        for root, fmt in sorted(roots.items())
    ]


def lineage_event(
    job_name: str,
    inputs: list[dict[str, str]],
    outputs: list[dict[str, str]] | None = None,
    event_type: str = "COMPLETE",
    run_id: str | None = None,
    event_time: str | None = None,
) -> dict[str, Any]:
    """One OpenLineage-shaped RunEvent dict."""
    return {
        "eventType": event_type,
        "eventTime": event_time
        or datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "run": {"runId": run_id or str(uuid.uuid4())},
        "job": {"namespace": DEFAULT_NAMESPACE, "name": job_name},
        "inputs": [
            {"namespace": i["namespace"], "name": i["name"],
             "facets": {"format": i.get("format", "file")}}
            for i in inputs
        ],
        "outputs": [
            {"namespace": o["namespace"], "name": o["name"],
             "facets": {"format": o.get("format", "file")}}
            for o in (outputs or [])
        ],
        "producer": PRODUCER,
        "schemaURL": SCHEMA_URL,
    }


class FileLineageSink:
    """NDJSON event sink, one ``events-YYYY-MM-DD.ndjson`` per day."""

    def __init__(self, directory: str) -> None:
        self.directory = directory
        os.makedirs(directory, exist_ok=True)

    def write(self, event: dict[str, Any]) -> str:
        day = event["eventTime"][:10]
        path = os.path.join(self.directory, f"events-{day}.ndjson")
        with open(path, "a") as fh:
            fh.write(json.dumps(event, sort_keys=True) + "\n")
        return path

    def read_events(self) -> list[dict[str, Any]]:
        out = []
        for f in sorted(os.listdir(self.directory)):
            if not f.endswith(".ndjson"):
                continue
            with open(os.path.join(self.directory, f)) as fh:
                out.extend(json.loads(ln) for ln in fh if ln.strip())
        return out


def emit(
    df,
    job_name: str,
    sink: FileLineageSink,
    outputs: list[dict[str, str]] | None = None,
) -> dict[str, Any]:
    """Explicit emission: inputs from the frame's plan, outputs from
    the caller (the writer knows its destination; the read plan does
    not). Returns the event written."""
    event = lineage_event(job_name, extract_inputs(df), outputs)
    sink.write(event)
    return event


# ------------------------------------------------- native-commit hook

# sinks registered to receive one event per NATIVE table commit —
# fed by the central delta_writer._commit / iceberg_writer
# _commit_metadata choke points, so library writes (append_delta,
# stream_to_delta, append_iceberg, …) and both native DataSource
# write faces produce output lineage WITHOUT an explicit emit().
# The listener path can't see these: a native commit is a Python
# metadata publish, never an InsertIntoHadoopFsRelationCommand node.
_COMMIT_SINKS: list[FileLineageSink] = []


def watch_commits(sink: FileLineageSink) -> None:
    """Register ``sink`` to receive one OpenLineage-shaped event per
    native Delta/Iceberg commit (metadata-sized: table root + format
    + version/snapshot facets — never file lists). Idempotent."""
    if sink not in _COMMIT_SINKS:
        _COMMIT_SINKS.append(sink)


def unwatch_commits(sink: FileLineageSink | None = None) -> None:
    """Remove one registered sink (or all, when ``sink is None``)."""
    if sink is None:
        _COMMIT_SINKS.clear()
    elif sink in _COMMIT_SINKS:
        _COMMIT_SINKS.remove(sink)


def commit_watch(directory: str | None):
    """Context manager: watch commits into a ``FileLineageSink`` at
    ``directory`` for the duration (no-op on None/empty). This is the
    cross-process spelling the native DataSource write faces use —
    their ``commit()`` runs in Spark's Python-runner process, where
    the caller's in-process ``watch_commits`` registry is invisible,
    so the sink location travels as the ``lineagedir`` write option
    instead."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        if not directory:
            yield
            return
        sink = FileLineageSink(directory)
        watch_commits(sink)
        try:
            yield
        finally:
            unwatch_commits(sink)

    return _cm()


def emit_commit(
    table: str, fmt: str, facets: dict[str, Any] | None = None
) -> None:
    """Called by the native writers' commit choke points AFTER a
    successful publish. No registered sinks = no work; a sink error
    is swallowed (lineage must never fail a commit — same contract
    as the listener's onSuccess)."""
    if not _COMMIT_SINKS:
        return
    event = lineage_event(
        f"commit:{fmt}",
        [],
        outputs=[{
            "namespace": DEFAULT_NAMESPACE,
            "name": os.path.normpath(table),
            "format": fmt,
        }],
    )
    event["outputs"][0]["facets"].update(facets or {})
    for sink in list(_COMMIT_SINKS):
        try:
            sink.write(event)
        except Exception:
            pass


# ------------------------------------------------------------- listener


class _QueryExecutionListener:
    """py4j-callback implementation of Spark's QueryExecutionListener:
    one COMPLETE event per successful action, FAIL on failure."""

    def __init__(self, spark, sink: FileLineageSink) -> None:
        self._spark = spark
        self._sink = sink

    # QueryExecutionListener interface
    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802
        try:
            files = [
                f
                for scan in self._scan_files(qe)
                for f in scan
            ]
            roots: dict[str, str] = {}
            for f in files:
                root, fmt = table_root(f)
                roots.setdefault(root, fmt)
            inputs = [
                {"namespace": DEFAULT_NAMESPACE, "name": r,
                 "format": fmt}
                for r, fmt in sorted(roots.items())
            ]
            self._sink.write(
                lineage_event(
                    f"action:{funcName}", inputs,
                    outputs=self._write_outputs(qe),
                )
            )
        except Exception:
            # a lineage bug must never fail the user's query; the
            # event is dropped, not the action
            pass

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        try:
            self._sink.write(
                lineage_event(f"action:{funcName}", [],
                              event_type="FAIL")
            )
        except Exception:
            pass

    def _write_outputs(self, qe) -> list[dict[str, str]]:
        """OUTPUT datasets from the execution's write command node
        (r12, VERDICT r11 item 6 — writes are what lineage consumers
        actually track): file-format writes surface as
        ``InsertIntoHadoopFsRelationCommand`` in the analyzed plan,
        whose public accessors carry the destination path and format.
        Reads (no write node) return ``[]`` — absence, not a guess;
        py4j traversal kept defensive like ``_scan_files``."""
        outs: list[dict[str, str]] = []
        plans = [qe.analyzed()]
        while plans:
            node = plans.pop()
            try:
                it = node.children().iterator()
                while it.hasNext():
                    plans.append(it.next())
            except Exception:
                pass
            try:
                path = node.outputPath().toString()
            except Exception:
                continue
            try:
                # ParquetFileFormat.toString() == "Parquet", CSV/JSON
                # likewise; anything unrecognized stays "file"
                fmt = node.fileFormat().toString().lower()
                if fmt not in ("parquet", "csv", "json", "orc", "text"):
                    fmt = None
            except Exception:
                fmt = None
            outs.append(output_dataset(path, fmt))
        return outs

    def _scan_files(self, qe):
        # analyzed plan → LogicalRelation file indexes (same source
        # inputFiles() reads); py4j traversal kept defensive
        plans = [qe.analyzed()]
        while plans:
            node = plans.pop()
            try:
                it = node.children().iterator()
                while it.hasNext():
                    plans.append(it.next())
            except Exception:
                pass
            try:
                rel = node.relation()
                loc = rel.location()
                files = loc.inputFiles()
                yield list(files)
            except Exception:
                continue

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_listener(spark, sink: FileLineageSink):
    """Register a live QueryExecutionListener writing one event per
    action to ``sink``. Needs py4j's callback server (the same
    machinery PySpark's streaming listeners use); raises RuntimeError
    if it cannot start — callers fall back to explicit ``emit``."""
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    try:
        ensure_callback_server_started(gw)
    except Exception as exc:  # pragma: no cover - env-specific
        raise RuntimeError(
            f"py4j callback server unavailable: {exc!r}; use "
            "lineage.emit(...) explicitly"
        ) from exc
    listener = _QueryExecutionListener(spark, sink)
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def unregister_listener(spark, listener) -> None:
    spark._jsparkSession.listenerManager().unregister(listener)


# --------------------------------------------------------------------------
# registry query: lineage end-to-end, driver-checked

def _register() -> None:
    from dst_spark_k8_lakehouse_spark.registry import query
    from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

    @query(
        "d74_lineage",
        oracle="""
            SELECT * FROM (VALUES
                ('customer.parquet', 'parquet', TRUE),
                ('orders.parquet',  'parquet', TRUE))
                AS t(dataset, fmt, event_ok)
        """,
    )
    def d74_lineage(spark, sf_dir: str):
        """D74 (r11): lineage extraction + emission, value-checked.
        A two-table join's INPUT datasets come from the live plan
        surface (``inputFiles`` ascended to table roots — both
        fixture parquets must appear, nothing else), one
        OpenLineage-shaped event is written to an NDJSON sink and
        read back, and the event's shape invariants (COMPLETE, a
        run id, the spec schemaURL, the declared output) fold into
        ``event_ok``. Basenames keep the oracle sf-independent."""
        import tempfile

        # file-backed scans even after cache_tables() (bench flow): its
        # cached handles plan as InMemoryRelations, for which
        # inputFiles() correctly reports [] (documented above), which
        # would break this oracle's file-backed contract
        orders = load_table(spark, sf_dir, "orders", cached=False)
        customer = load_table(spark, sf_dir, "customer", cached=False)
        joined = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        with tempfile.TemporaryDirectory(prefix="dst-lineage-") as d:
            sink = FileLineageSink(d)
            event = emit(
                joined, "d74_lineage", sink,
                outputs=[{"namespace": DEFAULT_NAMESPACE,
                          "name": "/out/gold", "format": "delta"}],
            )
            back = sink.read_events()
            ok = (
                len(back) == 1
                and back[0]["eventType"] == "COMPLETE"
                and bool(back[0]["run"]["runId"])
                and back[0]["schemaURL"] == SCHEMA_URL
                and back[0]["outputs"][0]["name"] == "/out/gold"
                and back[0]["job"]["name"] == "d74_lineage"
            )
        # the event carries format inside facets (the OpenLineage
        # shape); read it from there so the query checks the event
        # the sink consumers would actually see
        rows = [
            (os.path.basename(i["name"]),
             i["facets"]["format"], bool(ok))
            for i in event["inputs"]
        ]
        from dst_spark_k8_lakehouse_spark.localrel import local_frame

        return local_frame(
            spark, rows, "dataset string, fmt string, event_ok boolean"
        )


_register()

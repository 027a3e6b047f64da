"""Metrics event log: schema + batched logger.

Capability parity with the reference's ``modules/dst_metrics/
spark_logger.py:15-59`` + ``core.py:4-37`` (same 15-column explicit
StructType — "Define schema explicitly to avoid inference errors" — same
record semantics), with the design flaw fixed: the reference commits one
Delta transaction per ``log_metric`` call (``spark_logger.py:49-59``, a
full write job per event). Here events buffer driver-side (they are tiny
dicts produced at driver rate, never executor data) and flush as ONE
append per flush point — at 100 TB-pipeline cadence that is the
difference between thousands of commits and a handful.

The sink is a ``VersionedTable`` — a Delta table, like the
reference's, and time-travellable: the first flush creates it, later
ones append.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans.table import VersionedTable

# Mirrors METRICS_SCHEMA at reference spark_logger.py:15-34 (15 fields,
# all nullable; `extra` is the only complex type in the whole reference).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("event_timestamp", T.TimestampType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("layer", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("dataset_year", T.IntegerType()),
        T.StructField("description", T.StringType()),
        T.StructField("metric_value", T.DoubleType()),
        T.StructField("metric_unit", T.StringType()),
        T.StructField("metric_function", T.StringType()),
        T.StructField("job_name", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
        T.StructField("status", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("source_path", T.StringType()),
    ]
)


def build_record(
    layer: Any,
    project: str,
    dataset_year: int,
    description: str,
    value: float,
    unit: str,
    function: str,
    job_name: str | None = None,
    extra: dict[str, str] | None = None,
    run_id: str | None = None,
    status: str | None = None,
    duration_ms: int | None = None,
    table_name: str | None = None,
    source_path: str | None = None,
) -> dict[str, Any]:
    """One metric event (field semantics per reference ``core.py:4-37``:
    layer stringified, value floated, UTC wall-clock stamp)."""
    return {
        "event_timestamp": datetime.now(timezone.utc).replace(tzinfo=None),
        "run_id": run_id or str(uuid.uuid4()),
        "layer": str(layer),
        "project": project,
        "dataset_year": int(dataset_year),
        "description": description,
        "metric_value": float(value),
        "metric_unit": unit,
        "metric_function": function,
        "job_name": job_name,
        "extra": extra or {},
        "status": status,
        "duration_ms": duration_ms,
        "table_name": table_name,
        "source_path": source_path,
    }


class MetricsLogger:
    """Buffered metrics logger appending to the table at ``table_path``."""

    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        self._table = VersionedTable(spark, table_path)
        self._buffer: list[dict[str, Any]] = []

    def log_metric(self, **kwargs: Any) -> str:
        """Buffer one event; returns its run_id (reference
        ``spark_logger.py:47-59`` returns the same)."""
        rec = build_record(**kwargs)
        self._buffer.append(rec)
        return rec["run_id"]

    @property
    def pending(self) -> int:
        return len(self._buffer)

    def flush(self) -> int:
        """Write all buffered events as ONE append; returns rows written."""
        if not self._buffer:
            return 0
        from dst_spark_k8_lakehouse_spark.plans import delta_reader

        df = self.spark.createDataFrame(self._buffer, schema=METRICS_SCHEMA)
        if delta_reader.is_delta_table(self._table.path):
            self._table.append(df)
        else:
            self._table.create(df)
        n = len(self._buffer)
        self._buffer.clear()
        return n

"""IN-PLACE table migration: a plain parquet directory becomes a
NATIVE Delta or Iceberg table without rewriting a byte — the jar-free
equivalents of Delta's ``CONVERT TO DELTA parquet.`path``` and
Iceberg's ``snapshot``/``migrate``/``add_files`` procedures (the
onboarding step every lakehouse rollout starts with: the reference's
notebooks build tables from existing parquet the same way).

Both converters do one driver-side metadata pass — list the files,
read row counts from the footers, commit the format's metadata chain
pointing at the files IN PLACE (relative paths for Delta, absolute
for Iceberg manifests). Cost: O(files) footer reads, zero data
movement; from then on the directory takes the full native surface
(DML, time travel, maintenance, the DataSources, the format bridge).

Hive-partitioned directories: ``convert_to_delta`` accepts
``partition_cols`` (names + types are not recoverable from bare dirs,
so the caller states them, exactly like the real
``CONVERT TO DELTA ... PARTITIONED BY``) and records each file's
``partitionValues`` parsed from its directory path.
``convert_to_iceberg`` refuses partitioned layouts (the files do not
contain the partition columns an Iceberg scan reads — same physics
as the format bridge's refusal).
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans import (
    delta_reader,
    delta_writer,
    iceberg_reader,
    iceberg_writer,
)


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, dirs, fs in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if d not in ("_delta_log", "metadata", "_change_data")
            and not d.startswith("_staging")
            and not d.startswith(".")
        ]
        for f in fs:
            if f.endswith(".parquet") and not f.startswith("."):
                out.append(os.path.join(root, f))
    if not out:
        raise ValueError(f"no parquet files under {path}")
    return sorted(out)


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_cols: dict[str, T.DataType] | None = None,
) -> int:
    """``CONVERT TO DELTA``: commit version 0 over the directory's
    existing parquet files. ``partition_cols`` ({name: type}, in
    directory-nesting order) declares a Hive layout; each file's
    ``partitionValues`` are parsed from its path. Returns the
    committed version (0)."""
    if delta_reader.is_delta_table(path):
        raise ValueError(f"{path} is already a Delta table")
    files = _parquet_files(path)
    part_names = list(partition_cols or {})
    now = int(time.time() * 1000)
    adds: list[dict[str, Any]] = []
    for f in files:
        rel = os.path.relpath(f, path).replace(os.sep, "/")
        pv: dict[str, str | None] = {}
        if part_names:
            rel_dir = os.path.dirname(rel)
            parsed = delta_writer._parse_hive_dir(
                rel_dir.replace("/", os.sep)
            )
            missing = [c for c in part_names if c not in parsed]
            if missing:
                raise ValueError(
                    f"file {rel}: partition column(s) {missing} not in "
                    f"its directory path (found {sorted(parsed)})"
                )
            pv = {c: parsed[c] for c in part_names}
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": pv,
                    "size": os.path.getsize(f),
                    "modificationTime": now,
                    "dataChange": True,
                }
            }
        )
    # data schema from the files themselves; partition columns are
    # declared (not recoverable from bare directory names)
    df = spark.read.parquet(*files)
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(c, t, True)
            for c, t in (partition_cols or {}).items()
        ]
    )
    actions: list[dict[str, Any]] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": delta_writer._schema_string(schema),
                "partitionColumns": part_names,
                "configuration": {},
                "createdTime": now,
            }
        },
        *adds,
        delta_writer._commit_info("CONVERT"),
    ]
    delta_writer._commit(path, 0, actions)
    return 0


def convert_to_iceberg(spark: SparkSession, path: str) -> int:
    """Iceberg ``migrate``: commit a v1 metadata chain over the
    directory's existing parquet files (unpartitioned — see module
    docstring). Returns the snapshot id."""
    import pyarrow.parquet as pq

    if iceberg_reader.is_iceberg_table(path):
        raise ValueError(f"{path} is already an Iceberg table")
    files = _parquet_files(path)
    roots = {os.path.dirname(f) for f in files}
    if roots != {path}:
        raise NotImplementedError(
            "nested (partitioned?) parquet layout: Iceberg scans read "
            "files directly and Hive dirs carry values the files lack "
            "— flatten or use convert_to_delta(partition_cols=…)"
        )
    df = spark.read.parquet(*files)
    ischema, last_col = iceberg_writer._iceberg_schema(df.schema)
    meta: dict[str, Any] = {
        "format-version": 1,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col,
        "schema": ischema,
        "schemas": [ischema],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {"dst.converted-from": "parquet"},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    md = iceberg_reader._metadata_dir(path)
    os.makedirs(md, exist_ok=True)
    snap_id = int(time.time() * 1000) * 1000 + 1
    entries = [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "data_file": {
                "file_path": f,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": pq.ParquetFile(f).metadata.num_rows,
                "file_size_in_bytes": os.path.getsize(f),
            },
        }
        for f in files
    ]
    manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
    iceberg_writer.write_avro(
        spark, manifest, iceberg_writer.MANIFEST_SCHEMA, entries
    )
    mlist = iceberg_writer.manifest_list_path(md, snap_id)
    iceberg_writer.write_avro(
        spark,
        mlist,
        iceberg_writer.MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": 0,
                "added_snapshot_id": snap_id,
            }
        ],
    )
    iceberg_writer._register_snapshot(
        meta, snap_id, mlist,
        {"operation": "append",
         "added-data-files": str(len(entries))},
    )
    iceberg_writer._commit_metadata(path, meta, 1)
    return snap_id

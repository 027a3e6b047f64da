"""FORMAT BRIDGE: expose ONE copy of data under BOTH table formats —
Delta → Iceberg metadata export (what Delta Lake ships as "UniForm" /
``delta.universalFormat.enabledFormats=iceberg``) and the reverse,
Iceberg → Delta log export. Jar-free, metadata-only: no data file is
copied or rewritten; the exported format's metadata chain simply
POINTS AT the existing parquet files by absolute path (both specs
allow absolute ``file_path`` / ``add.path``).

Why it matters at 100 TB: a lakehouse serving two engine ecosystems
(a Delta-native pipeline and an Iceberg-native warehouse, the two
stacks the reference loads side by side — ``scripts/download-jars.sh:
80-85``, ``02_iceberg_demo.ipynb`` + ``03_delta_demo.ipynb``) would
otherwise DOUBLE-STORE the data or run a copy pipeline. The bridge is
one driver-side metadata pass per sync: O(live files) footer reads,
zero data movement.

``export_iceberg_metadata(delta_table)`` writes/advances an Iceberg
``metadata/`` chain INSIDE the Delta table directory (UniForm's
layout), one "replace" snapshot per sync listing the CURRENT live
file set; prior syncs stay time-travelable. Re-sync after any Delta
commit. ``export_delta_log(iceberg_table)`` writes/advances a
``_delta_log`` inside the Iceberg table; each sync is one
remove-all/add-all commit (``dataChange: true`` — the sync IS the
data change from the Delta view's perspective).

Loud limits (raise, never wrong rows):

- Delta→Iceberg: no deletion vectors (the Iceberg view would
  resurrect deleted rows; materialize first — real UniForm likewise
  blocks DVs), no column mapping (file columns carry no Iceberg field
  ids), no Hive partitioning (Delta keeps partition values in
  DIRECTORIES, not files; Iceberg scans read files directly — real
  UniForm requires icebergCompat writers for the same reason).
  Unpartitioned tables cover the reference's metrics tables.
- Iceberg→Delta: no merge-on-read delete files (compact first);
  data files ARE allowed to carry identity-partition columns (the
  Delta view exposes them as ordinary columns of an unpartitioned
  table — values live in the files).
"""

from __future__ import annotations

import json
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


def _footer_counts(paths: list[str]) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {p: pq.ParquetFile(p).metadata.num_rows for p in paths}


def export_iceberg_metadata(spark: SparkSession, table: str) -> int:
    """Sync the Delta table's CURRENT state into an Iceberg metadata
    chain under ``<table>/metadata/`` (created on first call,
    advanced on later ones). Returns the new Iceberg snapshot id.
    After this, ``iceberg_reader.read_iceberg(table)`` — or any real
    Iceberg runtime pointed at the metadata file — sees exactly the
    rows ``delta_reader.read_delta(table)`` sees."""
    state = delta_reader._replay(spark, table, None)
    meta_d = state["metaData"]
    if any(a.get("deletionVector") for a in state["files"].values()):
        raise NotImplementedError(
            "Delta table has deletion vectors; the Iceberg view would "
            "resurrect deleted rows — materialize first "
            "(plans.delta_dv.materialize_dvs)"
        )
    mode, _phys = delta_reader._mapping(meta_d)
    if mode != "none":
        raise NotImplementedError(
            f"column-mapped Delta table (mode {mode!r}): its files "
            "carry physical names without Iceberg field ids"
        )
    if meta_d.get("partitionColumns"):
        raise NotImplementedError(
            "Hive-partitioned Delta table: partition values live in "
            "directories, not data files, which an Iceberg scan reads "
            "directly (real UniForm requires icebergCompat writers "
            "for the same reason)"
        )
    schema = delta_reader.schema_from_json(meta_d["schemaString"])
    abspaths = [
        rel if os.path.isabs(rel) else os.path.join(table, rel)
        for rel in state["files"]
    ]
    counts = _footer_counts(abspaths)
    md = iceberg_reader._metadata_dir(table)
    if iceberg_reader.is_iceberg_table(table):
        meta_i, v = iceberg_writer._load_meta(table)
        # refuse drift: the Iceberg schema must still match Delta's
        want, _ = iceberg_writer._iceberg_schema(schema)
        have = meta_i.get("schema") or {}
        if [f["name"] for f in want["fields"]] != [
            f["name"] for f in have.get("fields", [])
        ]:
            raise NotImplementedError(
                "Delta schema changed since the last Iceberg sync; "
                "schema-evolving the exported view is not supported — "
                "re-create the export"
            )
    else:
        ischema, last_col = iceberg_writer._iceberg_schema(schema)
        meta_i = {
            "format-version": 1,
            "table-uuid": str(uuid.uuid4()),
            "location": table,
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
            "properties": {"dst.uniform.source-format": "delta"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        v = 0
    os.makedirs(md, exist_ok=True)
    snap_id = int(time.time() * 1000) * 1000 + v + 1
    entries = [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "data_file": {
                "file_path": p,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": counts[p],
                "file_size_in_bytes": os.path.getsize(p),
            },
        }
        for p in sorted(abspaths)
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
    if v:
        iceberg_writer._bump_metadata_log(table, meta_i)
    iceberg_writer._register_snapshot(
        meta_i,
        snap_id,
        mlist,
        {
            "operation": "overwrite",  # full current-state listing
            "dst-uniform-sync": "delta",
            "added-data-files": str(len(entries)),
        },
    )
    iceberg_writer._commit_metadata(table, meta_i, v + 1)
    return snap_id


def export_delta_log(spark: SparkSession, table: str) -> int:
    """The reverse bridge: sync an Iceberg table's current snapshot
    into a ``_delta_log`` inside its directory (created on first
    call). Each sync is one remove-all/add-all Delta commit listing
    the live files by absolute path. Identity-partitioned Iceberg
    tables work — their data files carry the partition columns, which
    the Delta view exposes as ordinary columns. Returns the Delta
    version committed."""
    with open(iceberg_reader._current_metadata_file(table)) as fh:
        meta_i = json.load(fh)
    spec_fields = iceberg_reader._default_spec_fields(meta_i)
    snaps = {
        int(s["snapshot-id"]): s for s in meta_i.get("snapshots", [])
    }
    cur = meta_i.get("current-snapshot-id")
    if not cur or int(cur) == -1:
        raise ValueError(f"no current snapshot in {table}")
    # _live_data_files raises on merge-on-read delete files
    files = iceberg_reader._live_data_files(
        spark, table, snaps[int(cur)], spec_fields
    )
    schema_i = None
    for s in meta_i.get("schemas", []):
        if s.get("schema-id") == meta_i.get("current-schema-id"):
            schema_i = s
    if schema_i is None:
        schema_i = meta_i["schema"]
    fields = [
        T.StructField(
            f["name"],
            iceberg_reader._spark_type(f["type"]),
            not f.get("required", False),
        )
        for f in schema_i["fields"]
    ]
    schema = T.StructType(fields)
    now = int(time.time() * 1000)
    prev_adds: list[str] = []
    state = None
    if delta_reader.is_delta_table(table):
        state = delta_reader._replay(spark, table, None)
        prev_adds = list(state["files"])
        actions: list[dict[str, Any]] = []
    else:
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 2,
                }
            },
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": delta_writer._schema_string(schema),
                    "partitionColumns": [],
                    "configuration": {
                        "dst.uniform.source-format": "iceberg"
                    },
                    "createdTime": now,
                }
            },
        ]
    current = set(files)
    actions += [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now,
                "dataChange": True,
            }
        }
        for p in prev_adds
        if p not in current
    ]
    prev_set = set(prev_adds)
    actions += [
        {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": os.path.getsize(p),
                "modificationTime": now,
                "dataChange": True,
            }
        }
        for p in sorted(current - prev_set)
    ]
    if not any("add" in a or "remove" in a or "metaData" in a
               for a in actions):
        return delta_writer._next_version(table) - 1  # nothing changed
    actions.append(delta_writer._commit_info("UNIFORM SYNC"))
    if state is not None:
        # state-dependent incremental diff: serializable commit (r8)
        return delta_writer._commit_from_state(
            spark, table, state, actions, "UNIFORM SYNC"
        )
    version = delta_writer._next_version(table)
    delta_writer._commit(table, version, actions)
    return version

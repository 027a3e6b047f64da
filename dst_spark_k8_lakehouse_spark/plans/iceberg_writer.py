"""Single-writer Apache Iceberg table writer — PURE PYTHON end to
end (no Iceberg runtime jar, and since r6 no JVM Avro either: the
manifest files encode through ``plans/avro_codec``, whose output the
JVM Avro reader parses byte-for-byte — conformance-tested).

Counterpart of ``delta_writer`` for the reference's other table format
(Iceberg 1.9, ``scripts/download-jars.sh:84-85``,
``02_iceberg_demo.ipynb:45-54``): CREATE / APPEND / OVERWRITE commits
producing the documented metadata chain —

  data parquet → manifest (Avro) → manifest list (Avro)
    → ``metadata/v{N}.metadata.json`` + ``version-hint.text``

so a table created here is SELECT-able (including snapshot time
travel) by ``iceberg_reader`` and laid out the way the spec describes
for real runtimes. Row-level UPDATE / DELETE are COPY-ON-WRITE
snapshots committed by ``iceberg_dml`` (file-granular manifest
rewrite — the v1 strategy real engines use when merge-on-read is
off); FORMAT VERSION 2 tables (``create_iceberg(format_version=2)``
or ``upgrade_to_v2``) carry sequence numbers on every commit and
additionally take MERGE-ON-READ position/equality delete files
through ``plans/iceberg_mor``. Spec-conformance posture, stated
honestly:

- the metadata JSON carries v1's required set (schema with field ids,
  partition-specs, sort-orders, snapshot-log, last-column-id) —
  unpartitioned or IDENTITY-partitioned specs (non-identity
  transforms raise loudly in ``_partition_avro_fields``);
- manifest / manifest-list Avro files carry the required field subset
  (path/length/spec-id/added-snapshot-id; status/snapshot-id/
  data_file{file_path,file_format,partition,record_count,
  file_size_in_bytes}) with Iceberg ``field-id`` properties in the
  Avro schemas. A real runtime additionally expects column-level
  stats and split offsets in manifests — OPTIONAL per spec, omitted
  here; and it discovers tables through a catalog, so point it at the
  metadata file directly;
- data parquet files embed each column's Iceberg field id
  (``parquet.field.id``), which is what makes RENAME COLUMN
  (``rename_column``: a metadata-only commit; ids never change)
  readable afterwards — ``iceberg_reader`` falls back to field-id
  matching when names moved.

Concurrency is single-writer, the same put-if-absent hard-link commit
``delta_writer`` documents: the new ``v{N}.metadata.json`` is the
commit file; a lost race raises ``FileExistsError`` instead of
clobbering (Iceberg's own commit is an atomic swap of exactly this
pointer via the catalog).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import struct
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans import iceberg_reader
from dst_spark_k8_lakehouse_spark.plans import parquet_ts

# the spec's per-partition-field summary on every manifest-list entry
# (field-id 507, element 508, summary fields 509/518/510/511): what
# lets a planner prune WHOLE MANIFESTS against partition predicates
# before Avro-decoding them — the manifest-level tier above the
# per-file partition records. Optional with a null default, so foreign
# / pre-r8 writers and raw call sites stay valid (readers keep
# summary-less manifests conservatively).
_PARTITIONS_AVRO = {
    "name": "partitions",
    "type": [
        "null",
        {
            "type": "array",
            "element-id": 508,
            "items": {
                "type": "record",
                "name": "r508",
                "fields": [
                    {"name": "contains_null", "type": "boolean",
                     "field-id": 509},
                    {"name": "contains_nan",
                     "type": ["null", "boolean"],
                     "default": None, "field-id": 518},
                    {"name": "lower_bound", "type": ["null", "bytes"],
                     "default": None, "field-id": 510},
                    {"name": "upper_bound", "type": ["null", "bytes"],
                     "default": None, "field-id": 511},
                ],
            },
        },
    ],
    "default": None,
    "field-id": 507,
}

MANIFEST_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            _PARTITIONS_AVRO,
        ],
    }
)

# v2 manifest-list entry: v1's four fields plus the v2-required set —
# content (0 data / 1 deletes), the sequence numbers that order delete
# applicability against data files, and the file/row counts (required
# in v2; real planners use them to skip all-deleted manifests). Field
# ids per the spec appendix.
MANIFEST_LIST_SCHEMA_V2 = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long",
             "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int",
             "field-id": 505},
            {"name": "deleted_files_count", "type": "int",
             "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long",
             "field-id": 513},
            {"name": "deleted_rows_count", "type": "long",
             "field-id": 514},
            _PARTITIONS_AVRO,
        ],
    }
)

# the spec's map<int, bytes> shape for column bounds: an Avro array of
# key/value records with the appendix field ids (125-130)
def _bounds_avro(name: str, fid: int, kid: int, vid: int) -> dict:
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": "bytes",
                         "field-id": vid},
                    ],
                },
            },
        ],
        "default": None,
        "field-id": fid,
    }


def manifest_schema(
    partition_fields: list[dict] | None = None, fmt: int = 1
) -> str:
    """Manifest-entry Avro schema: status 0=EXISTING / 1=ADDED /
    2=DELETED (readers scan 0 and 1; 2 is the bookkeeping row a
    copy-on-write rewrite leaves for incremental consumers). The
    ``partition`` record carries one nullable field per partition-spec
    field (identity values for pruning). Field ids per the spec
    appendix.

    ``fmt=2`` adds the v2 fields: per-entry ``sequence_number``
    (null = inherit the manifest-list entry's, the spec's ADDED-row
    inheritance; EXISTING/DELETED rows carry their original data
    sequence explicitly), ``data_file.content`` (0 data / 1 position
    deletes / 2 equality deletes) and ``data_file.equality_ids``."""
    data_file_fields = [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "field-id": 102,
            "type": {
                "type": "record",
                "name": "r102",
                "fields": list(partition_fields or []),
            },
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        # OPTIONAL column bounds (spec field-ids 125/128): the data-
        # skipping tier — single-value-serialized min/max per field id
        _bounds_avro("lower_bounds", 125, 126, 127),
        _bounds_avro("upper_bounds", 128, 129, 130),
    ]
    entry_fields = [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 1,
        },
    ]
    if fmt >= 2:
        entry_fields += [
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
        ]
        data_file_fields.insert(
            0, {"name": "content", "type": "int", "field-id": 134}
        )
        data_file_fields.append(
            {
                "name": "equality_ids",
                "type": [
                    "null",
                    {"type": "array", "items": "int", "element-id": 136},
                ],
                "default": None,
                "field-id": 135,
            }
        )
        # v3 DELETION VECTOR reference fields (spec ids 143-145):
        # a position-delete entry whose file_format is PUFFIN points
        # at one data file's DV blob inside a Puffin file. Optional —
        # plain v2 manifests simply never set them, and Avro's
        # embedded per-file schema keeps old manifests readable.
        data_file_fields += [
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
                "field-id": 143,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
                "field-id": 144,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
                "field-id": 145,
            },
        ]
    entry_fields.append(
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": data_file_fields,
            },
        }
    )
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": entry_fields,
        }
    )


MANIFEST_SCHEMA = manifest_schema()


def _fmt(meta: dict) -> int:
    return int(meta.get("format-version", 1))


def _next_seq(meta: dict) -> int:
    """Bump and return the table's data sequence number (v2 only —
    v1 has no sequence numbers; callers pass 0 there)."""
    meta["last-sequence-number"] = int(
        meta.get("last-sequence-number", 0)
    ) + 1
    return meta["last-sequence-number"]

# partition-record value types this writer can carry in manifests
# (avro type per iceberg RESULT type); others raise
_PARTITION_AVRO = {
    "long": "long", "int": "int", "string": "string", "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
}


def _spec_fields(meta: dict) -> list[dict]:
    for spec in meta.get("partition-specs") or []:
        if spec.get("spec-id") == meta.get("default-spec-id", 0):
            return spec.get("fields") or []
    return meta.get("partition-spec") or []


def _specs_by_id(meta: dict) -> dict[int, list[dict]]:
    """Every partition spec the table has ever had, by spec-id — what
    per-manifest partition-record resolution needs once the spec has
    EVOLVED (each manifest-list entry names the spec its manifest was
    written under)."""
    out: dict[int, list[dict]] = {}
    for spec in meta.get("partition-specs") or []:
        out[int(spec.get("spec-id", 0))] = spec.get("fields") or []
    if not out:
        out[0] = meta.get("partition-spec") or []
    return out


def _spec_result_types(meta: dict) -> list[str]:
    """Iceberg RESULT type of each partition-spec field (``int`` for
    the calendar transforms and bucket, the source type for identity /
    truncate) — what ``_typed_partition_value`` parses back and the
    Avro partition record carries. Raises loudly on transform/source
    combinations the spec (or this writer) doesn't support."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    by_id = {f["id"]: f for f in meta["schema"]["fields"]}
    out = []
    for sf in _spec_fields(meta):
        tname, _param = tr.parse_spec_transform(sf["transform"])
        src = by_id[sf["source-id"]]
        t = src["type"]
        if not isinstance(t, str):
            raise NotImplementedError(
                f"partitioning on nested type {t} (column "
                f"{src['name']!r})"
            )
        out.append(tr.result_type(tname, t, src["name"]))
    return out


def _partition_avro_fields(meta: dict) -> list[dict]:
    out = []
    for sf, rt in zip(_spec_fields(meta), _spec_result_types(meta)):
        if rt not in _PARTITION_AVRO:
            raise NotImplementedError(
                f"partition record value of type {rt}: supported "
                f"types are {sorted(_PARTITION_AVRO)}"
            )
        out.append(
            {
                "name": sf["name"],
                "type": ["null", _PARTITION_AVRO[rt]],
                "default": None,
                "field-id": sf["field-id"],
            }
        )
    return out


def _typed_partition_value(raw: str | None, iceberg_type: str):
    if raw is None:
        return None
    if iceberg_type in ("long", "int"):
        return int(raw)
    if iceberg_type == "boolean":
        return raw == "true"
    if iceberg_type == "date":
        return (datetime.date.fromisoformat(raw) - _EPOCH_DATE).days
    return raw


_BOUND_MAX_STRING = 64  # longer strings carry no bounds (skip, keep)
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1)


def bound_bytes(v: Any, iceberg_type: str) -> bytes | None:
    """Iceberg SINGLE-VALUE binary serialization (spec Appendix D) of
    a bound — little-endian fixed-width numerics, UTF-8 strings, days
    for dates, micros for timestamps. None = not representable (the
    column simply carries no bound — conservative)."""
    if v is None:
        return None
    try:
        if iceberg_type == "int":
            return struct.pack("<i", int(v))
        if iceberg_type == "long":
            return struct.pack("<q", int(v))
        if iceberg_type == "float":
            return struct.pack("<f", float(v))
        if iceberg_type == "double":
            return struct.pack("<d", float(v))
        if iceberg_type == "date":
            d = v if isinstance(v, datetime.date) else datetime.date.fromisoformat(
                str(v)
            )
            return struct.pack("<i", (d - _EPOCH_DATE).days)
        if iceberg_type in ("timestamp", "timestamptz"):
            ts = v
            if not isinstance(ts, datetime.datetime):
                ts = datetime.datetime.fromisoformat(str(ts))
            if ts.tzinfo is not None:
                ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            delta = ts - _EPOCH
            micros = (
                delta.days * 86_400 + delta.seconds
            ) * 1_000_000 + delta.microseconds
            return struct.pack("<q", micros)
        if iceberg_type == "string":
            s = str(v)
            if len(s) > _BOUND_MAX_STRING:
                return None
            return s.encode("utf-8")
    except (ValueError, OverflowError, struct.error):
        return None
    return None


def bound_value(b: bytes, iceberg_type: str) -> Any:
    """Inverse of ``bound_bytes`` — what the reader compares predicate
    literals against. Timestamps come back as epoch MICROS (compare
    in micros), dates as epoch days.

    WIDTH-AWARE for promoted columns (spec schema evolution: int→long,
    float→double): a manifest written before the promotion carries
    4-byte bounds for a column the schema now calls long/double — the
    byte length, not the current type name, decides the decode."""
    if iceberg_type == "int":
        return struct.unpack("<i", b)[0]
    if iceberg_type == "long":
        return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", b)[0]
    if iceberg_type == "double":
        return struct.unpack("<f" if len(b) == 4 else "<d", b)[0]
    if iceberg_type == "date":
        return struct.unpack("<i", b)[0]
    if iceberg_type in ("timestamp", "timestamptz"):
        return struct.unpack("<q", b)[0]
    if iceberg_type == "string":
        return b.decode("utf-8")
    raise NotImplementedError(f"bound type {iceberg_type}")


def _file_bounds(
    path: str, meta: dict
) -> tuple[list[dict], list[dict]]:
    """(lower_bounds, upper_bounds) key/value lists for one data file,
    from the parquet FOOTER (no data read): per top-level column with
    usable stats, the Iceberg single-value bytes keyed by field id.
    Columns without clean bounds are simply absent."""
    import pyarrow.parquet as pq

    by_name = {
        f["name"]: (int(f["id"]), f["type"])
        for f in meta["schema"]["fields"]
        if isinstance(f["type"], str)
    }
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return [], []
    _POISON = object()
    agg: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in by_name:
                continue
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo, hi = st.min, st.max
            if lo is None or hi is None:
                agg[name] = _POISON
            elif agg.get(name) is _POISON:
                pass
            elif name in agg:
                plo, phi = agg[name]
                try:
                    agg[name] = (min(plo, lo), max(phi, hi))
                except TypeError:
                    agg[name] = _POISON
            else:
                agg[name] = (lo, hi)
    lower, upper = [], []
    for name, v in agg.items():
        if v is _POISON:
            continue
        fid, t = by_name[name]
        lo_b = bound_bytes(v[0], t)
        hi_b = bound_bytes(v[1], t)
        if lo_b is None or hi_b is None:
            continue
        lower.append({"key": fid, "value": lo_b})
        upper.append({"key": fid, "value": hi_b})
    return lower, upper


def write_avro(spark: SparkSession, path: str, schema_json: str, rows) -> None:
    """Write an Avro container file through the pure-Python encoder
    (``plans/avro_codec.write_avro_file`` — JVM-conformance-tested in
    ``test_avro_codec.py``; the write half of
    ``iceberg_reader._avro_records``). ``spark`` is kept in the
    signature for call-site compatibility and ignored — manifest
    writing needs no JVM and no session."""
    from dst_spark_k8_lakehouse_spark.plans import avro_codec

    avro_codec.write_avro_file(path, schema_json, list(rows))


class _FieldIds:
    def __init__(self, start: int = 0) -> None:
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt: T.DataType, ids: _FieldIds) -> Any:
    simple = {
        T.LongType: "long", T.IntegerType: "int",
        T.ShortType: "int", T.ByteType: "int",
        T.DoubleType: "double", T.FloatType: "float",
        T.StringType: "string", T.BooleanType: "boolean",
        T.DateType: "date", T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp", T.BinaryType: "binary",
    }
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": ids.next(),
            "element": _iceberg_type(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    raise NotImplementedError(f"no Iceberg schema mapping for {dt}")


def _iceberg_schema(schema: T.StructType) -> tuple[dict, int]:
    ids = _FieldIds()
    fields = []
    for f in schema.fields:
        fid = ids.next()
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, ids),
            }
        )
    return (
        {"schema-id": 0, "type": "struct", "fields": fields},
        ids.last,
    )


def _with_field_ids(df: DataFrame, meta: dict) -> DataFrame:
    """Stamp each column with its Iceberg field id so Spark embeds
    ``parquet.field.id`` in the data files (write support is on by
    default) — the property that keeps renamed-column tables readable
    by field-id matching."""
    fids = {f["name"]: int(f["id"]) for f in meta["schema"]["fields"]}
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": fids[c]})
            if c in fids
            else F.col(c)
            for c in df.columns
        ]
    )


def _write_data_files(
    df: DataFrame, table: str, meta: dict | None = None
) -> list[tuple[str, int, int]]:
    """Write df as parquet under ``data/``; return
    (abs_path, record_count, size_bytes) per file. Row counts come
    from the parquet footers (no extra count job). With ``meta`` the
    columns carry their Iceberg field ids into the parquet footers."""
    import pyarrow.parquet as pq

    if meta is not None:
        df = _with_field_ids(df, meta)
    data = os.path.join(table, "data")
    os.makedirs(data, exist_ok=True)
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    # INT64-micros timestamps (spec mapping; INT96 has no footer stats
    # → lower/upper_bounds would silently drop every timestamp column)
    with parquet_ts.timestamp_micros_writes(df.sparkSession):
        df.write.parquet(staging)
    out = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        dst = os.path.join(data, f"{uuid.uuid4().hex}.parquet")
        os.replace(os.path.join(staging, f), dst)
        out.append(
            (dst, pq.ParquetFile(dst).metadata.num_rows,
             os.path.getsize(dst))
        )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return out


def _write_partitioned_data_files(
    df: DataFrame, table: str, meta: dict
) -> list[tuple[str, int, int, dict]]:
    """Hidden-partitioned write: rows are grouped into files by the
    TRANSFORMED partition values (via ``partitionBy`` on computed
    columns, so the data files keep every source column — Iceberg
    partition values derive from the rows, unlike Hive/Delta), and
    each returned tuple carries the file's typed partition record for
    its manifest entry. Identity is the trivial transform; days/
    months/years/hours/bucket/truncate go through
    ``plans/iceberg_transforms`` (the reference's own demo table is
    ``PARTITIONED BY (days(ts))``, ``02_iceberg_demo.ipynb:45-54``)."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    by_id = {f["id"]: f for f in meta["schema"]["fields"]}
    spec = _spec_fields(meta)
    src_names = [by_id[sf["source-id"]]["name"] for sf in spec]
    result_types = _spec_result_types(meta)
    copies = [f"__p_{sf['name']}" for sf in spec]
    out_df = _with_field_ids(df, meta)
    spark_types = {f.name: f.dataType for f in df.schema.fields}
    for c, s, sf in zip(copies, src_names, spec):
        tname, param = tr.parse_spec_transform(sf["transform"])
        out_df = out_df.withColumn(
            c, tr.spark_transform_column(tname, s, param, spark_types[s])
        )
    data = os.path.join(table, "data")
    os.makedirs(data, exist_ok=True)
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    with parquet_ts.timestamp_micros_writes(out_df.sparkSession):
        out_df.write.partitionBy(*copies).parquet(staging)
    out = []
    for root, _dirs, fs in sorted(os.walk(staging)):
        rel = os.path.relpath(root, staging)
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            raw: dict[str, str | None] = {}
            for seg in rel.split(os.sep):
                k, eq, v = seg.partition("=")
                if eq:
                    raw[unquote(k)] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__"
                        else unquote(v)
                    )
            pv = {
                sf["name"]: _typed_partition_value(
                    raw.get(f"__p_{sf['name']}"), t
                )
                for sf, t in zip(spec, result_types)
            }
            dst = os.path.join(data, f"{uuid.uuid4().hex}.parquet")
            os.replace(os.path.join(root, f), dst)
            out.append(
                (dst, pq.ParquetFile(dst).metadata.num_rows,
                 os.path.getsize(dst), pv)
            )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return out


def _prev_manifests(
    spark: SparkSession, meta: dict, head: int | None = None
) -> list[dict]:
    """Manifest-list entries of the current snapshot (carried forward
    by an append) — or of ``head`` when a BRANCH append carries its
    branch's lineage instead of main's. On a v2 table the
    carry-forward PRESERVES content, sequence numbers and the count
    fields — dropping ``content`` would silently re-classify delete
    manifests as data manifests on the next append."""
    cur = meta.get("current-snapshot-id") if head is None else head
    if cur is None or cur == -1:
        return []
    snap = next(
        s for s in meta["snapshots"] if int(s["snapshot-id"]) == int(cur)
    )
    out = []
    v2 = _fmt(meta) >= 2
    for r in iceberg_reader._avro_records(spark, snap["manifest-list"]):
        e = {
            "manifest_path": str(r.get("manifest_path")),
            "manifest_length": int(str(r.get("manifest_length"))),
            "partition_spec_id": int(str(r.get("partition_spec_id") or 0)),
            "added_snapshot_id": int(str(r.get("added_snapshot_id") or 0)),
        }
        if v2:
            e["content"] = int(str(r.get("content") or 0))
            e["sequence_number"] = int(str(r.get("sequence_number") or 0))
            e["min_sequence_number"] = int(
                str(r.get("min_sequence_number") or 0)
            )
            for k in ("added_files_count", "existing_files_count",
                      "deleted_files_count"):
                e[k] = int(str(r.get(k) or 0))
            for k in ("added_rows_count", "existing_rows_count",
                      "deleted_rows_count"):
                e[k] = int(str(r.get(k) or 0))
        # carry the partition summaries forward — dropping them would
        # silently demote every carried manifest to never-pruned
        parts = r.get("partitions")
        e["partitions"] = (
            [
                {
                    "contains_null": bool(s.get("contains_null")),
                    "contains_nan": s.get("contains_nan"),
                    "lower_bound": s.get("lower_bound"),
                    "upper_bound": s.get("upper_bound"),
                }
                for s in parts
            ]
            if parts is not None else None
        )
        out.append(e)
    return out


def partition_summaries(
    meta: dict, entries: list[dict]
) -> list[dict] | None:
    """The manifest-list ``partitions`` field for one manifest: per
    DEFAULT-spec partition field, ``contains_null`` + single-value-
    serialized lower/upper bounds over the manifest's LIVE entries'
    partition records (spec field-ids 509/510/511). None on an
    unpartitioned spec. Values are already pv-domain (epoch-day ints
    for date results) — ``summary_bound_bytes`` serializes that domain
    directly. Unrepresentable values leave the bound absent
    (conservative keep), mirroring the per-file bounds tier."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    spec = _spec_fields(meta)
    if not spec:
        return None
    rts = _spec_result_types(meta)
    out = []
    for sf, rt in zip(spec, rts):
        has_null = False
        lo = hi = None
        poisoned = False
        for r in entries:
            if int(r.get("status", 1)) == 2:  # DELETED: not live
                continue
            pv = (r.get("data_file") or {}).get("partition") or {}
            v = pv.get(sf["name"])
            if v is None:
                has_null = True
                continue
            if poisoned:
                continue
            try:
                lo = v if lo is None else min(lo, v)
                hi = v if hi is None else max(hi, v)
            except TypeError:
                lo = hi = None
                poisoned = True
        lo_b = tr.summary_bound_bytes(lo, rt)
        hi_b = tr.summary_bound_bytes(hi, rt)
        if lo_b is None or hi_b is None:
            lo_b = hi_b = None  # a one-sided bound proves nothing
        out.append(
            {
                "contains_null": has_null,
                "contains_nan": None,
                "lower_bound": lo_b,
                "upper_bound": hi_b,
            }
        )
    return out


def _mlist_entry(
    meta: dict,
    manifest: str,
    snap_id: int,
    seq: int,
    content: int = 0,
    entries: list[dict] | None = None,
) -> dict:
    """One manifest-list row; on v2 the count fields are derived from
    the manifest's entries (status 1=ADDED / 0=EXISTING / 2=DELETED)."""
    e = {
        "manifest_path": manifest,
        "manifest_length": os.path.getsize(manifest),
        "partition_spec_id": int(meta.get("default-spec-id", 0)),
        "added_snapshot_id": snap_id,
        "partitions": partition_summaries(meta, entries or []),
    }
    if _fmt(meta) >= 2:
        rows = entries or []
        by_status = lambda s: [r for r in rows if int(r["status"]) == s]
        e["content"] = content
        e["sequence_number"] = seq
        # min over live entries' data sequences (None = inherits seq)
        live_seqs = [
            int(r["sequence_number"]) if r.get("sequence_number")
            is not None else seq
            for r in rows if int(r["status"]) != 2
        ]
        e["min_sequence_number"] = min(live_seqs) if live_seqs else seq
        e["added_files_count"] = len(by_status(1))
        e["existing_files_count"] = len(by_status(0))
        e["deleted_files_count"] = len(by_status(2))
        nrows = lambda rs: sum(
            int(r["data_file"]["record_count"]) for r in rs
        )
        e["added_rows_count"] = nrows(by_status(1))
        e["existing_rows_count"] = nrows(by_status(0))
        e["deleted_rows_count"] = nrows(by_status(2))
    return e


def mlist_schema(meta: dict) -> str:
    return (
        MANIFEST_LIST_SCHEMA_V2 if _fmt(meta) >= 2
        else MANIFEST_LIST_SCHEMA
    )


def manifest_list_path(md: str, snap_id: int) -> str:
    """A fresh manifest-list path for snapshot ``snap_id``, unique per
    commit attempt (real Iceberg's ``snap-<id>-<attempt>-<uuid>``):
    snapshot ids are time-based, so two writers racing for the same
    metadata version in the same millisecond draw the same id, and a
    shared file name let the loser overwrite the list the winner's
    metadata points at (a lost append plus a duplicated one)."""
    return os.path.join(md, f"snap-{snap_id}-{uuid.uuid4().hex}.avro")


def _commit_metadata(table: str, meta: dict, version: int) -> None:
    """Put-if-absent publish of v{version}.metadata.json, then move the
    version hint (the catalog-pointer swap, single-writer)."""
    md = iceberg_reader._metadata_dir(table)
    os.makedirs(md, exist_ok=True)
    tmp = os.path.join(md, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    final = os.path.join(md, f"v{version}.metadata.json")
    try:
        os.link(tmp, final)  # EEXIST on a lost race — never overwrite
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(md, f".hint-{uuid.uuid4().hex}.tmp")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(md, "version-hint.text"))
    try:
        # output lineage for EVERY native Iceberg metadata publish
        # (appends, DML, DDL, maintenance) — no registered sinks = no
        # work; a lineage error must never fail the commit
        from dst_spark_k8_lakehouse_spark import lineage as _lineage

        facets = {"version": version}
        snap = meta.get("current-snapshot-id")
        if snap is not None and snap != -1:
            facets["snapshot_id"] = snap
        _lineage.emit_commit(table, "iceberg", facets)
    except Exception:
        pass


def _snapshot_commit(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    meta: dict,
    operation: str,
    version: int,
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
) -> int:
    """Write data + manifest + manifest list, append the snapshot to
    ``meta``, publish metadata ``version``. Returns the snapshot id.

    With ``branch`` the snapshot extends the BRANCH head's lineage
    (its manifests carry forward, its id becomes the parent) and only
    the branch ref moves — ``current-snapshot-id`` and the
    ``snapshot-log`` (main's lineage per the spec) stay untouched:
    the write-audit-publish staging contract."""
    branch_head: int | None = None
    if branch is not None:
        ref = (meta.get("refs") or {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(
                f"branch {branch!r} not in table (create_branch first; "
                f"refs: {sorted(meta.get('refs') or {})})"
            )
        branch_head = int(ref["snapshot-id"])
    md = iceberg_reader._metadata_dir(table)
    os.makedirs(md, exist_ok=True)
    snap_id = int(time.time() * 1000) * 1000 + version  # unique, sortable
    v2 = _fmt(meta) >= 2
    seq = _next_seq(meta) if v2 else 0

    def _added(p: str, n: int, sz: int, pv: dict) -> dict:
        lower, upper = _file_bounds(p, meta)
        e = {
            "status": 1,  # ADDED
            "snapshot_id": snap_id,
            "data_file": {
                "file_path": p,
                "file_format": "PARQUET",
                "partition": pv,
                "record_count": int(n),
                "file_size_in_bytes": int(sz),
                "lower_bounds": lower or None,
                "upper_bounds": upper or None,
            },
        }
        if v2:
            e["sequence_number"] = None  # inherit: the mlist entry's
            e["file_sequence_number"] = None
            e["data_file"]["content"] = 0
            e["data_file"]["equality_ids"] = None
        return e

    if _spec_fields(meta):
        files4 = _write_partitioned_data_files(df, table, meta)
        files = [(p, n, sz) for p, n, sz, _pv in files4]
        entries_new = [_added(p, n, sz, pv) for p, n, sz, pv in files4]
        mschema = manifest_schema(
            _partition_avro_fields(meta), fmt=_fmt(meta)
        )
    else:
        files = _write_data_files(df, table, meta)
        entries_new = [_added(p, n, sz, {}) for p, n, sz in files]
        mschema = manifest_schema(fmt=_fmt(meta))
    manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
    write_avro(spark, manifest, mschema, entries_new)
    entries = (
        [] if operation == "overwrite"
        else _prev_manifests(spark, meta, head=branch_head)
    )
    entries.append(
        _mlist_entry(meta, manifest, snap_id, seq, 0, entries_new)
    )
    mlist = manifest_list_path(md, snap_id)
    write_avro(spark, mlist, mlist_schema(meta), entries)
    summary = {
        "operation": operation,
        "added-data-files": str(len(files)),
        "added-records": str(sum(n for _, n, _ in files)),
    }
    # the spec's running totals — stamped only when EXACTLY derivable
    # (overwrite: the new set IS the table; append: parent totals +
    # added). DML/MoR snapshots go through their own committers and
    # omit them; consumers (plans/cbo.table_profile) fall back to a
    # manifest walk when absent — never guess
    added_recs = sum(n for _p, n, _sz in files)
    added_size = sum(sz for _p, _n, sz in files)
    if operation == "overwrite":
        summary["total-records"] = str(added_recs)
        summary["total-files-size"] = str(added_size)
        summary["total-data-files"] = str(len(files))
    elif operation == "append":
        parent_id = (
            branch_head
            if branch_head is not None
            else meta.get("current-snapshot-id")
        )
        parent = next(
            (s for s in meta.get("snapshots") or []
             if s.get("snapshot-id") == parent_id),
            None,
        )
        psum = (parent or {}).get("summary") or {}
        if parent is None and not meta.get("snapshots"):
            # first snapshot of the table: totals = added
            summary["total-records"] = str(added_recs)
            summary["total-files-size"] = str(added_size)
            summary["total-data-files"] = str(len(files))
        elif "total-records" in psum and "total-files-size" in psum:
            summary["total-records"] = str(
                int(psum["total-records"]) + added_recs
            )
            summary["total-files-size"] = str(
                int(psum["total-files-size"]) + added_size
            )
            if "total-data-files" in psum:
                summary["total-data-files"] = str(
                    int(psum["total-data-files"]) + len(files)
                )
    if txn is not None:
        # the idempotence watermark (how real streaming sinks make
        # Iceberg commits replay-safe: the epoch rides the snapshot
        # summary and append_iceberg skips seen epochs)
        summary["txn-app-id"] = str(txn[0])
        summary["txn-epoch"] = str(int(txn[1]))
    _register_snapshot(meta, snap_id, mlist, summary, branch=branch,
                       branch_head=branch_head)
    _commit_metadata(table, meta, version)
    return snap_id


def _register_snapshot(
    meta: dict, snap_id: int, mlist: str, summary: dict[str, str],
    branch: str | None = None, branch_head: int | None = None,
) -> None:
    """Append a snapshot + snapshot-log entry and make it current —
    or, with ``branch``, move only the branch ref (main's pointer and
    the snapshot-log are main-lineage-only per the spec). Every
    snapshot records its ``parent-snapshot-id`` (what ancestry checks
    in ``fast_forward`` / ``cherry_pick_snapshot`` walk).
    On v2 the snapshot records its sequence-number (the value
    ``_next_seq`` already advanced for this commit)."""
    now = int(time.time() * 1000)
    parent = branch_head if branch is not None else meta.get(
        "current-snapshot-id"
    )
    snap = {
        "snapshot-id": snap_id,
        "timestamp-ms": now,
        "manifest-list": mlist,
        "summary": summary,
    }
    if parent is not None and int(parent) != -1:
        snap["parent-snapshot-id"] = int(parent)
    if _fmt(meta) >= 2:
        snap["sequence-number"] = int(meta.get("last-sequence-number", 0))
    meta.setdefault("snapshots", []).append(snap)
    if branch is not None:
        # only the HEAD moves — retention fields (max-ref-age-ms,
        # min-snapshots-to-keep, max-snapshot-age-ms) ride along
        meta["refs"][branch] = {
            **meta["refs"][branch],
            "snapshot-id": snap_id,
            "type": "branch",
        }
        meta["last-updated-ms"] = now
        return
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now, "snapshot-id": snap_id}
    )
    meta["current-snapshot-id"] = snap_id
    meta["last-updated-ms"] = now


def create_iceberg(
    df: DataFrame, table: str, partition_by: list[str] | None = None,
    format_version: int = 1,
) -> int:
    """CREATE TABLE AS SELECT: metadata + first snapshot, optionally
    hidden-partitioned by ``partition_by`` — bare column names
    (identity) or the spec's transforms: ``days(ts)`` / ``months`` /
    ``years`` / ``hours``, ``bucket(N, col)``, ``truncate(W, col)``
    (``02_iceberg_demo.ipynb:45-54`` creates ``PARTITIONED BY
    (days(ts))``; transform records land typed in the Avro manifests
    and ``read_iceberg(predicates=…)`` prunes through the transform).
    ``format_version=2`` creates a sequence-numbered table that can
    take merge-on-read deletes (``plans/iceberg_mor``). Returns the
    snapshot id."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    if format_version not in (1, 2):
        raise ValueError(f"format_version {format_version}: 1 or 2")
    if iceberg_reader.is_iceberg_table(table):
        raise ValueError(f"Iceberg table already exists at {table}")
    schema, last_col = _iceberg_schema(df.schema)
    by_name = {f["name"]: f for f in schema["fields"]}
    parsed = [tr.parse_partition_item(it) for it in partition_by or []]
    missing = [src for _t, src, _p in parsed if src not in by_name]
    if missing:
        raise ValueError(
            f"partition column(s) {missing} not in {sorted(by_name)}"
        )
    spec_fields = [
        {
            "name": tr.partition_field_name(tname, src),
            "transform": tr.spec_transform_name(tname, param),
            "source-id": by_name[src]["id"],
            "field-id": 1000 + i,
        }
        for i, (tname, src, param) in enumerate(parsed)
    ]
    if len({sf["name"] for sf in spec_fields}) != len(spec_fields):
        raise ValueError(
            f"duplicate partition field names in {partition_by}"
        )
    meta: dict[str, Any] = {
        "format-version": format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": table,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col,
        "schema": schema,  # v1 single-schema field
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    if format_version >= 2:
        meta["last-sequence-number"] = 0
    if spec_fields:
        _partition_avro_fields(meta)  # validate types before any write
    return _snapshot_commit(
        df.sparkSession, df, table, meta, "append", version=1
    )


def upgrade_to_v2(table: str) -> None:
    """Metadata-only commit raising ``format-version`` 1 → 2 (the
    spec's upgrade path: existing snapshots have no sequence numbers
    and are treated as sequence 0, which ``last-sequence-number: 0``
    encodes; pre-upgrade manifest lists keep their v1 schema and read
    null-safely as seq 0 / content 0)."""
    meta, v = _load_meta(table)
    if _fmt(meta) >= 2:
        return
    meta["format-version"] = 2
    meta.setdefault("last-sequence-number", 0)
    _bump_metadata_log(table, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def _load_meta(table: str) -> tuple[dict, int]:
    path = iceberg_reader._current_metadata_file(table)
    import re

    v = int(re.search(r"v(\d+)\.metadata\.json$", path).group(1))
    with open(path) as fh:
        return json.load(fh), v


def _check_schema(df: DataFrame, meta: dict) -> None:
    expected = [f["name"] for f in meta["schema"]["fields"]]
    if df.columns != expected:
        raise ValueError(
            f"write schema {df.columns} != table schema {expected}"
        )


def last_txn_epoch(meta: dict, app_id: str) -> int | None:
    """Highest committed ``txn-epoch`` of ``app_id`` across the
    snapshot history (idempotent-append watermark), or None."""
    best = None
    for s in meta.get("snapshots") or []:
        sm = s.get("summary") or {}
        if sm.get("txn-app-id") == app_id:
            e = int(sm.get("txn-epoch", -1))
            best = e if best is None else max(best, e)
    return best


def append_iceberg(
    df: DataFrame, table: str, txn: tuple[str, int] | None = None,
    branch: str | None = None,
) -> int:
    """APPEND: new snapshot carrying the previous manifests plus one
    for the added files.

    ``txn=(app_id, epoch)`` makes the append IDEMPOTENT — the Iceberg
    counterpart of Delta's ``SetTransaction`` (real streaming sinks
    ride the snapshot summary the same way): if any snapshot already
    records this app at >= this epoch the append is a no-op returning
    -1, so a retried micro-batch lands exactly once.

    ``branch`` stages the append on a named branch instead of main —
    the WRITE half of write-audit-publish (real Iceberg's
    ``spark.wap.branch`` / ``toBranch`` writes): the new snapshot's
    parent and manifest carry-forward are the BRANCH head, only the
    branch ref advances, and main readers see nothing until
    ``fast_forward`` publishes. ``create_branch`` first."""
    meta, v = _load_meta(table)
    if txn is not None:
        last = last_txn_epoch(meta, str(txn[0]))
        if last is not None and last >= int(txn[1]):
            return -1  # this epoch already committed
    df = _fill_write_defaults(df, meta)
    _check_schema(df, meta)
    meta["metadata-log"] = (meta.get("metadata-log") or []) + [
        {
            "timestamp-ms": meta.get("last-updated-ms"),
            "metadata-file": iceberg_reader._current_metadata_file(table),
        }
    ]
    return _snapshot_commit(
        df.sparkSession, df, table, meta, "append", version=v + 1,
        txn=txn, branch=branch,
    )


def overwrite_iceberg(df: DataFrame, table: str) -> int:
    """OVERWRITE: new snapshot whose manifest list references ONLY the
    new manifest (the prior files stay on disk for time travel)."""
    meta, v = _load_meta(table)
    df = _fill_write_defaults(df, meta)
    _check_schema(df, meta)
    return _snapshot_commit(
        df.sparkSession, df, table, meta, "overwrite", version=v + 1
    )


def expire_snapshots(
    spark: SparkSession,
    table: str,
    retain_last: int = 1,
    dry_run: bool = False,
) -> list[str]:
    """EXPIRE SNAPSHOTS on a native table: keep the ``retain_last``
    most recent snapshots, drop the rest from the metadata (one new
    metadata version), and delete every data file / manifest /
    manifest list referenced ONLY by expired snapshots — the GC half
    of the snapshot story (real Iceberg's ``expireSnapshots`` +
    ``deleteOrphanFiles``). Returns the (to-be-)deleted absolute
    paths; ``dry_run`` lists and leaves metadata untouched."""
    if retain_last < 1:
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    meta, v = _load_meta(table)
    snaps = meta.get("snapshots") or []
    # named refs PIN their head snapshots (real expireSnapshots
    # retains every ref head): expiring a live branch/tag head would
    # GC data files a ref-read still plans (r10, with the WAP
    # branch-write surface). Heads suffice — a head's manifest list
    # carries its whole file set, so the file-GC below keeps those
    # files; intra-branch time travel past the head is given up, same
    # as main's beyond retain_last.
    by_id = {int(s["snapshot-id"]): s for s in snaps}
    now_ms = int(time.time() * 1000)
    refs = dict(meta.get("refs") or {})
    # per-ref retention (the spec's snapshot-ref fields): a ref whose
    # max-ref-age-ms elapsed EXPIRES here — written-down policy, not a
    # remembered chore; surviving branch refs additionally pin
    # min-snapshots-to-keep / max-snapshot-age-ms of their ANCESTRY so
    # intra-branch time travel keeps its declared window
    expired_refs = []
    for rname, r in refs.items():
        age_limit = r.get("max-ref-age-ms")
        head = by_id.get(int(r["snapshot-id"]))
        head_ts = int((head or {}).get("timestamp-ms") or 0)
        if (
            age_limit is not None
            and head is not None
            and now_ms - head_ts > int(age_limit)
        ):
            expired_refs.append(rname)
    for rname in expired_refs:
        del refs[rname]
    pinned: set[int] = set()
    for r in refs.values():
        head_id = int(r["snapshot-id"])
        pinned.add(head_id)
        if r.get("type") != "branch":
            continue
        keep_n = int(r.get("min-snapshots-to-keep") or 1)
        age_ms = r.get("max-snapshot-age-ms")
        for i, anc in enumerate(_ancestry(meta, head_id)):
            s = by_id.get(anc)
            if s is None:
                break
            young = (
                age_ms is not None
                and now_ms - int(s.get("timestamp-ms") or 0)
                <= int(age_ms)
            )
            if i < keep_n or young:
                pinned.add(anc)
            elif age_ms is None or not young:
                break
    tail_ids = {int(s["snapshot-id"]) for s in snaps[-retain_last:]}
    keep = [
        s for s in snaps
        if int(s["snapshot-id"]) in tail_ids
        or int(s["snapshot-id"]) in pinned
    ]
    drop = [s for s in snaps if s not in keep]
    if not drop and not expired_refs:
        return []

    def _refs(snapshot: dict) -> tuple[set[str], set[str]]:
        manifests: set[str] = set()
        data: set[str] = set()
        for mf in iceberg_reader._avro_records(
            spark, snapshot["manifest-list"]
        ):
            m = iceberg_reader._strip_uri(str(mf.get("manifest_path")))
            manifests.add(m)
            for e in iceberg_reader._avro_records(spark, m):
                d = e.get("data_file")
                data.add(iceberg_reader._strip_uri(str(d.get("file_path"))))
        return manifests, data

    keep_manifests: set[str] = set()
    keep_data: set[str] = set()
    for s in keep:
        m, d = _refs(s)
        keep_manifests |= m
        keep_data |= d
    doomed: set[str] = set()
    for s in drop:
        m, d = _refs(s)
        doomed |= {s["manifest-list"]}
        doomed |= m - keep_manifests
        doomed |= d - keep_data
    if dry_run:
        return sorted(doomed)
    kept_ids = {int(s["snapshot-id"]) for s in keep}
    _bump_metadata_log(table, meta)
    meta["snapshots"] = keep
    meta["refs"] = refs  # minus any max-ref-age-ms expirations
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log") or []
        if int(e["snapshot-id"]) in kept_ids
    ]
    # statistics sidecars (Puffin NDV + partition stats) of expired
    # snapshots: drop the metadata entries and sweep their files —
    # real expireSnapshots cleans these too
    for key in ("statistics", "partition-statistics"):
        entries = meta.get(key) or []
        stale = [
            e for e in entries
            if int(e["snapshot-id"]) not in kept_ids
        ]
        if stale:
            meta[key] = [
                e for e in entries
                if int(e["snapshot-id"]) in kept_ids
            ]
            doomed |= {e["statistics-path"] for e in stale}
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)
    for p in sorted(doomed):
        if os.path.exists(p):
            os.unlink(p)
    return sorted(doomed)


def _bump_metadata_log(table: str, meta: dict) -> None:
    meta["metadata-log"] = (meta.get("metadata-log") or []) + [
        {
            "timestamp-ms": meta.get("last-updated-ms"),
            "metadata-file": iceberg_reader._current_metadata_file(table),
        }
    ]


def _set_schema(meta: dict, fields: list[dict]) -> None:
    schema = dict(meta["schema"])
    schema["fields"] = fields
    meta["schema"] = schema
    meta["schemas"] = [schema]


def rename_column(table: str, old: str, new: str) -> None:
    """ALTER TABLE RENAME COLUMN (``02_iceberg_demo.ipynb:123``) —
    metadata-only: the field keeps its id, only the name in the
    current schema changes. Data files are matched back by their
    embedded ``parquet.field.id`` (``iceberg_reader``), so no data is
    rewritten and no snapshot is added."""
    meta, v = _load_meta(table)
    names = [f["name"] for f in meta["schema"]["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    fields = [
        {**f, "name": new} if f["name"] == old else f
        for f in meta["schema"]["fields"]
    ]
    _bump_metadata_log(table, meta)
    _set_schema(meta, fields)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


# JSON single-value serialization (spec Appendix D) for the DEFAULT
# VALUES surface: the subset of primitive types a default can carry
# here. int/long/float/double ride as JSON numbers, strings as JSON
# strings, booleans as JSON booleans, dates as "YYYY-MM-DD" strings,
# decimals as their string form — matching the spec's table.
def json_single_value(value: Any, iceberg_type: str) -> Any:
    import decimal
    import math

    if isinstance(iceberg_type, dict):
        raise NotImplementedError(
            "defaults on nested-typed columns are out of scope"
        )
    t = iceberg_type
    if t == "boolean":
        if not isinstance(value, bool):
            raise TypeError(f"{value!r} is not a boolean")
        return value
    if t in ("int", "long"):
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(f"{value!r} is not an {t}")
        return int(value)
    if t in ("float", "double"):
        v = float(value)
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"{t} default must be finite, got {v}")
        return v
    if t == "string":
        if not isinstance(value, str):
            raise TypeError(f"{value!r} is not a string")
        return value
    if t == "date":
        if isinstance(value, str):
            value = datetime.date.fromisoformat(value)
        if not isinstance(value, datetime.date):
            raise TypeError(f"{value!r} is not a date")
        return value.isoformat()
    if t.startswith("decimal"):
        return str(decimal.Decimal(str(value)))
    raise NotImplementedError(f"no default-value encoding for type {t}")


def from_json_single_value(v: Any, iceberg_type: str) -> Any:
    """Inverse of ``json_single_value`` — a Python literal Spark's
    ``F.lit`` accepts for the matching Spark type."""
    import decimal

    t = iceberg_type
    if t == "date":
        return datetime.date.fromisoformat(v)
    if isinstance(t, str) and t.startswith("decimal"):
        return decimal.Decimal(v)
    return v


def add_column(
    table: str, name: str, dtype, default: Any = None
) -> None:
    """ALTER TABLE ADD COLUMN (``02_iceberg_demo.ipynb:122``) —
    metadata-only: the new optional field takes the next field id;
    files written before it simply read it as null.

    ``default`` (the spec's DEFAULT VALUES schema evolution, v3
    fields present since the 1.x metadata model): sets BOTH
    ``initial-default`` — the value files written BEFORE this column
    existed read back (``iceberg_reader`` materializes it per file,
    exactly the spec's "used for reads of data files without the
    field" contract) — and ``write-default``, the value writers fill
    when an insert omits the column. Encoded with the Appendix-D JSON
    single-value serialization. This is the READ-side contrast to
    Delta's write-only ``CURRENT_DEFAULT``
    (``delta_writer.set_column_default``): adding a column with a
    default changes what 100 TB of existing files READ, with zero
    data movement."""
    from pyspark.sql import types as T

    if isinstance(dtype, str):
        dtype = T._parse_datatype_string(dtype)
    meta, v = _load_meta(table)
    names = [f["name"] for f in meta["schema"]["fields"]]
    if name in names:
        raise ValueError(f"column {name!r} already exists")
    ids = _FieldIds(int(meta["last-column-id"]))
    fid = ids.next()
    field = {
        "id": fid,
        "name": name,
        "required": False,
        "type": _iceberg_type(dtype, ids),
    }
    if default is not None:
        enc = json_single_value(default, field["type"])
        field["initial-default"] = enc
        field["write-default"] = enc
    _bump_metadata_log(table, meta)
    _set_schema(meta, meta["schema"]["fields"] + [field])
    meta["last-column-id"] = ids.last
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def set_write_default(table: str, col: str, value: Any) -> None:
    """``ALTER TABLE t ALTER COLUMN c SET DEFAULT v`` (Iceberg side):
    changes the field's ``write-default`` — what FUTURE writes fill
    when they omit the column. ``initial-default`` is immutable per
    the spec (it is the read contract for pre-existing files; moving
    it would retroactively rewrite what old files mean), so this
    never touches it. ``value=None`` drops the write-default — after
    which a write that omits the column REFUSES again (this engine's
    strict write-schema contract; only a declared default licenses
    omission)."""
    meta, v = _load_meta(table)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if col not in by_name:
        raise ValueError(f"no column {col!r} in {sorted(by_name)}")
    field = dict(by_name[col])
    if value is None:
        field.pop("write-default", None)
    else:
        field["write-default"] = json_single_value(value, field["type"])
    fields = [
        field if f["name"] == col else f
        for f in meta["schema"]["fields"]
    ]
    _bump_metadata_log(table, meta)
    _set_schema(meta, fields)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def _fill_write_defaults(df: DataFrame, meta: dict) -> DataFrame:
    """Fill columns the write omitted from their ``write-default``
    (spec: "used... when a field's value is not supplied") and
    restore the schema's column order. Columns without a default stay
    missing — ``_check_schema`` still refuses those loudly."""
    from pyspark.sql import functions as F

    from dst_spark_k8_lakehouse_spark.plans import iceberg_reader

    have = set(df.columns)
    filled = False
    for f in meta["schema"]["fields"]:
        if f["name"] in have or "write-default" not in f:
            continue
        df = df.withColumn(
            f["name"],
            F.lit(
                from_json_single_value(f["write-default"], f["type"])
            ).cast(iceberg_reader._spark_type(f["type"])),
        )
        filled = True
    if filled:
        expected = [f["name"] for f in meta["schema"]["fields"]]
        if set(df.columns) == set(expected):
            df = df.select(*expected)
    return df


def drop_column(spark: SparkSession, table: str, name: str) -> None:
    """ALTER TABLE DROP COLUMN — metadata-only, like the rest of
    Iceberg schema evolution: the field leaves the CURRENT schema,
    its id is never reused (``last-column-id`` never decrements, the
    spec's invariant), data files keep the physical column and every
    read simply stops projecting it. Refused when the column still
    has METADATA consumers whose semantics would silently break:
    partition-spec source columns (stored partition records would
    orphan), sort-order source columns (the declared layout contract
    would dangle), and live EQUALITY-DELETE files keyed on the field
    (their applies would stop matching — compact first)."""
    meta, v = _load_meta(table)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if name not in by_name:
        raise ValueError(f"no column {name!r} in {sorted(by_name)}")
    if len(by_name) == 1:
        raise ValueError("cannot drop the only column")
    fid = int(by_name[name]["id"])
    for spec in meta.get("partition-specs") or [
        {"fields": meta.get("partition-spec") or []}
    ]:
        if any(
            int(pf.get("source-id", -1)) == fid
            for pf in spec.get("fields", [])
        ):
            raise ValueError(
                f"{name!r} is a partition source column; drop the "
                "partition field first"
            )
    for order in meta.get("sort-orders") or []:
        if any(
            int(sf.get("source-id", -1)) == fid
            for sf in order.get("fields", [])
        ):
            raise ValueError(
                f"{name!r} is a sort-order source column; replace "
                "the sort order first (WRITE ORDERED BY)"
            )
    snap_id = meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots") or []
         if s.get("snapshot-id") == snap_id),
        None,
    )
    if snap is not None:
        _d, _p, eq_dels = iceberg_reader._snapshot_entries(spark, snap)
        if any(fid in e["equality_ids"] for e in eq_dels):
            raise ValueError(
                f"{name!r} keys live equality-delete files; their "
                "applies would silently stop matching — compact_mor "
                "first"
            )
    fields = [f for f in meta["schema"]["fields"] if f["name"] != name]
    _bump_metadata_log(table, meta)
    _set_schema(meta, fields)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


_PROMOTIONS = {"int": ("long",), "float": ("double",)}


def promote_column_type(table: str, col: str, new_type: str) -> None:
    """``ALTER TABLE t ALTER COLUMN c TYPE wider`` — the Iceberg
    spec's schema-evolution TYPE PROMOTION (v1/v2 set: ``int → long``,
    ``float → double``): metadata-only; the field keeps its id, data
    files keep their narrow physical type and Spark's parquet reader
    promotes on scan. Old manifests keep their 4-byte column bounds —
    ``bound_value`` decodes by BYTE LENGTH, so data skipping keeps
    working across the promotion boundary (a wrong-width decode
    would prune wrong files, which is why this refuses types outside
    the spec's promotion set). Refused for partition-source columns:
    their transform result types and stored partition records would
    re-key (the spec keeps this restriction too for identity specs in
    practice — evolve the spec instead)."""
    meta, v = _load_meta(table)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if col not in by_name:
        raise ValueError(f"no column {col!r} in {sorted(by_name)}")
    field = by_name[col]
    old = field["type"]
    if not isinstance(old, str):
        raise NotImplementedError(
            f"type promotion on nested-typed column {col!r}"
        )
    if new_type not in _PROMOTIONS.get(old, ()):
        raise ValueError(
            f"promoting {old} -> {new_type} is outside the spec's "
            f"promotion set; allowed from {old}: "
            f"{list(_PROMOTIONS.get(old, ()))}"
        )
    fid = int(field["id"])
    for spec in meta.get("partition-specs") or []:
        if any(
            int(pf.get("source-id", -1)) == fid
            for pf in spec.get("fields", [])
        ):
            raise NotImplementedError(
                f"{col!r} is a partition source column; promoting it "
                "would re-key stored partition records"
            )
    fields = [
        {**f, "type": new_type} if f["name"] == col else f
        for f in meta["schema"]["fields"]
    ]
    _bump_metadata_log(table, meta)
    _set_schema(meta, fields)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def add_partition_field(table: str, item: str) -> None:
    """``ALTER TABLE … ADD PARTITION FIELD`` — PARTITION SPEC
    EVOLUTION, the spec's headline workflow: a table that started
    unpartitioned (or coarser) gains a partition field with a
    METADATA-ONLY commit. ``item`` takes the same spellings as
    ``create_iceberg(partition_by=…)`` (bare column, ``days(ts)``,
    ``bucket(N, col)``, …).

    Per the spec: a NEW spec (old fields + the new one) is appended to
    ``partition-specs`` under the next spec-id and becomes the
    default; existing data files are NOT rewritten — their manifests
    keep their original ``partition_spec_id``, readers resolve each
    manifest's partition records against ITS OWN spec
    (``iceberg_reader``), and pruning on the new field simply keeps
    old-spec files (they carry no value for it — can't prune, never
    wrong). New writes and COW rewrites group by the evolved spec."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    meta, v = _load_meta(table)
    tname, src, param = tr.parse_partition_item(item)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if src not in by_name:
        raise ValueError(
            f"partition source column {src!r} not in "
            f"{sorted(by_name)}"
        )
    t = by_name[src]["type"]
    if not isinstance(t, str):
        raise NotImplementedError(f"partitioning on nested type {t}")
    tr.result_type(tname, t, src)  # validate transform/source combo
    old_fields = _spec_fields(meta)
    fname = tr.partition_field_name(tname, src)
    if any(sf["name"] == fname for sf in old_fields):
        raise ValueError(
            f"partition field {fname!r} already in the default spec"
        )
    next_field_id = max(
        [int(meta.get("last-partition-id", 999))]
        + [int(sf["field-id"]) for sf in old_fields]
    ) + 1
    specs = list(meta.get("partition-specs") or [])
    next_spec_id = max(
        [int(s.get("spec-id", 0)) for s in specs] or [0]
    ) + 1
    new_fields = list(old_fields) + [
        {
            "name": fname,
            "transform": tr.spec_transform_name(tname, param),
            "source-id": int(by_name[src]["id"]),
            "field-id": next_field_id,
        }
    ]
    specs.append({"spec-id": next_spec_id, "fields": new_fields})
    _bump_metadata_log(table, meta)
    meta["partition-specs"] = specs
    meta["default-spec-id"] = next_spec_id
    meta["partition-spec"] = new_fields  # v1 single-spec mirror
    meta["last-partition-id"] = next_field_id
    _partition_avro_fields(meta)  # validate the evolved record types
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def drop_partition_field(table: str, name: str) -> None:
    """``ALTER TABLE … DROP PARTITION FIELD`` — the other half of spec
    evolution, metadata-only like ``add_partition_field``. Per the
    spec: format v1 REPLACES the field's transform with ``void``
    (field positions in older manifests stay aligned; new writes
    record null for it); v2 REMOVES the field from the new spec. No
    data is rewritten; pruning simply stops using the field (void
    fields add no constraints in ``partition_predicate``)."""
    meta, v = _load_meta(table)
    old_fields = _spec_fields(meta)
    if not any(sf["name"] == name for sf in old_fields):
        raise ValueError(
            f"partition field {name!r} not in the default spec "
            f"({[sf['name'] for sf in old_fields]})"
        )
    if _fmt(meta) >= 2:
        new_fields = [sf for sf in old_fields if sf["name"] != name]
    else:
        new_fields = [
            {**sf, "transform": "void"} if sf["name"] == name else sf
            for sf in old_fields
        ]
    specs = list(meta.get("partition-specs") or [])
    next_spec_id = max(
        [int(s.get("spec-id", 0)) for s in specs] or [0]
    ) + 1
    specs.append({"spec-id": next_spec_id, "fields": new_fields})
    _bump_metadata_log(table, meta)
    meta["partition-specs"] = specs
    meta["default-spec-id"] = next_spec_id
    meta["partition-spec"] = new_fields
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def create_tag(table: str, name: str, snapshot_id: int | None = None,
               ref_type: str = "tag",
               max_ref_age_ms: int | None = None,
               min_snapshots_to_keep: int | None = None,
               max_snapshot_age_ms: int | None = None) -> None:
    """Record a named ref — TAG (immutable label) or BRANCH pointer —
    in the metadata's ``refs`` map (the spec's snapshot-ref structure;
    what real Iceberg's ``ALTER TABLE ... CREATE TAG/BRANCH`` writes).
    Defaults to the current snapshot. One metadata-only commit;
    readers travel to it via ``read_iceberg(ref=...)``.

    Retention (the spec's per-ref fields, consumed by
    ``expire_snapshots``): ``max_ref_age_ms`` expires the REF itself
    once its snapshot is older than this (tags and branches — how a
    "keep the EOM tag for 13 months" policy is written down instead
    of remembered); branch-only ``min_snapshots_to_keep`` /
    ``max_snapshot_age_ms`` pin that much of the branch's ANCESTRY
    beyond the head, enabling intra-branch time travel windows."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type {ref_type!r}: 'tag' or 'branch'")
    if name == "main":
        # the spec reserves "main" for the current-snapshot pointer; a
        # ref by that name would shadow it in fast_forward/read paths
        raise ValueError("ref name 'main' is reserved for the table's "
                         "current pointer")
    meta, v = _load_meta(table)
    snaps = {int(s["snapshot-id"]) for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = int(meta.get("current-snapshot-id") or -1)
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not in table (has "
            f"{sorted(snaps)[:5]}…)"
        )
    refs = dict(meta.get("refs") or {})
    if name in refs and refs[name].get("type") == "tag":
        raise ValueError(f"tag {name!r} already exists (tags are "
                         "immutable; drop_ref first)")
    ref: dict[str, Any] = {"snapshot-id": snapshot_id, "type": ref_type}
    if max_ref_age_ms is not None:
        ref["max-ref-age-ms"] = int(max_ref_age_ms)
    if ref_type == "branch":
        if min_snapshots_to_keep is not None:
            ref["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
        if max_snapshot_age_ms is not None:
            ref["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
    elif min_snapshots_to_keep is not None or max_snapshot_age_ms is not None:
        raise ValueError(
            "min_snapshots_to_keep / max_snapshot_age_ms are branch "
            "retention fields; tags are a single pinned snapshot"
        )
    refs[name] = ref
    meta["refs"] = refs
    _bump_metadata_log(table, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def create_branch(table: str, name: str,
                  snapshot_id: int | None = None,
                  max_ref_age_ms: int | None = None,
                  min_snapshots_to_keep: int | None = None,
                  max_snapshot_age_ms: int | None = None) -> None:
    """``ALTER TABLE ... CREATE BRANCH`` — a mutable ref starting at
    ``snapshot_id`` (default: current). The staging half of
    write-audit-publish: ``append_iceberg(branch=name)`` advances it,
    ``read_iceberg(ref=name)`` audits it, ``fast_forward`` publishes
    it, ``drop_ref`` cleans it up. Retention kwargs per
    ``create_tag``."""
    create_tag(table, name, snapshot_id, ref_type="branch",
               max_ref_age_ms=max_ref_age_ms,
               min_snapshots_to_keep=min_snapshots_to_keep,
               max_snapshot_age_ms=max_snapshot_age_ms)


def _ancestry(meta: dict, snap_id: int) -> list[int]:
    """snapshot-id chain from ``snap_id`` back to the root via
    ``parent-snapshot-id`` (newest first, inclusive)."""
    parents = {
        int(s["snapshot-id"]): s.get("parent-snapshot-id")
        for s in meta.get("snapshots") or []
    }
    chain: list[int] = []
    cur: int | None = snap_id
    while cur is not None and cur in parents and cur not in chain:
        chain.append(cur)
        p = parents[cur]
        cur = int(p) if p is not None else None
    return chain


def fast_forward(table: str, branch: str, to: str) -> int:
    """The PUBLISH half of write-audit-publish (real Iceberg's
    ``fast_forward(table, branch, to)`` procedure): move ``branch``
    (``"main"`` = the table's current pointer) to the head of ref
    ``to`` — allowed only when the move is an actual fast-forward,
    i.e. ``branch``'s head is an ANCESTOR of ``to``'s head (walked
    via ``parent-snapshot-id``). A diverged branch refuses (resolve
    with ``cherry_pick_snapshot`` or rebuild the branch); nothing is
    ever merged implicitly. Metadata-only commit; on a main publish
    the fast-forwarded snapshots join the snapshot-log (main's
    lineage), newest last. Returns the published snapshot id."""
    meta, v = _load_meta(table)
    refs = dict(meta.get("refs") or {})
    if to not in refs:
        raise ValueError(f"ref {to!r} not in table (has {sorted(refs)})")
    target = int(refs[to]["snapshot-id"])
    if branch == "main":
        base = int(meta.get("current-snapshot-id") or -1)
    else:
        if branch not in refs or refs[branch].get("type") != "branch":
            raise ValueError(f"branch {branch!r} not in table")
        base = int(refs[branch]["snapshot-id"])
    if base == target:
        return target  # already there
    chain = _ancestry(meta, target)
    if base != -1 and base not in chain:
        raise ValueError(
            f"cannot fast-forward {branch!r} ({base}) to {to!r} "
            f"({target}): not an ancestor — the branches diverged"
        )
    _bump_metadata_log(table, meta)
    now = int(time.time() * 1000)
    if branch == "main":
        meta["current-snapshot-id"] = target
        # the published snapshots enter main's lineage, oldest first
        published = [s for s in reversed(chain) if s != base]
        log = meta.setdefault("snapshot-log", [])
        for sid in published:
            log.append({"timestamp-ms": now, "snapshot-id": sid})
    else:
        refs[branch] = {
            **refs[branch], "snapshot-id": target, "type": "branch",
        }
        meta["refs"] = refs
    meta["last-updated-ms"] = now
    _commit_metadata(table, meta, v + 1)
    return target


def cherry_pick_snapshot(spark: SparkSession, table: str,
                         snapshot_id: int) -> int:
    """``cherrypick_snapshot``: re-apply one staged APPEND snapshot's
    added manifests on top of CURRENT main as a new commit — the
    publish path when main moved after staging (fast-forward refused).
    Like the real procedure, only append snapshots cherry-pick; a
    snapshot that removed or rewrote files (overwrite/delete/replace)
    raises — replaying its removals against a moved main could drop
    the wrong files silently."""
    meta, v = _load_meta(table)
    snap = next(
        (s for s in meta.get("snapshots") or []
         if int(s["snapshot-id"]) == int(snapshot_id)),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in table")
    op = (snap.get("summary") or {}).get("operation")
    if op != "append":
        raise NotImplementedError(
            f"cherry-pick of a {op!r} snapshot: only appends replay "
            "safely onto a moved main (real Iceberg's restriction)"
        )
    # the staged snapshot's OWN manifests (added by it, not carried)
    added = []
    for r in iceberg_reader._avro_records(spark, snap["manifest-list"]):
        if int(str(r.get("added_snapshot_id") or 0)) == int(snapshot_id):
            added.append(r)
    if not added:
        raise ValueError(f"snapshot {snapshot_id} added no manifests")
    md = iceberg_reader._metadata_dir(table)
    new_id = int(time.time() * 1000) * 1000 + v + 1
    v2 = _fmt(meta) >= 2
    seq = _next_seq(meta) if v2 else 0
    entries = _prev_manifests(spark, meta)
    for r in added:
        e = {k: r.get(k) for k in (
            "manifest_path", "manifest_length", "partition_spec_id",
        )}
        e["added_snapshot_id"] = new_id
        if v2:
            for k in ("content", "sequence_number", "min_sequence_number",
                      "added_files_count", "existing_files_count",
                      "deleted_files_count", "added_rows_count",
                      "existing_rows_count", "deleted_rows_count"):
                e[k] = r.get(k)
            # data files inherit the NEW commit's sequence number
            e["sequence_number"] = seq
            e["min_sequence_number"] = seq
        if r.get("partitions") is not None:
            e["partitions"] = r.get("partitions")
        entries.append(e)
    mlist = manifest_list_path(md, new_id)
    write_avro(spark, mlist, mlist_schema(meta), entries)
    _bump_metadata_log(table, meta)
    summary = {
        "operation": "append",
        "source-snapshot-id": str(int(snapshot_id)),
    }
    _register_snapshot(meta, new_id, mlist, summary)
    _commit_metadata(table, meta, v + 1)
    return new_id


def drop_ref(table: str, name: str) -> None:
    """Remove a named ref (metadata-only)."""
    meta, v = _load_meta(table)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"ref {name!r} not in table")
    del refs[name]
    meta["refs"] = refs
    _bump_metadata_log(table, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def rollback_iceberg(spark: SparkSession, table: str,
                     snapshot_id: int) -> None:
    """``rollback_to_snapshot`` — a metadata-only commit making an
    EARLIER snapshot current again (what real Iceberg's
    ``ALTER TABLE ... EXECUTE rollback(...)`` does: the pointer moves,
    every snapshot stays time-travelable, and the rollback lands in
    the snapshot log). Raises when the target's files were expired —
    and, like the real procedure, when the target is not an ANCESTOR
    of current (r10, with branch writes in the table: rolling "back"
    onto an unpublished staged snapshot would put branch rows on main
    without a publish; that move is ``fast_forward``'s job)."""
    meta, v = _load_meta(table)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not in table "
            f"(has {sorted(snaps)[:5]}…)"
        )
    cur = int(meta.get("current-snapshot-id") or -1)
    if (
        cur != -1
        and snapshot_id not in _ancestry(meta, cur)
        and any("parent-snapshot-id" in s for s in snaps.values())
    ):
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the "
            f"current snapshot {cur} — rollback only moves BACK "
            "along main's lineage; publish a branch with "
            "fast_forward instead"
        )
    for p in iceberg_reader._live_data_files(
        spark, table, snaps[snapshot_id], _spec_fields(meta)
    ):
        if not os.path.exists(p):
            raise ValueError(
                f"cannot roll back {table} to {snapshot_id}: data "
                f"file {p} was expired"
            )
    _bump_metadata_log(table, meta)
    now = int(time.time() * 1000)
    meta["current-snapshot-id"] = snapshot_id
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now, "snapshot-id": snapshot_id}
    )
    meta["last-updated-ms"] = now
    _commit_metadata(table, meta, v + 1)


_SORT_ITEM_RE = re.compile(
    r"^(?P<term>.+?)"
    r"(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<no>FIRST|LAST))?\s*$",
    re.IGNORECASE,
)


def parse_sort_item(item: str) -> tuple[str, str, int | None, str, str]:
    """One sort-order entry → ``(transform, source_col, param,
    direction, null_order)``. The term takes the same spellings as
    ``partition_by`` (bare column, ``days(ts)``, ``bucket(N, col)``,
    ``truncate(W, col)``); direction/null-order default per the spec's
    SQL semantics: ``ASC`` → ``nulls-first``, ``DESC`` →
    ``nulls-last``, explicit ``NULLS FIRST|LAST`` overrides."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    m = _SORT_ITEM_RE.match(item.strip())
    if not m or not m.group("term").strip():
        raise ValueError(f"cannot parse sort item {item!r}")
    tname, src, param = tr.parse_partition_item(m.group("term"))
    direction = (m.group("dir") or "asc").lower()
    null_order = (
        f"nulls-{m.group('no').lower()}" if m.group("no")
        else ("nulls-first" if direction == "asc" else "nulls-last")
    )
    return tname, src, param, direction, null_order


def set_sort_order(table: str, cols: list[str]) -> int:
    """``ALTER TABLE … WRITE ORDERED BY`` — record a SORT ORDER in the
    table metadata (spec ``sort-orders``) and make it the default
    (``default-sort-order-id``). Entries take the spec's full sort-
    field surface (r9): bare columns, transform terms (``days(ts)``,
    ``truncate(4, cat)``, ``bucket(16, id)``), ``ASC``/``DESC`` and
    ``NULLS FIRST``/``NULLS LAST`` — e.g. ``"days(ts) DESC NULLS
    LAST"``. Metadata-only commit; the order is the advisory layout
    contract the spec defines — data actually takes the layout when
    ``rewrite_data_files`` (or the maintenance job) rewrites under
    it. Returns the new order-id.

    Why it matters at 100 TB: the manifest column-bounds tier (D47
    data skipping) only bites when per-file value spans are TIGHT —
    a declared sort order is how an Iceberg table asks its compactions
    to produce that layout (the Delta side's ZORDER counterpart)."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    meta, v = _load_meta(table)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if not cols:
        raise ValueError("sort order needs at least one column")
    fields = []
    for c in cols:
        tname, src, param, direction, null_order = parse_sort_item(c)
        if src not in by_name:
            raise ValueError(
                f"sort column {src!r} not in schema {sorted(by_name)}"
            )
        if not isinstance(by_name[src]["type"], str):
            raise NotImplementedError(
                f"sort order on nested type column {src!r}"
            )
        fields.append(
            {
                "transform": tr.spec_transform_name(tname, param),
                "source-id": int(by_name[src]["id"]),
                "direction": direction,
                "null-order": null_order,
            }
        )
    orders = meta.get("sort-orders") or [{"order-id": 0, "fields": []}]
    oid = max(int(o.get("order-id", 0)) for o in orders) + 1
    orders = orders + [{"order-id": oid, "fields": fields}]
    _bump_metadata_log(table, meta)
    meta["sort-orders"] = orders
    meta["default-sort-order-id"] = oid
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)
    return oid


def write_table_statistics(
    spark: SparkSession,
    table: str,
    cols: list[str] | None = None,
    k: int | None = None,
) -> dict:
    """Compute per-column NDV sketches for the CURRENT snapshot and
    publish them as a PUFFIN statistics file (spec: TableMetadata
    ``statistics`` + the Puffin file format — ``plans/puffin.py``;
    blob type ``dst-kmv-theta-v1``, the KMV rendition of the spec's
    theta sketch, documented there). One ~32 KiB sidecar per
    snapshot answers "how many distinct keys" for every column
    WITHOUT a table scan — the input a cost-based planner needs to
    pick broadcast-vs-shuffle joins and pre-aggregation at 100 TB,
    where computing ``count(DISTINCT …)`` per decision is itself a
    full-table job. Sketches are mergeable (``puffin.kmv_union``), so
    incremental maintenance can sketch only NEW files and roll up.
    Defaults: every top-level primitive column; K = 4096
    (exact ≤ 4096 NDV, ~1.6% RSE beyond). Returns the metadata
    ``statistics`` entry."""
    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_reader,
        puffin,
    )

    meta, v = _load_meta(table)
    snap_id = meta.get("current-snapshot-id")
    if not snap_id or snap_id == -1:
        raise ValueError(f"{table} has no current snapshot")
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == snap_id
    )
    seq = int(snap.get("sequence-number", 0))
    fields = meta["schema"]["fields"]
    by_name = {f["name"]: f for f in fields}
    if cols is None:
        cols = [f["name"] for f in fields if isinstance(f["type"], str)]
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"column(s) {missing} not in schema")
    kk = k or puffin.DEFAULT_K
    df = iceberg_reader.read_iceberg(spark, table)
    sketches = puffin.compute_column_sketches(df, cols, kk)
    blobs = [
        {
            "type": puffin.KMV_BLOB_TYPE,
            "fields": [int(by_name[c]["id"])],
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "data": sketches[c],
            "properties": {
                # the spec's standard NDV property: readers that don't
                # decode the blob can still use the point estimate
                "ndv": str(int(round(puffin.kmv_estimate(sketches[c])))),
                "column": c,
            },
        }
        for c in cols
    ]
    md = iceberg_reader._metadata_dir(table)
    path = os.path.join(
        md, f"stats-{snap_id}-{uuid.uuid4().hex}.puffin"
    )
    footer = puffin.write_puffin(path, blobs)
    payload_len = len(json.dumps(footer).encode())
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
        "file-footer-size-in-bytes": payload_len + 16,
        "blob-metadata": footer["blobs"],
    }
    _bump_metadata_log(table, meta)
    meta["statistics"] = [
        e
        for e in meta.get("statistics") or []
        if e["snapshot-id"] != snap_id
    ] + [entry]
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)
    return entry


def column_ndv(table: str, snapshot_id: int | None = None) -> dict[str, float]:
    """{column: NDV estimate} from the snapshot's published Puffin
    statistics — a metadata read (footer properties), NO data scan
    and no blob decode. Raises when the snapshot has no statistics
    entry: a planner must know it is flying blind."""
    from dst_spark_k8_lakehouse_spark.plans import puffin

    meta, _v = _load_meta(table)
    sid = snapshot_id or meta.get("current-snapshot-id")
    entry = next(
        (
            e
            for e in meta.get("statistics") or []
            if e["snapshot-id"] == sid
        ),
        None,
    )
    if entry is None:
        raise ValueError(
            f"no statistics for snapshot {sid} at {table}; run "
            "write_table_statistics"
        )
    footer, _blobs = puffin.read_puffin(entry["statistics-path"])
    out: dict[str, float] = {}
    for b in footer["blobs"]:
        props = b.get("properties") or {}
        if b["type"] == puffin.KMV_BLOB_TYPE and "column" in props:
            out[props["column"]] = float(props["ndv"])
    return out


def default_sort_fields(meta: dict) -> list[dict]:
    """The table's default sort order resolved to
    ``[{"src", "transform", "param", "direction", "null_order"}]``
    (source-ids mapped back to column names; fields whose source
    column was dropped are skipped); [] when the default is the
    unsorted order 0."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    oid = int(meta.get("default-sort-order-id", 0))
    if oid == 0:
        return []
    by_id = {f["id"]: f["name"] for f in meta["schema"]["fields"]}
    for o in meta.get("sort-orders") or []:
        if int(o.get("order-id", 0)) == oid:
            out = []
            for f in o.get("fields", []):
                sid = int(f["source-id"])
                if sid not in by_id:
                    continue
                tname, param = tr.parse_spec_transform(f["transform"])
                out.append(
                    {
                        "src": by_id[sid],
                        "transform": tname,
                        "param": param,
                        "direction": f.get("direction", "asc"),
                        "null_order": f.get("null-order",
                                            "nulls-first"),
                    }
                )
            return out
    return []


def default_sort_columns(meta: dict) -> list[str]:
    """Source column names of the table's default sort order; [] when
    the default is the unsorted order 0."""
    return [f["src"] for f in default_sort_fields(meta)]


def split_sort_terms(s: str) -> list[str]:
    """Split a sort-order term list on TOP-LEVEL commas only, so
    ``"bucket(16, id), days(ts) DESC"`` yields two terms instead of
    three fragments (a bare ``.split(",")`` turned transform args into
    garbage terms — VERDICT r9 item on ``WRITE ORDERED BY``)."""
    terms: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced ')' in sort order {s!r}")
        if ch == "," and depth == 0:
            terms.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if depth != 0:
        raise ValueError(f"unbalanced '(' in sort order {s!r}")
    terms.append("".join(cur).strip())
    if any(not t for t in terms):
        raise ValueError(f"empty term in sort order {s!r}")
    return terms


def _sort_field_dict(term: str) -> dict:
    """One user-spelled sort term → the ``default_sort_fields`` dict
    shape, so explicit ``sort_order`` args and the table's declared
    default order flow through one rewrite path."""
    tname, src, param, direction, null_order = parse_sort_item(term)
    return {
        "src": src,
        "transform": tname,
        "param": param,
        "direction": direction,
        "null_order": null_order,
    }


def _sort_exprs(fields: list[dict], schema_fields: list[dict]) -> list:
    """Sort-field dicts → Spark sort expressions over the TRANSFORMED
    value, honoring direction and null-order (the two attributes the
    pre-r10 rewrite silently dropped)."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_transforms as tr

    types = {
        f["name"]: iceberg_reader._spark_type(f["type"])
        for f in schema_fields
        if isinstance(f["type"], str)
    }
    exprs = []
    for f in fields:
        if f["src"] not in types:
            raise ValueError(
                f"rewrite sort column(s) [{f['src']!r}] not in schema "
                f"{sorted(types)}"
            )
        c = tr.spark_transform_column(
            f["transform"], f["src"], f["param"], types[f["src"]]
        )
        order = {
            ("asc", "nulls-first"): c.asc_nulls_first,
            ("asc", "nulls-last"): c.asc_nulls_last,
            ("desc", "nulls-first"): c.desc_nulls_first,
            ("desc", "nulls-last"): c.desc_nulls_last,
        }[(f["direction"], f["null_order"])]
        exprs.append(order())
    return exprs


def rewrite_data_files(
    spark: SparkSession,
    table: str,
    sort_order: str | list[str] | None = None,
    target_files: int = 8,
) -> int:
    """Sort-aware ``rewrite_data_files`` (real Iceberg's rewrite
    action with the sort strategy): cluster the table's LIVE rows and
    commit ONE overwrite snapshot.

    ``sort_order``:
      - ``None`` → the table's default sort order (``set_sort_order``;
        raises when the table has none — an unclustered rewrite is
        ``overwrite_iceberg(read_iceberg(...).repartition(n))``, the
        maintenance job's bin-pack). The FULL declared spec is honored
        (r10): sort keys are the TRANSFORMED values (``days(ts)``,
        ``bucket(16, id)``, ``truncate(4, cat)``), with the declared
        direction and null-order — pre-r10 the rewrite sorted by the
        bare source columns ascending, so metadata promised a layout
        the data never took,
      - ``"zorder(a, b)"`` → the shared Z-ORDER kernel
        (``plans.table.zorder_cluster`` — the same engine D15/D35 use
        on the Delta side), multi-dimensional clustering,
      - ``[terms]`` / ``"term, term"`` → each term in the full
        ``set_sort_order`` spelling (``"col"``, ``"days(ts) DESC"``,
        ``"bucket(16, id) NULLS LAST"``); top-level-comma split, so
        transform arguments survive.

    Reads apply MoR deletes, so rewriting a table with live delete
    files FOLDS them (like ``compact_mor``) — the overwrite snapshot
    references only the new data manifest. Cost = one full-table
    range shuffle, the same shape as a compaction; the payoff is
    tight per-file bounds, which is what lets the D47 manifest-bounds
    tier skip files on UNPARTITIONED columns (pytest-proven on the
    Delta side since r7, now mirrored for Iceberg)."""
    import re as _re

    from dst_spark_k8_lakehouse_spark.plans.table import zorder_cluster

    meta, _v = _load_meta(table)
    fields: list[dict] = []
    zorder_cols: list[str] | None = None
    if sort_order is None:
        fields = default_sort_fields(meta)
        if not fields:
            raise ValueError(
                "no sort_order given and the table has no default "
                "sort order (set_sort_order)"
            )
    elif isinstance(sort_order, str):
        m = _re.fullmatch(r"\s*zorder\s*\((.+)\)\s*", sort_order)
        if m:
            zorder_cols = [c.strip() for c in m.group(1).split(",")]
        else:
            fields = [
                _sort_field_dict(t) for t in split_sort_terms(sort_order)
            ]
    else:
        fields = [_sort_field_dict(t) for t in sort_order]
    names = {f["name"] for f in meta["schema"]["fields"]}
    srcs = zorder_cols if zorder_cols is not None else [
        f["src"] for f in fields
    ]
    missing = sorted(set(srcs) - names)
    if missing:
        raise ValueError(
            f"rewrite sort column(s) {missing} not in schema "
            f"{sorted(names)}"
        )
    df = iceberg_reader.read_iceberg(spark, table)
    if zorder_cols is not None:
        clustered = zorder_cluster(df, zorder_cols, target_files)
    else:
        exprs = _sort_exprs(fields, meta["schema"]["fields"])
        clustered = df.repartitionByRange(
            target_files, *exprs
        ).sortWithinPartitions(*exprs)
    return overwrite_iceberg(clustered, table)


def remove_orphan_files(
    spark: SparkSession,
    table: str,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """``remove_orphan_files`` (real Iceberg's maintenance procedure,
    the complement of ``expire_snapshots``): delete files under the
    table's ``data/`` and ``metadata/`` that NO snapshot of the
    current metadata references — the leftovers of FAILED commits.
    The put-if-absent protocol makes losers harmless but not free:
    a lost race leaves its already-written data parquet, manifest and
    manifest list on disk, unreferenced (exactly what the two-process
    race test produces), and those bytes accumulate forever on a busy
    table unless something sweeps them.

    Safety rules, same as the real procedure:
    - only files STRICTLY older than ``older_than_ms`` (default: now
      minus 24 h) are candidates — an in-flight writer's staged files
      must never be swept mid-commit;
    - metadata JSON versions, the version hint and checkpoint-adjacent
      control files are never touched (time travel across metadata
      versions stays intact);
    - the CURRENT metadata's whole snapshot set is the reference root
      (every time-travelable snapshot keeps its files).

    Returns the deleted (or, with ``dry_run``, the would-be-deleted)
    absolute paths. O(files on disk + referenced files) — a metadata
    walk plus two directory listings, no data read."""
    meta, _v = _load_meta(table)
    cutoff = (
        older_than_ms if older_than_ms is not None
        else int(time.time() * 1000) - 24 * 3600 * 1000
    )
    referenced: set[str] = set()
    for s in meta.get("snapshots") or []:
        ml = iceberg_reader._strip_uri(str(s["manifest-list"]))
        referenced.add(os.path.normpath(ml))
        for mf in iceberg_reader._avro_records(spark, ml):
            m = iceberg_reader._strip_uri(str(mf.get("manifest_path")))
            referenced.add(os.path.normpath(m))
            for e in iceberg_reader._avro_records(spark, m):
                d = e.get("data_file")
                referenced.add(os.path.normpath(
                    iceberg_reader._strip_uri(str(d.get("file_path")))
                ))
    candidates: list[str] = []
    data_dir = os.path.join(table, "data")
    if os.path.isdir(data_dir):
        for root, _dirs, fs in os.walk(data_dir):
            for f in fs:
                candidates.append(os.path.join(root, f))
    md = iceberg_reader._metadata_dir(table)
    for f in os.listdir(md):
        # only Avro manifests / manifest lists are sweepable; the
        # metadata JSON chain and version hint are control files
        if f.endswith(".avro"):
            candidates.append(os.path.join(md, f))
    doomed = []
    for p in sorted(candidates):
        if os.path.normpath(p) in referenced:
            continue
        try:
            mtime_ms = int(os.path.getmtime(p) * 1000)
        except OSError:
            continue  # vanished mid-walk: someone else's problem
        if mtime_ms >= cutoff:
            continue  # too fresh: possibly an in-flight commit
        doomed.append(p)
    if not dry_run:
        for p in doomed:
            try:
                os.unlink(p)
            except OSError:
                pass
    return doomed


def set_properties(table: str, props: dict[str, str]) -> None:
    """``ALTER TABLE t SET TBLPROPERTIES (…)`` (Iceberg side) — merge
    into the metadata ``properties`` map, one metadata-only commit.
    The spec's behavior knobs (``write.metadata.previous-versions-max``
    and friends) live here; maintenance reads them per run."""
    meta, v = _load_meta(table)
    meta["properties"] = {
        **(meta.get("properties") or {}),
        **{str(k): str(v2) for k, v2 in props.items()},
    }
    _bump_metadata_log(table, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)


def expire_metadata_versions(
    table: str, keep_last: int = 10, dry_run: bool = False
) -> list[str]:
    """The spec's ``write.metadata.previous-versions-max`` behavior:
    delete ``v{K}.metadata.json`` files older than the newest
    ``keep_last`` and trim their ``metadata-log`` entries (one new
    metadata commit). Snapshot TIME TRAVEL is unaffected — snapshots
    live in the CURRENT metadata; old metadata versions only matter
    for metadata-level archaeology, and on a busy table (one JSON per
    commit, forever) they are the one metadata surface nothing else
    bounds. Returns the deleted (or to-be-deleted) paths."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    import re as _re

    meta, v = _load_meta(table)
    md = iceberg_reader._metadata_dir(table)
    versions = sorted(
        int(m.group(1))
        for f in os.listdir(md)
        if (m := _re.match(r"v(\d+)\.metadata\.json$", f))
    )
    # the about-to-be-written v+1 counts toward keep_last
    doomed_v = [k for k in versions if k <= v + 1 - keep_last]
    doomed = [os.path.join(md, f"v{k}.metadata.json") for k in doomed_v]
    if dry_run or not doomed:
        return doomed
    keep_files = {
        os.path.normpath(os.path.join(md, f"v{k}.metadata.json"))
        for k in versions if k not in doomed_v
    }
    _bump_metadata_log(table, meta)
    meta["metadata-log"] = [
        e for e in meta.get("metadata-log") or []
        if os.path.normpath(
            iceberg_reader._strip_uri(str(e.get("metadata-file")))
        ) in keep_files
    ]
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(table, meta, v + 1)
    for p in doomed:
        try:
            os.unlink(p)
        except OSError:
            pass
    return doomed

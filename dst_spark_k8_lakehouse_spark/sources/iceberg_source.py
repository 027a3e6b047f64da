"""``format("iceberg_native")`` — Spark 4 Python DataSource over the
jar-free native Iceberg stack: batch reads (snapshot time travel via
``.option("snapshotId", …)``), micro-batch STREAMING reads
(snapshot-id offsets over an append-only history; overwrite/DML
snapshots and expired resume offsets raise rather than dropping
rows), and batch WRITES (``mode("append"|"overwrite")`` — executors
write field-id-stamped parquet, the driver publishes one snapshot
with put-if-absent metadata commit).

Planning is pure Python end to end: metadata JSON + Avro manifests
decode through ``plans/avro_codec`` (no JVM, no SparkSession), so the
source can enumerate live files and their typed identity-partition
values at plan time. Execution mirrors ``delta_source``: one
``InputPartition`` per data file, executor-side pyarrow reads yielding
Arrow RecordBatches, columns resolved BY EMBEDDED PARQUET FIELD ID
against the current schema (renamed columns read correctly; id-less
files fall back to name matching and raise on a mismatch rather than
nulling a column). ``pushFilters`` prunes the file list on partition
``EqualTo``/``In`` from the manifests' partition records.

v2 MERGE-ON-READ tables read correctly: position-delete files resolve
at PLANNING time into per-file row masks, equality-delete files into
per-file key-tuple sets (both under the spec's sequence rules), and
each executor task applies its own file's mask — delete sets are
matched-rows-sized, so the planning cost is metadata-class.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from dst_spark_k8_lakehouse_spark.plans import avro_codec, iceberg_reader


def _load_meta(path: str) -> dict:
    with open(iceberg_reader._current_metadata_file(path)) as fh:
        meta = json.load(fh)
    if int(meta.get("format-version", 1)) > 2:
        raise NotImplementedError(
            f"Iceberg format-version {meta['format-version']} > 2"
        )
    return meta


def _current_schema(meta: dict) -> dict:
    for s in meta.get("schemas", []):
        if s.get("schema-id") == meta.get("current-schema-id"):
            return s
    return meta["schema"]


def _live_entries(
    meta: dict,
    snapshot_id: int | None,
    partition_filter=None,
    manifest_keep=None,
) -> list[dict]:
    """(file_path, partition values[, deleted positions]) per live
    data file — pure-Python manifest walk via the reader's shared
    ``_snapshot_entries``. v2 POSITION deletes are resolved here at
    planning time (delete files are matched-rows-sized; pyarrow read,
    sequence rule applied) and ride into each file's partition as an
    executor-side row mask; EQUALITY deletes need value comparisons
    and raise toward ``read_iceberg``, which applies them.

    ``partition_filter`` / ``manifest_keep`` are the two pruning tiers
    ``pushFilters`` compiles (r8): files prune on partition records,
    WHOLE MANIFESTS prune on the manifest-list partition summaries
    before being Avro-decoded — and delete resolution then runs only
    over the surviving data files."""
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = int(meta["current-snapshot-id"])
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not in table (has {sorted(snaps)[:5]}…)"
        )
    from dst_spark_k8_lakehouse_spark.plans import iceberg_writer

    spec_fields = iceberg_reader._default_spec_fields(meta)
    data, pos_dels, eq_dels = iceberg_reader._snapshot_entries(
        None, snaps[snapshot_id], spec_fields,
        partition_filter=partition_filter,
        specs_by_id=iceberg_writer._specs_by_id(meta),
        manifest_keep=manifest_keep,
    )
    # EQUALITY deletes: per data file, the applicable delete rows are
    # the ones STRICTLY NEWER than the file (spec rule); resolved at
    # planning into (key columns, key tuples) the executor masks with.
    eq_per_file: dict[str, tuple[list[str], list[tuple]]] = {}
    if eq_dels:
        import os as _os2

        import pyarrow.parquet as _pq

        sch = _current_schema(meta)
        by_id = {int(f["id"]): f["name"] for f in sch["fields"]}
        groups: dict[tuple, list[dict]] = {}
        for de in eq_dels:
            groups.setdefault(de["equality_ids"], []).append(de)
        for e in data:
            key = _os2.path.normpath(e["path"])
            for ids_t, dels in groups.items():
                missing = [i for i in ids_t if i not in by_id]
                if missing:
                    raise ValueError(
                        f"equality_ids {missing} not in the current "
                        "schema"
                    )
                cols = [by_id[i] for i in ids_t]
                rows: list[tuple] = []
                for de in dels:
                    if de["seq"] > e["seq"]:
                        t = _pq.read_table(de["path"], columns=cols)
                        rows += list(
                            zip(*[t.column(c).to_pylist() for c in cols])
                        )
                if rows:
                    prev = eq_per_file.get(key)
                    if prev and prev[0] != cols:
                        raise NotImplementedError(
                            "multiple equality-id sets on one file: "
                            "use plans.iceberg_reader.read_iceberg"
                        )
                    eq_per_file[key] = (
                        cols, (prev[1] if prev else []) + rows
                    )
    deleted: dict[str, set[int]] = {}
    if pos_dels:
        import os

        import pyarrow.parquet as pq

        by_norm = {os.path.normpath(e["path"]): e for e in data}
        for de in pos_dels:
            t = pq.read_table(
                de["path"], columns=["file_path", "pos"]
            )
            for f, p in zip(
                t.column("file_path").to_pylist(),
                t.column("pos").to_pylist(),
            ):
                key = os.path.normpath(
                    iceberg_reader._strip_uri(str(f))
                )
                e = by_norm.get(key)
                # spec: a position delete applies to data written at
                # or before its sequence number
                if e is not None and de["seq"] >= e["seq"]:
                    deleted.setdefault(key, set()).add(int(p))
    import os as _os

    return [
        {
            "path": e["path"],
            "pv": e["pv"],
            "positions": sorted(
                deleted.get(_os.path.normpath(e["path"]), ())
            ) or None,
            "eq_drop": eq_per_file.get(_os.path.normpath(e["path"])),
        }
        for e in data
    ]


@dataclass
class _IcePartition(InputPartition):
    path: str
    # [(field id, logical name)] in schema order
    ids: list = field(default_factory=list)
    schema_json: str = ""
    # v2 position-delete row indexes of THIS file (None = none);
    # applied executor-side as a row mask
    positions: list | None = None
    # v2 equality deletes applicable to THIS file:
    # (key column names, list of key tuples) or None
    eq_drop: tuple | None = None


def _read_ice_partition(p: _IcePartition) -> Iterator[Any]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    logical = T.StructType.fromJson(json.loads(p.schema_json))
    target = to_arrow_schema(logical)
    tbl = pq.read_table(p.path)
    by_id: dict[int, str] = {}
    for f in tbl.schema:
        md = f.metadata or {}
        if b"PARQUET:field_id" in md:
            by_id[int(md[b"PARQUET:field_id"])] = f.name
    cols = {}
    n = tbl.num_rows
    for fid, logi in p.ids:
        if by_id:
            # id resolution: a missing id = column added after this
            # file was written → typed nulls
            src = by_id.get(fid)
        elif logi in tbl.schema.names:
            src = logi  # id-less external file, name match
        else:
            raise NotImplementedError(
                f"column {logi!r} absent from id-less data file "
                f"{p.path} — a name-matched read would silently null "
                "a renamed column"
            )
        if src is not None:
            cols[logi] = tbl.column(src)
        else:
            cols[logi] = pa.nulls(n, type=target.field(logi).type)
    out = pa.table(cols).cast(target)
    if p.positions:
        import numpy as np

        mask = np.ones(n, dtype=bool)
        mask[p.positions] = False
        out = out.filter(pa.array(mask))
    if p.eq_drop:
        key_cols, key_rows = p.eq_drop
        drop = set(key_rows)
        keep = [
            i for i, row in enumerate(
                zip(*[out.column(c).to_pylist() for c in key_cols])
            )
            if row not in drop
        ]
        # explicit index type: an all-dropped file's empty list would
        # otherwise infer null and crash the take kernel
        out = out.take(pa.array(keep, type=pa.int64()))
    yield from out.to_batches()


class _IceReader(DataSourceReader):
    """Planning is LAZY (r8): the manifest walk runs at
    ``partitions()`` time, AFTER Catalyst has pushed its filters — so
    the manifest-list partition summaries can prune whole manifests
    before they are Avro-decoded, the same tier ``read_iceberg``
    got this round. Eager decoding at ``__init__`` would have paid the
    full metadata walk before the first filter arrived."""

    def __init__(self, table: str, snapshot_id: int | None) -> None:
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms as _tr,
            iceberg_writer as _iw,
        )

        meta = _load_meta(table)
        self.meta = meta
        self.snapshot_id = snapshot_id
        self.schema_dict = _current_schema(meta)
        self.schema = iceberg_reader._schema_struct(self.schema_dict)
        self.spec_fields = iceberg_reader._default_spec_fields(meta)
        self.part_names = [sf["name"] for sf in self.spec_fields]
        by_id = {f["id"]: f for f in self.schema_dict["fields"]}
        self.source_names = {
            by_id[sf["source-id"]]["name"] for sf in self.spec_fields
        }
        # result type per partition field: Catalyst's typed literals
        # normalize into the pv domain through these (identity-date
        # pvs are epoch-day ints, not date objects)
        try:
            self._rts = dict(zip(
                self.part_names, _iw._spec_result_types(meta)
            ))
        except NotImplementedError:
            self._rts = {}
        self._to_pv = _tr.to_pv_domain
        self._pv_wants: dict[str, set] = {}
        self._predicates: list[tuple[str, str, Any]] = []
        self._entries: list[dict] | None = None

    def pushFilters(self, filters):  # noqa: N802
        """Collect Catalyst's pushed filters for the lazy plan: direct
        equality/IN on a partition-field NAME (identity values,
        normalized into the pv domain), plus the r7 hidden-partition
        path — comparisons on a transform's SOURCE column map through
        the transform (``iceberg_transforms.partition_predicate``): a
        ``ts`` range on a ``days(ts)`` table prunes to the matching
        days' files with no user-facing API at all, exactly like the
        runtime jar. Every filter is returned as remaining (Spark
        re-applies it; pruning is a superset, so that is required for
        boundary partitions, and harmless otherwise)."""
        _OPS = {
            EqualTo: "==", In: "in", GreaterThan: ">",
            GreaterThanOrEqual: ">=", LessThan: "<",
            LessThanOrEqual: "<=",
        }
        remaining = []
        for f in filters:
            if type(f) in _OPS and len(f.attribute) == 1:
                col = f.attribute[0]
                if col in self.part_names and isinstance(
                    f, (EqualTo, In)
                ):
                    rt = self._rts.get(col, "")
                    wanted = {
                        self._to_pv(v, rt)
                        for v in (f.value if isinstance(f, In)
                                  else [f.value])
                    }
                    prev = self._pv_wants.get(col)
                    self._pv_wants[col] = (
                        wanted if prev is None else prev & wanted
                    )
                elif col in self.source_names:
                    predicates = self._predicates
                    predicates.append((col, _OPS[type(f)], f.value))
            remaining.append(f)
        self._entries = None  # new filters invalidate a resolved plan
        return iter(remaining)

    @property
    def entries(self) -> list[dict]:
        if self._entries is None:
            from dst_spark_k8_lakehouse_spark.plans import (
                iceberg_transforms as _tr,
            )

            preds = list(self._predicates)
            wants = dict(self._pv_wants)
            file_pred = (
                _tr.partition_predicate(
                    self.spec_fields, self.schema_dict["fields"], preds
                )
                if preds else None
            )

            def pv_pass(pv: dict) -> bool:
                # the shared dict semantics (missing key = older-spec
                # file, keep) live in iceberg_reader._pv_pass — one
                # source of truth for both faces
                if wants and not iceberg_reader._pv_pass(pv, wants):
                    return False
                return file_pred(pv) if file_pred is not None else True

            partition_filter = pv_pass if (wants or preds) else None
            manifest_keep = (
                _tr.manifest_summary_predicate(
                    self.schema_dict["fields"], preds, wants
                )
                if (wants or preds) else None
            )
            self._entries = _live_entries(
                self.meta, self.snapshot_id,
                partition_filter=partition_filter,
                manifest_keep=manifest_keep,
            )
        return self._entries

    def partitions(self):
        ids = [
            (int(fl["id"]), fl["name"])
            for fl in self.schema_dict["fields"]
        ]
        return [
            _IcePartition(
                path=e["path"],
                ids=ids,
                schema_json=self.schema.json(),
                positions=e.get("positions"),
                eq_drop=e.get("eq_drop"),
            )
            for e in self.entries
        ]

    def read(self, partition: _IcePartition):
        return _read_ice_partition(partition)


class _IceStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over an append-only snapshot history:
    offsets are SNAPSHOT IDS (not list ordinals — ``expire_snapshots``
    truncates the front of the list). Each batch emits the files the
    in-range snapshots ADDED (manifest entries with status 1 belonging
    to that snapshot); an overwrite/DML snapshot in range raises the
    append-only contract, and a start offset whose snapshot was
    expired raises rather than silently skipping rows — both mirror
    ``delta_source``'s stream semantics."""

    def __init__(self, table: str) -> None:
        self.table = table
        meta = _load_meta(table)
        self.schema_dict = _current_schema(meta)
        self.schema = iceberg_reader._schema_struct(self.schema_dict)

    def initialOffset(self):  # noqa: N802
        return {"snapshot_id": -1}

    def latestOffset(self):  # noqa: N802
        meta = _load_meta(self.table)
        cur = meta.get("current-snapshot-id")
        return {"snapshot_id": int(cur) if cur is not None else -1}

    def _range(self, start_id: int, end_id: int) -> list[dict]:
        meta = _load_meta(self.table)
        snaps = meta.get("snapshots") or []
        ids = [int(s["snapshot-id"]) for s in snaps]
        if end_id == -1 or end_id == start_id:
            return []
        lo = 0
        if start_id != -1:
            if start_id not in ids:
                raise ValueError(
                    f"snapshot {start_id} of {self.table} was expired; "
                    "this stream cannot resume exactly — restart it "
                    "from a fresh checkpoint"
                )
            lo = ids.index(start_id) + 1
        return snaps[lo: ids.index(end_id) + 1]

    def partitions(self, start, end):
        out = []
        ids_cols = [
            (int(fl["id"]), fl["name"])
            for fl in self.schema_dict["fields"]
        ]
        for snap in self._range(
            int(start["snapshot_id"]), int(end["snapshot_id"])
        ):
            op = (snap.get("summary") or {}).get("operation")
            if op != "append":
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} of {self.table} is "
                    f"a {op!r} (overwrite/DML); the iceberg_native "
                    "stream supports append-only history"
                )
            snap_id = int(snap["snapshot-id"])
            mlist = iceberg_reader._strip_uri(snap["manifest-list"])
            for mf in avro_codec.read_avro_file(mlist):
                if int(mf.get("added_snapshot_id") or -1) != snap_id:
                    continue
                manifest = iceberg_reader._strip_uri(
                    str(mf["manifest_path"])
                )
                for e in avro_codec.read_avro_file(manifest):
                    if int(e["status"]) != 1:
                        continue
                    if int(e.get("snapshot_id") or snap_id) != snap_id:
                        continue
                    d = e["data_file"]
                    out.append(
                        _IcePartition(
                            path=iceberg_reader._strip_uri(
                                str(d["file_path"])
                            ),
                            ids=ids_cols,
                            schema_json=self.schema.json(),
                        )
                    )
        return out

    def read(self, partition: _IcePartition):
        return _read_ice_partition(partition)

    def commit(self, end) -> None:
        pass


@dataclass
class _IceWriteMessage(WriterCommitMessage):
    files: list = field(default_factory=list)  # (path, rows, size, pv)


class _IceWriter(DataSourceArrowWriter):
    """Batch writes through the DataSource: executors write parquet
    files with EMBEDDED FIELD IDS (the property every other part of
    the stack relies on) straight under ``data/`` and report
    (path, row count, size, typed partition values); the driver
    publishes ONE snapshot — new manifest + manifest list + metadata
    version via put-if-absent, with lost-race retry. Append carries
    the previous snapshot's manifests; overwrite references only the
    new one (prior snapshots stay time-travellable). Abort deletes
    the written files."""

    def __init__(self, table: str, overwrite: bool,
                 df_schema: T.StructType,
                 lineage_dir: str | None = None) -> None:
        self.table = table
        self.overwrite = overwrite
        # .option("lineagedir", …): commit() runs in Spark's
        # Python-runner process, invisible to the session's in-process
        # lineage.watch_commits registry — the sink location travels
        # with the write options
        self.lineage_dir = lineage_dir
        meta = _load_meta(table)
        schema_dict = _current_schema(meta)
        expected = [f["name"] for f in schema_dict["fields"]]
        if sorted(df_schema.fieldNames()) != sorted(expected):
            raise ValueError(
                f"write schema {df_schema.fieldNames()} != table "
                f"schema {expected}"
            )
        self.order = expected
        self.field_ids = {
            f["name"]: int(f["id"]) for f in schema_dict["fields"]
        }
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms,
            iceberg_writer,
        )

        spec = iceberg_writer._spec_fields(meta)
        by_id = {f["id"]: f for f in schema_dict["fields"]}
        # (partition field name, transform, param, source col,
        #  source type, RESULT type) — hidden-partition specs group
        # and record by the TRANSFORMED value
        self.spec_info = []
        for sf in spec:
            tname, param = iceberg_transforms.parse_spec_transform(
                sf["transform"]
            )
            src = by_id[sf["source-id"]]
            self.spec_info.append(
                (
                    sf["name"], tname, param, src["name"], src["type"],
                    iceberg_transforms.result_type(
                        tname, src["type"], src["name"]
                    ),
                )
            )
        if spec:
            iceberg_writer._partition_avro_fields(meta)  # validate

    def write(self, batches) -> _IceWriteMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        blist = list(batches)
        if not blist:
            return _IceWriteMessage(files=[])
        tbl = pa.Table.from_batches(blist).select(self.order)
        # stamp field ids into the arrow schema so pyarrow writes
        # PARQUET:field_id into the footers
        fields = [
            tbl.schema.field(i).with_metadata(
                {b"PARQUET:field_id": str(
                    self.field_ids[tbl.schema.field(i).name]
                ).encode()}
            )
            for i in range(len(tbl.schema))
        ]
        tbl = tbl.cast(pa.schema(fields))
        data = os.path.join(self.table, "data")
        os.makedirs(data, exist_ok=True)
        if self.spec_info:
            from dst_spark_k8_lakehouse_spark.plans import (
                iceberg_transforms,
            )

            # group rows by the TRANSFORMED partition values: one
            # temp key column per spec field (identity is the trivial
            # transform), so days(ts)/bucket specs write one file per
            # PARTITION, not one per distinct source value
            keyed = tbl
            key_names = []
            for name, tname, param, src, stype, _rt in self.spec_info:
                t = iceberg_transforms.py_transform(tname, param, stype)
                vals = [t(v) for v in tbl.column(src).to_pylist()]
                kn = f"__pv_{name}"
                keyed = keyed.append_column(kn, pa.array(vals))
                key_names.append(kn)
            combos = (
                keyed.select(key_names)
                .group_by(key_names)
                .aggregate([])
                .to_pylist()
            )
        else:
            keyed, key_names, combos = tbl, [], [{}]
        files = []
        for combo in combos:
            part = keyed
            if combo:
                import pyarrow.compute as pc

                mask = None
                for c, v in combo.items():
                    m = (
                        pc.is_null(part.column(c))
                        if v is None
                        else pc.equal(part.column(c), pa.scalar(v))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                part = part.filter(mask)
            part = part.drop_columns(key_names) if key_names else part
            dst = os.path.join(data, f"{uuid.uuid4().hex}.parquet")
            pq.write_table(part, dst, compression="snappy")
            pv = {
                name: _avro_partition_value(
                    combo.get(f"__pv_{name}"), rt
                )
                for name, _t, _p, _s, _st, rt in self.spec_info
            }
            files.append(
                (dst, part.num_rows, os.path.getsize(dst), pv)
            )
        return _IceWriteMessage(files=files)

    def _all_files(self, messages) -> list:
        return [f for m in messages if m is not None for f in m.files]

    def commit(self, messages) -> None:
        from dst_spark_k8_lakehouse_spark import lineage

        with lineage.commit_watch(self.lineage_dir):
            self._commit_files(messages)

    def _commit_files(self, messages) -> None:
        import time
        import uuid

        from dst_spark_k8_lakehouse_spark.plans import (
            avro_codec,
            iceberg_writer,
        )

        files = self._all_files(messages)
        for _ in range(10):
            meta, v = iceberg_writer._load_meta(self.table)
            spec = iceberg_writer._spec_fields(meta)
            mschema = (
                iceberg_writer.manifest_schema(
                    iceberg_writer._partition_avro_fields(meta)
                )
                if spec
                else iceberg_writer.MANIFEST_SCHEMA
            )
            md = iceberg_reader._metadata_dir(self.table)
            snap_id = int(time.time() * 1000) * 1000 + v + 1
            manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
            def _entry(p, n, sz, pv):
                # one footer parse per file; bounds feed data skipping
                lo, hi = iceberg_writer._file_bounds(p, meta)
                return {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": pv,
                        "record_count": int(n),
                        "file_size_in_bytes": int(sz),
                        "lower_bounds": lo or None,
                        "upper_bounds": hi or None,
                    },
                }

            mrows = [_entry(p, n, sz, pv) for p, n, sz, pv in files]
            avro_codec.write_avro_file(manifest, mschema, mrows)
            entries = (
                []
                if self.overwrite
                else iceberg_writer._prev_manifests(None, meta)
            )
            entries.append(
                {
                    "manifest_path": manifest,
                    "manifest_length": os.path.getsize(manifest),
                    "partition_spec_id": int(
                        meta.get("default-spec-id", 0)
                    ),
                    "added_snapshot_id": snap_id,
                    # manifest-level pruning summaries (spec f-id 507)
                    "partitions": iceberg_writer.partition_summaries(
                        meta, mrows
                    ),
                }
            )
            mlist = iceberg_writer.manifest_list_path(md, snap_id)
            avro_codec.write_avro_file(
                mlist, iceberg_writer.MANIFEST_LIST_SCHEMA, entries
            )
            iceberg_writer._bump_metadata_log(self.table, meta)
            iceberg_writer._register_snapshot(
                meta,
                snap_id,
                mlist,
                {
                    "operation": "overwrite" if self.overwrite
                    else "append",
                    "added-data-files": str(len(files)),
                    "added-records": str(sum(n for _, n, _, _ in files)),
                },
            )
            try:
                iceberg_writer._commit_metadata(self.table, meta, v + 1)
                return
            except FileExistsError:
                continue
        raise RuntimeError(
            f"write to {self.table} lost too many commit races"
        )

    def abort(self, messages) -> None:
        for p, _n, _sz, _pv in self._all_files(messages):
            try:
                os.unlink(p)
            except OSError:
                pass


def _avro_partition_value(v: Any, iceberg_type: str) -> Any:
    """Arrow group value → the manifest partition record's Avro value
    (dates become epoch days per the logical type)."""
    if v is None:
        return None
    import datetime

    if iceberg_type == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return v


class IcebergNativeDataSource(DataSource):
    """``spark.dataSource.register(IcebergNativeDataSource)`` then
    ``spark.read.format("iceberg_native").load(path)`` (optionally
    ``.option("snapshotId", id)``)."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_native"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("iceberg_native needs .load(<table path>)")
        return path

    def schema(self) -> T.StructType:
        return iceberg_reader._schema_struct(
            _current_schema(_load_meta(self._path()))
        )

    def reader(self, schema: T.StructType) -> _IceReader:
        sid = self.options.get("snapshotid")
        # .option("ref"/"branch", name): read a named ref's head —
        # the AUDIT read of the WAP flow through the DataSource face
        ref = self.options.get("ref") or self.options.get("branch")
        if ref is not None:
            if sid is not None:
                raise ValueError("pass snapshotId OR ref, not both")
            refs = _load_meta(self._path()).get("refs") or {}
            if ref not in refs:
                raise ValueError(
                    f"ref {ref!r} not in table (has {sorted(refs)})"
                )
            sid = refs[ref]["snapshot-id"]
        return _IceReader(
            self._path(), int(sid) if sid is not None else None
        )

    def streamReader(self, schema: T.StructType) -> _IceStreamReader:  # noqa: N802
        return _IceStreamReader(self._path())

    def writer(self, schema: T.StructType, overwrite: bool) -> _IceWriter:
        return _IceWriter(
            self._path(), overwrite, schema,
            self.options.get("lineagedir"),
        )


def register(spark) -> None:
    from dst_spark_k8_lakehouse_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcebergNativeDataSource)

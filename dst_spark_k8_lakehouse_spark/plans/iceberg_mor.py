"""MERGE-ON-READ row-level deletes on NATIVE Iceberg v2 tables —
jar-free, per the public Iceberg spec's delete-file formats.

Copy-on-write DML (``plans/iceberg_dml``) rewrites every file that
contains a matching row — cost proportional to TOUCHED BYTES. At
100 TB a one-row delete in each of 10k files rewrites 10k files.
Merge-on-read is the production answer real engines use for that
shape (Iceberg 1.9 ``write.delete.mode=merge-on-read``, the runtime
the reference loads via ``scripts/download-jars.sh:84-85``): the
delete commit writes only DELETE FILES — cost proportional to
MATCHED ROWS — and readers subtract them at scan time
(``iceberg_reader._apply_deletes``).

Two delete-file kinds, both parquet, both per the spec:

- POSITION deletes (``content=1``): rows ``(file_path, pos)`` naming
  the exact row ordinals to drop, sorted by (file_path, pos), columns
  stamped with the spec's reserved field ids 2147483546/2147483545.
  Produced here from a WHERE condition (``delete_where_mor``) — one
  scan resolves matching rows to their ``_metadata.file_path`` /
  ``_metadata.row_index`` identities.
- EQUALITY deletes (``content=2``): rows of key values; a data row is
  deleted when it equals any delete row on the ``equality_ids``
  columns AND is STRICTLY OLDER (data seq < delete seq) — so a later
  re-insert of the same key survives. Produced from a keys DataFrame
  (``delete_keys_mor``) — the CDC/upsert shape streaming writers use:
  the commit never scans the table at all, O(keys) regardless of
  table size.

Sequence numbers order applicability: every v2 commit advances the
table's ``last-sequence-number`` and the manifests inherit it
(``iceberg_writer._next_seq`` / ``_mlist_entry``). ``compact_mor``
folds accumulated delete files back into plain data files (one
copy-on-write "replace" snapshot) — the maintenance step that bounds
read-side anti-join work, after which copy-on-write DML applies again.

Scale: the delete commit is one filter scan plus a matched-rows-sized
write (position) or a table-untouched keys write (equality); the
read-side cost is an anti-join keyed on the delete set, broadcast by
AQE while small. All metadata stays driver-side KB-scale Avro.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import iceberg_reader, iceberg_writer

# spec-reserved field ids for position-delete columns
_POS_FILE_ID = 2147483546
_POS_POS_ID = 2147483545


def _require_v2(meta: dict, table: str) -> None:
    if iceberg_writer._fmt(meta) < 2:
        raise ValueError(
            f"{table} is format-version 1; merge-on-read deletes need "
            "v2 — run iceberg_writer.upgrade_to_v2(table) first"
        )


def _null_partition(meta: dict) -> dict:
    """All-null partition record for delete-manifest entries (our
    delete files are spec-global: they apply across partitions)."""
    return {
        sf["name"]: None for sf in iceberg_writer._spec_fields(meta)
    }


def _write_delete_files(
    df: DataFrame, table: str, field_ids: dict[str, int]
) -> list[tuple[str, int, int]]:
    """Write ``df`` as parquet delete files under ``data/`` with each
    column stamped with its Iceberg field id (reserved ids for
    position deletes; the source columns' ids for equality deletes).
    Returns (abs_path, record_count, size_bytes) per file."""
    import shutil

    import pyarrow.parquet as pq

    df = df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": field_ids[c]})
            for c in df.columns
        ]
    )
    data = os.path.join(table, "data")
    os.makedirs(data, exist_ok=True)
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    df.write.parquet(staging)
    out = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        dst = os.path.join(data, f"{uuid.uuid4().hex}-deletes.parquet")
        os.replace(os.path.join(staging, f), dst)
        out.append(
            (dst, pq.ParquetFile(dst).metadata.num_rows,
             os.path.getsize(dst))
        )
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _delete_commit(
    spark: SparkSession,
    table: str,
    meta: dict,
    version: int,
    files: list[tuple[str, int, int]],
    content: int,
    equality_ids: list[int] | None,
    summary_op: str,
    extra_data_files: list[dict] | None = None,
) -> int:
    """Publish one delete snapshot: a new delete manifest (ADDED
    entries, ``data_file.content`` 1 or 2) alongside ALL carried-
    forward prior manifests, at a fresh sequence number."""
    import time

    md = iceberg_reader._metadata_dir(table)
    snap_id = int(time.time() * 1000) * 1000 + version
    seq = iceberg_writer._next_seq(meta)
    pv = _null_partition(meta)
    data_files = [
        {
            "content": content,
            "file_path": p,
            "file_format": "PARQUET",
            "partition": pv,
            "record_count": int(n),
            "file_size_in_bytes": int(sz),
            "equality_ids": equality_ids,
        }
        for p, n, sz in files
    ] if files else []
    for dfd in (extra_data_files or []):
        data_files.append({"partition": pv, **dfd})
    entries = [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": None,  # inherit: this commit's seq
            "file_sequence_number": None,
            "data_file": dfd,
        }
        for dfd in data_files
    ]
    mschema = iceberg_writer.manifest_schema(
        iceberg_writer._partition_avro_fields(meta)
        if iceberg_writer._spec_fields(meta)
        else None,
        fmt=2,
    )
    manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
    iceberg_writer.write_avro(spark, manifest, mschema, entries)
    mlist_entries = iceberg_writer._prev_manifests(spark, meta)
    mlist_entries.append(
        iceberg_writer._mlist_entry(
            meta, manifest, snap_id, seq, content, entries
        )
    )
    mlist = iceberg_writer.manifest_list_path(md, snap_id)
    iceberg_writer.write_avro(
        spark, mlist, iceberg_writer.mlist_schema(meta), mlist_entries
    )
    iceberg_writer._bump_metadata_log(table, meta)
    iceberg_writer._register_snapshot(
        meta,
        snap_id,
        mlist,
        {
            "operation": summary_op,
            "added-delete-files": str(len(data_files)),
            "added-position-deletes" if content == 1
            else "added-equality-deletes": str(
                sum(int(d["record_count"]) for d in data_files)
            ),
        },
    )
    iceberg_writer._commit_metadata(table, meta, version)
    return snap_id


def delete_where_mor(
    spark: SparkSession, table: str, condition: str
) -> int:
    """``DELETE FROM table WHERE condition`` as a POSITION-DELETE
    commit: one scan resolves the currently-visible matching rows
    (existing deletes already applied, so a twice-deleted row is not
    re-recorded) to ``(file_path, pos)`` pairs, written sorted by
    (file_path, pos) as the spec requires. No data file is rewritten.
    Returns the new snapshot id, or the current one on a no-match
    no-op."""
    meta, v = iceberg_writer._load_meta(table)
    _require_v2(meta, table)
    cur = meta.get("current-snapshot-id")
    if not cur or int(cur) == -1:
        return int(cur or -1)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    data, pos_dels, eq_dels = iceberg_reader._snapshot_entries(
        spark, snaps[int(cur)], iceberg_writer._spec_fields(meta)
    )
    if not data:
        return int(cur)
    schema = meta["schema"]
    df = iceberg_reader.read_data_files(
        spark, [e["path"] for e in data], schema
    )
    norm = F.expr(
        iceberg_reader._NORM_FILE.format(col="_metadata.file_path")
    )
    df = df.withColumn("__mor_file", norm).withColumn(
        "__mor_pos", F.col("_metadata.row_index")
    )
    if pos_dels or eq_dels:
        # subtract already-deleted rows so the new delete file stays
        # minimal; identity columns were added BEFORE the apply, and
        # _apply_deletes only drops its own helper columns
        df = iceberg_reader._apply_deletes(
            spark, df, data, pos_dels, eq_dels, schema
        )
    matched = (
        df.where(condition)
        .select(
            F.col("__mor_file").alias("file_path"),
            F.col("__mor_pos").alias("pos"),
        )
        .repartitionByRange("file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
    )
    files = _write_delete_files(
        matched, table, {"file_path": _POS_FILE_ID, "pos": _POS_POS_ID}
    )
    if not any(n for _, n, _ in files):
        for p, _, _ in files:
            os.unlink(p)
        return int(cur)
    files = [(p, n, sz) for p, n, sz in files if n]
    return _delete_commit(
        spark, table, meta, v + 1, files, 1, None, "delete"
    )


def delete_where_dv(
    spark: SparkSession, table: str, condition: str
) -> int:
    """``DELETE FROM table WHERE condition`` as ICEBERG v3-STYLE
    DELETION VECTORS: matched rows resolve to per-file row positions,
    each touched file's positions compress EXECUTOR-side into a
    portable-roaring64 bitmap (positions never leave the executors as
    rows — only KB-scale blobs reach the driver), and ONE Puffin file
    carries one ``deletion-vector-v1`` blob per touched data file.
    The delete manifest entries are position deletes whose
    ``file_format`` is PUFFIN with the spec's v3 reference fields
    (``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes``, ids 143-145).

    Honesty note: the TABLE stays format-version 2 — full v3
    (row lineage, ``next-row-id``) is out of scope; what is exact
    here is the Puffin container, the blob framing (length/magic/
    CRC), and the portable roaring64 serialization
    (org.roaringbitmap-conformance-tested). Existing deletes are
    subtracted before matching, so re-deletes never re-record.

    WHY vs parquet position deletes at 100 TB: one blob per (commit,
    data file) with the target named in METADATA — the reader applies
    a file's DV without scanning delete files for matches, and the
    blob is ~100× smaller than the equivalent (file_path, pos)
    parquet rows. Returns the new snapshot id (current id on a
    no-match no-op)."""
    import pandas as pd  # noqa: F401 — executor-side dependency

    meta, v = iceberg_writer._load_meta(table)
    _require_v2(meta, table)
    cur = meta.get("current-snapshot-id")
    if not cur or int(cur) == -1:
        return int(cur or -1)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    data, pos_dels, eq_dels = iceberg_reader._snapshot_entries(
        spark, snaps[int(cur)], iceberg_writer._spec_fields(meta)
    )
    if not data:
        return int(cur)
    schema = meta["schema"]
    df = iceberg_reader.read_data_files(
        spark, [e["path"] for e in data], schema
    )
    norm = F.expr(
        iceberg_reader._NORM_FILE.format(col="_metadata.file_path")
    )
    df = df.withColumn("__mor_file", norm).withColumn(
        "__mor_pos", F.col("_metadata.row_index")
    )
    if pos_dels or eq_dels:
        df = iceberg_reader._apply_deletes(
            spark, df, data, pos_dels, eq_dels, schema
        )

    def _build(pdf):
        import pandas as pd

        from dst_spark_k8_lakehouse_spark.plans import puffin as _pf

        f = pdf["f"].iloc[0]
        positions = sorted(int(p) for p in pdf["p"].tolist())
        return pd.DataFrame(
            {
                "f": [f],
                "blob": [_pf.dv_blob_encode(positions)],
                "card": [len(positions)],
            }
        )

    from dst_spark_k8_lakehouse_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    built = (
        df.where(condition)
        .select(
            F.col("__mor_file").alias("f"),
            F.col("__mor_pos").alias("p"),
        )
        .groupBy("f")
        .applyInPandas(_build, "f string, blob binary, card long")
        .collect()  # one compressed blob per touched file, never rows
    )
    built = [r for r in built if r["card"]]
    if not built:
        return int(cur)
    from dst_spark_k8_lakehouse_spark.plans import puffin

    snap_id_hint = int(cur)
    blobs = [
        {
            "type": puffin.DV_BLOB_TYPE,
            # 2147483545 = the spec's reserved field id for the row
            # position of position deletes
            "fields": [2147483545],
            "snapshot-id": snap_id_hint,
            "sequence-number": iceberg_writer._next_seq(dict(meta)),
            "data": bytes(r["blob"]),
            "properties": {
                "referenced-data-file": r["f"],
                "cardinality": str(int(r["card"])),
            },
        }
        for r in sorted(built, key=lambda r: r["f"])
    ]
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir, exist_ok=True)
    pf_path = os.path.join(
        data_dir, f"{uuid.uuid4().hex}-deletes.puffin"
    )
    footer = puffin.write_puffin(pf_path, blobs)
    pf_size = os.path.getsize(pf_path)
    extra = [
        {
            "content": 1,
            "file_path": pf_path,
            "file_format": "PUFFIN",
            "record_count": int(r["card"]),
            "file_size_in_bytes": int(pf_size),
            "equality_ids": None,
            "referenced_data_file": r["f"],
            "content_offset": int(bm["offset"]),
            "content_size_in_bytes": int(bm["length"]),
        }
        for r, b, bm in zip(
            sorted(built, key=lambda r: r["f"]), blobs, footer["blobs"]
        )
    ]
    return _delete_commit(
        spark, table, meta, v + 1, [], 1, None, "delete",
        extra_data_files=extra,
    )


def delete_keys_mor(
    spark: SparkSession, table: str, keys: DataFrame
) -> int:
    """Delete by key as an EQUALITY-DELETE commit — the CDC/upsert
    shape: the table is NEVER scanned; the commit writes the key rows
    plus metadata, O(keys) at any table size. A row is subtracted at
    read time when it matches a key null-safely AND predates the
    delete (data seq < delete seq), so re-inserting a key after this
    commit is visible. Returns the new snapshot id."""
    meta, v = iceberg_writer._load_meta(table)
    _require_v2(meta, table)
    by_name = {f["name"]: int(f["id"]) for f in meta["schema"]["fields"]}
    unknown = [c for c in keys.columns if c not in by_name]
    if unknown:
        raise ValueError(
            f"equality-delete column(s) {unknown} not in "
            f"{sorted(by_name)}"
        )
    if not keys.columns:
        raise ValueError("equality delete needs at least one key column")
    files = _write_delete_files(
        keys.dropDuplicates(), table,
        {c: by_name[c] for c in keys.columns},
    )
    files = [(p, n, sz) for p, n, sz in files if n]
    if not files:
        return int(meta.get("current-snapshot-id") or -1)
    equality_ids = sorted(by_name[c] for c in keys.columns)
    return _delete_commit(
        spark, table, meta, v + 1, files, 2, equality_ids, "delete"
    )


def rewrite_position_delete_files(
    spark: SparkSession, table: str, target_files: int = 1
) -> int:
    """Real Iceberg's ``rewrite_position_delete_files`` maintenance
    procedure: consolidate accumulated parquet position-delete files
    into ``target_files`` sorted files and DROP DANGLING deletes
    (rows pointing at data files no snapshot plans anymore — every
    compaction/rewrite strands its old deletes, and they otherwise
    ride along forever). Unlike ``compact_mor`` this does NOT touch
    data files — it keeps merge-on-read semantics while bounding the
    read-side anti-join input between full compactions.

    Correctness shape: position deletes are applied by (file_path,
    pos) to data files with seq ≤ the delete's seq, so re-committing
    the union at a NEW (higher) sequence number cannot over-delete —
    paths are unique and never reused. Only manifests whose live
    entries are ALL parquet position deletes consolidate (our
    writers' shape); PUFFIN DV entries, equality deletes and foreign
    mixed manifests are left untouched. Returns the new snapshot id,
    or the current one when there is nothing to do."""
    meta, v = iceberg_writer._load_meta(table)
    _require_v2(meta, table)
    cur = meta.get("current-snapshot-id")
    if not cur or int(cur) == -1:
        return int(cur or -1)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    snap = snaps[int(cur)]
    data, _pos, _eq = iceberg_reader._snapshot_entries(
        spark, snap, iceberg_writer._spec_fields(meta)
    )
    live_paths = {e["path"] for e in data}
    # classify each DELETE manifest: consolidatable iff every live
    # entry is a parquet position delete
    keep_mlist: list[dict] = []
    doomed_pos_files: list[str] = []
    n_doomed_manifests = 0
    for ml in iceberg_writer._prev_manifests(spark, meta):
        if int(ml.get("content") or 0) != 1:
            keep_mlist.append(ml)
            continue
        entries = list(
            iceberg_reader._avro_records(
                spark,
                iceberg_reader._strip_uri(str(ml["manifest_path"])),
            )
        )
        live = [
            e for e in entries if int(str(e.get("status"))) != 2
        ]
        pos_parquet = [
            e for e in live
            if int(str(iceberg_reader._get(e["data_file"], "content")
                       or 1)) == 1
            and str(e["data_file"].get("file_format")).upper()
            == "PARQUET"
        ]
        if live and len(pos_parquet) == len(live):
            doomed_pos_files += [
                iceberg_reader._strip_uri(
                    str(e["data_file"]["file_path"])
                )
                for e in pos_parquet
            ]
            n_doomed_manifests += 1
        else:
            keep_mlist.append(ml)  # eq/DV/mixed/foreign: untouched
    if not doomed_pos_files:
        return int(cur)  # no parquet position deletes at all
    # (a single small file still rewrites: it may carry dangling rows,
    # and the no-op cost is one tiny job — callers gate on
    # mor_file_stats when they want stricter scheduling)
    merged = (
        spark.read.parquet(*doomed_pos_files)
        .select("file_path", "pos")
        .dropDuplicates(["file_path", "pos"])
    )
    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    live_df = local_frame(
        spark, [(p,) for p in sorted(live_paths)], "file_path string"
    )
    # dangling deletes (targets no live data file) drop here — the
    # join is delete-rows × file-count, metadata-sized at any scale
    merged = merged.join(live_df, "file_path", "left_semi")
    merged = (
        merged.repartitionByRange(target_files, "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
    )
    files = _write_delete_files(
        merged, table, {"file_path": _POS_FILE_ID, "pos": _POS_POS_ID}
    )
    files = [(p, n, sz) for p, n, sz in files if n]
    md = iceberg_reader._metadata_dir(table)
    snap_id = int(time.time() * 1000) * 1000 + (v + 1)
    seq = iceberg_writer._next_seq(meta)
    pv = _null_partition(meta)
    entries_new = [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": 1,
                "file_path": p,
                "file_format": "PARQUET",
                "partition": pv,
                "record_count": int(n),
                "file_size_in_bytes": int(sz),
                "equality_ids": None,
            },
        }
        for p, n, sz in files
    ]
    mlist_entries = keep_mlist
    if entries_new:
        mschema = iceberg_writer.manifest_schema(
            iceberg_writer._partition_avro_fields(meta)
            if iceberg_writer._spec_fields(meta)
            else None,
            fmt=2,
        )
        manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
        iceberg_writer.write_avro(spark, manifest, mschema, entries_new)
        mlist_entries = keep_mlist + [
            iceberg_writer._mlist_entry(
                meta, manifest, snap_id, seq, 1, entries_new
            )
        ]
    mlist = iceberg_writer.manifest_list_path(md, snap_id)
    iceberg_writer.write_avro(
        spark, mlist, iceberg_writer.mlist_schema(meta), mlist_entries
    )
    iceberg_writer._bump_metadata_log(table, meta)
    iceberg_writer._register_snapshot(
        meta,
        snap_id,
        mlist,
        {
            "operation": "replace",
            "rewritten-delete-files": str(len(doomed_pos_files)),
            "added-delete-files": str(len(files)),
            "added-position-deletes": str(
                sum(n for _p, n, _sz in files)
            ),
        },
    )
    iceberg_writer._commit_metadata(table, meta, v + 1)
    return snap_id


def compact_mor(spark: SparkSession, table: str) -> int:
    """Fold accumulated delete files back into plain data files: one
    copy-on-write snapshot whose manifest list holds ONLY the rewritten
    data (the spec's "replace" maintenance — what keeps the read-side
    anti-join bounded). After this, copy-on-write DML
    (``plans/iceberg_dml``) applies again. Returns the snapshot id."""
    meta, v = iceberg_writer._load_meta(table)
    _require_v2(meta, table)
    df = iceberg_reader.read_iceberg(spark, table)
    return iceberg_writer._snapshot_commit(
        spark, df, table, meta, "overwrite", version=v + 1
    )


def mor_file_stats(spark: SparkSession, table: str) -> dict[str, Any]:
    """Health numbers a maintenance scheduler keys compaction off:
    live data files, delete files and rows by kind — all from the
    driver-side manifest walk, no data scan."""
    meta, _ = iceberg_writer._load_meta(table)
    cur = meta.get("current-snapshot-id")
    if not cur or int(cur) == -1:
        return {"data_files": 0, "position_delete_files": 0,
                "equality_delete_files": 0}
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    data, pos_dels, eq_dels = iceberg_reader._snapshot_entries(
        spark, snaps[int(cur)], iceberg_writer._spec_fields(meta)
    )
    return {
        "data_files": len(data),
        "position_delete_files": len(pos_dels),
        "equality_delete_files": len(eq_dels),
    }

"""Row-level DML on NATIVE Iceberg tables — jar-free COPY-ON-WRITE.

Counterpart of ``delta_dml`` for the reference's other table format
(Iceberg 1.9 via jars, ``scripts/download-jars.sh:84-85``,
``02_iceberg_demo.ipynb`` runs UPDATE/DELETE through the runtime):
UPDATE / DELETE / MERGE against a v1 table whose metadata chain was
written by ``iceberg_writer``. The physical strategy is the v1 copy-on-write
overwrite real engines use when merge-on-read is off:

1. ONE scan over the current snapshot's data files computes per-file
   matching and total row counts (``_metadata.file_path``) — Iceberg
   data files contain every column, so no partition-value injection
   is needed;
2. files with zero matching rows are carried forward as EXISTING
   (status 0) manifest entries; fully-matching files on DELETE are
   dropped with a DELETED (status 2) bookkeeping entry and NO data
   job; partially-matching files are rewritten (ADDED, status 1);
3. one new manifest + manifest list + metadata version publishes the
   snapshot atomically (put-if-absent ``v{N}.metadata.json``,
   ``iceberg_writer._commit_metadata``). Prior snapshots stay
   readable — time travel to the pre-DML state keeps working.

Rewrite cost is proportional to TOUCHED bytes, not table bytes.
When even that is too much (point deletes across many files at
100 TB), v2 MERGE-ON-READ deletes cost only the matched rows —
``plans/iceberg_mor``. On a v2 table the copy-on-write commits here
stay sequence-correct (EXISTING entries carry their original data
sequence; ADDED entries inherit the new commit's), and they refuse
to run while un-compacted delete files exist (a rewrite that ignored
them would resurrect deleted rows — ``compact_mor`` first).
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import iceberg_reader, iceberg_writer

_FILE_COL = "__iceberg_dml_file"


def _live_entries(
    spark: SparkSession,
    snapshot: dict[str, Any],
    spec_fields: list[dict] | None = None,
    specs_by_id: dict[int, list[dict]] | None = None,
) -> list[dict[str, Any]]:
    """Live data-file entries of a snapshot with the fields a carried
    manifest entry needs: path, record_count, file_size_in_bytes and
    (partitioned tables) the typed partition record — resolved against
    each manifest's OWN spec when ``specs_by_id`` is given (spec
    evolution: older files lack the newer fields)."""
    out = []
    for mf in iceberg_reader._avro_records(
        spark, snapshot["manifest-list"]
    ):
        content = iceberg_reader._get(mf, "content")
        if content is not None and int(str(content)) != 0:
            raise NotImplementedError(
                "table has merge-on-read delete files; copy-on-write "
                "DML would resurrect deleted rows — compact first "
                "(plans.iceberg_mor.compact_mor)"
            )
        ml_seq = int(str(iceberg_reader._get(mf, "sequence_number") or 0))
        manifest = iceberg_reader._strip_uri(str(mf.get("manifest_path")))
        fields_here = spec_fields
        if specs_by_id is not None:
            ml_spec = int(
                str(iceberg_reader._get(mf, "partition_spec_id") or 0)
            )
            fields_here = specs_by_id.get(ml_spec, spec_fields)
        for e in iceberg_reader._avro_records(spark, manifest):
            if int(str(e.get("status"))) == 2:
                continue
            d = e.get("data_file")
            if int(str(iceberg_reader._get(d, "content") or 0)) != 0:
                raise NotImplementedError(
                    "table has merge-on-read delete files; compact "
                    "first (plans.iceberg_mor.compact_mor)"
                )
            e_seq = iceberg_reader._get(e, "sequence_number")
            out.append(
                {
                    "file_path": iceberg_reader._strip_uri(
                        str(d.get("file_path"))
                    ),
                    "record_count": int(str(d.get("record_count"))),
                    "file_size_in_bytes": int(
                        str(d.get("file_size_in_bytes"))
                    ),
                    "partition": iceberg_reader._partition_values(
                        d, fields_here or []
                    ),
                    "seq": int(str(e_seq)) if e_seq is not None
                    else ml_seq,
                    # column bounds survive the rewrite's carry
                    "lower_bounds": iceberg_reader._get(
                        d, "lower_bounds"
                    ),
                    "upper_bounds": iceberg_reader._get(
                        d, "upper_bounds"
                    ),
                }
            )
    return out


def _classify(
    spark: SparkSession, paths: list[str], condition: str, schema: dict
) -> dict[str, tuple[int, int]]:
    """{abs_path: (matching_rows, total_rows)} — one aggregated scan
    under the CURRENT schema (field-id resolved, so predicates see
    post-rename logical names), never a per-file job."""
    from urllib.parse import unquote

    rows = (
        iceberg_reader.read_data_files(spark, paths, schema)
        .withColumn(_FILE_COL, F.col("_metadata.file_path"))
        .groupBy(_FILE_COL)
        .agg(
            F.count(F.when(F.expr(condition), F.lit(1))).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    by_norm = {os.path.normpath(p): p for p in paths}
    out = {}
    for r in rows:
        p = unquote(r[_FILE_COL])
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        p = os.path.normpath(p)
        out[by_norm[p]] = (r["m"], r["n"])
    return out


def _entry(status: int, snap_id: int | None, path: str,
           n: int, size: int, pv: dict | None = None,
           v2: bool = False, seq: int | None = None,
           bounds: tuple | None = None) -> dict[str, Any]:
    e: dict[str, Any] = {
        "status": status,
        "snapshot_id": snap_id,
        "data_file": {
            "file_path": path,
            "file_format": "PARQUET",
            "partition": pv or {},
            "record_count": int(n),
            "file_size_in_bytes": int(size),
            "lower_bounds": (bounds[0] or None) if bounds else None,
            "upper_bounds": (bounds[1] or None) if bounds else None,
        },
    }
    if v2:
        # ADDED rows inherit the commit's sequence (null); EXISTING /
        # DELETED rows must carry their original data sequence
        e["sequence_number"] = seq
        e["file_sequence_number"] = seq
        e["data_file"]["content"] = 0
        e["data_file"]["equality_ids"] = None
    return e


def _cow_commit(
    spark: SparkSession,
    table: str,
    condition: str,
    rewrite,
    operation: str,
    full_match_needs_rewrite: bool = True,
) -> int:
    """Shared copy-on-write skeleton: classify files against
    ``condition``, keep untouched ones as EXISTING entries, feed the
    touched ones to ``rewrite(df) -> DataFrame`` and commit one
    overwrite snapshot. With ``full_match_needs_rewrite=False``
    (DELETE) a file whose every row matches is dropped with NO data
    job. Returns the new snapshot id (or the current one unchanged
    when nothing matched)."""
    import time

    meta, v = iceberg_writer._load_meta(table)
    spec_fields = iceberg_writer._spec_fields(meta)
    cur = meta.get("current-snapshot-id")
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    entries_now = _live_entries(
        spark, snaps[int(cur)], spec_fields,
        specs_by_id=iceberg_writer._specs_by_id(meta),
    ) if cur and int(cur) != -1 else []
    if not entries_now:
        return int(cur)

    def _norm_pv(pv: dict) -> dict:
        # carried entries re-encode under the DEFAULT spec's record
        # schema; fields added after the file was written stay null
        # (predicate pruning keeps nulls — cannot prune, never wrong)
        return {sf["name"]: pv.get(sf["name"]) for sf in spec_fields}

    counts = _classify(
        spark, [e["file_path"] for e in entries_now], condition,
        meta["schema"],
    )
    touched = [
        e for e in entries_now if counts.get(e["file_path"], (0, 0))[0] > 0
    ]
    if not touched:
        return int(cur)  # no-op: no commit, like delta_dml
    touched_paths = {e["file_path"] for e in touched}
    untouched = [
        e for e in entries_now if e["file_path"] not in touched_paths
    ]
    rewrite_paths = [
        e["file_path"]
        for e in touched
        if full_match_needs_rewrite
        or counts[e["file_path"]][0] < counts[e["file_path"]][1]
    ]
    snap_id = int(time.time() * 1000) * 1000 + v + 1
    v2 = iceberg_writer._fmt(meta) >= 2
    seq = iceberg_writer._next_seq(meta) if v2 else 0
    new_entries = [
        _entry(0, None, e["file_path"], e["record_count"],
               e["file_size_in_bytes"], _norm_pv(e["partition"]),
               v2=v2, seq=e.get("seq", 0),
               bounds=(e.get("lower_bounds"), e.get("upper_bounds")))
        for e in untouched
    ] + [
        _entry(2, snap_id, e["file_path"], e["record_count"],
               e["file_size_in_bytes"], _norm_pv(e["partition"]),
               v2=v2, seq=e.get("seq", 0),
               bounds=(e.get("lower_bounds"), e.get("upper_bounds")))
        for e in touched
    ]
    added = 0
    if rewrite_paths:
        out = rewrite(
            iceberg_reader.read_data_files(
                spark, rewrite_paths, meta["schema"]
            )
        )
        if spec_fields:
            # identity values live in the rows, so the partitioned
            # writer re-derives each rewritten file's partition record
            files4 = iceberg_writer._write_partitioned_data_files(
                out, table, meta
            )
            new_entries += [
                _entry(1, snap_id, p, n, sz, pv, v2=v2,
                       bounds=iceberg_writer._file_bounds(p, meta))
                for p, n, sz, pv in files4
            ]
            added = len(files4)
        else:
            files = iceberg_writer._write_data_files(out, table, meta)
            new_entries += [
                _entry(1, snap_id, p, n, sz, v2=v2,
                       bounds=iceberg_writer._file_bounds(p, meta))
                for p, n, sz in files
            ]
            added = len(files)
    md = iceberg_reader._metadata_dir(table)
    manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
    mschema = iceberg_writer.manifest_schema(
        iceberg_writer._partition_avro_fields(meta)
        if spec_fields else None,
        fmt=iceberg_writer._fmt(meta),
    )
    iceberg_writer.write_avro(spark, manifest, mschema, new_entries)
    mlist = iceberg_writer.manifest_list_path(md, snap_id)
    iceberg_writer.write_avro(
        spark,
        mlist,
        iceberg_writer.mlist_schema(meta),
        [
            iceberg_writer._mlist_entry(
                meta, manifest, snap_id, seq, 0, new_entries
            )
        ],
    )
    iceberg_writer._bump_metadata_log(table, meta)
    iceberg_writer._register_snapshot(
        meta,
        snap_id,
        mlist,
        {
            "operation": "overwrite",
            "added-data-files": str(added),
            "deleted-data-files": str(len(touched)),
        },
    )
    iceberg_writer._commit_metadata(table, meta, v + 1)
    return snap_id


def delete_iceberg(
    spark: SparkSession, table: str, condition: str
) -> int:
    """``DELETE FROM table WHERE condition`` — fully-matching files
    are dropped with no data job; partial files are rewritten without
    the matching rows."""

    def rewrite(df: DataFrame) -> DataFrame:
        return df.where(f"NOT ({condition}) OR ({condition}) IS NULL")

    return _cow_commit(
        spark, table, condition, rewrite, "DELETE",
        full_match_needs_rewrite=False,
    )


def update_iceberg(
    spark: SparkSession,
    table: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """``UPDATE table SET … WHERE condition`` — only files containing
    matching rows are rewritten."""
    meta, _ = iceberg_writer._load_meta(table)
    names = [f["name"] for f in meta["schema"]["fields"]]
    unknown = sorted(set(assignments) - set(names))
    if unknown:
        raise ValueError(
            f"UPDATE SET references unknown column(s) {unknown}"
        )
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    exprs = []
    for c in names:
        if c in assignments:
            target = iceberg_reader._spark_type(types[c]).simpleString()
            exprs.append(
                f"CASE WHEN ({condition}) THEN CAST(({assignments[c]}) "
                f"AS {target}) ELSE {c} END AS {c}"
            )
        else:
            exprs.append(c)

    def rewrite(df: DataFrame) -> DataFrame:
        return df.selectExpr(*exprs)

    return _cow_commit(spark, table, condition, rewrite, "UPDATE")


def merge_iceberg(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    update_when_matched: bool = True,
    insert_when_not_matched: bool = True,
) -> int:
    """MERGE INTO a native Iceberg v1 table (upsert, the same
    semantics as ``delta_dml.merge_delta``): matched target rows are
    replaced wholesale by source rows, unmatched source rows are
    inserted; only files containing matched keys are rewritten, in
    one copy-on-write overwrite snapshot. Partitioned targets work —
    identity values live in the rows, so rewritten and incoming files
    alike re-derive their partition records through the partitioned
    writer (a replacement that changes a partition value moves the
    row correctly). Returns the new snapshot id (or the current one
    unchanged on a no-op)."""
    import time

    meta, v = iceberg_writer._load_meta(table)
    spec_fields = iceberg_writer._spec_fields(meta)
    names = [f["name"] for f in meta["schema"]["fields"]]
    if source.columns != names:
        source = source.select(*names)
    dup = source.groupBy(*on).count().where("count > 1").limit(1).count()
    if dup:
        raise ValueError("MERGE source has duplicate keys")
    cur = meta.get("current-snapshot-id")
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    entries_now = _live_entries(
        spark, snaps[int(cur)], spec_fields,
        specs_by_id=iceberg_writer._specs_by_id(meta),
    ) if cur and int(cur) != -1 else []

    def _norm_pv(pv: dict) -> dict:
        return {sf["name"]: pv.get(sf["name"]) for sf in spec_fields}

    keys = source.select(*on)
    touched_paths: set[str] = set()
    target = None
    if entries_now:
        target = iceberg_reader.read_data_files(
            spark, [e["file_path"] for e in entries_now], meta["schema"]
        ).withColumn(_FILE_COL, F.col("_metadata.file_path"))
        from urllib.parse import unquote

        by_norm = {
            os.path.normpath(e["file_path"]): e["file_path"]
            for e in entries_now
        }
        for r in (
            target.join(F.broadcast(keys), on, "left_semi")
            .groupBy(_FILE_COL)
            .count()
            .collect()
        ):
            p = unquote(r[_FILE_COL])
            if p.startswith("file:"):
                p = p[len("file:"):]
                while p.startswith("//"):
                    p = p[1:]
            touched_paths.add(by_norm[os.path.normpath(p)])
    if update_when_matched and touched_paths:
        kept = iceberg_reader.read_data_files(
            spark, sorted(touched_paths), meta["schema"]
        ).join(F.broadcast(keys), on, "left_anti")
        incoming = (
            source
            if insert_when_not_matched or target is None
            else source.join(target.select(*on), on, "left_semi")
        )
        out = kept.unionByName(incoming)
    else:
        touched_paths = set()
        if not insert_when_not_matched:
            out = source.limit(0)  # neither clause applies: no-op
        elif target is not None:
            out = source.join(target.select(*on), on, "left_anti")
        else:
            out = source
    n_out = out.limit(1).count()
    if not touched_paths and not n_out:
        return int(cur)
    snap_id = int(time.time() * 1000) * 1000 + v + 1
    v2 = iceberg_writer._fmt(meta) >= 2
    seq = iceberg_writer._next_seq(meta) if v2 else 0
    new_entries = [
        _entry(0, None, e["file_path"], e["record_count"],
               e["file_size_in_bytes"], _norm_pv(e["partition"]),
               v2=v2, seq=e.get("seq", 0),
               bounds=(e.get("lower_bounds"), e.get("upper_bounds")))
        for e in entries_now if e["file_path"] not in touched_paths
    ] + [
        _entry(2, snap_id, e["file_path"], e["record_count"],
               e["file_size_in_bytes"], _norm_pv(e["partition"]),
               v2=v2, seq=e.get("seq", 0),
               bounds=(e.get("lower_bounds"), e.get("upper_bounds")))
        for e in entries_now if e["file_path"] in touched_paths
    ]
    added = 0
    if n_out:
        if spec_fields:
            files4 = iceberg_writer._write_partitioned_data_files(
                out, table, meta
            )
            new_entries += [
                _entry(1, snap_id, p, n, sz, pv, v2=v2,
                       bounds=iceberg_writer._file_bounds(p, meta))
                for p, n, sz, pv in files4
            ]
            added = len(files4)
        else:
            files = iceberg_writer._write_data_files(out, table, meta)
            new_entries += [
                _entry(1, snap_id, p, n, sz, v2=v2,
                       bounds=iceberg_writer._file_bounds(p, meta))
                for p, n, sz in files
            ]
            added = len(files)
    md = iceberg_reader._metadata_dir(table)
    mschema = iceberg_writer.manifest_schema(
        iceberg_writer._partition_avro_fields(meta)
        if spec_fields else None,
        fmt=iceberg_writer._fmt(meta),
    )
    manifest = os.path.join(md, f"m-{uuid.uuid4().hex}.avro")
    iceberg_writer.write_avro(spark, manifest, mschema, new_entries)
    mlist = iceberg_writer.manifest_list_path(md, snap_id)
    iceberg_writer.write_avro(
        spark,
        mlist,
        iceberg_writer.mlist_schema(meta),
        [
            iceberg_writer._mlist_entry(
                meta, manifest, snap_id, seq, 0, new_entries
            )
        ],
    )
    iceberg_writer._bump_metadata_log(table, meta)
    iceberg_writer._register_snapshot(
        meta,
        snap_id,
        mlist,
        {
            "operation": "overwrite",
            "added-data-files": str(added),
            "deleted-data-files": str(len(touched_paths)),
        },
    )
    iceberg_writer._commit_metadata(table, meta, v + 1)
    return snap_id

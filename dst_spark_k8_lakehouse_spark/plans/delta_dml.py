"""Row-level DML on NATIVE Delta logs — jar-free copy-on-write.

Closes most of the jar-only surface left by ``delta_writer``: UPDATE /
DELETE / MERGE against a table whose ``_delta_log`` was written by
``delta_writer`` or by any real Delta 3.x runtime (reference tables run
on Delta per ``scripts/download-jars.sh:84-91`` and
``getting_started.py:130-151``). The physical strategy is the same
file-granular copy-on-write real Delta uses:

1. ONE scan over the active file set computes per-file matching and
   total row counts (``_metadata.file_path`` — a codegen'd metadata
   column, not the ``input_file_name()`` escape hatch);
2. files with zero matching rows are left alone (their ``add`` actions
   survive untouched); DELETE drops fully-matching files with a bare
   ``remove`` and NO rewrite — the partition-aligned-delete shape that
   makes retention deletes at 100 TB metadata-only; partially-matching
   files are rewritten;
3. one commit publishes the ``remove`` + ``add`` actions atomically
   (put-if-absent hard link, the single-writer pattern documented in
   ``delta_writer``).

Rewrite cost is therefore proportional to TOUCHED bytes, not table
bytes — the property that matters when a predicate hits 3 files out of
30k. Partitioned tables are supported for UPDATE/DELETE/MERGE
(partition columns are injected from ``partitionValues`` before
predicate evaluation and preserved on rewrite; MERGE writes incoming
rows through the partitionBy path, so inserts and partition-moving
replacements land in the right directory). UPDATE of a partition
column still raises (it would move rows across files under a
fixed-partition rewrite; route such changes through MERGE, which
re-partitions).

``plans.table.VersionedTable.update/delete/merge`` are thin calls
into this module, and ``plans/dml.execute_native_sql`` routes the
statement text here.
"""

from __future__ import annotations

import os
from collections import defaultdict
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans import delta_reader, delta_writer

_FILE_COL = "__delta_dml_file"



def _schema(state: dict) -> T.StructType:
    return delta_reader.schema_from_json(
        state["metaData"]["schemaString"]
    )


def _check_unmapped(state: dict, op: str) -> None:
    """Row-level DML reads data files by LOGICAL column name; a
    column-mapped table (post-RENAME) stores physical names — raise
    loudly instead of matching the wrong columns."""
    mode, _ = delta_reader._mapping(state["metaData"])
    if mode != "none":
        raise NotImplementedError(
            f"{op} on a column-mapped native Delta table is not "
            "supported by the jar-free DML path (rename-free tables only)"
        )


def _groups(
    state: dict, table: str
) -> dict[tuple, list[tuple[str, str]]]:
    """Active files grouped by partition-value tuple:
    {pv_key: [(abs_path, rel_path), ...]}."""
    part_cols = state["metaData"].get("partitionColumns") or []
    out: dict[tuple, list[tuple[str, str]]] = defaultdict(list)
    for rel, a in state["files"].items():
        if a.get("deletionVector"):
            raise NotImplementedError(
                "table has deletion vectors; a raw-file rewrite would "
                "resurrect deleted rows — materialize first "
                "(plans.delta_dv.materialize_dvs) or delete through "
                "plans.delta_dv.delete_where_dv"
            )
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        absp = rel if os.path.isabs(rel) else os.path.join(table, rel)
        out[key].append((absp, rel))
    return out


def _scan_group(
    spark: SparkSession,
    schema: T.StructType,
    part_cols: list[str],
    pv_key: tuple,
    paths: list[str],
) -> DataFrame:
    """Read one partition group with injected partition literals and
    the physical file path (for per-file classification)."""
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    by_name = {f.name: f for f in schema.fields}
    df = (
        spark.read.schema(T.StructType(data_fields))
        .parquet(*paths)
        .withColumn(_FILE_COL, F.col("_metadata.file_path"))
    )
    for c, raw in zip(part_cols, pv_key):
        lit = F.lit(raw).cast(by_name[c].dataType) if raw is not None \
            else F.lit(None).cast(by_name[c].dataType)
        df = df.withColumn(c, lit)
    return df.select(*[f.name for f in schema.fields], _FILE_COL)


def _classify(
    df: DataFrame, condition: str
) -> list[tuple[str, int, int]]:
    """Per physical file: (file_uri, matching_rows, total_rows) — one
    aggregated pass, never a per-file job."""
    rows = (
        df.groupBy(_FILE_COL)
        .agg(
            F.count(F.when(F.expr(condition), F.lit(1))).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    return [(r[_FILE_COL], r["m"], r["n"]) for r in rows]


def _uri_to_rel(uri: str, by_abs: dict[str, str]) -> str:
    """_metadata.file_path is a file: URI; map back to the log's
    relative path."""
    from urllib.parse import unquote

    p = unquote(uri)
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    p = os.path.normpath(p)
    if p in by_abs:
        return by_abs[p]
    raise ValueError(f"scanned file {uri} not in the active set")


def _pv_dict(part_cols: list[str], pv_key: tuple) -> dict[str, str]:
    return dict(zip(part_cols, pv_key))


def _cdc(
    state: dict, changes: list[tuple[DataFrame, str]], table: str
) -> list[dict[str, Any]]:
    """When the table has CDF enabled, land the operation's change
    rows (each df tagged with its ``_change_type``) under
    ``_change_data/`` and return their ``cdc`` actions; [] otherwise.
    Cost: one changed-rows-sized write per DML commit."""
    from dst_spark_k8_lakehouse_spark.plans import delta_cdf

    if not delta_cdf.cdf_enabled(state["metaData"]) or not changes:
        return []
    tagged = None
    for df, kind in changes:
        piece = df.drop(_FILE_COL).withColumn(
            delta_cdf.CHANGE_TYPE, F.lit(kind)
        )
        tagged = piece if tagged is None else tagged.unionByName(piece)
    return delta_cdf.write_cdc_files(tagged, table)


def _rewrite_and_commit(
    spark: SparkSession,
    table: str,
    state: dict,
    removes: list[str],
    new_files: list[tuple[DataFrame, dict[str, str]]],
    operation: str,
    cdc_actions: list[dict[str, Any]] | None = None,
    meta_action: dict[str, Any] | None = None,
) -> int:
    """Publish one commit: removes + adds from writing each (df,
    partitionValues) group, led by ``meta_action`` (a widened
    ``metaData``) when given. Rewritten files of a partitioned table are
    placed back into their Hive partition directory so the reader's
    single-scan layout survives DML. A lost commit race retries at the
    next version IFF the table state is unchanged (anything else is a
    real write conflict — raise, the caller re-runs the DML). Returns
    the committed version."""
    import time

    from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking

    if delta_rowtracking.enabled(state):
        raise NotImplementedError(
            "copy-on-write DML on a row-tracked table would reassign "
            "row ids; delete via plans.delta_dv.delete_where_dv "
            "(deletion vectors keep ids stable — no file rewrites)"
        )
    now = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [meta_action] if meta_action else []
    actions += [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now,
                "dataChange": True,
            }
        }
        for rel in removes
    ]
    part_cols = state["metaData"].get("partitionColumns") or []
    for df, pv in new_files:
        # DML rewrites must also satisfy the table's CHECK
        # constraints (an UPDATE can introduce a violating value)
        delta_writer.check_constraints(
            df.drop(_FILE_COL), state["metaData"]
        )
        if pv is None:
            # partition-spanning rows (MERGE inserts / moved rows):
            # the writer's partitionBy path derives each file's
            # partitionValues from the Hive layout itself
            adds = delta_writer._write_data_files(
                df.drop(_FILE_COL), table, part_cols or None
            )
            actions += adds
            continue
        out = df.drop(_FILE_COL, *part_cols) if part_cols else df.drop(
            _FILE_COL
        )
        adds = delta_writer._write_data_files(out, table)
        delta_writer._place_in_partition(table, adds, part_cols, pv)
        actions += adds
    actions += cdc_actions or []
    actions.append(delta_writer._commit_info(operation))
    return delta_writer._commit_from_state(
        spark, table, state, actions, operation
    )


def update_delta(
    spark: SparkSession,
    table: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """``UPDATE table SET … WHERE condition`` on a native Delta log.
    Only files containing matching rows are rewritten. Returns the
    committed version."""
    state = delta_reader._replay(spark, table, None)
    _check_unmapped(state, "UPDATE")
    schema = _schema(state)
    part_cols = state["metaData"].get("partitionColumns") or []
    bad = sorted(set(assignments) & set(part_cols))
    if bad:
        raise NotImplementedError(
            f"UPDATE on partition column(s) {bad} would move rows "
            "across files; rewrite the table instead"
        )
    from dst_spark_k8_lakehouse_spark.plans import delta_generated

    delta_generated.refuse_stale_updates(
        state["metaData"], set(assignments), "UPDATE"
    )
    from dst_spark_k8_lakehouse_spark.plans import delta_identity

    delta_identity.refuse_identity_updates(
        state["metaData"], set(assignments), "UPDATE"
    )
    unknown = sorted(set(assignments) - {f.name for f in schema.fields})
    if unknown:
        raise ValueError(f"UPDATE SET references unknown column(s) {unknown}")
    exprs = [
        f"CASE WHEN ({condition}) THEN CAST(({assignments[c.name]}) AS "
        f"{c.dataType.simpleString()}) ELSE {c.name} END AS {c.name}"
        if c.name in assignments
        else c.name
        for c in schema.fields
    ]
    set_exprs = [
        f"CAST(({assignments[c.name]}) AS {c.dataType.simpleString()}) "
        f"AS {c.name}"
        if c.name in assignments
        else c.name
        for c in schema.fields
    ]
    removes: list[str] = []
    rewrites: list[tuple[DataFrame, dict[str, str]]] = []
    changes: list[tuple[DataFrame, str]] = []
    for pv_key, files in _groups(state, table).items():
        by_abs = {os.path.normpath(a): r for a, r in files}
        df = _scan_group(spark, schema, part_cols, pv_key, [a for a, _ in files])
        touched = [
            _uri_to_rel(uri, by_abs)
            for uri, m, _ in _classify(df, condition)
            if m > 0
        ]
        if not touched:
            continue
        touched_abs = {
            os.path.normpath(a) for a, r in files if r in set(touched)
        }
        # one selectExpr over only the touched files of this group
        scoped = _scan_group(
            spark, schema, part_cols, pv_key, sorted(touched_abs)
        ).selectExpr(*exprs, _FILE_COL)
        removes += touched
        rewrites.append((scoped, _pv_dict(part_cols, pv_key)))
        matched = _scan_group(
            spark, schema, part_cols, pv_key, sorted(touched_abs)
        ).where(condition)
        changes.append((matched, "update_preimage"))
        changes.append(
            (
                matched.selectExpr(*set_exprs, _FILE_COL),
                "update_postimage",
            )
        )
    if not removes:
        return delta_writer._next_version(table) - 1  # no-op: no commit
    cdc = _cdc(state, changes, table)
    return _rewrite_and_commit(
        spark, table, state, removes, rewrites, "UPDATE", cdc
    )


def delete_delta(
    spark: SparkSession, table: str, condition: str
) -> int:
    """``DELETE FROM table WHERE condition``. Fully-matching files are
    dropped with a bare ``remove`` (no data job at all); partial files
    are rewritten without the matching rows."""
    state = delta_reader._replay(spark, table, None)
    _check_unmapped(state, "DELETE")
    schema = _schema(state)
    part_cols = state["metaData"].get("partitionColumns") or []
    removes: list[str] = []
    rewrites: list[tuple[DataFrame, dict[str, str]]] = []
    changes: list[tuple[DataFrame, str]] = []
    for pv_key, files in _groups(state, table).items():
        by_abs = {os.path.normpath(a): r for a, r in files}
        df = _scan_group(spark, schema, part_cols, pv_key, [a for a, _ in files])
        partial_abs: list[str] = []
        group_removed: list[str] = []
        for uri, m, n in _classify(df, condition):
            rel = _uri_to_rel(uri, by_abs)
            if m == 0:
                continue
            removes.append(rel)
            group_removed.append(
                rel if os.path.isabs(rel) else os.path.join(table, rel)
            )
            if m < n:  # partially matching: rewrite survivors
                partial_abs.append(
                    rel if os.path.isabs(rel) else os.path.join(table, rel)
                )
        if partial_abs:
            kept = _scan_group(
                spark, schema, part_cols, pv_key, sorted(partial_abs)
            ).where(f"NOT ({condition}) OR ({condition}) IS NULL")
            rewrites.append((kept, _pv_dict(part_cols, pv_key)))
        if group_removed:
            changes.append(
                (
                    _scan_group(
                        spark, schema, part_cols, pv_key,
                        sorted(group_removed),
                    ).where(condition),
                    "delete",
                )
            )
    if not removes:
        return delta_writer._next_version(table) - 1  # no-op: no commit
    cdc = _cdc(state, changes, table)
    return _rewrite_and_commit(
        spark, table, state, removes, rewrites, "DELETE", cdc
    )


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    update_when_matched: bool = True,
    insert_when_not_matched: bool = True,
    merge_schema: bool = False,
) -> int:
    """MERGE INTO a native Delta log (upsert, SURVEY §7.4 semantics —
    matched target rows replaced wholesale by source rows, unmatched
    source rows inserted). Only files containing matched keys are
    rewritten; unmatched-insert rows land in new files.

    Partitioned targets are fully supported (r6): matched-file
    rewrites stay inside their partition directory, and incoming
    source rows — inserts AND rows whose replacement moved them to a
    different partition value — are written through the partitionBy
    path, which derives each new file's partitionValues from the Hive
    layout. The classification scan unions one branch per live
    partition group (like the reader's nonstandard-layout fallback:
    fine at the partition counts DML predicates touch; a 100k-
    partition MERGE should pre-filter the target by the source's
    partition values first).

    ``merge_schema=True`` (Delta's schema auto-merge) adds new source
    columns to the schema in the MERGE's own commit and null-fills
    missing ones; otherwise the source is projected onto the table."""
    state = delta_reader._replay(spark, table, None)
    _check_unmapped(state, "MERGE")
    from dst_spark_k8_lakehouse_spark.plans import delta_identity

    id_cols = sorted(delta_identity.identity_specs(state["metaData"]))
    if id_cols:
        raise NotImplementedError(
            f"MERGE into a table with identity column(s) {id_cols} is "
            "not supported (v1): matched-replace would take the "
            "source's id values verbatim and unmatched-insert would "
            "need in-merge generation — DELETE + append instead"
        )
    schema = _schema(state)
    part_cols = state["metaData"].get("partitionColumns") or []
    meta_action = None
    if merge_schema:
        source, meta_action, _parts, _phys = delta_writer._reconcile_schema(
            source, state["metaData"], merge_schema=True
        )
    elif source.columns != [f.name for f in schema.fields]:
        source = source.select(*[f.name for f in schema.fields])
    dup = source.groupBy(*on).count().where("count > 1").limit(1).count()
    if dup:
        raise ValueError("MERGE source has duplicate keys")
    insert_pv: dict | None = None if part_cols else {}
    groups = _groups(state, table)
    if not any(groups.values()):  # empty table: MERGE = insert
        if not insert_when_not_matched:
            return delta_writer._next_version(table) - 1
        return _rewrite_and_commit(
            spark, table, state, [],
            [(source.withColumn(_FILE_COL, F.lit("")), insert_pv)],
            "MERGE",
            _cdc(state, [(source, "insert")], table),
            meta_action,
        )
    scans = {
        pv_key: _scan_group(
            spark, schema, part_cols, pv_key, [a for a, _ in files]
        )
        for pv_key, files in groups.items()
        if files
    }
    full = None
    for df in scans.values():
        full = df if full is None else full.unionByName(df)
    keys = source.select(*on)
    # per-file matched-key counts: ONE broadcast semi-join pass over
    # every partition group
    matched = (
        full.join(F.broadcast(keys), on, "left_semi")
        .groupBy(_FILE_COL)
        .count()
        .collect()
    )
    by_abs_all = {
        os.path.normpath(a): r
        for files in groups.values()
        for a, r in files
    }
    touched = {_uri_to_rel(r[_FILE_COL], by_abs_all) for r in matched}
    removes: list[str] = []
    rewrites: list[tuple[DataFrame, dict[str, str] | None]] = []
    if update_when_matched and touched:
        removes = sorted(touched)
        for pv_key, files in groups.items():
            touched_abs = sorted(
                a for a, r in files if r in touched
            )
            if not touched_abs:
                continue
            kept = _scan_group(
                spark, schema, part_cols, pv_key, touched_abs
            ).join(F.broadcast(keys), on, "left_anti")
            rewrites.append((kept, _pv_dict(part_cols, pv_key)))
        incoming = source
    else:
        incoming = source.join(full.select(*on), on, "left_anti")
    if not insert_when_not_matched:
        incoming = incoming.join(full.select(*on), on, "left_semi")
    n_in = incoming.limit(1).count()
    if n_in:
        rewrites.append(
            (incoming.withColumn(_FILE_COL, F.lit("")), insert_pv)
        )
    if not removes and not n_in:
        return delta_writer._next_version(table) - 1
    changes: list[tuple[DataFrame, str]] = []
    t_keys = full.select(*on)
    if update_when_matched and touched:
        pre = full.join(F.broadcast(keys), on, "left_semi")
        changes.append((pre, "update_preimage"))
        changes.append(
            (source.join(t_keys, on, "left_semi"), "update_postimage")
        )
    if insert_when_not_matched:
        changes.append(
            (source.join(t_keys, on, "left_anti"), "insert")
        )
    cdc = _cdc(state, changes, table)
    return _rewrite_and_commit(
        spark, table, state, removes, rewrites, "MERGE", cdc, meta_action
    )

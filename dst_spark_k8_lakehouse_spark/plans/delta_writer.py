"""Single-writer-first Delta Lake writer — pure Python over the
PUBLIC Delta commit protocol (no jars).

Completes ``delta_reader``'s half of the story: ``create`` /
``append`` / ``overwrite`` commits whose logs any real Delta 3.x
runtime (or our reader) can consume, now including the reference's
actual write patterns (``modules/dst_metrics/spark_logger.py:55-57``
appends with ``mergeSchema``; ``02_iceberg_demo.ipynb:45-54`` creates
partitioned tables; ``02_iceberg_demo.ipynb:122-123`` runs
ALTER TABLE ADD/RENAME COLUMN):

- v0: ``protocol`` + ``metaData`` (schema as Delta's JSON struct,
  partition columns) + ``add`` per file + ``commitInfo``;
- append: ``add`` actions only — plus a new ``metaData`` action first
  when ``merge_schema=True`` widened the schema (new columns append as
  nullable; a same-name type change is REFUSED — the classic
  mergeSchema contract);
- overwrite: ``remove`` for every live file + ``add`` for the new;
- ``add_column``: a metaData-only commit (old files simply read the
  new column as null — no data job, the property that makes wide-table
  evolution free at 100 TB);
- ``rename_column``: enables column mapping in ``name`` mode on first
  use (each field keeps its parquet ``physicalName``; the logical name
  in the schemaString changes) — the same mechanism real Delta uses,
  so NO data file is touched and old snapshots stay readable.

Partitioned tables use Hive-style data layout (``col=val/file``) with
the values recorded in each ``add``'s ``partitionValues`` per the
spec — data files do NOT contain partition columns. ``delta_reader``
turns that layout into a single partition-discovering scan.

Atomicity/concurrency, stated honestly: Delta's optimistic protocol
needs put-if-absent on the commit file. Local/HDFS rename gives that
(``os.link`` + unlink here: hard-link-as-commit fails with EEXIST if
the version was taken, the documented single-cluster pattern); object
stores need a coordination service (the reason the real writer has a
LogStore abstraction). A lost race on an APPEND is retried
automatically at the next version after re-replaying and re-validating
against the winner's state (blind appends never conflict logically —
the same rule real Delta's conflict checker applies); overwrites
recompute their remove set on retry. Data files are uniquely named so
an abandoned attempt leaves garbage, never corruption.

Type mapping covers the engine's scalar surface (long/int/double/
float/string/boolean/date/timestamp/decimal/binary + arrays and maps);
an unmapped type raises rather than writing a schemaString real Delta
would reject.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans import delta_reader
from dst_spark_k8_lakehouse_spark.plans import parquet_ts

_MAX_COMMIT_RETRIES = 10


def _delta_type(dt: T.DataType) -> Any:
    simple = {
        T.LongType: "long", T.IntegerType: "integer",
        T.ShortType: "short", T.ByteType: "byte",
        T.DoubleType: "double", T.FloatType: "float",
        T.StringType: "string", T.BooleanType: "boolean",
        T.DateType: "date", T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestampNtz", T.BinaryType: "binary",
    }
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "array",
            "elementType": _delta_type(dt.elementType),
            "containsNull": dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "keyType": _delta_type(dt.keyType),
            "valueType": _delta_type(dt.valueType),
            "valueContainsNull": dt.valueContainsNull,
        }
    raise NotImplementedError(f"no Delta schema mapping for {dt}")


def _field_json(f: T.StructField, metadata: dict | None = None) -> dict:
    return {
        "name": f.name,
        "type": _delta_type(f.dataType),
        "nullable": f.nullable,
        "metadata": metadata or {},
    }


def _schema_string(schema: T.StructType) -> str:
    return json.dumps(
        {"type": "struct", "fields": [_field_json(f) for f in schema.fields]}
    )


def _parse_hive_dir(rel_dir: str) -> dict[str, str | None]:
    """``a=1/b=__HIVE_DEFAULT_PARTITION__`` → {"a": "1", "b": None}."""
    out: dict[str, str | None] = {}
    if rel_dir in ("", "."):
        return out
    for seg in rel_dir.split(os.sep):
        k, eq, v = seg.partition("=")
        if not eq:
            raise ValueError(f"non-Hive partition dir segment {seg!r}")
        out[unquote(k)] = (
            None if v == delta_reader._HIVE_NULL else unquote(v)
        )
    return out


_STATS_MAX_STRING = 64  # longer strings carry no bounds (skip, keep)


def _file_stats_json(path: str) -> str | None:
    """Per-file DATA-SKIPPING stats from the parquet footer — the
    spec's per-add ``stats`` JSON (``numRecords`` / ``minValues`` /
    ``maxValues`` / ``nullCount``), what real Delta writes on every
    add and prunes scans with. Footer-only: no data read. Columns
    whose footer carries no usable bounds (or over-long strings) are
    simply absent — absent = cannot skip, never wrong."""
    import datetime as _dt

    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:  # unreadable footer: stats are optional
        return None

    def _jsonable(v: Any) -> Any:
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, str):
            return v if len(v) <= _STATS_MAX_STRING else None
        if isinstance(v, _dt.datetime):
            # Normalize tz-aware footer stats (pyarrow returns aware
            # datetimes for tz-annotated timestamp columns) to naive
            # UTC so the string shares one representation with the
            # naive predicate literals `_stats_literal` renders —
            # otherwise a '+00:00' suffix misorders prefix-ties and
            # a `<=` at the exact file min wrongly prunes the file.
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat(sep=" ")
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, (int, float, bool)):
            return v
        return None

    _POISON = object()  # one boundless row group voids the column
    bounds: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested: out of scope
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo, hi = _jsonable(st.min), _jsonable(st.max)
            if lo is None or hi is None:
                bounds[name] = _POISON
            elif bounds.get(name) is _POISON:
                pass
            elif name in bounds:
                plo, phi = bounds[name]
                bounds[name] = (min(plo, lo), max(phi, hi))
            else:
                bounds[name] = (lo, hi)
            if st is not None and st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
    ok = {k: v for k, v in bounds.items() if v is not _POISON}
    stats = {
        "numRecords": md.num_rows,
        "minValues": {k: v[0] for k, v in ok.items()},
        "maxValues": {k: v[1] for k, v in ok.items()},
        "nullCount": nulls,
    }
    return json.dumps(stats)


def _write_data_files(
    df: DataFrame, table: str, partition_phys: list[str] | None = None
) -> list[dict[str, Any]]:
    """Write df as parquet files under the table dir with unique
    names; return their add actions. With ``partition_phys`` the data
    is written ``partitionBy`` (Hive layout, partition columns NOT in
    the files) and each add carries its parsed ``partitionValues``.
    Every add carries footer-derived ``stats`` (data skipping)."""
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    w = df.write
    if partition_phys:
        w = w.partitionBy(*partition_phys)
    # INT64-micros timestamps: INT96 (Spark's default) carries no
    # footer stats, which would silently drop every timestamp column
    # from per-add `stats` — data skipping dead on time filters
    with parquet_ts.timestamp_micros_writes(df.sparkSession):
        w.parquet(staging)
    adds = []
    for root, _dirs, fs in sorted(os.walk(staging)):
        rel_dir = os.path.relpath(root, staging)
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            pv = _parse_hive_dir(rel_dir)
            name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = name if rel_dir in ("", ".") else \
                "/".join(rel_dir.split(os.sep) + [name])
            dst = os.path.join(table, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(root, f), dst)
            add = {
                "path": rel,
                "partitionValues": pv,
                "size": os.path.getsize(dst),
                "modificationTime": int(time.time() * 1000),
                "dataChange": True,
            }
            stats = _file_stats_json(dst)
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _commit(
    table: str,
    version: int,
    actions: list[dict[str, Any]],
    pre_state: dict[str, Any] | None = None,
) -> None:
    """Put-if-absent publish of the commit file (hard-link pattern).
    On success, maintains the optional per-version CHECKSUM file
    (``{v}.crc`` — the spec's version-checksum sidecar): exact when
    the caller supplies the replayed ``pre_state`` (every
    state-dependent commit has one), incremental from the previous
    crc for blind add-only commits, silently skipped otherwise — the
    crc is an audit/fast-stats artifact, never a correctness input."""
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    actions = _ict_stamp(table, version, actions, pre_state)
    tmp = os.path.join(log, f".{uuid.uuid4().hex}.json.tmp")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    final = os.path.join(log, f"{version:020d}.json")
    try:
        os.link(tmp, final)  # EEXIST on a lost race — never overwrite
    finally:
        os.unlink(tmp)
    try:
        _write_crc(table, version, actions, pre_state)
    except Exception:
        pass  # best-effort by design; verify_checksum audits gaps
    try:
        # output lineage for EVERY native Delta commit (library
        # writes, DataSource faces, stream sinks) — the listener path
        # can't see these; no registered sinks = no work
        from dst_spark_k8_lakehouse_spark import lineage as _lineage

        op = next(
            (a["commitInfo"].get("operation")
             for a in actions if "commitInfo" in a),
            None,
        )
        _lineage.emit_commit(
            table, "delta",
            {"version": version, **({"operation": op} if op else {})},
        )
    except Exception:
        pass  # lineage must never fail a commit


ICT_CONF = "delta.enableInCommitTimestamps"
ICT_VERSION_CONF = "delta.inCommitTimestampEnablementVersion"
ICT_TS_CONF = "delta.inCommitTimestampEnablementTimestamp"


def _prev_ict(table: str, version: int) -> int | None:
    """The previous commit's inCommitTimestamp (commitInfo is the
    FIRST action of an ICT commit per the spec, so this reads one
    line of one file)."""
    if version == 0:
        return None
    prev = os.path.join(
        table, "_delta_log", f"{version - 1:020d}.json"
    )
    try:
        with open(prev) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                d = json.loads(line)
                if "commitInfo" in d:
                    ict = d["commitInfo"].get("inCommitTimestamp")
                    return int(ict) if ict is not None else None
                return None  # not first -> pre-ICT commit
    except FileNotFoundError:
        return None
    return None


def _ict_stamp(
    table: str,
    version: int,
    actions: list[dict[str, Any]],
    pre_state: dict[str, Any] | None,
) -> list[dict[str, Any]]:
    """IN-COMMIT TIMESTAMPS (the spec's ``inCommitTimestamp`` writer
    feature): when the table enables ``delta.enableInCommitTimestamps``,
    every commit's commitInfo carries ``inCommitTimestamp`` =
    ``max(clock, previous commit's ICT + 1)`` — STRICTLY monotonic
    even under clock skew — and commitInfo moves to the FRONT of the
    action list (the spec's placement rule, which is what lets
    ``_prev_ict`` read one line instead of the whole file). Timestamp
    time travel then resolves against commit content, not file
    mtimes, which storage systems rewrite on copy/restore. No-op for
    tables without the feature."""
    meta = None
    for a in actions:  # an enabling commit carries its own metaData
        if "metaData" in a:
            meta = a["metaData"]
    if meta is None and pre_state is not None:
        meta = pre_state.get("metaData")
    if meta is None:
        return actions
    conf = meta.get("configuration") or {}
    if str(conf.get(ICT_CONF, "")).lower() != "true":
        return actions
    prev = _prev_ict(table, version)
    ict = int(time.time() * 1000)
    if prev is not None and ict <= prev:
        ict = prev + 1
    rest = []
    info = None
    for a in actions:
        if "commitInfo" in a and info is None:
            info = dict(a["commitInfo"])
        else:
            rest.append(a)
    if info is None:
        info = _commit_info("UNKNOWN")["commitInfo"]
    info["inCommitTimestamp"] = ict
    return [{"commitInfo": info}] + rest


def crc_path(table: str, version: int) -> str:
    return os.path.join(table, "_delta_log", f"{version:020d}.crc")


def _crc_doc(
    n_files: int,
    size: int,
    n_dv: int,
    meta: dict[str, Any] | None,
    proto: dict[str, Any] | None,
) -> dict[str, Any] | None:
    if meta is None or proto is None:
        return None  # foreign/partial shape — skip rather than guess
    return {
        "tableSizeBytes": int(size),
        "numFiles": int(n_files),
        "numDeletionVectorsOpt": int(n_dv),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": meta,
        "protocol": proto,
    }


def _apply_file_actions(
    cur: dict[str, tuple[int, bool]], actions: list[dict[str, Any]]
) -> dict[str, tuple[int, bool]]:
    """{path: (size, has_dv)} after ``actions`` (in order)."""
    for a in actions:
        if "add" in a:
            ad = a["add"]
            cur[ad["path"]] = (
                int(ad["size"]), bool(ad.get("deletionVector"))
            )
        elif "remove" in a:
            cur.pop(a["remove"]["path"], None)
    return cur


def _write_crc(
    table: str,
    version: int,
    actions: list[dict[str, Any]],
    pre_state: dict[str, Any] | None,
) -> None:
    """Maintain the per-version checksum sidecar (``{v}.crc``): the
    snapshot's aggregate state (file count, byte size, DV count,
    current metadata + protocol) — what lets ``table_stats`` answer
    "how big is this table" WITHOUT replaying a million-add log.
    Exact when ``pre_state`` is supplied (the replayed state every
    state-dependent commit already holds); incremental from the
    previous crc for blind ADD-ONLY commits (appends — freshly
    UUID-named paths by construction, so counts simply accumulate);
    version 0 computes from its own actions. Any other shape (remove
    without a pre-state, gap in the crc chain) skips: the crc chain
    heals at the next exact write or ``write_version_checksum``."""
    path = crc_path(table, version)
    if os.path.exists(path):
        return
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    meta_a = next(
        (a["metaData"] for a in actions if "metaData" in a), None
    )
    proto_a = next(
        (a["protocol"] for a in actions if "protocol" in a), None
    )
    doc = None
    if pre_state is not None:
        cur = {
            p: (int(x["size"]), bool(x.get("deletionVector")))
            for p, x in pre_state["files"].items()
        }
        cur = _apply_file_actions(cur, actions)
        doc = _crc_doc(
            len(cur),
            sum(s for s, _ in cur.values()),
            sum(1 for _, dv in cur.values() if dv),
            meta_a or pre_state.get("metaData"),
            proto_a or pre_state.get("protocol"),
        )
    elif version == 0:
        cur = _apply_file_actions({}, actions)
        doc = _crc_doc(
            len(cur),
            sum(s for s, _ in cur.values()),
            sum(1 for _, dv in cur.values() if dv),
            meta_a,
            proto_a,
        )
    elif not removes:
        prev_p = crc_path(table, version - 1)
        if not os.path.exists(prev_p):
            return
        with open(prev_p) as fh:
            prev = json.load(fh)
        doc = _crc_doc(
            prev["numFiles"] + len(adds),
            prev["tableSizeBytes"] + sum(int(a["size"]) for a in adds),
            prev.get("numDeletionVectorsOpt", 0)
            + sum(1 for a in adds if a.get("deletionVector")),
            meta_a or prev.get("metadata"),
            proto_a or prev.get("protocol"),
        )
    if doc is None:
        return
    tmp = path + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)


def _state_crc(state: dict[str, Any]) -> dict[str, Any] | None:
    files = state["files"]
    return _crc_doc(
        len(files),
        sum(int(a["size"]) for a in files.values()),
        sum(1 for a in files.values() if a.get("deletionVector")),
        state.get("metaData"),
        state.get("protocol"),
    )


def write_version_checksum(
    spark: SparkSession, table: str, version: int | None = None
) -> dict[str, Any]:
    """Recompute and (over)write the checksum sidecar for ``version``
    (default: the head) from a full replay — the chain-healing /
    backfill entry point for logs written before crc maintenance or
    across an incremental gap. Returns the document."""
    state = delta_reader._replay(spark, table, version)
    doc = _state_crc(state)
    if doc is None:
        raise ValueError(f"no metadata to checksum at {table}")
    v = int(state["version"])
    path = crc_path(table, v)
    tmp = path + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)
    return doc


def verify_checksum(
    spark: SparkSession, table: str, version: int | None = None
) -> dict[str, Any]:
    """Audit a stored crc against a full replay. Returns
    ``{"version", "stored": bool, "ok": bool, "diff": {...}}`` —
    ``ok`` is True when no crc is stored (nothing to contradict) or
    the stored aggregates match the replayed state exactly."""
    state = delta_reader._replay(spark, table, version)
    v = int(state["version"])
    p = crc_path(table, v)
    if not os.path.exists(p):
        return {"version": v, "stored": False, "ok": True, "diff": {}}
    with open(p) as fh:
        stored = json.load(fh)
    want = _state_crc(state)
    diff = {
        k: {"stored": stored.get(k), "replayed": want[k]}
        for k in (
            "tableSizeBytes", "numFiles", "numDeletionVectorsOpt"
        )
        if stored.get(k) != want[k]
    }
    if (stored.get("metadata") or {}).get("id") != (
        (want["metadata"] or {}).get("id")
    ):
        diff["metadata.id"] = {
            "stored": (stored.get("metadata") or {}).get("id"),
            "replayed": (want["metadata"] or {}).get("id"),
        }
    return {
        "version": v, "stored": True, "ok": not diff, "diff": diff
    }


def _next_version(table: str) -> int:
    """Max of the last JSON commit and the last checkpoint, plus one —
    a log whose pre-checkpoint JSON commits were cleaned up must not
    reuse a version at or below the checkpoint (the reader replays
    from the checkpoint and would never see it).

    CONCURRENCY WARNING: a state-DEPENDENT commit (DML, OPTIMIZE,
    RESTORE — anything whose remove set was computed from a replayed
    state) must NOT take its version from this fresh directory
    listing: a commit that raced in between the replay and here would
    be silently absorbed (version bumps past it, no EEXIST, the
    conflict check never runs — a lost update). Every library
    write path now claims the replayed version + 1 (via
    ``_commit_from_state`` or directly in its retry loop); this fresh
    listing remains for version arithmetic (no-op returns, CDF range
    resolution) and the DataSource's blind-append commit."""
    commits = delta_reader._commit_files(table)
    last = commits[-1][0] if commits else -1
    cp = delta_reader._checkpoint(table)
    if cp is not None:
        last = max(last, cp[0])
    return last + 1


def _commit_from_state(
    spark: SparkSession,
    table: str,
    state: dict[str, Any],
    actions: list[dict[str, Any]],
    operation: str,
    check_meta: bool = True,
) -> int:
    """SERIALIZABLE state-dependent commit: claim exactly
    ``state['version'] + 1``, so any commit that raced in after the
    state was replayed forces ``FileExistsError`` and the conflict
    check — never a silent lost update (the hole the r8 two-process
    race test exposed: a fresh ``_next_version`` listing let a stale
    writer skip the collision entirely). On EEXIST the state is
    re-replayed: an unchanged file set (+ metaData when
    ``check_meta``) means the racing commit was benign (txn/
    commitInfo-only) and the retry claims the new head; anything else
    raises the documented concurrent-modification error for the
    caller to re-run."""
    base = int(state.get("version", -1))
    for _ in range(_MAX_COMMIT_RETRIES):
        version = base + 1 if base >= 0 else _next_version(table)
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(
                spark, table, version, state.get("metaData")
            )
            return version
        except FileExistsError:
            fresh = delta_reader._replay(spark, table, None)
            if fresh["files"] != state["files"] or (
                check_meta and fresh["metaData"] != state["metaData"]
            ):
                raise ValueError(
                    f"concurrent modification of {table} during "
                    f"{operation}; re-run the statement"
                ) from None
            base = int(fresh.get("version", -1))
    raise RuntimeError(
        f"{operation} on {table} lost too many commit races"
    )


def _commit_info(
    operation: str, user_metadata: str | None = None
) -> dict[str, Any]:
    # user_metadata: the spec's free-form commitInfo.userMetadata
    info: dict[str, Any] = {
        "operation": operation,
        "timestamp": int(time.time() * 1000),
        "engineInfo": "dst-spark-k8-lakehouse-spark pure-python writer",
    }
    if user_metadata is not None:
        info["userMetadata"] = user_metadata
    return {"commitInfo": info}


def _txn_action(txn: tuple[str, int]) -> dict[str, Any]:
    return {
        "txn": {
            "appId": txn[0],
            "version": int(txn[1]),
            "lastUpdated": int(time.time() * 1000),
        }
    }


def _stamped_projection(
    df: DataFrame, meta: dict[str, Any], cols: list[str],
    phys: dict[str, str],
) -> DataFrame:
    """Project ``cols`` under their PHYSICAL names; in ``id`` mode each
    column additionally carries ``parquet.field.id`` metadata from
    ``delta.columnMapping.id`` so Spark embeds the field id in the
    parquet footers — what keeps the files readable by id-matching
    forever, across any number of renames."""
    mode, _ = delta_reader._mapping(meta)
    if mode != "id":
        return df.select(*[F.col(c).alias(phys.get(c, c)) for c in cols])
    ids = delta_reader._mapping_ids(meta)
    # write-side field-id support keys off the column metadata; the
    # conf is default-on in Spark 3.3+ — set it anyway, loudly cheap
    df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true"
    )
    return df.select(
        *[
            F.col(c).alias(
                phys.get(c, c), metadata={"parquet.field.id": ids[c]}
            )
            for c in cols
        ]
    )


def create_delta(
    df: DataFrame, table: str, partition_by: list[str] | None = None,
    column_mapping: str = "none",
    generated: dict[str, str] | None = None,
    cluster_by: list[str] | None = None,
    identity: dict[str, dict[str, Any]] | None = None,
    txn: tuple[str, int] | None = None,
    user_metadata: str | None = None,
) -> None:
    """CREATE: version-0 commit (protocol + metaData + adds),
    optionally Hive-partitioned by ``partition_by``; ``txn`` and
    ``user_metadata`` as in ``append_delta`` (a stream's first
    micro-batch may create the table).

    ``column_mapping``: ``"none"`` (plain), ``"name"`` (fields pinned
    to their creation names as ``physicalName``; renames stay
    metadata-only) or ``"id"`` (the spec's strongest mode: physical
    names are opaque ``col-<uuid>``, data files embed each column's
    ``delta.columnMapping.id`` as a parquet field id, and EVERY read
    — ``read_delta`` and the ``delta_native`` DataSource — matches by
    id, never by name). Mapped tables commit protocol (2, 5) per the
    spec. Real Delta only allows ``id`` at creation (an upgrade
    can't retro-stamp existing files); same here.

    ``generated``: ``{column: sql expression}`` GENERATED ALWAYS AS
    columns (``plans/delta_generated`` — the Delta idiom for hidden
    partitioning: ``generated={"d": "CAST(ts AS DATE)"},
    partition_by=["d"]``). Missing columns are computed here and on
    every append; supplied ones are VALIDATED; ``read_delta``'s
    ``predicates`` prune partitions through recognized expressions.
    Commits minWriterVersion 4 per the spec.

    ``cluster_by``: LIQUID CLUSTERING columns (the spec's "Clustered
    Table" writer feature). Mutually exclusive with ``partition_by``
    (a clustered table has no Hive partitioning — that is its point:
    clustering keys can change without relayout of the directory
    tree). Recorded as the ``delta.clustering`` domain-metadata
    action; ``cluster_delta`` then clusters INCREMENTALLY — only
    files not yet tagged as clustered are rewritten.

    ``identity``: ``{column: {"start": s, "step": k,
    "always": bool}}`` IDENTITY columns (``plans/delta_identity`` —
    the spec's ``identityColumns`` writer feature): a LONG column the
    writer populates on the ``start + k·step`` lattice from a
    high-water mark in the field metadata; creation-only, like real
    Delta. Pass data columns only — the id column is appended here
    and on every append that omits it."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_generated,
        delta_identity,
    )

    if delta_reader.is_delta_table(table):
        raise ValueError(f"Delta table already exists at {table}")
    cluster_by = list(cluster_by or [])
    if cluster_by:
        if partition_by:
            raise ValueError(
                "cluster_by and partition_by are mutually exclusive: "
                "a clustered table owns its whole layout"
            )
        if column_mapping != "none":
            raise NotImplementedError(
                "liquid clustering on a column-mapped table is not "
                "supported by the jar-free path"
            )
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"cluster column(s) {missing} not in {df.columns}"
            )
    if column_mapping not in ("none", "name", "id"):
        raise ValueError(
            f"column_mapping {column_mapping!r}: none, name or id"
        )
    generated = dict(generated or {})
    for col, expr in generated.items():
        if col in df.columns:
            raise ValueError(
                f"generated column {col!r} already in the input frame; "
                "pass data columns only (it is computed here)"
            )
        df = df.withColumn(col, F.expr(expr))
    identity = dict(identity or {})
    if identity:
        if column_mapping != "none":
            raise NotImplementedError(
                "identity columns + column mapping on one table is "
                "not supported by the jar-free path"
            )
        overlap = sorted(set(identity) & set(generated))
        if overlap:
            raise ValueError(
                f"column(s) {overlap} declared both generated and "
                "identity"
            )
        for col, spec in identity.items():
            if col in df.columns:
                raise ValueError(
                    f"identity column {col!r} already in the input "
                    "frame; pass data columns only (values are "
                    "writer-generated)"
                )
            if col in (partition_by or []):
                raise NotImplementedError(
                    f"identity column {col!r} cannot be a partition "
                    "column (every row would open a new directory)"
                )
            if int(spec.get("step", 1)) == 0:
                raise ValueError(f"identity {col!r}: step must be != 0")
            start = int(spec.get("start", 1))
            step = int(spec.get("step", 1))
            df = df.withColumn(
                col,
                (
                    F.lit(start).cast("long")
                    + F.monotonically_increasing_id() * F.lit(step)
                ).cast("long"),
            )
    partition_by = list(partition_by or [])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition column(s) {missing} not in {df.columns}")
    os.makedirs(table, exist_ok=True)
    conf: dict[str, str] = {}
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    if column_mapping == "none":
        if generated or identity:
            md_by_col: dict[str, dict[str, Any]] = {
                c: {delta_generated.GENERATION_KEY: e}
                for c, e in generated.items()
            }
            for c, spec in identity.items():
                md_by_col[c] = {
                    delta_identity.START_KEY: int(spec.get("start", 1)),
                    delta_identity.STEP_KEY: int(spec.get("step", 1)),
                    delta_identity.ALLOW_KEY: not spec.get(
                        "always", True
                    ),
                }
            fields = [
                _field_json(
                    # identity columns are non-nullable by contract
                    T.StructField(f.name, f.dataType, False)
                    if f.name in identity else f,
                    md_by_col.get(f.name),
                )
                for f in df.schema.fields
            ]
            schema_string = json.dumps(
                {"type": "struct", "fields": fields}
            )
        else:
            schema_string = _schema_string(df.schema)
    else:
        if generated:
            raise NotImplementedError(
                "generated columns + column mapping on one table: "
                "create separately (mapping renames would detach the "
                "expressions' column references)"
            )
        fields = []
        for i, f in enumerate(df.schema.fields):
            pn = (
                f"col-{uuid.uuid4()}" if column_mapping == "id"
                else f.name
            )
            fields.append(
                _field_json(
                    f,
                    {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": pn,
                    },
                )
            )
        schema_string = json.dumps({"type": "struct", "fields": fields})
        conf = {
            "delta.columnMapping.mode": column_mapping,
            "delta.columnMapping.maxColumnId": str(len(fields)),
        }
        proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    if generated:
        # the generatedColumns writer feature (legacy protocol)
        proto = {
            "minReaderVersion": proto["minReaderVersion"],
            "minWriterVersion": max(proto["minWriterVersion"], 4),
        }
    if cluster_by:
        # clustering + domainMetadata are WRITER table features →
        # minWriterVersion 7 with the lists spelled out; readers are
        # unaffected (minReaderVersion stays 1)
        proto = {
            "minReaderVersion": proto["minReaderVersion"],
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                {"appendOnly", "invariants", "clustering",
                 "domainMetadata"}
            ),
        }
    if identity:
        wf = {"appendOnly", "invariants", "identityColumns"}
        wf |= set(proto.get("writerFeatures") or [])
        if generated:
            wf.add("generatedColumns")
        proto = {
            "minReaderVersion": proto["minReaderVersion"],
            "minWriterVersion": 7,
            "writerFeatures": sorted(wf),
        }
    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": partition_by,
        "configuration": conf,
        "createdTime": int(time.time() * 1000),
    }
    actions: list[dict[str, Any]] = [
        {"protocol": proto},
        {"metaData": meta},
    ]
    if cluster_by:
        actions.append(
            {
                "domainMetadata": {
                    "domain": CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cluster_by]}
                    ),
                    "removed": False,
                }
            }
        )
    _mode, phys = delta_reader._mapping(meta)
    data_cols = [c for c in df.columns if c not in partition_by]
    out = _stamped_projection(
        df, meta, data_cols + partition_by, phys
    )
    adds = _write_data_files(
        out, table, [phys.get(c, c) for c in partition_by] or None
    )
    actions += adds
    if identity and adds:
        # the very first watermark rides the create's own metaData
        # (derived from the freshly written files' footer stats)
        bumped = delta_identity.advance_hwm(
            meta, delta_identity.identity_specs(meta), adds, phys
        )
        if bumped is not None:
            meta.clear()
            meta.update(bumped)
    if txn is not None:
        actions.append(_txn_action(txn))
    actions.append(_commit_info("CREATE TABLE AS SELECT", user_metadata))
    _commit(table, 0, actions)


def _reconcile_schema(
    df: DataFrame,
    meta: dict[str, Any],
    merge_schema: bool,
) -> tuple[DataFrame, dict[str, Any] | None, list[str], dict[str, str]]:
    """Align ``df`` with the table schema. Returns
    ``(aligned_df, metaData action or None, logical partition cols,
    {logical: physical})``.

    - columns missing from df: filled with typed nulls when nullable
      (refused for partition or non-nullable columns);
    - columns new in df: appended as nullable fields when
      ``merge_schema`` (a new metaData action carries the widened
      schemaString), refused otherwise;
    - same-name type mismatch: always refused — mergeSchema adds
      columns, it never rewrites history to a different type.
    """
    schema_json = json.loads(meta["schemaString"])
    table_schema = delta_reader.schema_from_json(schema_json)
    mode, phys = delta_reader._mapping(meta)
    part_cols = delta_reader._partition_cols(meta, table_schema, phys)
    by_name = {f.name: f for f in table_schema.fields}
    df_types = {f.name: f.dataType for f in df.schema.fields}

    mismatched = sorted(
        n for n, dt in df_types.items()
        # simpleString: the type without nullability flags, which a
        # schema merge never compares (F.array builds array<bigint>
        # with containsNull=false, a parquet read with true)
        if n in by_name
        and by_name[n].dataType.simpleString() != dt.simpleString()
    )
    if mismatched:
        detail = {
            n: (df_types[n].simpleString(),
                by_name[n].dataType.simpleString())
            for n in mismatched
        }
        raise ValueError(
            f"append column type(s) differ from the table's: {detail} "
            "(mergeSchema adds columns; it never changes a column's type)"
        )

    # generated columns missing from the input are COMPUTED from
    # their expression (the spec's writer contract), never null-filled
    from dst_spark_k8_lakehouse_spark.plans import delta_generated

    gen = delta_generated.generation_exprs(meta)
    for f in table_schema.fields:
        if f.name in gen and f.name not in df_types:
            df = df.withColumn(
                f.name, F.expr(gen[f.name]).cast(f.dataType)
            )
            df_types[f.name] = f.dataType

    # declared CURRENT_DEFAULTs fill omitted columns with their
    # expression (the allowColumnDefaults writer contract); columns
    # without one null-fill as before
    defaults = column_defaults(meta)
    missing = [f for f in table_schema.fields if f.name not in df_types]
    bad = [f.name for f in missing
           if (f.name in part_cols or not f.nullable)
           and f.name not in defaults]
    if bad:
        raise ValueError(
            f"append schema is missing required column(s) {bad} "
            "(partition or non-nullable columns cannot be null-filled)"
        )
    for f in missing:
        if f.name in defaults:
            df = df.withColumn(
                f.name, F.expr(defaults[f.name]).cast(f.dataType)
            )
        else:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))

    new = [f for f in df.schema.fields
           if f.name not in by_name and f.name in df_types]
    meta_action = None
    if new:
        if not merge_schema:
            raise ValueError(
                f"append schema adds column(s) {[f.name for f in new]} "
                f"not in the table schema "
                f"{[f.name for f in table_schema.fields]}; pass "
                "merge_schema=True to evolve the table"
            )
        new_meta = dict(meta)
        conf = dict(new_meta.get("configuration") or {})
        fields = list(schema_json["fields"])
        if mode in ("name", "id"):
            max_id = int(conf.get("delta.columnMapping.maxColumnId", 0))
            for f in new:
                max_id += 1
                # UUID physical names for post-enablement columns in
                # BOTH modes — see add_column (resurrection hazard)
                pn = f"col-{uuid.uuid4()}"
                fields.append(
                    _field_json(
                        T.StructField(f.name, f.dataType, True),
                        {
                            "delta.columnMapping.id": max_id,
                            "delta.columnMapping.physicalName": pn,
                        },
                    )
                )
                phys[f.name] = pn
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
        else:
            fields += [
                _field_json(T.StructField(f.name, f.dataType, True))
                for f in new
            ]
        new_meta["schemaString"] = json.dumps(
            {"type": "struct", "fields": fields}
        )
        new_meta["configuration"] = conf
        meta_action = {"metaData": new_meta}
        order = [f["name"] for f in fields]
    else:
        order = [f.name for f in table_schema.fields]
    return df.select(*order), meta_action, part_cols, phys


def append_delta(
    df: DataFrame,
    table: str,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
    user_metadata: str | None = None,
) -> int:
    """APPEND: adds only (plus a widened ``metaData`` when
    ``merge_schema`` evolved the schema). A lost commit race is
    retried at the winner's next version after re-validating the
    reconciliation against the fresh state.

    ``txn=(app_id, version)`` makes the append IDEMPOTENT via the
    spec's ``SetTransaction`` action: if the log already records this
    app at >= this version the append is a no-op — the contract a
    streaming ``foreachBatch`` sink replays against so a retried
    micro-batch lands exactly once (re-checked inside the retry loop,
    so a racing duplicate writer cannot double-commit either).
    ``user_metadata`` becomes the commit's ``commitInfo.userMetadata``.

    Returns the committed version (-1 for an idempotent skip)."""
    from dst_spark_k8_lakehouse_spark.plans import delta_identity

    adds: list[dict[str, Any]] | None = None
    written_cols: list[str] | None = None
    used_specs: dict[str, dict[str, Any]] | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(df.sparkSession, table, None)
        if txn is not None and state["txns"].get(txn[0], -1) >= txn[1]:
            return -1  # this batch already committed
        df_in, id_specs = delta_identity.check_and_assign(
            df, state["metaData"]
        )
        generated_ids = any(c not in df.columns for c in id_specs)
        if adds is not None and generated_ids and id_specs != used_specs:
            # a racing commit moved an identity watermark: the ids
            # baked into the written files may collide — re-generate
            # and re-write (the spec's re-execute-on-conflict policy;
            # the first attempt's files are unreferenced orphans).
            # Explicit-values-only writes skip this: their values came
            # from the caller, not the watermark
            adds = None
        aligned, meta_action, part_cols, phys = _reconcile_schema(
            df_in, state["metaData"], merge_schema
        )
        if adds is None:
            used_specs = id_specs
            check_constraints(aligned, state["metaData"])
            # data files are written once; physical column names (and,
            # in id mode, embedded field ids) go in the files,
            # partition columns go in the directory layout
            meta_now = (
                meta_action["metaData"] if meta_action
                else state["metaData"]
            )
            out = _stamped_projection(
                aligned,
                meta_now,
                [c for c in aligned.columns if c not in part_cols]
                + list(part_cols),
                phys,
            )
            adds = _write_data_files(
                out, table, [phys.get(c, c) for c in part_cols] or None
            )
            written_cols = aligned.columns
        elif aligned.columns != written_cols:
            raise RuntimeError(
                "concurrent schema change during append retry: table now "
                f"expects {aligned.columns}, data was written as "
                f"{written_cols}; re-run the append"
            )
        # claim exactly the replayed version + 1: the txn idempotence
        # re-check and any widened metaData were computed against THIS
        # state, so a commit that raced in must force EEXIST and a
        # fresh loop (a fresh _next_version listing would let a racing
        # duplicate micro-batch land the same txn epoch twice)
        version = int(state.get("version", -1)) + 1
        if id_specs:
            # watermark advance derives from the adds' footer stats —
            # layered on top of any schema-merge metaData, computed
            # against THIS replayed state inside the retry loop
            bumped = delta_identity.advance_hwm(
                meta_action["metaData"] if meta_action
                else state["metaData"],
                id_specs, adds, phys,
            )
            if bumped is not None:
                meta_action = {"metaData": bumped}
        actions = ([meta_action] if meta_action else []) + adds
        from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking

        if delta_rowtracking.enabled(state):
            # id ranges come from THIS state's watermark — assigned
            # inside the retry loop so a raced-in append can't hand
            # out overlapping ranges (the loser re-replays and
            # re-assigns past the winner's new watermark)
            actions.append(
                delta_rowtracking.assign_base_row_ids(
                    state, adds, version
                )
            )
        if txn is not None:
            actions.append(_txn_action(txn))
        actions.append(_commit_info("WRITE", user_metadata))
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(
                df.sparkSession, table, version, state.get("metaData")
            )
            return version
        except FileExistsError:
            continue
    raise RuntimeError(
        f"append to {table} lost {_MAX_COMMIT_RETRIES} commit races"
    )


def add_column(
    spark: SparkSession, table: str, name: str, dtype: T.DataType | str
) -> int:
    """ALTER TABLE ADD COLUMN (nullable) — a metaData-only commit; no
    data job, old files read the column as null. Returns the committed
    version."""
    if isinstance(dtype, str):
        dtype = T._parse_datatype_string(dtype)
    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(spark, table, None)
        meta = dict(state["metaData"])
        schema_json = json.loads(meta["schemaString"])
        if any(f["name"] == name for f in schema_json["fields"]):
            raise ValueError(f"column {name!r} already exists")
        mode, _phys = delta_reader._mapping(meta)
        conf = dict(meta.get("configuration") or {})
        md: dict[str, Any] = {}
        if mode in ("name", "id"):
            max_id = int(conf.get("delta.columnMapping.maxColumnId", 0)) + 1
            md = {
                "delta.columnMapping.id": max_id,
                # fresh columns get UUID physical names in BOTH modes
                # (real Delta too): a logical-name physical name could
                # collide with a DROPPED or renamed-away column's
                # bytes still present in old files — resurrection
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
            }
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
        schema_json["fields"].append(
            _field_json(T.StructField(name, dtype, True), md)
        )
        meta["schemaString"] = json.dumps(schema_json)
        meta["configuration"] = conf
        # replayed version + 1: a racing schema change must surface
        # via EEXIST + re-replay, never be clobbered by a stale merge
        version = int(state.get("version", -1)) + 1
        try:
            _commit(
                table,
                version,
                [{"metaData": meta}, _commit_info("ADD COLUMNS")],
                pre_state=state,
            )
            _maybe_auto_checkpoint(spark, table, version, meta)
            return version
        except FileExistsError:
            continue
    raise RuntimeError(f"add_column on {table} lost too many commit races")


def rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only via column mapping in
    ``name`` mode (enabled on first rename: every field is pinned to
    its current parquet name as ``physicalName``, the protocol is
    upgraded to (2, 5) per the spec). No data file is touched; old
    versions stay readable. Returns the committed version."""
    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(spark, table, None)
        meta = dict(state["metaData"])
        schema_json = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema_json["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        conf = dict(meta.get("configuration") or {})
        actions: list[dict[str, Any]] = []
        if conf.get("delta.columnMapping.mode", "none") == "none":
            for i, f in enumerate(schema_json["fields"]):
                md = dict(f.get("metadata") or {})
                md.setdefault("delta.columnMapping.id", i + 1)
                md.setdefault("delta.columnMapping.physicalName", f["name"])
                f["metadata"] = md
            conf["delta.columnMapping.mode"] = "name"
            conf["delta.columnMapping.maxColumnId"] = str(
                len(schema_json["fields"])
            )
            actions.append(
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
            )
        for f in schema_json["fields"]:
            if f["name"] == old:
                f["name"] = new
        meta["partitionColumns"] = [
            new if c == old else c
            for c in meta.get("partitionColumns") or []
        ]
        meta["schemaString"] = json.dumps(schema_json)
        meta["configuration"] = conf
        actions += [{"metaData": meta}, _commit_info("RENAME COLUMN")]
        version = int(state.get("version", -1)) + 1  # see add_column
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(spark, table, version, meta)
            return version
        except FileExistsError:
            continue
    raise RuntimeError(f"rename_column on {table} lost too many commit races")


def drop_column(spark: SparkSession, table: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only via column mapping
    (real Delta's requirement too: without mapping, dropping then
    re-adding a same-named column would resurrect the old bytes).
    First drop enables ``name`` mode exactly like ``rename_column``;
    the field then leaves the schemaString — data files keep the
    physical column, reads stop projecting it, time travel before the
    drop still sees it. Refused while the column has semantic
    consumers: partition columns, generated columns and their
    expression SOURCES, CHECK-constraint references, identity
    columns, and the row-tracking materialized-id column. Returns the
    committed version."""
    import re as _re

    from dst_spark_k8_lakehouse_spark.plans import (
        delta_generated,
        delta_identity,
        delta_rowtracking,
    )

    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(spark, table, None)
        meta = dict(state["metaData"])
        schema_json = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema_json["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} in {names}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(
                f"{name!r} is a partition column; repartition the "
                "table instead"
            )
        if name in delta_identity.identity_specs(meta):
            raise ValueError(
                f"{name!r} is an identity column; its watermark "
                "contract cannot be dropped out from under the table"
            )
        if name == delta_rowtracking.materialized_col(meta):
            raise ValueError(
                f"{name!r} is the row-tracking materialized-id "
                "column; disable row tracking first"
            )
        word = _re.compile(rf"\b{_re.escape(name)}\b")
        gen = delta_generated.generation_exprs(meta)
        if name in gen:
            pass  # dropping a generated column itself is fine
        refs = sorted(
            c for c, e in gen.items() if c != name and word.search(e)
        )
        if refs:
            raise ValueError(
                f"{name!r} is a generation-expression source for "
                f"{refs}; drop those generated columns first"
            )
        cons = sorted(
            cn for cn, e in constraints_of(meta).items()
            if word.search(e)
        )
        if cons:
            raise ValueError(
                f"{name!r} is referenced by CHECK constraint(s) "
                f"{cons}; drop them first"
            )
        conf = dict(meta.get("configuration") or {})
        actions: list[dict[str, Any]] = []
        if conf.get("delta.columnMapping.mode", "none") == "none":
            for i, f in enumerate(schema_json["fields"]):
                md = dict(f.get("metadata") or {})
                md.setdefault("delta.columnMapping.id", i + 1)
                md.setdefault(
                    "delta.columnMapping.physicalName", f["name"]
                )
                f["metadata"] = md
            conf["delta.columnMapping.mode"] = "name"
            conf["delta.columnMapping.maxColumnId"] = str(
                len(schema_json["fields"])
            )
            actions.append(
                {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}}
            )
        schema_json["fields"] = [
            f for f in schema_json["fields"] if f["name"] != name
        ]
        meta["schemaString"] = json.dumps(schema_json)
        meta["configuration"] = conf
        actions += [{"metaData": meta}, _commit_info("DROP COLUMNS")]
        version = int(state.get("version", -1)) + 1  # see add_column
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(spark, table, version, meta)
            return version
        except FileExistsError:
            continue
    raise RuntimeError(
        f"drop_column on {table} lost too many commit races"
    )




# adds per written checkpoint batch: bounds peak memory at any add count
_CHECKPOINT_CHUNK = 100_000


def _checkpoint_add_table(files: dict[str, dict[str, Any]],
                          paths: list[str], schema):
    """The checkpoint rows of the live adds ``paths`` (keys of
    ``files``) as a pyarrow table of ``schema``: its ``add`` column
    filled, every other action column null. The ``add`` struct is
    built column by column — one ``pa.array`` per field, no per-add
    dict — with ``dataChange: false`` per the spec; stats, tags,
    deletion-vector descriptors and row-tracking fields all survive
    (each has a test pinning why dropping it would be a wrong-rows
    bug). Shared by both checkpoint writers."""
    import pyarrow as pa

    add_type = schema.field("add").type
    adds = [files[p] for p in paths]
    n = len(adds)

    def col(name, values):
        return pa.array(values, type=add_type.field(name).type)

    add = pa.StructArray.from_arrays(
        [
            col("path", paths),
            col("partitionValues",
                [a.get("partitionValues") or {} for a in adds]),
            col("size", [int(a["size"]) for a in adds]),
            col("modificationTime",
                [int(a.get("modificationTime") or 0) for a in adds]),
            pa.repeat(pa.scalar(False), n),
            col("deletionVector", [
                {
                    "storageType": d["storageType"],
                    "pathOrInlineDv": d["pathOrInlineDv"],
                    "offset": int(d.get("offset") or 0),
                    "sizeInBytes": int(d["sizeInBytes"]),
                    "cardinality": int(d["cardinality"]),
                }
                if d else None
                for d in (a.get("deletionVector") for a in adds)
            ]),
            col("stats", [a.get("stats") for a in adds]),
            col("tags", [a.get("tags") for a in adds]),
            col("baseRowId", [a.get("baseRowId") for a in adds]),
            col("defaultRowCommitVersion",
                [a.get("defaultRowCommitVersion") for a in adds]),
        ],
        fields=list(add_type),
    )
    return pa.Table.from_arrays(
        [add if f.name == "add" else pa.nulls(n, f.type) for f in schema],
        schema=schema,
    )


def write_checkpoint(spark: SparkSession, table: str) -> int:
    """Write a classic single-file parquet checkpoint of the CURRENT
    log state (protocol + metaData + one reconstructed ``add`` per
    live file, ``dataChange: false`` per the spec) and point
    ``_last_checkpoint`` at it. Readers — ours and real Delta — then
    replay from the checkpoint instead of every JSON commit: the move
    that keeps log replay O(live files), not O(history), on a table
    taking thousands of commits. Returns the checkpointed version.

    The file is written DRIVER-SIDE with pyarrow in bounded chunks
    (like the V2 sidecar writer) — checkpointing is metadata work, and
    the pre-r11 ``createDataFrame(...).coalesce(1)`` spelling pickled
    the whole add set into ONE Spark task (~256 MB at 1M adds, the
    finding from SCALING.md's measured 1M tier) for zero gain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = delta_reader._replay(spark, table, None)
    commits = delta_reader._commit_files(table)
    if not commits:
        raise ValueError(f"nothing to checkpoint at {table}")
    version = commits[-1][0]
    proto = state.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    md = state["metaData"]
    types = _pa_action_types()
    schema = pa.schema(
        [
            ("protocol", types["protocol"]),
            ("metaData", types["metaData"]),
            ("add", types["add"]),
            ("remove", types["remove"]),
            ("txn", types["txn"]),
            ("domainMetadata", types["domainMetadata"]),
        ]
    )
    head: list[dict[str, Any]] = [
        {
            "protocol": {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": proto["minWriterVersion"],
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            }
        },
        {
            "metaData": {
                "id": md.get("id"),
                "name": md.get("name"),
                "description": md.get("description"),
                "format": {
                    "provider": (md.get("format") or {}).get(
                        "provider", "parquet"
                    ),
                    "options": (md.get("format") or {}).get("options")
                    or {},
                },
                "schemaString": md["schemaString"],
                "partitionColumns": md.get("partitionColumns") or [],
                "configuration": md.get("configuration") or {},
                "createdTime": md.get("createdTime"),
            }
        },
    ]
    # txn watermarks survive checkpointing (the idempotent streaming
    # sink replays them; losing one would double-apply a micro-batch)
    head += [
        {"txn": {"appId": app_id, "version": int(tv)}}
        for app_id, tv in sorted(state.get("txns", {}).items())
    ]
    # live domain metadata (e.g. delta.clustering) survives too
    head += [
        {"domainMetadata": {"domain": dom, "configuration": conf,
                            "removed": False}}
        for dom, conf in sorted(state.get("domains", {}).items())
    ]
    paths = sorted(state["files"])
    log = os.path.join(table, "_delta_log")
    staging = os.path.join(log, f".cp-{uuid.uuid4().hex}.parquet")
    n_rows = len(head) + len(paths)
    chunk = _CHECKPOINT_CHUNK
    with pq.ParquetWriter(staging, schema) as writer:
        writer.write_table(pa.Table.from_pylist(head, schema=schema))
        for i in range(0, len(paths), chunk):
            writer.write_table(_checkpoint_add_table(
                state["files"], paths[i:i + chunk], schema
            ))
    final = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    os.replace(staging, final)
    tmp = os.path.join(log, f".lc-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": n_rows}, fh)
    os.replace(tmp, os.path.join(log, "_last_checkpoint"))
    try:
        # metadata cleanup rides the checkpoint (real Delta's shape):
        # the new checkpoint is the replay baseline, so commits below
        # it past the retention window can go
        clean_expired_log(
            table, conf=state["metaData"].get("configuration") or {}
        )
    except Exception:
        pass  # cleanup is never allowed to fail a checkpoint
    return version


V2_CHECKPOINT_FEATURE = "v2Checkpoint"


def _pa_action_types():
    """pyarrow struct types for V2 checkpoint files — the same action
    shapes BOTH checkpoint writers share, plus the two
    v2-only actions (``checkpointMetadata``, ``sidecar``) from the
    Delta PROTOCOL.md V2 Checkpoint spec."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    dv = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", dv),
            ("stats", pa.string()),
            ("tags", str_map),
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    remove = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    protocol = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    metadata = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            (
                "format",
                pa.struct(
                    [("provider", pa.string()), ("options", str_map)]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ]
    )
    txn = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    domain = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    cp_meta = pa.struct([("version", pa.int64()), ("tags", str_map)])
    sidecar = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
            ("tags", str_map),
        ]
    )
    return {
        "checkpointMetadata": cp_meta,
        "sidecar": sidecar,
        "protocol": protocol,
        "metaData": metadata,
        "add": add,
        "remove": remove,
        "txn": txn,
        "domainMetadata": domain,
    }


def _v2_protocol_action(state: dict) -> dict[str, Any] | None:
    """The protocol-upgrade action a V2 checkpoint needs (spec: the
    ``v2Checkpoint`` reader+writer feature must be declared BEFORE a
    v2-named checkpoint exists), or None when already declared. Legacy
    version capabilities in use are spelled into the feature lists the
    same way ``delta_dv._protocol_action`` does."""
    p = state.get("protocol") or {}
    feats = set(p.get("readerFeatures") or [])
    if p.get("minReaderVersion", 1) >= 3 and V2_CHECKPOINT_FEATURE in feats:
        return None
    mode = ((state["metaData"].get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ))
    reader_feats = {V2_CHECKPOINT_FEATURE} | feats
    writer_feats = {V2_CHECKPOINT_FEATURE} | set(
        p.get("writerFeatures") or []
    )
    if mode != "none":
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }
    }


def write_checkpoint_v2(
    spark: SparkSession,
    table: str,
    sidecar_files: int | None = None,
    adds_per_sidecar: int = 50_000,
) -> int:
    """Write a V2 (sidecar) checkpoint per the Delta PROTOCOL.md "V2
    Checkpoint Table Feature": file actions go to parquet SIDECAR
    files under ``_delta_log/_sidecars/``; a UUID-named top-level file
    ``{v:020d}.checkpoint.{uuid}.parquet`` holds ``checkpointMetadata``
    + protocol + metaData + txn + one ``sidecar`` pointer per part.

    WHY at 100 TB: a classic checkpoint is ONE parquet file the driver
    must read end-to-end before planning anything; on a table with
    tens of millions of adds that read serializes cold-start planning.
    Sidecars shard the file-action set so planning fans out — our
    columnar loader decodes sidecars on a thread pool (pyarrow
    releases the GIL), and a cluster-scale reader could ship one
    sidecar per task. Writes here are driver-side pyarrow: no Spark
    job, no shuffle — checkpointing is metadata work.

    ``sidecar_files`` forces an exact part count (tests);
    ``adds_per_sidecar`` sizes parts otherwise. Commits the protocol
    upgrade first when the table doesn't declare ``v2Checkpoint`` yet.
    Returns the checkpointed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = delta_reader._replay(spark, table, None)
    upgrade = _v2_protocol_action(state)
    if upgrade is not None:
        actions = [upgrade, _commit_info("UPGRADE PROTOCOL")]
        committed = _commit_from_state(
            spark, table, state, actions, "UPGRADE PROTOCOL"
        )
        if committed == int(state["version"]) + 1:
            # no race moved the head: the upgrade is the only change
            for act in actions:
                delta_reader._apply_action(state, act)
            state["version"] = committed
        else:
            state = delta_reader._replay(spark, table, None)
    version = int(state["version"])
    if version < 0:
        raise ValueError(f"nothing to checkpoint at {table}")
    types = _pa_action_types()
    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)

    paths = sorted(state["files"])
    n_parts = (
        max(1, int(sidecar_files))
        if sidecar_files is not None
        else max(1, -(-len(paths) // max(1, adds_per_sidecar)))
    )
    chunk = -(-max(1, len(paths)) // n_parts)
    sc_schema = pa.schema(
        [("add", types["add"]), ("remove", types["remove"])]
    )
    sidecars: list[dict[str, Any]] = []
    for i in range(n_parts):
        part = paths[i * chunk: (i + 1) * chunk]
        name = f"{uuid.uuid4().hex}.parquet"
        full = os.path.join(sc_dir, name)
        pq.write_table(
            _checkpoint_add_table(state["files"], part, sc_schema), full
        )
        st = os.stat(full)
        sidecars.append(
            {
                "path": name,
                "sizeInBytes": int(st.st_size),
                "modificationTime": int(st.st_mtime * 1000),
                "tags": None,
            }
        )
    proto = state.get("protocol")
    md = state["metaData"]
    top_schema = pa.schema(list(types.items()))
    blank = {k: None for k in types}
    top_rows: list[dict[str, Any]] = [
        {**blank, "checkpointMetadata": {"version": version, "tags": None}},
        {
            **blank,
            "protocol": {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": proto["minWriterVersion"],
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            },
        },
        {
            **blank,
            "metaData": {
                "id": md.get("id"),
                "name": md.get("name"),
                "description": md.get("description"),
                "format": {
                    "provider": (md.get("format") or {}).get(
                        "provider", "parquet"
                    ),
                    "options": (md.get("format") or {}).get("options")
                    or {},
                },
                "schemaString": md["schemaString"],
                "partitionColumns": md.get("partitionColumns") or [],
                "configuration": md.get("configuration") or {},
                "createdTime": md.get("createdTime"),
            },
        },
    ]
    for app_id, tv in sorted(state.get("txns", {}).items()):
        top_rows.append(
            {**blank, "txn": {"appId": app_id, "version": int(tv)}}
        )
    for dom, conf in sorted(state.get("domains", {}).items()):
        top_rows.append(
            {
                **blank,
                "domainMetadata": {
                    "domain": dom,
                    "configuration": conf,
                    "removed": False,
                },
            }
        )
    for sc in sidecars:
        top_rows.append({**blank, "sidecar": sc})
    tmp = os.path.join(log, f".cpv2-{uuid.uuid4().hex}.tmp")
    pq.write_table(pa.Table.from_pylist(top_rows, schema=top_schema), tmp)
    final = os.path.join(
        log, f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
    )
    os.replace(tmp, final)
    lc_tmp = os.path.join(log, f".lc-{uuid.uuid4().hex}.tmp")
    with open(lc_tmp, "w") as fh:
        json.dump(
            {"version": version, "size": len(paths) + len(top_rows)}, fh
        )
    os.replace(lc_tmp, os.path.join(log, "_last_checkpoint"))
    return version


def compact_delta(
    spark: SparkSession,
    table: str,
    target_files: int | None = None,
    min_files: int = 2,
    partition_filter: dict | None = None,
) -> int:
    """OPTIMIZE (bin-packing compaction) on a native log: rewrite each
    partition's small files into ``target_files`` (default: sized from
    total bytes at ~128 MiB per file), committing ``remove`` + ``add``
    with ``dataChange: false`` per the spec — a pure reorganization
    streams and time travel see through. The natural companion of the
    per-micro-batch streaming sink (many small appends). Partitions
    with fewer than ``min_files`` files are left alone.

    ``partition_filter`` (real Delta's ``OPTIMIZE t WHERE …``, typed
    identity values or a predicate like ``read_delta``'s) scopes the
    compaction: only matching partitions rewrite, everything else is
    untouched — at 100 TB you compact yesterday's partition after its
    ingest closes, never the whole table. Returns the committed
    version, or -1 if nothing needed compacting."""
    from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking

    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    mode, phys = delta_reader._mapping(meta)
    schema = delta_reader.schema_from_json(meta["schemaString"])
    part_cols = delta_reader._partition_cols(meta, schema, phys)
    row_tracked = delta_rowtracking.enabled(state)
    mat_col = delta_rowtracking.materialized_col(meta)
    if partition_filter is not None and not part_cols:
        raise ValueError(
            "partition_filter on an unpartitioned table (OPTIMIZE "
            "WHERE scopes by partition)"
        )
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for rel, a in state["files"].items():
        if a.get("deletionVector") and not row_tracked:
            # row-tracked compaction reads through the DV subtraction
            # (identity columns are already on the scan); the raw-file
            # path here would resurrect deleted rows
            raise NotImplementedError(
                "table has deletion vectors; raw-file compaction "
                "would resurrect deleted rows — run "
                "plans.delta_dv.materialize_dvs first"
            )
        pv = delta_reader._pv(a, part_cols, phys)
        if partition_filter is not None and not delta_reader._pv_pass(
            pv, partition_filter
        ):
            continue  # out-of-scope partition: untouched
        groups.setdefault(
            tuple(pv[c] for c in part_cols), []
        ).append((rel, a))
    now = int(time.time() * 1000)
    removes: list[dict[str, Any]] = []
    adds: list[dict[str, Any]] = []
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    read_fields = [
        T.StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
        for f in data_fields
    ]
    for key, files in groups.items():
        if len(files) < min_files:
            continue
        total = sum(int(a["size"]) for _, a in files)
        n_out = target_files or max(1, total // (128 << 20))
        if n_out >= len(files):
            continue
        paths = [
            rel if os.path.isabs(rel) else os.path.join(table, rel)
            for rel, _ in files
        ]
        df = spark.read.schema(T.StructType(read_fields)).parquet(
            *paths
        )
        if row_tracked:
            # PRESERVE row ids across the rewrite: resolve each row's
            # id (materialized or baseRowId + position) and write it
            # into the materialized column — after this, position in
            # the new files is irrelevant to identity. DV-deleted
            # rows are subtracted first (their ids retire with them),
            # so compaction doubles as DV materialization here.
            df = delta_reader._dv_row_filter(
                spark,
                delta_reader._add_row_identity(df),
                table,
                dict(files),
            )
            df = delta_rowtracking.attach_row_ids(
                spark, df, table, dict(files), meta, out_col="__rid",
            )
            df = (
                df.withColumn(mat_col, F.col("__rid"))
                .drop("__rid", delta_reader.ROW_FILE, delta_reader.ROW_POS)
            )
        df = df.coalesce(n_out)
        new = _write_data_files(df, table)
        phys_parts = [phys.get(c, c) for c in part_cols]
        _place_in_partition(
            table, new, phys_parts, dict(zip(phys_parts, key)),
            data_change=False,
        )
        adds += new
        removes += [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
            for rel, _ in files
        ]
    if not removes:
        return -1
    extra: list[dict[str, Any]] = []
    if row_tracked:
        # new files still get fresh baseRowId ranges per the spec
        # (readers prefer the materialized ids they now carry)
        extra.append(
            delta_rowtracking.assign_base_row_ids(
                state, adds, int(state["version"]) + 1
            )
        )
    return _commit_from_state(
        spark, table, state,
        removes + adds + extra + [_commit_info("OPTIMIZE")],
        "OPTIMIZE", check_meta=False,
    )


# Hive partition-dir escaping shared with the DML rewrite placement
_HIVE_ESCAPE_W = set('"#%\'*/:=?\\{[]}\x7f') | {chr(c) for c in range(0x20)}


def _hive_seg_w(col: str, val: str | None) -> str:
    if val is None:
        return f"{col}={delta_reader._HIVE_NULL}"
    enc = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_W else ch for ch in val
    )
    return f"{col}={enc}"


def _place_in_partition(
    table: str, adds: list[dict[str, Any]], part_cols: list[str],
    pv: dict[str, str | None], data_change: bool = True,
) -> None:
    """Stamp ``adds`` with the partition values ``pv`` (keyed by the
    physical partition columns ``part_cols``) and move their files
    into that Hive directory, so a rewrite keeps the reader's
    single-scan layout. ``data_change=False`` marks a pure
    reorganization (OPTIMIZE)."""
    prefix = "/".join(_hive_seg_w(c, pv.get(c)) for c in part_cols)
    for a in adds:
        add = a["add"]
        add["partitionValues"] = pv
        if not data_change:
            add["dataChange"] = False
        if prefix:
            rel = f"{prefix}/{add['path']}"
            dst = os.path.join(table, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(table, add["path"]), dst)
            add["path"] = rel


def vacuum_delta(
    spark: SparkSession,
    table: str,
    retain_versions: int = 1,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM on a native log: delete data files referenced by NONE of
    the ``retain_versions`` most recent versions (tombstoned files
    past retention, plus garbage left by abandoned commit attempts).
    Older versions stop being time-travellable — the same trade-off
    real Delta's ``VACUUM ... RETAIN`` makes (its retention unit is
    hours; version-count retention is the deterministic analogue for
    a single-writer log). ``dry_run`` lists without deleting. Returns
    the (to-be-)deleted paths relative to the table root."""
    if retain_versions < 1:
        raise ValueError(
            f"retain_versions must be >= 1, got {retain_versions}"
        )
    commits = delta_reader._commit_files(table)
    if not commits:
        raise ValueError(f"no Delta log at {table}")
    referenced: set[str] = set()
    referenced_bins: set[str] = set()
    for v, _ in commits[-retain_versions:]:
        try:
            state = delta_reader._replay(spark, table, v)
        except ValueError:
            continue  # version predates a cleaned-up log prefix
        referenced |= set(state["files"])
        for a in state["files"].values():
            d = a.get("deletionVector")
            if d and d.get("storageType") != "i":
                from dst_spark_k8_lakehouse_spark.plans import delta_dv

                referenced_bins.add(
                    os.path.normpath(delta_dv.dv_file_path(table, d))
                )
    removed = []
    for root, dirs, fs in os.walk(table):
        dirs[:] = [
            d for d in dirs
            # _change_data (CDF) has its own retention story: its
            # files are referenced by cdc actions, not adds, and
            # read_change_feed raises cleanly when history is gone
            if d not in ("_delta_log", "_change_data")
            and not d.startswith("_staging")
        ]
        for f in fs:
            full = os.path.join(root, f)
            if f.startswith("deletion_vector_") and f.endswith(".bin"):
                # DV bins of expired versions are garbage like their
                # data files
                if os.path.normpath(full) not in referenced_bins:
                    removed.append(
                        os.path.relpath(full, table).replace(os.sep, "/")
                    )
                    if not dry_run:
                        os.unlink(full)
                continue
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(full, table).replace(os.sep, "/")
            if rel not in referenced:
                removed.append(rel)
                if not dry_run:
                    os.unlink(full)
    return sorted(removed)


def _replaced_schema(
    meta: dict[str, Any], schema: T.StructType
) -> dict[str, Any] | None:
    """The ``metaData`` that makes ``schema`` the table's schema, or
    None when it already is (nullability aside). Refused when the
    table's columns carry metadata (column mapping, generated or
    identity columns, defaults) or CHECK constraints."""
    current = delta_reader.schema_from_json(meta["schemaString"])
    if current.simpleString() == schema.simpleString():
        return None
    if any(f.metadata for f in current.fields) or constraints_of(meta):
        raise NotImplementedError(
            "overwrite_schema on a table with column metadata (mapping, "
            "generated/identity columns, defaults) or CHECK constraints"
        )
    if not set(meta.get("partitionColumns") or []) <= set(schema.names):
        raise ValueError("overwrite_schema must keep the partition columns")
    return {**meta, "schemaString": _schema_string(schema)}


def overwrite_delta(
    df: DataFrame, table: str, user_metadata: str | None = None,
    overwrite_schema: bool = False,
) -> int:
    """OVERWRITE: remove every live file, add the new set, one commit.
    A lost commit race recomputes the remove set against the winner's
    state and retries. ``overwrite_schema`` (Delta's
    ``overwriteSchema`` option) makes ``df``'s schema the table's in
    the same commit; otherwise ``df`` must fit the table's schema.
    Returns the committed version."""
    from dst_spark_k8_lakehouse_spark.plans import delta_identity

    adds: list[dict[str, Any]] | None = None
    written_cols: list[str] | None = None
    used_specs: dict[str, dict[str, Any]] | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(df.sparkSession, table, None)
        new_meta = (
            _replaced_schema(state["metaData"], df.schema)
            if overwrite_schema else None
        )
        meta = new_meta or state["metaData"]
        df_in, id_specs = delta_identity.check_and_assign(df, meta)
        generated_ids = any(c not in df.columns for c in id_specs)
        if adds is not None and generated_ids and id_specs != used_specs:
            adds = None  # raced watermark: re-generate ids (see append)
        aligned, meta_action, part_cols, phys = _reconcile_schema(
            df_in, meta, merge_schema=False
        )
        if meta_action is not None:  # unreachable with merge_schema=False
            raise AssertionError("overwrite must not evolve the schema")
        if adds is None:
            used_specs = id_specs
            check_constraints(aligned, meta)
            out = _stamped_projection(
                aligned, meta, list(aligned.columns), phys
            )
            adds = _write_data_files(
                out, table, [phys.get(c, c) for c in part_cols] or None
            )
            written_cols = aligned.columns
        elif aligned.columns != written_cols:
            raise RuntimeError(
                "concurrent schema change during overwrite retry; re-run"
            )
        now = int(time.time() * 1000)
        actions: list[dict[str, Any]] = (
            [{"metaData": new_meta}] if new_meta else []
        )
        actions += [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
            for p in state["files"]
        ]
        actions += adds
        if id_specs:
            bumped = delta_identity.advance_hwm(
                state["metaData"], id_specs, adds, phys
            )
            if bumped is not None:
                actions.append({"metaData": bumped})
        actions.append(_commit_info("WRITE", user_metadata))
        # the remove set was computed from THIS replayed state —
        # claiming its version + 1 makes the overwrite serializable
        # (a racing compaction/DML forces a re-replay, so the removes
        # always match the state being replaced; a fresh listing
        # could absorb it and leave a both-worlds mixed table)
        version = int(state.get("version", -1)) + 1
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(
                df.sparkSession, table, version, state.get("metaData")
            )
            return version
        except FileExistsError:
            continue
    raise RuntimeError(
        f"overwrite of {table} lost {_MAX_COMMIT_RETRIES} commit races"
    )


def shallow_clone_delta(
    spark: SparkSession, src: str, dst: str,
    version: int | None = None,
) -> None:
    """SHALLOW CLONE (real Delta's ``CREATE TABLE ... SHALLOW CLONE``):
    a NEW table whose version-0 commit references the source's live
    data files by ABSOLUTE path — zero data movement, O(live files)
    metadata. The clone has its own identity (new metaData ``id``) and
    its own forward history: appends land as its own relative files,
    copy-on-write DML rewrites only the touched source files INTO the
    clone's directory (the source is never modified), and VACUUM on
    the clone only ever deletes files under the clone's root (its
    candidate walk is rooted there), so shared source files are safe —
    the same containment rule real Delta documents for clones.

    ``version`` clones a historical snapshot (time-travel CLONE).

    Refusals, each the honest protocol limit:
    - live DELETION VECTORS: a DV descriptor resolves relative to the
      table root, so the clone would look for the bitmap in ITS OWN
      dir — materialize first (``materialize_dv``), like OPTIMIZE;
    - an existing table at ``dst``.
    Change Data Feed enablement is NOT carried (the source's
    ``_change_data`` lives outside the clone root); re-enable on the
    clone to start a fresh feed."""
    if delta_reader.is_delta_table(dst):
        raise ValueError(f"Delta table already exists at {dst}")
    state = delta_reader._replay(spark, src, version)
    meta = dict(state["metaData"])
    meta["id"] = str(uuid.uuid4())
    conf = {
        k: v for k, v in (meta.get("configuration") or {}).items()
        if k != "delta.enableChangeDataFeed"
    }
    meta["configuration"] = conf
    meta["createdTime"] = int(time.time() * 1000)
    src_abs = os.path.abspath(src)
    actions: list[dict[str, Any]] = [
        {"protocol": state.get("protocol")
         or {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta},
    ]
    for rel, a in sorted(state["files"].items()):
        if a.get("deletionVector"):
            raise NotImplementedError(
                "shallow clone over live deletion vectors: the DV "
                "bitmap path resolves relative to the table root and "
                "would dangle in the clone — materialize_dv first"
            )
        add = dict(a)
        add["path"] = (
            rel if os.path.isabs(rel)
            else os.path.join(src_abs, *rel.split("/"))
        )
        add["dataChange"] = True
        actions.append({"add": add})
    actions.append(_commit_info("CLONE"))
    os.makedirs(dst, exist_ok=True)
    _commit(dst, 0, actions)


def restore_delta(spark: SparkSession, table: str, version: int) -> int:
    """``RESTORE TABLE t TO VERSION AS OF version`` — one commit that
    returns the LIVE STATE to an earlier version while preserving
    history (time travel to the pre-restore state keeps working, and
    the restore itself is just another version): files added since
    ``version`` are removed, files removed since are re-added (their
    original add actions verbatim — partitionValues, deletion-vector
    descriptors and all), and the old metaData is re-emitted when the
    schema/configuration drifted. Restoring past VACUUMed data raises
    up front (the re-added files must still exist). Returns the
    committed version."""
    cur = delta_reader._replay(spark, table, None)
    old = delta_reader._replay(spark, table, version)
    now = int(time.time() * 1000)
    cur_files, old_files = cur["files"], old["files"]
    missing = [
        rel for rel in old_files
        if not os.path.exists(
            rel if os.path.isabs(rel) else os.path.join(table, rel)
        )
    ]
    if missing:
        raise ValueError(
            f"cannot RESTORE {table} to {version}: {len(missing)} "
            f"file(s) were vacuumed (first: {missing[0]})"
        )
    actions: list[dict[str, Any]] = []
    if old["metaData"] != cur["metaData"]:
        actions.append({"metaData": old["metaData"]})
    for rel in sorted(set(cur_files) - set(old_files)):
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
        )
    for rel, a in sorted(old_files.items()):
        if cur_files.get(rel) != a:
            # re-add (or replace a descriptor-drifted add) verbatim
            if rel in cur_files:
                actions.append(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now,
                            "dataChange": True,
                        }
                    }
                )
            actions.append({"add": dict(a)})
    if not actions:
        return _next_version(table) - 1  # already at that state
    actions.append(_commit_info("RESTORE"))
    return _commit_from_state(
        spark, table, cur, actions, "RESTORE", check_meta=False,
    )


def zorder_delta(
    spark: SparkSession,
    table: str,
    cols: list[str],
    n_files: int | None = None,
) -> int:
    """``OPTIMIZE t ZORDER BY (cols…)`` on a NATIVE log: rewrite each
    partition group clustered on the interleaved-bit order of
    ``cols`` (the shared quantile-bucket kernel,
    ``plans.table.zorder_cluster`` — one range shuffle per group, no
    global raw-value sort), committing ``remove``+``add`` with
    ``dataChange: false`` like any OPTIMIZE: a pure reorganization
    streams and time travel see through, after which a selective
    predicate on ANY listed column prunes most files/row groups.
    Partition columns stay put (clustering happens within each
    group). Refuses over live deletion vectors (materialize first)
    and column-mapped tables. Returns the committed version."""
    from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking
    from dst_spark_k8_lakehouse_spark.plans.table import zorder_cluster

    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    mode, phys = delta_reader._mapping(meta)
    if mode != "none":
        raise NotImplementedError(
            "ZORDER on a column-mapped native table is not supported "
            "by the jar-free path"
        )
    if delta_rowtracking.enabled(state):
        raise NotImplementedError(
            "ZORDER on a row-tracked table would reassign row ids; "
            "compact_delta preserves them (materialization) — use it"
        )
    if any(a.get("deletionVector") for a in state["files"].values()):
        raise NotImplementedError(
            "table has deletion vectors; ZORDER's raw-file rewrite "
            "would resurrect deleted rows — run "
            "plans.delta_dv.materialize_dvs first"
        )
    schema = delta_reader.schema_from_json(meta["schemaString"])
    part_cols = meta.get("partitionColumns") or []
    bad = sorted(set(cols) & set(part_cols))
    if bad:
        raise ValueError(
            f"ZORDER column(s) {bad} are partition columns"
        )
    data_fields = [
        f for f in schema.fields if f.name not in part_cols
    ]
    groups: dict[tuple, list[str]] = {}
    pvs: dict[tuple, dict] = {}
    for rel, a in state["files"].items():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(rel)
        pvs[key] = pv
    now = int(time.time() * 1000)
    removes: list[dict[str, Any]] = []
    adds: list[dict[str, Any]] = []
    for key, rels in groups.items():
        paths = [
            rel if os.path.isabs(rel) else os.path.join(table, rel)
            for rel in rels
        ]
        df = spark.read.schema(T.StructType(data_fields)).parquet(
            *paths
        )
        total = sum(int(state["files"][rel]["size"]) for rel in rels)
        n_out = n_files or max(1, total // (128 << 20))
        clustered = zorder_cluster(df, cols, n_out)
        new = _write_data_files(clustered, table)
        _place_in_partition(
            table, new, part_cols, pvs[key], data_change=False
        )
        adds += new
        removes += [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
            for rel in rels
        ]
    if not removes:
        return _next_version(table) - 1
    return _commit_from_state(
        spark, table, state,
        removes + adds + [_commit_info("OPTIMIZE ZORDER")],
        "ZORDER", check_meta=False,
    )


# ------------------------------------------------ type widening

# spec "Type Widening": allowed source → wider targets. The stable
# integer/float promotions Spark's parquet reader performs natively;
# decimal/date promotions are refused loudly (their physical
# re-interpretation needs reader work this engine doesn't carry).
_WIDENINGS: dict[str, tuple[str, ...]] = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}


def widen_column_type(
    spark: SparkSession, table: str, col: str, new_type: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c TYPE wider`` — the spec's TYPE
    WIDENING table feature: a METADATA-ONLY commit changes the
    column's logical type; existing data files keep their narrow
    physical type and every read PROMOTES (Spark 4's parquet reader
    upcasts int32→int64 / float→double natively — verified, mixed
    files in one scan). The per-field ``delta.typeWidening`` metadata
    records the change history with the table version, exactly what a
    narrow-aware reader needs to reconcile old footers. Protocol
    upgrades to reader 3 / writer 7 with ``typeWidening`` in BOTH
    lists (an old reader would mis-type narrow files). WHY at 100 TB:
    the alternative to widening is rewriting every file that carries
    the column — this is free. Returns the committed version."""
    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    schema_json = json.loads(meta["schemaString"])
    by_name = {f["name"]: f for f in schema_json["fields"]}
    if col not in by_name:
        raise ValueError(f"column {col!r} not in table schema")
    if col in (meta.get("partitionColumns") or []):
        raise NotImplementedError(
            "type widening on a PARTITION column would re-key the "
            "hive layout; repartition instead"
        )
    from dst_spark_k8_lakehouse_spark.plans import delta_generated

    if by_name[col].get("metadata", {}).get(
        delta_generated.GENERATION_KEY
    ):
        raise NotImplementedError(
            "type widening on a generated column (the expression's "
            "type would detach from the column's)"
        )
    old_type = by_name[col]["type"]
    if not isinstance(old_type, str):
        raise NotImplementedError(
            f"type widening on nested-typed column {col!r}"
        )
    if new_type == old_type:
        raise ValueError(f"{col} already has type {new_type}")
    if new_type not in _WIDENINGS.get(old_type, ()):
        raise ValueError(
            f"widening {old_type} -> {new_type} is not a supported "
            f"promotion; allowed from {old_type}: "
            f"{list(_WIDENINGS.get(old_type, ()))}"
        )
    version = int(state["version"]) + 1
    field = dict(by_name[col])
    fmeta = dict(field.get("metadata") or {})
    fmeta["delta.typeWidening"] = (
        fmeta.get("delta.typeWidening") or []
    ) + [{
        "fromType": old_type,
        "toType": new_type,
        "tableVersion": version,
    }]
    field["type"] = new_type
    field["metadata"] = fmeta
    schema_json["fields"] = [
        field if f["name"] == col else f
        for f in schema_json["fields"]
    ]
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    actions: list[dict[str, Any]] = []
    p = state.get("protocol") or {}
    feats = set(p.get("readerFeatures") or [])
    if p.get("minReaderVersion", 1) < 3 or "typeWidening" not in feats:
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        rf = {"typeWidening"} | feats
        wf = {"typeWidening"} | set(p.get("writerFeatures") or [])
        if mode != "none":
            rf.add("columnMapping")
            wf.add("columnMapping")
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf),
                    "writerFeatures": sorted(wf),
                }
            }
        )
    actions += [{"metaData": new_meta}, _commit_info("ALTER COLUMN TYPE")]
    return _commit_from_state(
        spark, table, state, actions, "ALTER COLUMN TYPE",
        check_meta=True,
    )


# ------------------------------------------- table properties

# properties with DEDICATED enablement paths (they do protocol work a
# blind config write would skip)
_GUARDED_PROPS = {
    "delta.enableChangeDataFeed": "delta_cdf.enable_cdf",
    "delta.enableInCommitTimestamps": "enable_in_commit_timestamps",
}


def set_table_properties(
    spark: SparkSession, table: str, props: dict[str, str]
) -> int:
    """Generic ``ALTER TABLE t SET TBLPROPERTIES (…)`` — merge keys
    into the metaData configuration, one metadata-only commit.
    Feature-enabling properties with dedicated paths
    (``delta.enableChangeDataFeed``, ``delta.enableInCommitTimestamps``)
    refuse here: they upgrade the protocol and stamp enablement
    boundaries, which a raw config write would silently skip.
    Returns the committed version."""
    bad = sorted(set(props) & set(_GUARDED_PROPS))
    if bad:
        raise ValueError(
            f"propert{'y' if len(bad) == 1 else 'ies'} {bad} need "
            f"protocol work — use {[_GUARDED_PROPS[b] for b in bad]}"
        )
    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    new_meta = dict(meta)
    new_meta["configuration"] = {
        **(meta.get("configuration") or {}),
        **{str(k): str(v) for k, v in props.items()},
    }
    return _commit_from_state(
        spark, table, state,
        [{"metaData": new_meta}, _commit_info("SET TBLPROPERTIES")],
        "SET TBLPROPERTIES", check_meta=True,
    )


CHECKPOINT_INTERVAL_CONF = "delta.checkpointInterval"
LOG_RETENTION_CONF = "delta.logRetentionDuration"


def _parse_duration_ms(s: str) -> int | None:
    """``interval N days|hours|minutes`` (real Delta's spelling) or a
    plain millisecond count; None for unparseable — cleanup then
    declines rather than guessing a retention."""
    import re as _re

    s = str(s).strip().lower()
    if s.isdigit():
        return int(s)
    m = _re.match(
        r"interval\s+(\d+)\s+(day|days|hour|hours|minute|minutes)$", s
    )
    if not m:
        return None
    n = int(m.group(1))
    unit = m.group(2)
    if unit.startswith("day"):
        return n * 24 * 3600 * 1000
    if unit.startswith("hour"):
        return n * 3600 * 1000
    return n * 60 * 1000


def clean_expired_log(
    table: str,
    conf: dict[str, Any] | None = None,
    now_ms: int | None = None,
) -> list[str]:
    """METADATA CLEANUP (real Delta's ``delta.logRetentionDuration``):
    delete commit JSONs (and their ``.crc`` sidecars) that are BOTH
    below the current checkpoint version AND older than the retention
    window — the log then stops growing one file per commit forever,
    while everything a replay can need stays: the checkpoint is the
    baseline for current reads, and time travel inside the retention
    window keeps its files. Travel BELOW the cleaned boundary raises
    the documented reconstruction error (``delta_reader._replay``)
    instead of silently partial state — the same trade real Delta
    makes. ENGAGES ONLY when the table sets the property (stated
    deviation: real Delta defaults to 30 days; an engine-side default
    would surprise tests and operators that expect full history).
    Returns the deleted paths."""
    if conf is None:
        # one line of metadata: the latest metaData's configuration
        # comes from a replay the CALLER usually already has; loading
        # here keeps the function usable standalone
        import json as _json

        conf = {}
        for _v, f in delta_reader._commit_files(table):
            with open(f) as fh:
                for line in fh:
                    line = line.strip()
                    if line and '"metaData"' in line:
                        d = _json.loads(line)
                        if "metaData" in d:
                            conf = d["metaData"].get(
                                "configuration"
                            ) or {}
    retention = _parse_duration_ms(
        (conf or {}).get(LOG_RETENTION_CONF, "")
    )
    if retention is None:
        return []
    cp = delta_reader._checkpoint(table)
    if cp is None:
        return []  # the checkpoint IS the replay baseline; never
        # clean without one
    cutoff = (
        now_ms if now_ms is not None else int(time.time() * 1000)
    ) - retention
    doomed: list[str] = []
    for v, f in delta_reader._commit_files(table):
        if v >= cp[0]:
            continue
        try:
            if int(os.path.getmtime(f) * 1000) >= cutoff:
                continue
        except OSError:
            continue
        doomed.append(f)
        crc = crc_path(table, v)
        if os.path.exists(crc):
            doomed.append(crc)
    for p in doomed:
        try:
            os.unlink(p)
        except OSError:
            pass
    return doomed


def _maybe_auto_checkpoint(
    spark: SparkSession, table: str, version: int,
    meta: dict[str, Any] | None,
) -> None:
    """AUTO-CHECKPOINTING (real Delta's ``delta.checkpointInterval``):
    after a successful commit at a multiple of the interval, write a
    checkpoint so log replay stays O(live files) WITHOUT an operator
    remembering to run maintenance — on a table taking a commit per
    micro-batch, an unbounded JSON tail is the planning scale-killer
    the r8/r9 rounds measured. Best-effort by design: a checkpoint
    failure must never fail the committed write."""
    if meta is None:
        return
    iv = (meta.get("configuration") or {}).get(CHECKPOINT_INTERVAL_CONF)
    if not iv:
        return
    try:
        iv = int(iv)
    except ValueError:
        return
    if iv <= 0 or version <= 0 or version % iv != 0:
        return
    try:
        write_checkpoint(spark, table)
    except Exception:
        pass


# ------------------------------------------- in-commit timestamps


def enable_in_commit_timestamps(
    spark: SparkSession, table: str
) -> int:
    """``ALTER TABLE t SET TBLPROPERTIES
    (delta.enableInCommitTimestamps = true)`` — the spec's
    ``inCommitTimestamp`` writer feature: from this commit on, every
    commit's commitInfo leads the action list and carries a STRICTLY
    MONOTONIC ``inCommitTimestamp`` (``max(clock, prev + 1)`` —
    ``_ict_stamp`` inside ``_commit``), and ``TIMESTAMP AS OF``
    resolves against commit CONTENT instead of commitInfo wall-clock
    stamps or file mtimes. The enablement version/timestamp land in
    the table configuration per the spec, marking where the reliable
    region starts (older versions still resolve by the legacy
    stamps). WHY at 100 TB: file mtimes are rewritten by every
    storage migration/restore, and wall clocks on a writer fleet
    skew — a reproducible "the table as of 09:00" needs the
    timestamp IN the commit, ordered with the log. Returns the
    committed version (idempotent)."""
    # own retry loop (not _commit_from_state): the enablement VERSION
    # is baked into the configuration, so a benign commit race must
    # recompute it, not re-claim the same actions one version later
    for _ in range(_MAX_COMMIT_RETRIES):
        state = delta_reader._replay(spark, table, None)
        meta = state["metaData"]
        conf = dict(meta.get("configuration") or {})
        if str(conf.get(ICT_CONF, "")).lower() == "true":
            return int(state["version"])
        version = int(state["version"]) + 1
        conf[ICT_CONF] = "true"
        conf[ICT_VERSION_CONF] = str(version)
        conf[ICT_TS_CONF] = str(int(time.time() * 1000))
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions: list[dict[str, Any]] = []
        p = state.get("protocol") or {}
        wf = set(p.get("writerFeatures") or [])
        if (
            p.get("minWriterVersion", 1) < 7
            or "inCommitTimestamp" not in wf
        ):
            proto = {
                "minReaderVersion": p.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted(wf | {"inCommitTimestamp"}),
            }
            if p.get("minReaderVersion", 1) >= 3:
                proto["readerFeatures"] = sorted(
                    set(p.get("readerFeatures") or [])
                )
            actions.append({"protocol": proto})
        actions += [
            {"metaData": new_meta},
            _commit_info("SET TBLPROPERTIES"),
        ]
        try:
            _commit(table, version, actions, pre_state=state)
            _maybe_auto_checkpoint(spark, table, version, new_meta)
            return version
        except FileExistsError:
            continue
    raise RuntimeError(
        f"enable_in_commit_timestamps on {table} lost too many races"
    )


# ------------------------------------------------ column defaults

CURRENT_DEFAULT_KEY = "CURRENT_DEFAULT"


def column_defaults(meta: dict[str, Any]) -> dict[str, str]:
    """{column name: SQL default expression} from the schemaString's
    per-field ``CURRENT_DEFAULT`` metadata (the spec's Default Columns
    feature) — empty when the table declares none."""
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        d = (f.get("metadata") or {}).get(CURRENT_DEFAULT_KEY)
        if d is not None:
            out[f["name"]] = str(d)
    return out


def set_column_default(
    spark: SparkSession, table: str, col: str, default_sql: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c SET DEFAULT expr`` — the spec's
    ``allowColumnDefaults`` writer feature (PROTOCOL.md "Column
    Default Values"): a metadata-only commit records the SQL
    expression in the field's ``CURRENT_DEFAULT`` metadata; every
    subsequent write that OMITS the column materializes the default
    physically (``_reconcile_schema`` fills it where it used to
    null-fill). Matching real Delta's WRITE-side semantics: rows
    already on disk are untouched and still read as NULL — only
    Iceberg's ``initial-default`` changes what OLD files read
    (``iceberg_writer.add_column(default=…)``), a contrast the tests
    pin. The expression must be deterministic and cast to the
    column's type (validated here with a 1-row driver-side eval, so a
    typo fails the DDL, not some later append). WHY at 100 TB: the
    alternative is every producer job hand-filling bookkeeping
    columns — one declaration moves that into the table contract.
    Returns the committed version."""
    from dst_spark_k8_lakehouse_spark.plans import delta_generated

    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    schema_json = json.loads(meta["schemaString"])
    by_name = {f["name"]: f for f in schema_json["fields"]}
    if col not in by_name:
        raise ValueError(f"column {col!r} not in table schema")
    if col in (meta.get("partitionColumns") or []):
        raise NotImplementedError(
            "a DEFAULT on a partition column would steer the hive "
            "layout from a hidden expression; partition values must "
            "be explicit"
        )
    if by_name[col].get("metadata", {}).get(
        delta_generated.GENERATION_KEY
    ):
        raise ValueError(
            f"{col!r} is a generated column; generated columns are "
            "always computed, a DEFAULT would conflict (the spec "
            "forbids the combination too)"
        )
    dtype = delta_reader.schema_from_json(schema_json)[col].dataType
    # deterministic + type-compatible, proven before the DDL lands:
    # one driver-side row through the same expression every writer
    # will run
    probe = spark.range(1).select(
        F.expr(default_sql).cast(dtype).alias("d")
    )
    probe.collect()
    field = dict(by_name[col])
    field["metadata"] = {
        **(field.get("metadata") or {}),
        CURRENT_DEFAULT_KEY: default_sql,
    }
    schema_json["fields"] = [
        field if f["name"] == col else f for f in schema_json["fields"]
    ]
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    actions: list[dict[str, Any]] = []
    p = state.get("protocol") or {}
    wf = set(p.get("writerFeatures") or [])
    if p.get("minWriterVersion", 1) < 7 or "allowColumnDefaults" not in wf:
        proto = {
            "minReaderVersion": p.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(wf | {"allowColumnDefaults"}),
        }
        if p.get("minReaderVersion", 1) >= 3:
            proto["readerFeatures"] = sorted(
                set(p.get("readerFeatures") or [])
            )
        actions.append({"protocol": proto})
    actions += [
        {"metaData": new_meta},
        _commit_info("ALTER COLUMN SET DEFAULT"),
    ]
    return _commit_from_state(
        spark, table, state, actions, "ALTER COLUMN SET DEFAULT",
        check_meta=True,
    )


def drop_column_default(
    spark: SparkSession, table: str, col: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c DROP DEFAULT`` — removes the
    field's ``CURRENT_DEFAULT``; subsequent writes that omit the
    column go back to null-filling. Metadata-only; the feature flag
    stays (the protocol never downgrades). Returns the committed
    version."""
    state = delta_reader._replay(spark, table, None)
    meta = state["metaData"]
    schema_json = json.loads(meta["schemaString"])
    by_name = {f["name"]: f for f in schema_json["fields"]}
    if col not in by_name:
        raise ValueError(f"column {col!r} not in table schema")
    if CURRENT_DEFAULT_KEY not in (by_name[col].get("metadata") or {}):
        raise ValueError(f"column {col!r} has no DEFAULT to drop")
    field = dict(by_name[col])
    fmeta = dict(field["metadata"])
    del fmeta[CURRENT_DEFAULT_KEY]
    field["metadata"] = fmeta
    schema_json["fields"] = [
        field if f["name"] == col else f for f in schema_json["fields"]
    ]
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    return _commit_from_state(
        spark, table, state,
        [{"metaData": new_meta}, _commit_info("ALTER COLUMN DROP DEFAULT")],
        "ALTER COLUMN DROP DEFAULT", check_meta=True,
    )


# ------------------------------------------------ liquid clustering

CLUSTERING_DOMAIN = "delta.clustering"
_CLUSTERED_TAG = "clusteringProvider"


def clustering_columns(state: dict[str, Any]) -> list[str]:
    """The table's liquid-clustering columns from the
    ``delta.clustering`` domain metadata, or ``[]``."""
    conf = (state.get("domains") or {}).get(CLUSTERING_DOMAIN)
    if not conf:
        return []
    cols = json.loads(conf).get("clusteringColumns") or []
    # the spec nests each column as a name path (nested fields); the
    # jar-free writer only produces top-level columns
    return [c[0] if isinstance(c, list) else c for c in cols]


def alter_cluster_by(
    spark: SparkSession, table: str, cols: list[str]
) -> int:
    """``ALTER TABLE t CLUSTER BY (cols…)``: replace the clustering
    columns via a new domain-metadata action — METADATA-ONLY, no
    rewrite (the liquid-clustering selling point vs re-partitioning:
    existing files keep their old layout and their clustered tags are
    CLEARED lazily by the next ``cluster_delta``, which sees them as
    candidates again only when they lack the current-generation tag).
    Returns the committed version."""
    state = delta_reader._replay(spark, table, None)
    if not clustering_columns(state):
        raise ValueError(f"{table} is not a clustered table")
    schema = delta_reader.schema_from_json(
        state["metaData"]["schemaString"]
    )
    known = {f.name for f in schema.fields}
    missing = [c for c in cols if c not in known]
    if missing:
        raise ValueError(f"cluster column(s) {missing} not in table")
    action = {
        "domainMetadata": {
            "domain": CLUSTERING_DOMAIN,
            "configuration": json.dumps(
                {"clusteringColumns": [[c] for c in cols]}
            ),
            "removed": False,
        }
    }
    return _commit_from_state(
        spark, table, state,
        [action, _commit_info("CLUSTER BY")],
        "CLUSTER BY", check_meta=False,
    )


def cluster_delta(
    spark: SparkSession, table: str, n_files: int | None = None,
) -> int:
    """INCREMENTAL liquid clustering (the spec's Clustered Table
    feature; real Delta's ``OPTIMIZE`` on a ``CLUSTER BY`` table):
    rewrite ONLY the files not yet carrying the clustered tag for the
    CURRENT clustering columns, through the shared interleaved-bit
    kernel (``plans.table.zorder_cluster``), and tag the output. Files
    already clustered are untouched — each maintenance run costs
    O(new data), not O(table), which is what makes a nightly layout
    job feasible at 100 TB where a full ZORDER rewrite is not.

    The tag value encodes the clustering generation
    (``liquid:<col,col>``): after ``alter_cluster_by`` every old-
    generation file becomes a candidate again, so the layout converges
    to the new columns lazily. Commits remove+add with ``dataChange:
    false`` (streams and time travel see through, like OPTIMIZE).
    Returns the committed version, or the current version unchanged
    when nothing needs clustering."""
    from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking
    from dst_spark_k8_lakehouse_spark.plans.table import zorder_cluster

    state = delta_reader._replay(spark, table, None)
    cols = clustering_columns(state)
    if not cols:
        raise ValueError(
            f"{table} is not a clustered table; use zorder_delta for "
            "one-shot clustering"
        )
    if delta_rowtracking.enabled(state):
        raise NotImplementedError(
            "liquid clustering on a row-tracked table would reassign "
            "row ids; compact_delta preserves them — use it"
        )
    generation = f"liquid:{','.join(cols)}"
    candidates = {
        rel: a
        for rel, a in state["files"].items()
        if (a.get("tags") or {}).get(_CLUSTERED_TAG) != generation
    }
    if not candidates:
        return int(state["version"])
    if any(a.get("deletionVector") for a in candidates.values()):
        raise NotImplementedError(
            "candidate files carry deletion vectors; the raw-file "
            "rewrite would resurrect deleted rows — run "
            "plans.delta_dv.materialize_dvs first"
        )
    meta = state["metaData"]
    schema = delta_reader.schema_from_json(meta["schemaString"])
    paths = [
        rel if os.path.isabs(rel) else os.path.join(table, rel)
        for rel in candidates
    ]
    df = spark.read.schema(schema).parquet(*paths)
    total = sum(int(a["size"]) for a in candidates.values())
    n_out = n_files or max(1, total // (128 << 20))
    clustered = zorder_cluster(df, cols, n_out)
    adds = _write_data_files(clustered, table)
    for a in adds:
        a["add"]["dataChange"] = False
        a["add"]["tags"] = {_CLUSTERED_TAG: generation}
    now = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now,
                "dataChange": False,
            }
        }
        for rel in candidates
    ]
    return _commit_from_state(
        spark, table, state,
        removes + adds + [_commit_info("OPTIMIZE CLUSTERING")],
        "OPTIMIZE CLUSTERING", check_meta=False,
    )


# ------------------------------------------------ CHECK constraints

def constraints_of(meta: dict[str, Any]) -> dict[str, str]:
    """{constraint name: SQL expr} from the metaData configuration
    (the protocol's ``delta.constraints.<name>`` keys)."""
    conf = meta.get("configuration") or {}
    pre = "delta.constraints."
    return {
        k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)
    }


def check_constraints(df: DataFrame, meta: dict[str, Any]) -> None:
    """Enforce the table's write invariants on ``df``: CHECK
    constraints (``delta.constraints.*``) AND the schema's
    ``nullable: false`` columns (the protocol's NOT NULL invariant).
    One combined filter job; the FIRST violating row is reported.
    NULL constraint results violate (the spec: a constraint must
    evaluate to true)."""
    from pyspark.sql import functions as F

    cons = dict(constraints_of(meta))
    sc = json.loads(meta["schemaString"])
    df_nullable = {f.name: f.nullable for f in df.schema.fields}
    for fld in sc.get("fields", []):
        # when the incoming frame's own schema already guarantees
        # non-null, Spark enforced it upstream — no job needed
        if (
            not fld.get("nullable", True)
            and df_nullable.get(fld["name"], False)
        ):
            cons.setdefault(
                f"NOT NULL {fld['name']}",
                f"{fld['name']} IS NOT NULL",
            )
    # SUPPLIED generated-column values must equal their expression
    # (the spec: writers verify; a wrong generated partition value
    # would corrupt pruning forever)
    from dst_spark_k8_lakehouse_spark.plans import delta_generated

    for col, must_hold in delta_generated.validation_exprs(
        delta_generated.generation_exprs(meta), list(df.columns)
    ):
        cons.setdefault(f"GENERATED {col}", must_hold)
    if not cons:
        return
    bad = None
    for name, expr in cons.items():
        viol = F.when(
            F.expr(expr).isNull() | ~F.expr(expr), F.lit(name)
        )
        bad = viol if bad is None else F.coalesce(bad, viol)
    hit = (
        df.withColumn("__violated", bad)
        .where(F.col("__violated").isNotNull())
        .limit(1)
        .collect()
    )
    if hit:
        r = hit[0].asDict()
        name = r.pop("__violated")
        raise ValueError(
            f"CHECK constraint {name!r} ({cons[name]}) violated by "
            f"row {r}"
        )


def add_check_constraint(
    spark: SparkSession, table: str, name: str, expr: str
) -> int:
    """``ALTER TABLE t ADD CONSTRAINT name CHECK (expr)`` — verifies
    EXISTING rows first (the spec's semantics: a constraint can only
    be added when the table already satisfies it), then records it in
    the metaData configuration and raises ``minWriterVersion`` to 3
    (the legacy checkConstraints writer requirement). Library writes
    (append/overwrite/DML) enforce it from then on; the delta_native
    DataSource write path does NOT yet and real engines would — route
    constrained writes through ``append_delta``. Returns the
    committed version."""
    from dst_spark_k8_lakehouse_spark.plans import delta_reader as _dr

    state = _dr._replay(spark, table, None)
    meta = dict(state["metaData"])
    key = f"delta.constraints.{name}"
    conf = dict(meta.get("configuration") or {})
    if key in conf:
        raise ValueError(f"constraint {name!r} already exists")
    probe = dict(meta)
    probe["configuration"] = {key: expr}
    check_constraints(_dr.read_delta(spark, table), probe)
    conf[key] = expr
    meta["configuration"] = conf
    proto = state.get("protocol") or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    actions: list[dict[str, Any]] = []
    if proto.get("minWriterVersion", 2) < 3 and not proto.get(
        "writerFeatures"
    ):
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": 3,
                }
            }
        )
    actions += [{"metaData": meta}, _commit_info("ADD CONSTRAINT")]
    return _commit_from_state(
        spark, table, state, actions, "ADD CONSTRAINT"
    )


def drop_check_constraint(
    spark: SparkSession, table: str, name: str
) -> int:
    """``ALTER TABLE t DROP CONSTRAINT name`` (metadata-only)."""
    from dst_spark_k8_lakehouse_spark.plans import delta_reader as _dr

    state = _dr._replay(spark, table, None)
    meta = dict(state["metaData"])
    conf = dict(meta.get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key not in conf:
        raise ValueError(f"constraint {name!r} not on table")
    del conf[key]
    meta["configuration"] = conf
    return _commit_from_state(
        spark, table, state,
        [{"metaData": meta}, _commit_info("DROP CONSTRAINT")],
        "DROP CONSTRAINT",
    )

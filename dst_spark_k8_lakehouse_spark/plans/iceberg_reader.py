"""Read-only Apache Iceberg table reader — pure metadata replay over
the PUBLIC Iceberg table spec (no Iceberg runtime jar).

The counterpart of ``delta_reader`` for the reference's other table
format (Iceberg 1.9, ``scripts/download-jars.sh:84-85``,
``02_iceberg_demo.ipynb``): a jar-less session can SELECT from an
EXISTING Iceberg table — including time travel by snapshot id — by
walking the documented metadata chain:

  ``metadata/v*.metadata.json`` (+ ``version-hint.text``)
    → snapshot → ``manifest-list`` (Avro)
    → manifests (Avro) → live data files (parquet) → one scan.

Avro manifests decode through the pure-Python container reader
(``plans/avro_codec`` — no JVM, no py4j, no pip install; null and
deflate codecs). Manifest walking is driver-side metadata work
(exactly where Iceberg's own reader does it); the data read is an
ordinary parquet scan with pushdown.

Schema resolution: when the data files embed Iceberg field ids
(``parquet.field.id`` — always true for files written by real
runtimes and by ``iceberg_writer``), the scan matches columns BY ID
against the current schema, so renamed columns (metadata-only
``ALTER TABLE RENAME COLUMN``) and later-added columns resolve
correctly with no runtime jar. Id-less files fall back to name
matching with a cross-check.

v2 MERGE-ON-READ tables read correctly: position-delete and
equality-delete files (manifest-list ``content=1``) are applied at
scan time by ``_apply_deletes`` — sequence-number-ordered anti-joins
on ``(_metadata.file_path, _metadata.row_index)`` / the equality
columns. Write side: ``plans/iceberg_mor``.

LOUD limits (raise, never wrong rows): format-version > 2; renamed
columns over data files that DON'T carry field ids (a name-matched
read would silently null the column; the cross-check raises
instead); non-parquet data/delete files.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.plans.gc_pause import paused_gc


def _strip_uri(p: str) -> str:
    if not p.startswith("file:"):
        return p
    return re.sub(r"^file:(//)?", "", p)


def _metadata_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def is_iceberg_table(path: str) -> bool:
    d = _metadata_dir(path)
    return os.path.isdir(d) and any(
        f.endswith(".metadata.json") for f in os.listdir(d)
    )


def _current_metadata_file(path: str) -> str:
    """Newest committed metadata version. The hint is an OPTIMIZATION,
    never the authority: between a racing writer's put-if-absent
    ``v{N}.metadata.json`` link and its hint update there is a window
    where the hint lags — a loser that trusted the stale hint would
    reload the same old version and burn its whole retry budget
    against EEXIST (observed under CPU contention in the two-process
    race test). Scan the directory and take the max of both."""
    d = _metadata_dir(path)
    best_v, best = -1, None
    hint = os.path.join(d, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(d, f"v{v}.metadata.json")
        if v.isdigit() and os.path.exists(cand):
            best_v, best = int(v), cand
    for f in os.listdir(d):
        m = re.match(r"v(\d+)\.metadata\.json$", f)
        if m and int(m.group(1)) > best_v:
            best_v, best = int(m.group(1)), os.path.join(d, f)
    if best is None:
        raise ValueError(f"no Iceberg metadata at {path}")
    return best


def _avro_records(spark: SparkSession, path: str):
    """Yield manifest records as plain dicts via the pure-Python Avro
    container decoder (``plans/avro_codec.py``) — no py4j round-trips,
    no SparkSession needed (``spark`` is kept in the signature for
    call-site compatibility and ignored). Fields absent from a file's
    writer schema are simply absent from the dict, which is what the
    ``_get`` null-safe accessor expects."""
    from dst_spark_k8_lakehouse_spark.plans import avro_codec

    yield from avro_codec.read_avro_file(_strip_uri(path))


def _get(rec: dict, name: str):
    """Null-safe field access (absent = None, e.g. ``content`` in a
    genuine v1 manifest list)."""
    return rec.get(name)


def _partition_values(
    data_file: dict, spec_fields: list[dict]
) -> dict[str, Any]:
    pr = data_file.get("partition") or {}
    return {sf["name"]: pr.get(sf["name"]) for sf in spec_fields}


def _pv_pass(pv: dict[str, Any], flt) -> bool:
    if callable(flt):
        return bool(flt(dict(pv)))
    for col, want in flt.items():
        if col not in pv:
            # Spec evolution: a manifest written before ADD PARTITION
            # FIELD resolves against its own (older) spec, so its pv
            # dicts lack the new field — cannot prune, keep. Column
            # names are validated ONCE against the default spec in
            # read_iceberg, not per-file here.
            continue
        ws = (want if isinstance(want, (set, frozenset))
              else set(want) if isinstance(want, (list, tuple))
              else {want})
        if pv[col] not in ws:
            return False
    return True


def _snapshot_entries(
    spark: SparkSession,
    snapshot: dict[str, Any],
    spec_fields: list[dict] | None = None,
    partition_filter=None,
    specs_by_id: dict[int, list[dict]] | None = None,
    manifest_keep=None,
) -> tuple[list[dict], list[dict], list[dict]]:
    """Walk a snapshot's manifest list into three entry lists —
    ``(data, position_deletes, equality_deletes)`` — each entry a dict
    with ``path``, ``seq`` (data sequence number; 0 on v1 metadata,
    which has none) and, for equality deletes, ``equality_ids``.

    Sequence resolution per the spec: a manifest entry with a null
    ``sequence_number`` inherits the manifest-list entry's (ADDED-row
    inheritance); v1 manifests have neither field and resolve to 0.
    With ``partition_filter`` (dict equality over typed identity
    values, or a predicate) data files are pruned DRIVER-SIDE from the
    manifests' partition records — the same place Iceberg's own
    planner prunes. Delete files are NOT partition-pruned (a global
    equality delete in an unpartitioned spec applies everywhere).

    ``specs_by_id`` (spec evolution): each manifest's partition
    records resolve against the spec named by its manifest-list
    entry's ``partition_spec_id`` — a file written before an
    ADD PARTITION FIELD carries NO value for the new field (its pv
    dict lacks the key), which predicate pruning reads as
    "cannot prune, keep".

    ``manifest_keep`` (``iceberg_transforms.manifest_summary_
    predicate``) is the MANIFEST-LEVEL pruning tier: evaluated against
    each manifest-list entry's ``partitions`` field summaries, a False
    skips the whole DATA manifest WITHOUT Avro-decoding it — the step
    that keeps plan time proportional to the matching partition range
    instead of the table's total manifest bytes. Manifests without
    summaries (foreign/pre-r8 writers) and delete manifests are always
    decoded.

    The surviving manifests decode in-process, each entry once,
    through a projection of just the fields the planner reads
    (``_ENTRY_FIELDS``). A fork pool buys nothing here: shipping the
    entries back costs the parent an unpickle per entry, as much as
    the decode it saves (measured in ``decode_pool``'s docstring)."""
    data: list[dict] = []
    pos_dels: list[dict] = []
    eq_dels: list[dict] = []
    for mf in _avro_records(spark, snapshot["manifest-list"]):
        ml_content = int(str(_get(mf, "content") or 0))
        ml_seq = int(str(_get(mf, "sequence_number") or 0))
        manifest_path = _strip_uri(str(mf.get("manifest_path")))
        fields_here = spec_fields
        if specs_by_id is not None:
            ml_spec = int(str(_get(mf, "partition_spec_id") or 0))
            fields_here = specs_by_id.get(ml_spec, spec_fields)
        if manifest_keep is not None and ml_content == 0:
            summaries = _get(mf, "partitions")
            if summaries and fields_here and not manifest_keep(
                fields_here, summaries
            ):
                continue  # whole manifest pruned, never opened
        _process_entries(
            manifest_path, ml_content, ml_seq, fields_here,
            partition_filter, data, pos_dels, eq_dels,
        )
    return data, pos_dels, eq_dels


# the manifest-entry fields the planner reads, in tuple order; the
# partition values of the manifest's spec follow them (None where the
# writer schema lacks a field — v1 manifests carry no sequence numbers
# or content)
_ENTRY_FIELDS = (
    "status",
    "sequence_number",
    ("data_file", "content"),
    ("data_file", "file_path"),
    ("data_file", "file_format"),
    ("data_file", "lower_bounds", "key"),
    ("data_file", "lower_bounds", "value"),
    ("data_file", "upper_bounds", "key"),
    ("data_file", "upper_bounds", "value"),
    ("data_file", "equality_ids"),
    ("data_file", "referenced_data_file"),
    ("data_file", "content_offset"),
    ("data_file", "content_size_in_bytes"),
)


def _process_entries(
    manifest_path: str, ml_content: int, ml_seq: int,
    fields_here: list[dict] | None, partition_filter,
    data: list[dict], pos_dels: list[dict], eq_dels: list[dict],
) -> None:
    """Decode one manifest and append its live entries to the
    planner's three entry lists."""
    from dst_spark_k8_lakehouse_spark.plans import avro_codec

    pv_names = [sf["name"] for sf in fields_here or []]
    rows = avro_codec.read_avro_file(
        manifest_path,
        project=_ENTRY_FIELDS
        + tuple(("data_file", "partition", n) for n in pv_names),
    )
    for (status, e_seq, df_content, file_path, fmt, lo_keys, lo_vals,
         hi_keys, hi_vals, ids, ref, offset, size, *pvs) in rows:
        if status == 2:  # DELETED
            continue
        seq = e_seq if e_seq is not None else ml_seq
        fmt = str(fmt).upper()
        path = _strip_uri(str(file_path))
        df_content = df_content or ml_content
        if fmt == "PUFFIN" and df_content == 1:
            # v3 DELETION VECTOR: one data file's position deletes as
            # a roaring blob inside a Puffin file (spec fields
            # 143-145 name the target and the blob span)
            if not ref:
                raise ValueError(
                    f"PUFFIN delete entry {path} lacks "
                    "referenced_data_file"
                )
            pos_dels.append(
                {
                    "path": path,
                    "seq": seq,
                    "format": "PUFFIN",
                    "referenced": _strip_uri(str(ref)),
                    "offset": int(str(offset)),
                    "size": int(str(size)),
                }
            )
            continue
        if fmt != "PARQUET":
            raise NotImplementedError(
                f"Iceberg data/delete file format {fmt}; parquet only"
            )
        if df_content == 0:
            pv = dict(zip(pv_names, pvs))
            if partition_filter is not None and not _pv_pass(
                pv, partition_filter
            ):
                continue
            bounds = None
            if lo_keys and hi_keys:
                if lo_keys == hi_keys:  # the usual shape: one zip
                    bounds = dict(zip(lo_keys, zip(lo_vals, hi_vals)))
                else:
                    hi_by = dict(zip(hi_keys, hi_vals))
                    bounds = {
                        k: (v, hi_by[k])
                        for k, v in dict(zip(lo_keys, lo_vals)).items()
                        if k in hi_by
                    }
            data.append(
                {"path": path, "seq": seq, "pv": pv,
                 "bounds": bounds}
            )
        elif df_content == 1:
            pos_dels.append({"path": path, "seq": seq})
        elif df_content == 2:
            if not ids:
                raise ValueError(
                    f"equality delete file {path} carries no "
                    "equality_ids"
                )
            eq_dels.append(
                {
                    "path": path,
                    "seq": seq,
                    "equality_ids": tuple(sorted(ids)),
                }
            )
        else:
            raise NotImplementedError(
                f"Iceberg file content {df_content} (0/1/2 only)"
            )


def _bound_literal(v: Any, iceberg_type: str) -> Any:
    """Predicate literal in the representation ``bound_value``
    decodes to (epoch micros for timestamps, epoch days for dates)."""
    import datetime as _dt

    if iceberg_type in ("timestamp", "timestamptz"):
        ts = v
        if not isinstance(ts, _dt.datetime):
            ts = _dt.datetime.fromisoformat(str(ts))
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = ts - _dt.datetime(1970, 1, 1)
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if iceberg_type == "date":
        d0 = v if isinstance(v, _dt.date) else _dt.date.fromisoformat(
            str(v)
        )
        return (d0 - _dt.date(1970, 1, 1)).days
    return v


def _bounds_keep(
    entry: dict, predicates: list[tuple], schema_fields: list[dict]
) -> bool:
    """DATA SKIPPING from manifest column bounds: False iff the
    entry's lower/upper bounds PROVE no row satisfies every predicate.
    Missing bounds / types keep the file (the residual row filter
    stays exact either way) — the Iceberg twin of Delta's per-add
    stats skipping."""
    from dst_spark_k8_lakehouse_spark.plans import iceberg_writer as _iw

    bounds = entry.get("bounds")
    if not bounds:
        return True
    by_name = {
        f["name"]: (int(f["id"]), f["type"])
        for f in schema_fields if isinstance(f["type"], str)
    }
    for col, op, lit in predicates:
        if col not in by_name:
            continue
        fid, t = by_name[col]
        if fid not in bounds:
            continue
        try:
            lo = _iw.bound_value(bounds[fid][0], t)
            hi = _iw.bound_value(bounds[fid][1], t)
            if op == "in":
                vals = [_bound_literal(x, t) for x in lit]
                if not any(lo <= x <= hi for x in vals):
                    return False
                continue
            x = _bound_literal(lit, t)
            if op in ("==", "=") and not (lo <= x <= hi):
                return False
            if op == ">=" and not (hi >= x):
                return False
            if op == ">" and not (hi > x):
                return False
            if op == "<=" and not (lo <= x):
                return False
            if op == "<" and not (lo < x):
                return False
        except (TypeError, NotImplementedError):
            continue  # incomparable: keep
    return True


def _live_data_files(
    spark: SparkSession,
    table_path: str,
    snapshot: dict[str, Any],
    spec_fields: list[dict] | None = None,
    partition_filter=None,
) -> list[str]:
    """Live data-file paths of a snapshot that has NO merge-on-read
    delete files (the copy-on-write fast path; DML and maintenance
    call this and must not silently ignore deletes)."""
    data, pos_dels, eq_dels = _snapshot_entries(
        spark, snapshot, spec_fields, partition_filter
    )
    if pos_dels or eq_dels:
        raise NotImplementedError(
            "snapshot carries merge-on-read delete files; use "
            "read_iceberg (which applies them) or compact the table "
            "first (plans.iceberg_mor.compact_mor)"
        )
    return [e["path"] for e in data]


_NORM_FILE = (
    "regexp_replace(regexp_replace({col}, '^file:', ''), '^/+', '/')"
)

# per-category caps for reading delete files DRIVER-side (pyarrow →
# LocalRelation). Both must hold: compressed bytes AND decoded rows —
# a dictionary-compressed delete file (file_path is one repeated
# string) can pack tens of millions of rows under a byte cap alone,
# and to_pylist would materialize them all on the driver. Above
# either cap the distributed join path engages — driver memory stays
# bounded at any table scale.
_DRIVER_DELETE_MAX_BYTES = 8 << 20
_DRIVER_DELETE_MAX_ROWS = 1_000_000


def _norm_file_py(p: str) -> str:
    """Python mirror of ``_NORM_FILE`` — keys built driver-side must
    match what the SQL expression produces for the scan column."""
    return re.sub(r"^/+", "/", re.sub(r"^file:", "", p))


def _apply_deletes(
    spark: SparkSession,
    df: DataFrame,
    data: list[dict],
    pos_dels: list[dict],
    eq_dels: list[dict],
    schema: dict | None,
) -> DataFrame:
    """Apply v2 merge-on-read deletes to a data scan — distributed,
    jar-free:

    - every data row gets its ``(file, pos)`` identity from the scan's
      ``_metadata.file_path`` / ``_metadata.row_index`` (exactly the
      spec's ``pos``: ordinal row position in the data file) plus its
      file's data sequence number via a tiny broadcast map;
    - POSITION deletes anti-join on ``(file, pos)`` where the delete's
      sequence >= the row's (a position delete applies to data written
      at or before it);
    - EQUALITY deletes anti-join null-safely on the equality columns
      (resolved from field ids against the current schema) where the
      delete's sequence > the row's (strictly older data only — a row
      re-inserted AFTER the delete survives).

    Scale/latency: delete sets are matched-row-sized, not table-sized.
    Below ``_DRIVER_DELETE_MAX_BYTES`` per category they are read
    DRIVER-side with pyarrow into ``LocalRelation`` frames — a
    broadcast of a LocalRelation costs no Spark job, so the whole
    delete application adds zero jobs to the scan (measured 1.0 →
    ~0.25 s per read at sf0.1; the old shape paid a delete-file scan
    job plus three RDD-broadcast materialization jobs). Above the cap
    the distributed join path engages (delete-file scan + explicit
    broadcast). Sequence-number checks resolve driver-side wherever
    the metadata allows: a position delete's target file is named in
    the delete row, so its ``del_seq >= row_seq`` test is decided here
    per row; the equality-delete ``del_seq > row_seq`` test drops out
    entirely when every delete commit is newer than every live data
    file (the overwhelmingly common shape) — only the general case
    pays the per-row file→seq map join."""
    from pyspark.sql import functions as F

    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    max_data_seq = max((e["seq"] for e in data), default=0)
    seq_by_file = {os.path.normpath(e["path"]): e["seq"] for e in data}
    pq_dels = [e for e in pos_dels if e.get("format") != "PUFFIN"]
    dv_dels = [e for e in pos_dels if e.get("format") == "PUFFIN"]

    def _driver_small(entries: list[dict]) -> bool:
        import pyarrow.parquet as pq

        try:
            if sum(
                os.path.getsize(e["path"]) for e in entries
            ) > _DRIVER_DELETE_MAX_BYTES:
                return False
            return sum(
                pq.ParquetFile(e["path"]).metadata.num_rows
                for e in entries
            ) <= _DRIVER_DELETE_MAX_ROWS
        except OSError:
            return False

    pq_local = _driver_small(pq_dels)
    pos_vacuous = all(e["seq"] >= max_data_seq for e in pos_dels)
    eq_groups: dict[tuple, list[dict]] = {}
    for e in eq_dels:
        eq_groups.setdefault(e["equality_ids"], []).append(e)
    eq_vacuous = {
        ids: min(e["seq"] for e in grp) > max_data_seq
        for ids, grp in eq_groups.items()
    }
    # per-row data seq is only needed where a seq test must run in the
    # join itself: a non-vacuous equality group, or position deletes
    # too big to resolve driver-side whose seqs aren't vacuous either
    need_seq = any(not v for v in eq_vacuous.values()) or (
        bool(pq_dels) and not pq_local and not pos_vacuous
    )
    need_identity = bool(pos_dels) or need_seq
    if need_identity:
        df = (
            df.withColumn(
                "__if_file",
                F.expr(_NORM_FILE.format(col="_metadata.file_path")),
            )
            .withColumn("__if_pos", F.col("_metadata.row_index"))
        )
    if need_seq:
        seq_df = F.broadcast(
            local_frame(
                spark, list(seq_by_file.items()),
                "__if_file string, __if_seq long",
            )
        )
        df = df.join(seq_df, "__if_file", "left").withColumn(
            "__if_seq", F.coalesce("__if_seq", F.lit(0))
        )
    if pos_dels:
        import pyarrow.parquet as pq

        for e in pq_dels:
            have = set(pq.ParquetFile(e["path"]).schema_arrow.names)
            if not {"file_path", "pos"} <= have:
                raise ValueError(
                    f"position-delete file {e['path']} lacks the "
                    f"spec's file_path/pos columns (has {sorted(have)})"
                    " — a schema-forced read would silently delete "
                    "nothing"
                )

        def _dv_rows() -> list[tuple[str, int, int]]:
            # DELETION VECTORS decode DRIVER-side: blobs are
            # metadata-sized (compressed roaring over one file's row
            # indexes) and each names its target file outright — the
            # same cost class as reading the manifests themselves
            from dst_spark_k8_lakehouse_spark.plans import puffin

            out: list[tuple[str, int, int]] = []
            for e in dv_dels:
                with open(e["path"], "rb") as fh:
                    fh.seek(e["offset"])
                    blob = fh.read(e["size"])
                # join key must match the SCAN column's normalization
                # (_NORM_FILE regexp) EXACTLY — normpath here would
                # silently miss any stored spelling normpath changes
                ref = _norm_file_py(e["referenced"])
                out += [
                    (ref, int(p), int(e["seq"]))
                    for p in puffin.dv_blob_decode(blob)
                ]
            return out

        if pq_local:
            # resolve each delete row's seq test against its TARGET
            # file right here — the join carries no seq condition
            rows: list[tuple[str, int]] = []
            for e in pq_dels:
                tbl = pq.read_table(
                    e["path"], columns=["file_path", "pos"]
                )
                for fp, p in zip(
                    tbl.column("file_path").to_pylist(),
                    tbl.column("pos").to_pylist(),
                ):
                    # the JOIN key mirrors the scan column's
                    # _NORM_FILE normalization exactly (the
                    # distributed branch applies the same regexp to
                    # this very column); normpath is for the
                    # DRIVER-side seq lookup only, whose map keys are
                    # normpath-built
                    tgt = _norm_file_py(str(fp))
                    seq = seq_by_file.get(os.path.normpath(tgt), 0)
                    if e["seq"] >= seq:
                        rows.append((tgt, int(p)))
            rows += [
                (ref, p) for ref, p, s in _dv_rows()
                if s >= seq_by_file.get(os.path.normpath(ref), 0)
            ]
            dels = local_frame(spark, rows, "__df string, __dp long")
            df = df.join(
                F.broadcast(dels),
                (df["__if_file"] == dels["__df"])
                & (df["__if_pos"] == dels["__dp"]),
                "left_anti",
            )
        else:
            # distributed fallback: the delete set exceeds the driver
            # cap — scan it, broadcast it (matched-rows-sized; never
            # let the mixed equi/range condition fall back to a
            # table-wide sort-merge shuffle)
            dels = (
                spark.read.schema("file_path string, pos long")
                .parquet(*[e["path"] for e in pq_dels])
                .withColumn(
                    "__del_src",
                    F.expr(_NORM_FILE.format(col="_metadata.file_path")),
                )
            )
            del_seq = F.broadcast(
                local_frame(
                    spark,
                    [(os.path.normpath(e["path"]), e["seq"])
                     for e in pq_dels],
                    "__del_src string, __del_seq long",
                )
            )
            dels = dels.join(del_seq, "__del_src").select(
                F.expr(_NORM_FILE.format(col="file_path")).alias("__df"),
                F.col("pos").alias("__dp"),
                "__del_seq",
            )
            if dv_dels:
                dels = dels.unionByName(
                    local_frame(
                        spark, _dv_rows(),
                        "__df string, __dp long, __del_seq long",
                    )
                )
            cond = (df["__if_file"] == dels["__df"]) & (
                df["__if_pos"] == dels["__dp"]
            )
            if not pos_vacuous:
                cond = cond & (dels["__del_seq"] >= df["__if_seq"])
            df = df.join(F.broadcast(dels), cond, "left_anti")
    for ids in sorted(eq_groups):
        if schema is None:
            raise NotImplementedError(
                "equality deletes need the table schema for field-id "
                "resolution"
            )
        by_id = {int(f["id"]): f["name"] for f in schema["fields"]}
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise ValueError(
                f"equality_ids {missing} not in the current schema"
            )
        cols = [by_id[i] for i in ids]
        group = eq_groups[ids]
        vacuous = eq_vacuous[ids]
        if _driver_small(group):
            import pyarrow.parquet as pq

            struct = T.StructType(
                [
                    T.StructField(
                        f"__eq_{by_id[i]}",
                        _spark_type(
                            next(
                                f["type"] for f in schema["fields"]
                                if int(f["id"]) == i
                            )
                        ),
                        True,
                    )
                    for i in ids
                ]
                + ([] if vacuous
                   else [T.StructField("__del_seq", T.LongType(), False)])
            )
            eq_rows: list[tuple] = []
            for e in group:
                tbl = pq.read_table(e["path"], columns=cols)
                vals = [tbl.column(c).to_pylist() for c in cols]
                for tup in zip(*vals):
                    eq_rows.append(
                        tup if vacuous else tup + (int(e["seq"]),)
                    )
            eq = local_frame(spark, eq_rows, struct)
        else:
            eq = (
                spark.read.parquet(*[e["path"] for e in group])
                .withColumn(
                    "__del_src",
                    F.expr(_NORM_FILE.format(col="_metadata.file_path")),
                )
            )
            eq_seq = F.broadcast(
                local_frame(
                    spark,
                    [(os.path.normpath(e["path"]), e["seq"])
                     for e in group],
                    "__del_src string, __del_seq long",
                )
            )
            keep = [F.col(c).alias(f"__eq_{c}") for c in cols]
            if not vacuous:
                keep.append(F.col("__del_seq"))
            eq = eq.join(eq_seq, "__del_src").select(*keep)
        cond = None
        for c in cols:
            this = df[c].eqNullSafe(eq[f"__eq_{c}"])
            cond = this if cond is None else cond & this
        if not vacuous:
            cond = cond & (eq["__del_seq"] > df["__if_seq"])
        df = df.join(F.broadcast(eq), cond, "left_anti")
    return df.drop("__if_file", "__if_pos", "__if_seq")


def _spark_type(t: Any) -> T.DataType:
    """Iceberg type (spec JSON) → Spark type — inverse of
    ``iceberg_writer._iceberg_type``."""
    if isinstance(t, str):
        simple = {
            "long": T.LongType(), "int": T.IntegerType(),
            "double": T.DoubleType(), "float": T.FloatType(),
            "string": T.StringType(), "boolean": T.BooleanType(),
            "date": T.DateType(), "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType(), "binary": T.BinaryType(),
        }
        if t in simple:
            return simple[t]
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
    elif isinstance(t, dict) and t.get("type") == "list":
        return T.ArrayType(
            _spark_type(t["element"]),
            not t.get("element-required", False),
        )
    raise NotImplementedError(f"no Spark mapping for Iceberg type {t}")


def _schema_struct(schema: dict) -> T.StructType:
    """Current Iceberg schema → Spark schema with each field's id in
    ``parquet.field.id`` metadata (what Spark's field-id resolution
    reads)."""
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _spark_type(f["type"]),
                not f.get("required", False),
                metadata={"parquet.field.id": int(f["id"])},
            )
            for f in schema["fields"]
        ]
    )


def _files_have_field_ids(files: list[str], sample: int = 16) -> bool:
    """True iff the (sampled) data files embed parquet field ids —
    the precondition for id-based column resolution."""
    import pyarrow.parquet as pq

    for f in files[:sample]:
        sch = pq.ParquetFile(f).schema_arrow
        for field in sch:
            md = field.metadata or {}
            if b"PARQUET:field_id" not in md:
                return False
    return True


def _default_spec_fields(meta: dict) -> list[dict]:
    for spec in meta.get("partition-specs") or []:
        if spec.get("spec-id") == meta.get("default-spec-id", 0):
            return spec.get("fields") or []
    return meta.get("partition-spec") or []


def snapshot_at_timestamp(path: str, ts_ms: int) -> int:
    """The snapshot current AS OF ``ts_ms`` (epoch millis) — the last
    snapshot-log entry at or before it; the Iceberg counterpart of
    ``delta_reader.version_at_timestamp``."""
    with open(_current_metadata_file(path)) as fh:
        meta = json.load(fh)
    log = sorted(
        meta.get("snapshot-log") or [],
        key=lambda e: int(e["timestamp-ms"]),
    )
    chosen = None
    for e in log:
        if int(e["timestamp-ms"]) <= ts_ms:
            chosen = int(e["snapshot-id"])
    if chosen is None:
        raise ValueError(
            f"no snapshot at or before timestamp {ts_ms} in {path}"
        )
    return chosen


@paused_gc
def plan_file_list(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter=None,
    timestamp_ms: int | None = None,
    ref: str | None = None,
    predicates: list[tuple] | None = None,
) -> dict:
    """PLANNING ONLY: resolve the snapshot, prune manifests from their
    manifest-list partition summaries, decode the survivors, prune
    data files from partition records and column bounds — returning
    the entry lists ``read_iceberg`` scans WITHOUT building a
    DataFrame or touching any data file. Predicates are validated
    here, but their residual row filter is a Spark Column and is
    built by ``read_iceberg``: planning makes no py4j call and
    ``spark`` may be None. ``bench.py``'s PLANTIME
    tracker times exactly this function, so a regression in the
    pure-Python metadata walk (Avro bytes decoded per query) is
    visible per round as a function of manifest/file count."""
    if sum(x is not None for x in (snapshot_id, timestamp_ms, ref)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id / timestamp_ms / ref"
        )
    with open(_current_metadata_file(path)) as fh:
        meta = json.load(fh)
    if int(meta.get("format-version", 1)) > 2:
        raise NotImplementedError(
            f"Iceberg format-version {meta['format-version']} > 2"
        )
    from dst_spark_k8_lakehouse_spark.plans import iceberg_writer as _iw

    spec_fields = _default_spec_fields(meta)
    if partition_filter is not None and not spec_fields:
        raise ValueError("partition_filter on an unpartitioned table")
    pv_wants: dict[str, set] | None = None
    if isinstance(partition_filter, dict):
        spec_names = {sf["name"] for sf in spec_fields}
        bad = sorted(set(partition_filter) - spec_names)
        if bad:
            raise ValueError(
                f"partition_filter column(s) {bad}: not a partition "
                f"field of the current spec ({sorted(spec_names)})"
            )
        # normalize the typed wants into the PV DOMAIN the manifests
        # store (identity date fields record epoch-day ints)
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms as _trn,
        )

        try:
            rts = dict(zip(
                (sf["name"] for sf in spec_fields),
                _iw._spec_result_types(meta),
            ))
        except NotImplementedError:
            # a spec field this engine can't type (foreign transform,
            # nested source) must not break a filter that never
            # references it — fall back to raw-value comparison
            rts = {}
        pv_wants = {}
        for col, want in partition_filter.items():
            wants = (want if isinstance(want, (list, tuple, set))
                     else [want])
            pv_wants[col] = {
                _trn.to_pv_domain(w, rts.get(col, "")) for w in wants
            }
        partition_filter = pv_wants  # sets: _pv_pass uses them as-is
    manifest_keep = None
    schema_now = None
    for s in meta.get("schemas", []):
        if s.get("schema-id") == meta.get("current-schema-id"):
            schema_now = s
    if schema_now is None:
        schema_now = meta.get("schema")  # v1 single-schema layout
    if (predicates or pv_wants) and spec_fields and schema_now:
        # MANIFEST-LEVEL pruning: whole manifests whose partition
        # summaries prove no match are skipped before being decoded
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms as _tr,
        )

        manifest_keep = _tr.manifest_summary_predicate(
            schema_now["fields"], list(predicates or []), pv_wants
        )
    if predicates:
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms as _tr,
        )

        known = {f["name"] for f in schema_now["fields"]}
        unknown = sorted({c for c, _o, _v in predicates} - known)
        if unknown:
            raise ValueError(
                f"predicate column(s) {unknown} not in schema "
                f"{sorted(known)}"
            )
        pv_pred = _tr.partition_predicate(
            spec_fields, schema_now["fields"], list(predicates)
        )
        if partition_filter is None:
            partition_filter = pv_pred
        else:
            explicit = partition_filter
            partition_filter = lambda pv: (  # noqa: E731
                _pv_pass(pv, explicit) and pv_pred(pv)
            )
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if timestamp_ms is not None:
        snapshot_id = snapshot_at_timestamp(path, timestamp_ms)
    elif ref is not None:
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"ref {ref!r} not in table (has {sorted(refs)})"
            )
        snapshot_id = int(refs[ref]["snapshot-id"])
    if snapshot_id is None:
        snapshot_id = int(meta["current-snapshot-id"])
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not in table (has "
            f"{sorted(snaps)[:5]}…)"
        )
    data, pos_dels, eq_dels = _snapshot_entries(
        spark, snaps[snapshot_id], spec_fields, partition_filter,
        specs_by_id=_iw._specs_by_id(meta),
        manifest_keep=manifest_keep,
    )
    schema = schema_now
    if predicates and schema is not None:
        # second pruning tier: manifest COLUMN BOUNDS skip files on
        # ANY column, partitioned or not
        data = [
            e for e in data
            if _bounds_keep(e, list(predicates), schema["fields"])
        ]
    return {
        "data": data, "pos_dels": pos_dels, "eq_dels": eq_dels,
        "schema": schema, "meta": meta,
    }


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter=None,
    timestamp_ms: int | None = None,
    ref: str | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """SELECT from an Iceberg table directory, optionally time-
    travelling — by ``snapshot_id``, by ``timestamp_ms`` (as-of the
    snapshot log) or by named ``ref`` (a tag/branch from the
    metadata's ``refs`` map, ``iceberg_writer.create_tag``) — and/or
    pruning the file list with ``partition_filter`` (dict of typed
    identity values, or a predicate over them) against the manifests'
    partition records. Columns resolve by embedded parquet field id
    when the files carry them (rename-tolerant); id-less files
    resolve by name with a cross-check that raises on a renamed
    column rather than returning nulls.

    ``predicates`` is the HIDDEN-PARTITION query surface: a list of
    ``(source_col, op, literal)`` with op in ``== < <= > >= in`` over
    SOURCE columns. Each predicate prunes THREE tiers — whole
    manifests from the manifest-list partition summaries, data files
    from the manifests' partition records (both through the partition
    transform: a ``ts`` range on a ``days(ts)`` table reads only the
    matching days), and data files from manifest column bounds on ANY
    column — AND applies as the residual row filter, so boundary
    partitions return exactly the requested rows. At 100 TB this is
    the difference between a 7-partition scan and a table scan for a
    one-week query, at BOTH the data and the metadata tier."""
    plan = plan_file_list(
        spark, path, snapshot_id=snapshot_id,
        partition_filter=partition_filter, timestamp_ms=timestamp_ms,
        ref=ref, predicates=predicates,
    )
    data, pos_dels, eq_dels = (
        plan["data"], plan["pos_dels"], plan["eq_dels"]
    )
    schema = plan["schema"]
    files = [e["path"] for e in data]
    if schema is not None:
        df = read_data_files(spark, files, schema)
    elif not files:
        return spark.createDataFrame([], "STRUCT<>")
    else:
        df = spark.read.parquet(*files)
    if files and (pos_dels or eq_dels):
        df = _apply_deletes(spark, df, data, pos_dels, eq_dels, schema)
    if predicates:
        from dst_spark_k8_lakehouse_spark.plans import (
            iceberg_transforms as _tr,
        )

        df = df.where(_tr.predicates_to_column(list(predicates)))
    return df


def _absent_default_fields(
    path: str, defaulted: list[dict]
) -> frozenset[int]:
    """Field ids of ``defaulted`` schema fields ABSENT from the data
    file at ``path`` — by embedded parquet field id when the file
    carries ids, by name otherwise (one footer-metadata read)."""
    import pyarrow.parquet as pq

    sch = pq.ParquetFile(path).schema_arrow
    ids: set[int] = set()
    names: set[str] = set()
    for field in sch:
        names.add(field.name)
        md = field.metadata or {}
        if b"PARQUET:field_id" in md:
            ids.add(int(md[b"PARQUET:field_id"]))
    def absent(f: dict) -> bool:
        if ids:  # id-resolved file: names may have moved since
            return int(f["id"]) not in ids
        return f["name"] not in names

    return frozenset(int(f["id"]) for f in defaulted if absent(f))


def read_data_files(
    spark: SparkSession, files: list[str], schema: dict
) -> DataFrame:
    """Scan a list of Iceberg data files under the CURRENT schema:
    by embedded parquet field id when the files carry ids (renames
    and added columns resolve), by name with a loud cross-check
    otherwise. Shared by ``read_iceberg`` and the DML scans so a
    post-rename predicate sees the logical column names.

    DEFAULT VALUES (spec schema evolution): a field carrying
    ``initial-default`` reads that value — not null — from every file
    written BEFORE the field existed ("used for reads of data files
    without the field"). Files are grouped by which defaulted fields
    they lack (one footer-METADATA read per file, driver-side — a
    distributed runtime resolves this per task from the same footer;
    the grouping only engages when the schema declares defaults) and
    each group's absent columns become literals; files that DO carry
    the field keep their stored values, including explicit nulls."""
    struct = _schema_struct(schema)
    if not files:
        return spark.createDataFrame([], struct)
    defaulted = [
        f for f in schema["fields"]
        if f.get("initial-default") is not None
    ]
    if defaulted:
        from dst_spark_k8_lakehouse_spark.plans import iceberg_writer

        groups: dict[frozenset[int], list[str]] = {}
        for p in files:
            groups.setdefault(
                _absent_default_fields(p, defaulted), []
            ).append(p)
        if len(groups) > 1 or next(iter(groups)) != frozenset():
            by_id = {int(f["id"]): f for f in defaulted}
            parts = []
            for absent, grp in sorted(groups.items(), key=lambda x: sorted(x[0])):
                sub = {
                    **schema,
                    "fields": [
                        f for f in schema["fields"]
                        if int(f["id"]) not in absent
                    ],
                }
                df = read_data_files(spark, grp, sub)
                for fid in sorted(absent):
                    f = by_id[fid]
                    df = df.withColumn(
                        f["name"],
                        F.lit(
                            iceberg_writer.from_json_single_value(
                                f["initial-default"], f["type"]
                            )
                        ).cast(_spark_type(f["type"])),
                    )
                parts.append(
                    df.select(*[f["name"] for f in schema["fields"]])
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
    if _files_have_field_ids(files):
        # the conf only affects scans whose requested schema carries
        # parquet.field.id metadata
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = spark.read.schema(struct).parquet(*files)
        # strip the field-id metadata from the OUTPUT schema: it is a
        # scan-resolution concern, and letting it ride into downstream
        # plans makes a plain parquet write of two joined tables embed
        # DUPLICATE ids (both dims' id=1,2,…) — unreadable under the
        # fieldId.read conf this reader just enabled session-wide.
        # Writers never need it from here: both native writers stamp
        # ids from their own table metadata (_stamped_projection /
        # iceberg_writer's projection).
        return df.select(
            *[
                F.col(f["name"]).alias(f["name"], metadata={})
                for f in schema["fields"]
            ]
        )
    df = spark.read.parquet(*files)
    expected = [f["name"] for f in schema["fields"]]
    missing = set(expected) - set(df.columns)
    if missing:
        raise NotImplementedError(
            "current Iceberg schema names "
            f"{sorted(missing)} absent from the data files, which "
            "carry no parquet field ids — a name-matched read would "
            "silently null a renamed column"
        )
    return df.select(*expected)


def iceberg_snapshots(path: str) -> list[dict[str, Any]]:
    """Snapshot metadata, newest first — the read-only analogue of the
    ``.snapshots`` metadata table."""
    with open(_current_metadata_file(path)) as fh:
        meta = json.load(fh)
    out = [
        {
            "snapshot_id": int(s["snapshot-id"]),
            "timestamp_ms": s.get("timestamp-ms"),
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]
    return sorted(out, key=lambda x: -(x["timestamp_ms"] or 0))

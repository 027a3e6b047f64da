"""Columnar-vs-dict planning equality pin (the mirror of
``test_avro_codec``'s generated-vs-reference decoder pin).

``delta_reader.plan_file_list`` has two resolutions of the same log:
the classic per-add dict replay (``CP_COLUMNAR=False``) and the r9
Arrow path (``plans/delta_columnar``) that keeps checkpoint adds and
commit-tail add batches columnar and prunes with Arrow compute. The
contract is EXACT file-list equality — the fast path either matches
the dict path or falls back to it — so these tests build randomized
logs (checkpoints at random depths, removes, re-adds with fresh
stats, null partition values, missing stats, column mapping,
generated columns, deletion vectors) and compare both paths under
randomized predicate/partition-filter combinations.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import uuid

import pyarrow as pa
import pytest

from dst_spark_k8_lakehouse_spark.plans import delta_columnar, delta_reader


# ---------------------------------------------------------------------------
# synthetic log builder (metadata only — planning never opens data files)


def _schema_string(mapping: bool) -> str:
    def f(name, typ, fid):
        md = (
            {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": f"col-{fid}",
            }
            if mapping
            else {}
        )
        return {"name": name, "type": typ, "nullable": True,
                "metadata": md}

    return json.dumps({
        "type": "struct",
        "fields": [
            f("id", "long", 1),
            f("ts", "timestamp", 2),
            f("score", "double", 3),
            f("ds", "string", 4),
        ],
    })


def _meta(mapping: bool) -> dict:
    return {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _schema_string(mapping),
        "partitionColumns": ["ds"],
        "configuration": (
            {"delta.columnMapping.mode": "name"} if mapping else {}
        ),
        "createdTime": 0,
    }


def _rand_add(rng: random.Random, i: int, mapping: bool) -> dict:
    day = rng.randrange(10)
    ds = None if rng.random() < 0.1 else f"2024-01-{day + 1:02d}"
    pv_key = "col-4" if mapping else "ds"
    add = {
        "path": f"part-{i:06d}.parquet",
        "partitionValues": {pv_key: ds},
        "size": rng.randrange(1, 1 << 20),
        "modificationTime": i,
        "dataChange": True,
    }
    if rng.random() < 0.85:  # some adds carry no stats at all
        lo_id, hi_id = sorted(rng.sample(range(1000), 2))
        lo_s, hi_s = sorted(rng.uniform(0, 1) for _ in range(2))
        stats = {
            "numRecords": rng.randrange(1, 100),
            "minValues": {}, "maxValues": {}, "nullCount": {},
        }
        key_id = "col-1" if mapping else "id"
        key_sc = "col-3" if mapping else "score"
        key_ts = "col-2" if mapping else "ts"
        stats["minValues"][key_id] = lo_id
        stats["maxValues"][key_id] = hi_id
        if rng.random() < 0.8:  # per-column bounds can be missing
            stats["minValues"][key_sc] = lo_s
            stats["maxValues"][key_sc] = hi_s
        if rng.random() < 0.8:
            stats["minValues"][key_ts] = (
                f"2024-01-{day + 1:02d} 00:00:00"
            )
            stats["maxValues"][key_ts] = (
                f"2024-01-{day + 1:02d} 23:59:59"
            )
        add["stats"] = json.dumps(stats)
    if rng.random() < 0.1:  # a few adds carry deletion vectors
        add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": uuid.uuid4().hex,
            "offset": 1,
            "sizeInBytes": 40,
            "cardinality": rng.randrange(1, 5),
        }
    return add


def build_random_log(
    tmp: str, seed: int, mapping: bool = False,
    checkpoint_spark=None,
) -> str:
    """A randomized Delta log: appends, removes of earlier files,
    re-adds with fresh stats, optionally a checkpoint mid-log (needs
    ``checkpoint_spark``)."""
    rng = random.Random(seed)
    table = os.path.join(tmp, f"t{seed}")
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    live: list[dict] = []
    fi = 0
    n_commits = rng.randrange(3, 9)
    cp_at = rng.randrange(1, n_commits) if checkpoint_spark else None
    for c in range(n_commits):
        actions: list[dict] = []
        if c == 0:
            actions.append({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}})
            actions.append({"metaData": _meta(mapping)})
        for _ in range(rng.randrange(1, 30)):
            a = _rand_add(rng, fi, mapping)
            fi += 1
            actions.append({"add": a})
            live.append(a)
        if live and rng.random() < 0.6:  # remove some earlier files
            for victim in rng.sample(live, min(len(live),
                                               rng.randrange(1, 4))):
                live.remove(victim)
                actions.append({"remove": {
                    "path": victim["path"],
                    "deletionTimestamp": 0, "dataChange": True,
                }})
        if live and rng.random() < 0.5:  # re-add with fresh stats
            victim = rng.choice(live)
            fresh = _rand_add(rng, fi, mapping)
            fi += 1
            fresh["path"] = victim["path"]
            actions.append({"add": fresh})
        if rng.random() < 0.3:
            actions.append({"txn": {"appId": "app",
                                    "version": c}})
        actions.append({"commitInfo": {"operation": "TEST",
                                       "timestamp": c}})
        with open(os.path.join(log, f"{c:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(x) for x in actions) + "\n")
        if cp_at is not None and c == cp_at:
            from dst_spark_k8_lakehouse_spark.plans import delta_writer

            delta_writer.write_checkpoint(checkpoint_spark, table)
    return table


def _norm(files: dict) -> dict:
    """Add dicts with None-valued keys dropped, at the top level AND
    inside partitionValues — the columnar path materializes every
    declared field (absent → None) where json.loads only carries the
    keys present in the line; absent-vs-null is invisible to every
    consumer (``.get`` access throughout)."""
    out = {}
    for k, v in files.items():
        d = {kk: vv for kk, vv in v.items() if vv is not None}
        if isinstance(d.get("partitionValues"), dict):
            d["partitionValues"] = {
                kk: vv for kk, vv in d["partitionValues"].items()
                if vv is not None
            }
        out[k] = d
    return out


def _both_paths(spark, table, **kw):
    old = delta_reader.CP_COLUMNAR
    try:
        delta_reader.CP_COLUMNAR = True
        fast = delta_reader.plan_file_list(spark, table, **kw)["files"]
        delta_reader.CP_COLUMNAR = False
        slow = delta_reader.plan_file_list(spark, table, **kw)["files"]
    finally:
        delta_reader.CP_COLUMNAR = old
    return fast, slow


_PRED_POOL = [
    None,
    [("id", ">=", 500)],
    [("id", "<", 100), ("score", ">=", 0.5)],
    [("ts", ">=", datetime.datetime(2024, 1, 4)),
     ("ts", "<", datetime.datetime(2024, 1, 7))],
    [("id", "in", [5, 800, 950])],
    [("score", "<=", 0.25)],
]
_FILTER_POOL = [
    None,
    {"ds": "2024-01-03"},
    {"ds": ["2024-01-02", "2024-01-05"]},
    lambda pv: pv["ds"] is not None and pv["ds"] >= "2024-01-06",
]


@pytest.mark.parametrize("seed", range(8))
def test_randomized_equality_json_log(tmp_path, spark, seed):
    table = build_random_log(str(tmp_path), seed)
    rng = random.Random(1000 + seed)
    for _ in range(6):
        kw = {
            "predicates": rng.choice(_PRED_POOL),
            "partition_filter": rng.choice(_FILTER_POOL),
        }
        fast, slow = _both_paths(spark, table, **kw)
        assert _norm(fast) == _norm(slow), kw


@pytest.mark.parametrize("seed", range(4))
def test_randomized_equality_checkpointed(tmp_path, spark, seed):
    table = build_random_log(str(tmp_path), 50 + seed,
                             checkpoint_spark=spark)
    rng = random.Random(2000 + seed)
    for _ in range(6):
        kw = {
            "predicates": rng.choice(_PRED_POOL),
            "partition_filter": rng.choice(_FILTER_POOL),
        }
        fast, slow = _both_paths(spark, table, **kw)
        assert _norm(fast) == _norm(slow), kw


def test_equality_under_column_mapping(tmp_path, spark):
    # name-mode mapping: stats + partitionValues keyed by physical
    # names; the struct-typed pv path resolves physical-then-logical
    table = build_random_log(str(tmp_path), 7, mapping=True)
    for preds in _PRED_POOL:
        fast, slow = _both_paths(spark, table, predicates=preds)
        assert _norm(fast) == _norm(slow)


def test_equality_mapped_checkpoint_falls_back(tmp_path, spark):
    # checkpoint partitionValues is MAP-typed; under column mapping
    # the columnar pv path declares itself out (missing-key vs null
    # is ambiguous in map_lookup) — equality must hold via fallback
    table = build_random_log(str(tmp_path), 8, mapping=True,
                             checkpoint_spark=spark)
    fast, slow = _both_paths(
        spark, table, partition_filter={"ds": "2024-01-03"}
    )
    assert _norm(fast) == _norm(slow)


def test_cross_type_literal_keeps_superset(tmp_path, spark):
    # float literal on a LONG column: Python compares exactly, int64
    # Arrow can't — the columnar path keeps a superset for that
    # predicate (the residual row filter stays exact); it must never
    # DROP a file the dict path keeps
    table = build_random_log(str(tmp_path), 9)
    fast, slow = _both_paths(
        spark, table, predicates=[("id", "<", 100.5)]
    )
    assert set(slow) <= set(fast)


def test_generated_column_pruning_equality(tmp_path, spark):
    # a real generated-column table written by the engine: predicates
    # on the source column prune ds partitions through the generation
    # expression in BOTH paths
    from dst_spark_k8_lakehouse_spark.plans import delta_writer
    from pyspark.sql import functions as F

    table = os.path.join(str(tmp_path), "gen")
    df = spark.range(200).select(
        F.col("id"),
        F.to_timestamp(
            F.concat(F.lit("2024-01-0"),
                     (F.col("id") % 5 + 1).cast("string"),
                     F.lit(" 12:00:00"))
        ).alias("ts"),
    ).coalesce(1)
    delta_writer.create_delta(
        df, table, partition_by=["d"],
        generated={"d": "CAST(ts AS DATE)"},
    )
    total = delta_reader.plan_file_list(spark, table)["files"]
    preds = [("ts", ">=", datetime.datetime(2024, 1, 2)),
             ("ts", "<", datetime.datetime(2024, 1, 4))]
    fast, slow = _both_paths(spark, table, predicates=preds)
    assert _norm(fast) == _norm(slow)
    assert 0 < len(fast) < len(total)  # pruning actually pruned
    assert {a["partitionValues"]["d"] for a in fast.values()} == {
        "2024-01-02", "2024-01-03"
    }


def test_dedup_last_keeps_final_row():
    t = pa.table({
        "path": ["a", "b", "a", "c"],
        "size": [1, 2, 3, 4],
    })
    out = delta_columnar.dedup_last(t)
    got = {r["path"]: r["size"] for r in out.to_pylist()}
    assert got == {"a": 3, "b": 2, "c": 4}


def test_parse_add_lines_rejects_unknown_fields():
    # a field beyond the declared protocol shape must refuse the fast
    # path (never silently drop it)
    line = json.dumps({"add": {
        "path": "p", "partitionValues": {}, "size": 1,
        "modificationTime": 0, "dataChange": True,
        # a real Delta field this planner does not parse (baseRowId/
        # defaultRowCommitVersion/tags joined the declared shape r10)
        "clusteringProvider": "liquid",
    }})
    assert delta_columnar.parse_add_lines([line], []) is None


def test_parse_add_lines_roundtrip():
    line = json.dumps({"add": {
        "path": "ds=2024-01-01/p.parquet",
        "partitionValues": {"ds": "2024-01-01"},
        "size": 10, "modificationTime": 3, "dataChange": True,
        "stats": json.dumps({"numRecords": 5}),
    }})
    t = delta_columnar.parse_add_lines([line], ["ds"])
    row = t.to_pylist()[0]
    assert row["path"] == "ds=2024-01-01/p.parquet"
    assert row["partitionValues"] == {"ds": "2024-01-01"}
    assert row["size"] == 10 and row["dataChange"] is True
    assert json.loads(row["stats"]) == {"numRecords": 5}


def test_mixed_physical_logical_pv_keys_resolve_per_row(tmp_path, spark):
    """ADVICE r9 (medium): parse_add_lines declares BOTH
    partitionValues spellings under column mapping, so an add keyed by
    the LOGICAL name parses with a null physical struct child —
    schema-level physical-wins read null and could prune a LIVE file.
    Build a log that mixes physical-keyed adds (real Delta writers)
    with logical-keyed adds (this library's writer) in ONE table and
    pin columnar-vs-dict equality under partition filters."""
    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": _meta(True)},
    ]
    for i in range(20):
        key = "col-4" if i % 2 else "ds"  # mixed spellings
        ds = None if i % 7 == 0 else f"2024-01-{(i % 5) + 1:02d}"
        actions.append({"add": {
            "path": f"part-{i:06d}.parquet",
            "partitionValues": {key: ds},
            "size": 100 + i,
            "modificationTime": i,
            "dataChange": True,
        }})
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    for flt in (
        {"ds": "2024-01-03"},
        {"ds": ["2024-01-01", "2024-01-05"]},
        {"ds": None},
        None,
    ):
        fast, slow = _both_paths(spark, table, partition_filter=flt)
        assert _norm(fast) == _norm(slow), flt
        if flt == {"ds": "2024-01-03"}:
            # the filter must KEEP logical-keyed matches (they are
            # exactly the rows the pre-fix fast path dropped)
            assert any(
                int(p.split("-")[1].split(".")[0]) % 2 == 0
                for p in fast
            ), fast


def test_partition_mask_fast_path_engages():
    """The columnar membership mask must actually RUN (not raise into
    the exact fallback): before r10 the threaded 'first' aggregator
    refused on every call, so the equality pin held while the fast
    path silently never executed. prune_adds returning a table (not
    None) is the engagement proof."""
    lines = [
        json.dumps({"add": {
            "path": f"{i}.parquet",
            "partitionValues": {"ds": f"2024-01-{(i % 4) + 1:02d}"},
            "size": 1, "modificationTime": i, "dataChange": True,
        }})
        for i in range(12)
    ]
    tbl = delta_columnar.parse_add_lines(lines, ["ds"])
    assert tbl is not None
    calls = []

    def keep_pv(pv):
        calls.append(dict(pv))
        return pv["ds"] == "2024-01-02"

    kept = delta_columnar.prune_adds(
        tbl, set(), ["ds"], {}, keep_pv, None, None, lambda v: v
    )
    assert kept is not None, "fast path fell back"
    assert kept.num_rows == 3
    # the predicate ran once per DISTINCT tuple, not per file
    assert len(calls) == 4

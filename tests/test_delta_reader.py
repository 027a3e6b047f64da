"""Read-only Delta log reader vs hand-built protocol-conformant logs.

The container cannot run the Delta writer (jar), so these tests
construct ``_delta_log`` commit files exactly per the public protocol
spec (JSON actions: protocol/metaData/add/remove/commitInfo) and
assert the reader resolves the same table a Delta runtime would."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "part", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    }
)


def _write_commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta_action():
    return {
        "metaData": {
            "id": "test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_JSON,
            "partitionColumns": ["part"],
            "configuration": {},
        }
    }


def _add_file(spark, table, name, rows, part):
    """Write a real parquet data file (non-partition columns only, as
    Delta does) and return its add action."""
    df = spark.createDataFrame(rows, "id long, v string")
    tmp = os.path.join(table, "_tmp_" + name)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(os.path.join(tmp, src), os.path.join(table, name))
    import shutil

    shutil.rmtree(tmp)
    return {
        "add": {
            "path": name,
            "partitionValues": {"part": str(part)},
            "size": os.path.getsize(os.path.join(table, name)),
            "modificationTime": 0,
            "dataChange": True,
        }
    }


@pytest.fixture()
def delta_table(spark, tmp_path):
    table = str(tmp_path / "dtab")
    os.makedirs(table)
    a0 = _add_file(spark, table, "f0.parquet", [(1, "a"), (2, "b")], 10)
    a1 = _add_file(spark, table, "f1.parquet", [(3, "c")], 20)
    _write_commit(
        table, 0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
         _meta_action(), a0, a1,
         {"commitInfo": {"operation": "WRITE", "timestamp": 1000}}],
    )
    a2 = _add_file(spark, table, "f2.parquet", [(4, "d")], 10)
    _write_commit(
        table, 1,
        [a2, {"commitInfo": {"operation": "WRITE", "timestamp": 2000}}],
    )
    # version 2 removes f1 (the part=20 file)
    _write_commit(
        table, 2,
        [{"remove": {"path": "f1.parquet", "dataChange": True,
                     "deletionTimestamp": 3000}},
         {"commitInfo": {"operation": "DELETE", "timestamp": 3000}}],
    )
    return table


def test_reads_latest_with_partition_values(spark, delta_table):
    assert dr.is_delta_table(delta_table)
    df = dr.read_delta(spark, delta_table)
    rows = {(r.id, r.v, r.part) for r in df.collect()}
    # f1 removed at v2: id 3 gone; partition col injected from the log
    assert rows == {(1, "a", 10), (2, "b", 10), (4, "d", 10)}
    assert dict(df.dtypes)["part"] == "int"


def test_time_travel_by_version(spark, delta_table):
    v0 = {(r.id, r.part) for r in
          dr.read_delta(spark, delta_table, version=0).collect()}
    v1 = {(r.id, r.part) for r in
          dr.read_delta(spark, delta_table, version=1).collect()}
    assert v0 == {(1, 10), (2, 10), (3, 20)}
    assert v1 == {(1, 10), (2, 10), (3, 20), (4, 10)}


def test_time_travel_past_head_raises(spark, delta_table):
    """A version the log does not hold yet is an error, never a silent
    read of the latest state (the log here ends at version 2)."""
    with pytest.raises(ValueError, match="version 3 not available"):
        dr.read_delta(spark, delta_table, version=3)
    assert dr.read_delta(spark, delta_table, version=2).count() == 3


def test_history_newest_first(delta_table):
    hist = dr.delta_history(delta_table)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operation"] == "DELETE"


def test_unsupported_reader_feature_raises(spark, tmp_path):
    # deletionVectors (test_delta_dv.py), v2Checkpoint
    # (test_delta_checkpoint_v2.py) and typeWidening
    # (test_type_widening.py) moved to the supported set; collations
    # remains beyond this reader and must stay loud
    table = str(tmp_path / "coll")
    os.makedirs(table)
    _write_commit(
        table, 0,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["collations"]}},
         _meta_action()],
    )
    with pytest.raises(NotImplementedError, match="collations"):
        dr.read_delta(spark, table)


def test_missing_log_raises_cleanly(spark, tmp_path):
    with pytest.raises(ValueError, match="no Delta log"):
        dr.read_delta(spark, str(tmp_path / "not_a_table" ))


def test_filters_push_into_resolved_scan(spark, delta_table):
    """The resolved read is an ordinary parquet scan — data filters
    must reach PushedFilters like any S1 scan."""
    import io
    from contextlib import redirect_stdout

    df = dr.read_delta(spark, delta_table).filter(F.col("id") > 1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in buf.getvalue()


def test_checkpoint_replay(spark, delta_table):
    """A protocol checkpoint (parquet snapshot of the log referenced
    by _last_checkpoint) replaces the JSON commits at or below its
    version; later commits still apply."""
    log = os.path.join(delta_table, "_delta_log")
    # build the checkpoint for version 1 from the raw action lines
    # (spark.read.json gives the struct-per-action schema the
    # protocol specifies for checkpoint files)
    lines = []
    for v in (0, 1):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            lines += [ln for ln in fh.read().splitlines()
                      if ln.strip() and "commitInfo" not in ln]
    actions = spark.read.json(spark.sparkContext.parallelize(lines))
    cp = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    tmp = cp + ".tmp"
    actions.coalesce(1).write.mode("overwrite").parquet(tmp)
    import shutil

    src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(os.path.join(tmp, src), cp)
    shutil.rmtree(tmp)
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": len(lines)}, fh)
    # delete the JSON commits the checkpoint supersedes: replay must
    # come from the checkpoint alone + the v2 commit
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    rows = {(r.id, r.part) for r in dr.read_delta(spark, delta_table).collect()}
    assert rows == {(1, 10), (2, 10), (4, 10)}  # v2 remove applied

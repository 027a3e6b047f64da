"""Pure-Python Delta writer round-trips through the log reader, and
its commit files are protocol-conformant JSON a real runtime accepts
(action vocabulary, version numbering, put-if-absent publication)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr
from dst_spark_k8_lakehouse_spark.plans import delta_writer as dw


def test_create_append_overwrite_roundtrip(spark, tmp_path):
    table = str(tmp_path / "wtab")
    d1 = spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("x"))
    dw.create_delta(d1, table)
    assert dr.is_delta_table(table)
    assert {r.id for r in dr.read_delta(spark, table).collect()} == {0, 1, 2}

    dw.append_delta(
        spark.range(3, 5).select(F.col("id"), (F.col("id") * 2).alias("x")),
        table,
    )
    assert {r.id for r in dr.read_delta(spark, table).collect()} == {0, 1, 2, 3, 4}
    # time travel back to the create commit
    assert {r.id for r in dr.read_delta(spark, table, version=0).collect()} == {0, 1, 2}

    dw.overwrite_delta(
        spark.range(9, 10).select(F.col("id"), (F.col("id") * 2).alias("x")),
        table,
    )
    assert {r.id for r in dr.read_delta(spark, table).collect()} == {9}
    assert [h["version"] for h in dr.delta_history(table)] == [2, 1, 0]


def test_commit_zero_carries_protocol_and_metadata(spark, tmp_path):
    table = str(tmp_path / "proto")
    dw.create_delta(spark.range(1), table)
    with open(os.path.join(table, "_delta_log",
                           f"{0:020d}.json")) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    proto = actions[0]["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    schema = json.loads(actions[1]["metaData"]["schemaString"])
    assert schema["fields"][0]["name"] == "id"
    assert schema["fields"][0]["type"] == "long"


def test_lost_commit_race_raises_not_corrupts(spark, tmp_path):
    table = str(tmp_path / "race")
    dw.create_delta(spark.range(2), table)
    # simulate a competing writer taking version 1
    dw._commit(table, 1, [dw._commit_info("WRITE")])
    with pytest.raises(FileExistsError):
        dw._commit(table, 1, [dw._commit_info("WRITE")])
    # the table still reads (the competing empty commit is a no-op)
    assert dr.read_delta(spark, table).count() == 2


def test_append_schema_mismatch_refused(spark, tmp_path):
    table = str(tmp_path / "schm")
    dw.create_delta(spark.range(1), table)
    with pytest.raises(ValueError, match="schema"):
        dw.append_delta(
            spark.range(1).select(F.col("id").alias("renamed")), table
        )


def test_writer_output_readable_by_versioned_surface(spark, tmp_path):
    """read_delta and the VersionedTable handle consume writer output."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    table = str(tmp_path / "surf")
    dw.create_delta(spark.range(4), table)
    assert dr.read_delta(spark, table).count() == 4
    assert VersionedTable(spark, table).read().count() == 4

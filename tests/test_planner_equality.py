"""Planner outputs are unchanged by the planning kernels.

``plan_file_list`` (Delta JSON log, classic and v2 checkpoints,
Iceberg) and ``compute_partition_stats`` run twice: as shipped, and
with every kernel swapped for its reference — the interpreted Avro
decoder (``tests/avro_reference``) behind ``read_avro_file``, row-wise
``to_pylist`` behind ``delta_columnar.materialize_adds`` and one
``json.loads`` per commit line behind ``delta_reader._parse_actions``.
Both runs must return identical file lists, entry dicts and stats rows.
Planning itself must need no Spark session.
"""

from __future__ import annotations

import datetime
import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import (
    avro_codec,
    delta_columnar,
    delta_reader,
    iceberg_mor,
    iceberg_partition_stats as ips,
    iceberg_reader,
    iceberg_writer,
    plantime,
)
from tests import avro_reference

FORMATS = ("delta", "delta_cp", "delta_cpv2", "iceberg")


@pytest.fixture(scope="module")
def plantime_tables(spark, tmp_path_factory):
    import os

    root = str(tmp_path_factory.mktemp("plantime"))
    old_dir = os.environ.get("SPARK_GRAFT_PLANTIME_DIR")
    old_scales = plantime.SCALES
    os.environ["SPARK_GRAFT_PLANTIME_DIR"] = root
    plantime.SCALES = [("1k", 1_000, 10), ("10k", 10_000, 50)]
    try:
        yield plantime.ensure_tables(spark)
    finally:
        plantime.SCALES = old_scales
        if old_dir is None:
            os.environ.pop("SPARK_GRAFT_PLANTIME_DIR", None)
        else:
            os.environ["SPARK_GRAFT_PLANTIME_DIR"] = old_dir


def _rowwise_adds(tbl: pa.Table) -> list[dict]:
    """The whole-table ``to_pylist`` materialization."""
    paths = delta_columnar.schema_map_paths(tbl.schema)
    rows = [delta_columnar.convert_maps(r, paths) for r in tbl.to_pylist()]
    if pa.types.is_struct(tbl.schema.field("partitionValues").type):
        for r in rows:
            pv = r["partitionValues"]
            if pv is not None:
                r["partitionValues"] = {
                    k: v for k, v in pv.items() if v is not None
                }
    return rows


@pytest.fixture
def reference_kernels(monkeypatch):
    def use():
        monkeypatch.setattr(
            avro_codec, "read_avro_file", avro_reference.read_avro_file
        )
        monkeypatch.setattr(delta_columnar, "materialize_adds",
                            _rowwise_adds)
        monkeypatch.setattr(
            delta_reader, "_parse_actions",
            lambda lines: [json.loads(ln) for ln in lines],
        )

    return use


def _plan(fmt: str, path: str, spark=None, **kw):
    if fmt == "iceberg":
        p = iceberg_reader.plan_file_list(spark, path, **kw)
        return p["data"], p["pos_dels"], p["eq_dels"]
    files = delta_reader.plan_file_list(spark, path, **kw)["files"]
    return list(files.items())  # values AND order


def _window(first_day: int) -> list[tuple]:
    lo = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=first_day)
    return [("ts", ">=", lo), ("ts", "<", lo + datetime.timedelta(days=3))]


def _plantime_outputs(tables) -> dict:
    out = {}
    for label, by_fmt in tables.items():
        for fmt in FORMATS:
            for first_day in (None, 0, 41, 97):
                kw = {} if first_day is None else {
                    "predicates": _window(first_day)
                }
                out[label, fmt, first_day] = _plan(fmt, by_fmt[fmt], **kw)
        out[label, "pstats"] = ips.compute_partition_stats(
            None, by_fmt["iceberg"]
        )
    return out


def test_plantime_plans_equal_reference(plantime_tables,
                                        reference_kernels):
    fast = _plantime_outputs(plantime_tables)
    reference_kernels()
    slow = _plantime_outputs(plantime_tables)
    assert fast.keys() == slow.keys()
    for key in fast:
        assert fast[key] == slow[key], key
    # the fixtures are what the benchmark expects: every file, and a
    # three-day window keeps 3% of them
    for label, n in (("1k", 1_000), ("10k", 10_000)):
        for fmt in FORMATS:
            files = fast[label, fmt, None]
            assert len(files[0] if fmt == "iceberg" else files) == n
        assert sum(r["data_file_count"]
                   for r in fast[label, "pstats"]) == n


def test_planners_need_no_spark(spark, plantime_tables):
    """Planning makes no py4j call: with ``spark=None`` both planners
    return what they return with a session."""
    by_fmt = plantime_tables["1k"]
    for fmt in FORMATS:
        for kw in ({}, {"predicates": _window(40)}):
            assert _plan(fmt, by_fmt[fmt], None, **kw) == _plan(
                fmt, by_fmt[fmt], spark, **kw
            )


def test_v2_mor_table_plans_equal_reference(spark, tmp_path,
                                            reference_kernels):
    """An ``iceberg_writer`` v2 table with position deletes, equality
    deletes, a PUFFIN deletion vector and spec evolution."""
    table = str(tmp_path / "mor")
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp"),
        (F.col("id") * 2.0).alias("val"),
    ).repartition(2)
    iceberg_writer.create_iceberg(df, table, partition_by=["grp"],
                                  format_version=2)
    iceberg_mor.delete_where_mor(spark, table, "k % 7 = 0")
    iceberg_mor.delete_keys_mor(
        spark, table, spark.range(3).select(F.col("id").alias("k"))
    )
    iceberg_mor.delete_where_dv(spark, table, "k % 5 = 1")
    iceberg_writer.add_partition_field(table, "bucket(4, k)")
    iceberg_writer.append_iceberg(
        spark.range(40, 50).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("grp"),
            (F.col("id") * 2.0).alias("val"),
        ).repartition(1),
        table,
    )

    def outputs():
        return (
            _plan("iceberg", table),
            _plan("iceberg", table, predicates=[("grp", "==", 1)]),
            _plan("iceberg", table, predicates=[("k", ">=", 45)]),
            ips.compute_partition_stats(None, table),
        )

    fast = outputs()
    data, pos_dels, eq_dels = fast[0]
    assert {e.get("format") for e in pos_dels} == {None, "PUFFIN"}
    assert eq_dels and data
    assert len({r["spec_id"] for r in fast[3]}) == 2
    reference_kernels()
    assert outputs() == fast


def test_paused_gc_restores_the_collector():
    import gc

    from dst_spark_k8_lakehouse_spark.plans.gc_pause import paused_gc

    @paused_gc
    def inner():
        return gc.isenabled()

    @paused_gc
    def boom():
        raise RuntimeError("planning failed")

    assert inner() is False and gc.isenabled()
    with pytest.raises(RuntimeError):
        boom()
    assert gc.isenabled()
    gc.disable()  # a caller that keeps the collector off keeps it off
    try:
        assert inner() is False
        assert not gc.isenabled()
    finally:
        gc.enable()

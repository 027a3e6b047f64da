"""Puffin statistics files + KMV theta sketches (``plans/puffin.py``,
``iceberg_writer.write_table_statistics``/``column_ndv``).

Container: byte-level magic/footer layout per the Iceberg Puffin
spec. Sketch: exact below K, bounded-error estimator above, EXACT
mergeability (the roll-up property incremental stats maintenance
needs), determinism across partitionings. Integration: the
``statistics`` entry in table metadata, survival across appends, and
the loud no-stats error.
"""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import iceberg_reader as ir
from dst_spark_k8_lakehouse_spark.plans import iceberg_writer as iw
from dst_spark_k8_lakehouse_spark.plans import puffin
from tests import puffin_reference


# ------------------------------------------------------------- container


def test_container_roundtrip_and_layout(tmp_path):
    p = str(tmp_path / "s.puffin")
    blobs = [
        {"type": "dst-kmv-theta-v1", "fields": [1], "snapshot-id": 7,
         "sequence-number": 2, "data": b"alpha",
         "properties": {"ndv": "5"}},
        {"type": "custom-x", "fields": [2, 3], "snapshot-id": 7,
         "sequence-number": 2, "data": b"0123456789"},
    ]
    footer = puffin.write_puffin(p, blobs, {"note": "t"})
    raw = open(p, "rb").read()
    assert raw[:4] == puffin.MAGIC and raw[-4:] == puffin.MAGIC
    assert struct.unpack("<i", raw[-8:-4])[0] == 0  # flags
    got_footer, payloads = puffin.read_puffin(p)
    assert payloads == [b"alpha", b"0123456789"]
    assert got_footer["blobs"][0]["offset"] == 4
    assert got_footer["blobs"][1]["offset"] == 9
    assert got_footer["properties"]["note"] == "t"
    assert footer["blobs"] == got_footer["blobs"]


def test_container_refuses_corruption(tmp_path):
    p = str(tmp_path / "bad.puffin")
    puffin.write_puffin(p, [{"type": "x", "data": b"d"}])
    raw = bytearray(open(p, "rb").read())
    raw[0] = 0
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="magic"):
        puffin.read_puffin(p)
    # compressed-footer flag must refuse, not garble
    raw = bytearray(puffin.MAGIC + puffin.MAGIC + b"{}"
                    + struct.pack("<i", 2) + struct.pack("<i", 1)
                    + puffin.MAGIC)
    open(p, "wb").write(bytes(raw))
    with pytest.raises(NotImplementedError, match="compressed"):
        puffin.read_puffin(p)


# --------------------------------------------------------------- sketch


def test_kmv_exact_below_k(spark):
    df = spark.range(300).select((F.col("id") % 77).alias("v"))
    sk = puffin.compute_column_sketches(df, ["v"], k=512)["v"]
    assert puffin.kmv_estimate(sk) == 77.0


def test_kmv_bounded_error_above_k(spark):
    df = spark.range(60000).select((F.col("id") % 20011).alias("v"))
    sk = puffin.compute_column_sketches(df, ["v"], k=1024)["v"]
    est = puffin.kmv_estimate(sk)
    assert abs(est - 20011) / 20011 < 0.10  # RSE ~3.1% at K=1024


def test_kmv_union_is_exact_merge(spark):
    df = spark.range(30000).select((F.col("id") % 9973).alias("v"))
    whole = puffin.compute_column_sketches(df, ["v"], k=256)["v"]
    parts = [
        puffin.compute_column_sketches(
            df.where(f"id % 4 = {i}"), ["v"], k=256
        )["v"]
        for i in range(4)
    ]
    assert puffin.kmv_union(parts) == whole
    # union of MIXED-K sketches resolves at the coarsest K
    fine = puffin.compute_column_sketches(df, ["v"], k=512)["v"]
    k, _ = puffin.kmv_deserialize(puffin.kmv_union([fine, whole]))
    assert k == 256


def test_kmv_deterministic_across_partitionings(spark):
    df = spark.range(5000).select((F.col("id") % 1234).alias("v"))
    a = puffin.compute_column_sketches(df.repartition(13), ["v"])["v"]
    b = puffin.compute_column_sketches(df.coalesce(1), ["v"])["v"]
    assert a == b


def test_kmv_nulls_dont_count(spark):
    df = spark.range(100).select(
        F.when(F.col("id") % 2 == 0, F.col("id") % 10).alias("v")
    )
    sk = puffin.compute_column_sketches(df, ["v"])["v"]
    assert puffin.kmv_estimate(sk) == 5.0  # 0,2,4,6,8


def test_single_pass_equals_per_column(spark):
    # byte-identical sketches, mixed types, an all-NULL column, a
    # full sketch (distinct > K) and a partial one, multi-partition
    df = spark.range(30000).select(
        (F.col("id") % 9973).alias("a"),
        (F.col("id") % 41).cast("string").alias("b"),
        F.lit(None).cast("double").alias("c"),
        F.date_from_unix_date((F.col("id") % 3).cast("int")).alias("d"),
    ).repartition(7)
    fast = puffin.compute_column_sketches(df, ["a", "b", "c", "d"], k=256)
    slow = puffin_reference.compute_column_sketches_per_column(
        df, ["a", "b", "c", "d"], k=256
    )
    assert fast == slow
    assert puffin.kmv_estimate(fast["c"]) == 0.0


def test_single_pass_is_one_job(spark):
    # the whole point of the r11 rewrite: ANALYZE of a wide table
    # must not serialize on one Spark job per column. Count jobs via
    # a job group; AQE off so stage materialization doesn't split the
    # action into per-stage jobs and the count is deterministic.
    df = spark.range(20000).select(
        *[(F.col("id") % (100 + i)).alias(f"c{i}") for i in range(12)]
    ).repartition(5)
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup("ndv-single-pass", "ndv build", False)
        sketches = puffin.compute_column_sketches(
            df, [f"c{i}" for i in range(12)], k=128
        )
        jobs = sc.statusTracker().getJobIdsForGroup("ndv-single-pass")
    finally:
        sc.setJobGroup("", "", False)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert len(jobs) == 1, f"expected 1 job for 12 columns, got {len(jobs)}"
    assert len(sketches) == 12
    for i in range(12):
        assert puffin.kmv_estimate(sketches[f"c{i}"]) == 100.0 + i


# ----------------------------------------------------------- integration


def _mk(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(2000).select(
        "id", (F.col("id") % 37).alias("grp"),
        (F.col("id") % 5).cast("string").alias("tag"),
    )
    iw.create_iceberg(df.repartition(4), t)
    return t


def test_statistics_entry_and_ndv(spark, tmp_path):
    t = _mk(spark, tmp_path)
    entry = iw.write_table_statistics(spark, t)
    assert os.path.exists(entry["statistics-path"])
    assert entry["file-size-in-bytes"] == os.path.getsize(
        entry["statistics-path"]
    )
    ndv = iw.column_ndv(t)
    assert ndv == {"id": 2000.0, "grp": 37.0, "tag": 5.0}
    meta, _ = iw._load_meta(t)
    assert len(meta["statistics"]) == 1
    # blob metadata binds each sketch to its schema field id
    by_id = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    fields = {
        b["properties"]["column"]: b["fields"]
        for b in meta["statistics"][0]["blob-metadata"]
    }
    assert fields == {c: [by_id[c]] for c in ("id", "grp", "tag")}


def test_statistics_rebind_after_append(spark, tmp_path):
    t = _mk(spark, tmp_path)
    iw.write_table_statistics(spark, t)
    old_ndv = iw.column_ndv(t)
    iw.append_iceberg(
        spark.range(2000, 2500).select(
            "id", (F.col("id") % 37).alias("grp"),
            (F.col("id") % 5).cast("string").alias("tag"),
        ),
        t,
    )
    # stats are PER SNAPSHOT: the new head has none until refreshed
    with pytest.raises(ValueError, match="no statistics"):
        iw.column_ndv(t)
    iw.write_table_statistics(spark, t)
    ndv = iw.column_ndv(t)
    assert ndv["id"] == 2500.0 and ndv["grp"] == 37.0
    meta, _ = iw._load_meta(t)
    assert len(meta["statistics"]) == 2  # one entry per snapshot
    assert old_ndv["id"] == 2000.0


def test_statistics_refuses_unknown_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="not in schema"):
        iw.write_table_statistics(spark, t, cols=["nope"])

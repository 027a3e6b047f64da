"""Lakehouse-layer tests: the reference's 02_iceberg_demo / 03_delta_demo
flows (DDL, DML, time travel, schema evolution, VACUUM) reproduced over
the Delta-backed VersionedTable + session-catalog DDL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from dst_spark_k8_lakehouse_spark.plans import VersionedTable, ddl, dml
from dst_spark_k8_lakehouse_spark.plans.delta_reader import plan_file_list


def _live(t, version=None) -> set[str]:
    return set(plan_file_list(t.spark, t.path, version=version)["files"])


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame(
            [Row(id=1, name="alice", bal=10.0), Row(id=2, name="bob", bal=20.0)]
        )
    )
    return t


def test_append_and_read(spark, vt):
    vt.append(spark.createDataFrame([Row(id=3, name="carol", bal=30.0)]))
    assert vt.read().count() == 3


def test_update_rewrites_matching_rows(spark, vt):
    """``UPDATE t SET bal = bal * 2 WHERE id = 1``
    (02_iceberg_demo.ipynb:91 shape)."""
    vt.update("id = 1", {"bal": "bal * 2"})
    rows = {r.id: r.bal for r in vt.read().collect()}
    assert rows == {1: 20.0, 2: 20.0}


def test_delete_removes_matching_rows(spark, vt):
    vt.delete("name = 'bob'")
    assert [r.id for r in vt.read().collect()] == [1]


def test_time_travel_by_version(spark, vt):
    """versionAsOf semantics (03_delta_demo.ipynb:134): every prior
    state stays addressable."""
    vt.delete("id = 1")
    vt.append(spark.createDataFrame([Row(id=9, name="zed", bal=0.0)]))
    assert vt.read(version=0).count() == 2  # original
    assert vt.read(version=1).count() == 1  # after delete
    assert vt.read().count() == 2  # latest
    with pytest.raises(ValueError):
        vt.read(version=99)


def test_schema_merge_append(spark, vt):
    """mergeSchema on append (spark_logger.py:55-57): new column appears,
    old rows read NULL for it."""
    vt.append(
        spark.createDataFrame(
            [Row(id=4, name="dara", bal=5.0, tier="gold")]
        )
    )
    df = vt.read()
    assert "tier" in df.columns
    assert df.filter(F.col("tier").isNull()).count() == 2


def test_metadata_only_rename(spark, vt):
    """RENAME COLUMN (02_iceberg_demo.ipynb:123) without touching data
    files; time travel before the rename still shows the old name."""
    vt.rename_column("bal", "balance")
    assert "balance" in vt.read().columns
    assert "bal" in vt.read(version=0).columns


def test_history_and_vacuum(spark, vt):
    vt.overwrite(spark.createDataFrame([Row(id=7, name="eve", bal=1.0)]))
    hist = {
        r.version: (r.operation, r.n_files) for r in vt.history().collect()
    }
    assert hist == {
        0: ("CREATE TABLE AS SELECT", len(_live(vt, 0))),
        1: ("WRITE", len(_live(vt, 1))),
    }
    created, latest = _live(vt, 0), _live(vt)
    removed = vt.vacuum(retain_last=1)
    assert set(removed) == created - latest  # exactly the CREATE's files
    assert vt.read().count() == 1  # latest unaffected


def test_ddl_roundtrip(spark, tmp_path):
    """D1-D11 flow on the session catalog (getting_started.py:125-168)."""
    ddl.create_database(spark, "demo_ns")
    ddl.use_database(spark, "demo_ns")
    try:
        ddl.create_table(
            spark,
            "demo_ns.users",
            "id BIGINT, name STRING, signup DATE",
            location=str(tmp_path / "users"),
        )
        assert "users" in ddl.show_tables(spark, "demo_ns")
        ddl.insert_into(
            spark, "demo_ns.users", "(1, 'ada', DATE'2024-01-01')"
        )
        ddl.insert_into(
            spark, "demo_ns.users", "(2, 'bo', DATE'2024-02-01')"
        )
        assert spark.table("demo_ns.users").count() == 2
        # NB: plain-parquet tables reject a self-referencing overwrite
        # SELECT (no snapshot isolation) — that flow goes through
        # VersionedTable; see ddl.insert_overwrite docstring.
        ddl.insert_overwrite(
            spark,
            "demo_ns.users",
            "SELECT 1, 'ADA', DATE'2024-01-01'",
        )
        rows = spark.table("demo_ns.users").collect()
        assert len(rows) == 1 and rows[0].name == "ADA"
        assert any(
            r.col_name == "Location"
            for r in ddl.describe_table(spark, "demo_ns.users").collect()
        )
    finally:
        ddl.use_database(spark, "default")
        ddl.drop_database(spark, "demo_ns", cascade=True)
    assert "demo_ns" not in ddl.show_databases(spark)


def test_partitioned_table_prunes(spark, tmp_path):
    """D5 fallback: explicit partition column; a partition predicate must
    prune at scan (the Iceberg days(ts) emulation documented in ddl.py)."""
    loc = str(tmp_path / "events_p")
    ddl.create_table(
        spark,
        "default.events_p",
        "event_id BIGINT, value DOUBLE, day DATE",
        partitioned_by="day",
        location=loc,
    )
    try:
        ddl.insert_into(
            spark,
            "default.events_p",
            "(1, 1.0, DATE'2024-01-01'), (2, 2.0, DATE'2024-01-02')",
        )
        plan = (
            spark.table("default.events_p")
            .filter("day = DATE'2024-01-01'")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [" in plan
        # physical layout really is hive-partitioned
        assert any(
            d.startswith("day=") for d in os.listdir(loc)
        )
    finally:
        ddl.drop_table(spark, "default.events_p")


def test_drop_column_metadata_only_and_time_travel(spark, tmp_path):
    """DROP COLUMN hides the column without rewriting data; time travel
    to the pre-drop version still shows it; a post-drop append that
    carries the name again adds a NEW column, and the pre-drop row
    reads NULL there, never the dropped bytes."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a", 10.0)], "id long, name string, secret double"))
    files = _live(t)
    v = t.drop_column("secret")
    assert _live(t) == files  # metadata-only: no data file rewritten
    assert "secret" not in t.read().columns
    assert "secret" in t.read(version=v - 1).columns  # time travel
    with pytest.raises(ValueError):
        t.drop_column("secret")  # already dropped
    # unknown column: must raise, not commit a silent drop
    with pytest.raises(ValueError, match="no column 'secrt'"):
        t.drop_column("secrt")
    t.append(spark.createDataFrame([(2, "b", 20.0)], "id long, name string, secret double"))
    got = {r.id: r.secret for r in t.read().collect()}
    assert got == {1: None, 2: 20.0}


def test_latest_prop_wins_over_history(spark, tmp_path):
    """Table-state props resolve to the NEWEST snapshot that set them:
    a rebuild with a smaller value must not be shadowed by the old one
    (the IVF n_cells desync case)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.range(3), props={"ivf_n_cells": 8})
    t.overwrite(spark.range(2), props={"ivf_n_cells": 4})
    assert t.latest_prop("ivf_n_cells") == 4
    assert t.committed_props("ivf_n_cells") == {8, 4}
    assert t.latest_prop("absent", default="d") == "d"


def test_files_metadata_table(spark, tmp_path):
    """files() lists one row per live data file with its real size,
    and tracks time travel."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.range(10).coalesce(1))
    t.append(spark.range(5).coalesce(1))
    f = t.files().collect()
    assert len(f) == 2  # create file + append file
    assert all(
        r.bytes == os.path.getsize(os.path.join(t.path, r.path)) > 0
        for r in f
    )
    assert len(t.files(version=0).collect()) == 1


def test_compact_collapses_snapshot_dirs(spark, tmp_path):
    """Compaction rewrites N per-append files into one, preserving rows
    and time travel; vacuum afterwards reclaims exactly the old files."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.range(10).coalesce(1))
    t.append(spark.range(10, 15).coalesce(1))
    t.append(spark.range(15, 18).coalesce(1))
    assert t.files().count() == 3
    before = _live(t)
    v = t.compact()
    assert t.files().count() == 1
    assert t.read().count() == 18
    assert t.read(version=v - 1).count() == 18  # pre-compact still reads
    assert "OPTIMIZE" in {r.operation for r in t.history().collect()}
    removed = t.vacuum(retain_last=1)
    assert set(removed) == before  # the pre-compaction files are reclaimed
    assert len(removed) == 3
    assert t.read().count() == 18


def test_rename_then_append_with_new_name(spark, tmp_path):
    """A post-rename append naturally uses the CURRENT column name;
    read() must fold old-name and new-name files into one column
    rather than surfacing an ambiguous duplicate."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 10.0)], "id long, bal double"))
    t.rename_column("bal", "balance")
    t.append(spark.createDataFrame([(2, 20.0)], "id long, balance double"))
    df = t.read()
    assert df.columns.count("balance") == 1 and "bal" not in df.columns
    got = {r.id: r.balance for r in df.collect()}
    assert got == {1: 10.0, 2: 20.0}


def test_vacuum_and_files_validate_arguments(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.range(3))
    with pytest.raises(ValueError):
        t.vacuum(retain_last=0)
    with pytest.raises(ValueError):
        t.files(version=-2)
    with pytest.raises(ValueError):
        t.files(version=99)


def test_refuses_json_manifest_directory(spark, tmp_path):
    """A directory in the retired JSON-manifest format (``_manifest.json``
    without ``_delta_log``) is refused by name, never re-created as a
    new, empty table."""
    old = tmp_path / "old_state"
    old.mkdir()
    (old / "_manifest.json").write_text("[]")
    with pytest.raises(ValueError, match="old_state.*rebuild"):
        VersionedTable(spark, str(old))
    assert sorted(os.listdir(old)) == ["_manifest.json"]


def test_create_or_replace_replaces_schema(spark, tmp_path):
    """create() on an existing table is createOrReplace: one overwrite
    commit whose schema is the new frame's; the old schema stays
    readable by time travel."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, name string"))
    v = t.create(spark.createDataFrame([(2.5,)], "score double"))
    assert v == 1
    assert t.read().columns == ["score"]
    assert [r.score for r in t.read().collect()] == [2.5]
    assert t.read(version=0).columns == ["id", "name"]


def test_props_ride_in_commit_user_metadata(spark, tmp_path):
    """props are the commit's ``commitInfo.userMetadata``; a commit
    without props carries none."""
    from dst_spark_k8_lakehouse_spark.plans.delta_reader import delta_history

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.create(spark.range(3), props={"ivf_n_cells": 8})
    t.append(spark.range(3, 5))
    hist = {h["version"]: h.get("userMetadata") for h in delta_history(t.path)}
    assert hist == {0: '{"ivf_n_cells": 8}', 1: None}


def test_dml_on_renamed_table_raises(spark, vt):
    """Row-level DML reads files by logical name; after a rename the
    files carry physical names, so UPDATE/DELETE/MERGE refuse loudly
    instead of matching the wrong columns."""
    vt.rename_column("bal", "balance")
    src = spark.createDataFrame([Row(id=1, name="a", balance=1.0)])
    for op in (
        lambda: vt.update("id = 1", {"balance": "0"}),
        lambda: vt.delete("id = 1"),
        lambda: vt.merge(src, on=["id"]),
    ):
        with pytest.raises(NotImplementedError, match="column-mapped"):
            op()
    assert vt.read().count() == 2


# --- SQL-string DML shim (plans/dml.py) --------------------------------


def test_sql_update_matches_api_call(spark, vt):
    """The statement text from 02_iceberg_demo.ipynb:91 executes over
    the versioned table and equals the direct API call."""
    dml.execute_dml(
        "UPDATE tbl SET bal = bal * 2, name = upper(name) WHERE id = 1",
        {"tbl": vt},
    )
    rows = {r.id: (r.name, r.bal) for r in vt.read().collect()}
    assert rows == {1: ("ALICE", 20.0), 2: ("bob", 20.0)}


def test_sql_update_set_with_function_commas(spark, vt):
    dml.execute_dml(
        "UPDATE tbl SET bal = greatest(bal, 15.0)", {"tbl": vt}
    )
    rows = {r.id: r.bal for r in vt.read().collect()}
    assert rows == {1: 15.0, 2: 20.0}


def test_sql_delete(spark, vt):
    dml.execute_dml("DELETE FROM tbl WHERE name = 'bob'", {"tbl": vt})
    assert [r.id for r in vt.read().collect()] == [1]


def test_sql_merge_upsert(spark, vt):
    src = spark.createDataFrame(
        [Row(id=2, name="bobby", bal=99.0), Row(id=3, name="carol", bal=30.0)]
    )
    dml.execute_dml(
        """MERGE INTO tbl AS t USING src AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        {"tbl": vt},
        sources={"src": src},
    )
    rows = {r.id: r.name for r in vt.read().collect()}
    assert rows == {1: "alice", 2: "bobby", 3: "carol"}


def test_sql_merge_source_from_versioned_table(spark, vt, tmp_path):
    src_t = VersionedTable(spark, str(tmp_path / "src"))
    src_t.create(spark.createDataFrame([Row(id=9, name="zed", bal=1.0)]))
    dml.execute_dml(
        "MERGE INTO tbl USING src ON id = id "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": vt, "src": src_t},
    )
    assert 9 in {r.id for r in vt.read().collect()}


def test_sql_update_literal_containing_where(spark, vt):
    """A SET literal containing the word 'where' must not mis-split the
    statement (ADVICE r4: the old regex split was quote-unaware)."""
    dml.execute_dml(
        "UPDATE tbl SET name = 'fixed where broken' WHERE id = 2",
        {"tbl": vt},
    )
    rows = {r.id: r.name for r in vt.read().collect()}
    assert rows == {1: "alice", 2: "fixed where broken"}


def test_sql_merge_literal_containing_when(spark, vt):
    src = spark.createDataFrame([Row(id=3, name="x when y", bal=1.0)])
    dml.execute_dml(
        "MERGE INTO tbl USING src ON id = id "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": vt},
        sources={"src": src},
    )
    assert {r.name for r in vt.read().collect()} == {
        "alice", "bob", "x when y",
    }


def test_sql_dml_rejects_unsupported(spark, vt):
    for bad in (
        "SELECT * FROM tbl",
        "UPDATE tbl SET 1bad = 2",
        "MERGE INTO tbl USING s ON t.id = s.other WHEN MATCHED THEN UPDATE SET *",
        "MERGE INTO tbl USING s ON id < id WHEN MATCHED THEN UPDATE SET *",
        "MERGE INTO tbl USING s ON id = id WHEN MATCHED THEN DELETE",
    ):
        with pytest.raises(ValueError):
            dml.execute_dml(bad, {"tbl": vt}, sources={"s": vt.read()})


# --- partition transforms (D5 fallback) --------------------------------


def test_partition_transform_days_prunes(spark, tmp_path):
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts="2024-01-01 10:00:00"),
            Row(event_id=2, ts="2024-01-02 11:00:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "pt")
    name = ddl.write_partitioned_by_transform(ev, path, "days(ts)")
    assert name == "ts_day"
    back = spark.read.parquet(path).filter(F.col("ts_day") == "2024-01-02")
    assert [r.event_id for r in back.collect()] == [2]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_partition_transform_shapes(spark):
    df = spark.createDataFrame([Row(n=1234, s="abcdef", ts="2024-03-05")])
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cases = {
        "years(ts)": ("ts_year", 2024),
        "months(ts)": ("ts_month", "2024-03"),
        "hours(ts)": ("ts_hour", "2024-03-05-00"),
        "truncate(3, s)": ("s_trunc", "abc"),
        "truncate(100, n)": ("n_trunc", 1200),
        "bucket(8, n)": ("n_bucket", None),
    }
    for spec, (name, expected) in cases.items():
        got_name, col = ddl.partition_transform(spec, df)
        assert got_name == name, spec
        val = df.select(col.alias("v")).head().v
        if expected is not None:
            assert val == expected, (spec, val)
        else:
            assert 0 <= val < 8
    with pytest.raises(ValueError):
        ddl.partition_transform("identity(ts, 3)")


def test_partition_transform_truncate_decimal_and_float(spark):
    """Iceberg defines truncate for decimals (v - v%W, scale kept);
    float/double have no truncate transform and must raise, not fall
    through to a string prefix (ADVICE r4)."""
    df = spark.createDataFrame([Row(d="123.45", f=1.5)]).withColumn(
        "d", F.col("d").cast("decimal(10,2)")
    )
    name, col = ddl.partition_transform("truncate(50, d)", df)
    assert name == "d_trunc"
    from decimal import Decimal

    # Iceberg spec example shape: W=50 on scale 2 → mod 0.50
    assert df.select(col.alias("v")).head().v == Decimal("123.00")
    with pytest.raises(ValueError, match="no truncate"):
        ddl.partition_transform("truncate(10, f)", df)


# --- OPTIMIZE ZORDER BY -------------------------------------------------


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """After zorder on (a, b), each output file's min-max span on BOTH
    columns must be a small fraction of the full range — the property
    file/row-group pruning needs. A linear sort would give tight 'a'
    spans but full-range 'b' spans."""
    n = 20_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("a"),
        (F.col("id") * 40503 % n).alias("b"),
        F.col("id").alias("payload"),
    )
    t = VersionedTable(spark, str(tmp_path / "zt"))
    t.create(df)
    v = t.zorder(["a", "b"], n_files=8)
    assert t.history().filter("operation = 'OPTIMIZE ZORDER'").count() == 1
    back = t.read(v).select(
        "a", "b", F.input_file_name().alias("f")
    )
    spans = back.groupBy("f").agg(
        (F.max("a") - F.min("a")).alias("sa"),
        (F.max("b") - F.min("b")).alias("sb"),
    ).collect()
    assert len(spans) >= 4  # actually split into multiple files
    mean_sa = sum(r.sa for r in spans) / len(spans)
    mean_sb = sum(r.sb for r in spans) / len(spans)
    # 8 z-range files over 256x256 buckets → each file covers ~1/8 of
    # the z-curve; both dims should span well under the full range
    # (observed ~0.5; a linear sort gives sb ≈ n)
    assert mean_sa < 0.75 * n, mean_sa
    assert mean_sb < 0.75 * n, mean_sb
    # rows preserved exactly
    assert t.read(v).count() == n


def test_zorder_rejects_bad_cols(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "zt2"))
    t.create(spark.createDataFrame([Row(a=1)]))
    with pytest.raises(ValueError):
        t.zorder([])

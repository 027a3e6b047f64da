"""Metrics + medallion end-to-end: reproduces the reference's documented
demo outcomes (06_pipeline_metrics_demo.ipynb cell 19: "4 nulls fixed,
1 duplicate removed → 9 clean customers") and the metrics round-trip
semantics (schema parity, shared run_id, completion event, failure
status, batched flush)."""

from __future__ import annotations

import pytest

from dst_spark_k8_lakehouse_spark.metrics import (
    METRICS_SCHEMA,
    MetricContext,
    MetricsLogger,
    helpers,
    pipeline,
)
from dst_spark_k8_lakehouse_spark.plans import VersionedTable


@pytest.fixture()
def customers_raw(spark):
    """B1 fixture (FIXTURES.md): 10 rows, 1 exact dup of customer_id=1,
    nulls in name/email/city/age (one each)."""
    rows = [
        (1, "Alice", "alice@x.dk", "Copenhagen", 34),
        (1, "Alice", "alice@x.dk", "Copenhagen", 34),  # duplicate
        (2, None, "bo@x.dk", "Aarhus", 41),
        (3, "Cleo", None, "Odense", 28),
        (4, "Dan", "dan@x.dk", None, 55),
        (5, "Eva", "eva@x.dk", "Aalborg", None),
        (6, "Finn", "finn@x.dk", "Esbjerg", 47),
        (7, "Gro", "gro@x.dk", "Randers", 31),
        (8, "Hal", "hal@x.dk", "Kolding", 62),
        (9, "Ida", "ida@x.dk", "Horsens", 24),
    ]
    return spark.createDataFrame(
        rows, "customer_id int, name string, email string, city string, age int"
    )


@pytest.fixture()
def orders_raw(spark):
    rows = [
        (100, 1, "2024-01-05", 250.0, "completed"),
        (101, 2, "2024-01-07", 120.5, "completed"),
        (102, 1, "2024-02-01", 80.0, "pending"),
        (103, 3, "2024-02-03", 310.0, "completed"),
        (104, 9, "2024-02-09", 45.0, "cancelled"),
    ]
    return spark.createDataFrame(
        rows,
        "order_id int, customer_id int, order_date string, "
        "amount double, status string",
    )


def test_medallion_documented_outcomes(spark, customers_raw, orders_raw):
    assert pipeline.duplicate_count(customers_raw, ["customer_id"]) == 1
    audit = pipeline.null_audit(customers_raw)
    assert sum(audit.values()) == 4  # the documented "4 nulls"
    silver = pipeline.clean_silver(
        customers_raw,
        ["customer_id"],
        {
            "name": "Unknown",
            "email": "no-email@unknown.com",
            "city": "Unknown",
            "age": 0,
        },
    )
    assert silver.count() == 9  # "9 clean customers"
    assert sum(pipeline.null_audit(silver).values()) == 0
    gold = pipeline.gold_customer_summary(silver, orders_raw)
    by_cust = {r.customer_id: r for r in gold.collect()}
    assert by_cust[1].n_orders == 2 and by_cust[1].total_amount == 330.0


def test_metric_context_roundtrip(spark, tmp_path):
    path = str(tmp_path / "activity_log")
    with MetricContext(
        spark,
        layer=pipeline.SILVER,
        project="dst",
        dataset_year=2024,
        description="silver clean",
        job_name="job-a",
        table_path=path,
    ) as ctx:
        rid = ctx.log_metric(
            layer=pipeline.SILVER,
            project="dst",
            dataset_year=2024,
            description="rows cleaned",
            value=9,
            unit="rows",
            function="count",
        )
        assert rid == ctx.run_id  # shared run_id (context.py:16)
        assert ctx.logger.pending == 1  # buffered, not committed

    log = VersionedTable(spark, path).read()
    assert log.schema == METRICS_SCHEMA
    rows = log.collect()
    assert len(rows) == 2  # user event + completion, ONE commit
    completion = [r for r in rows if r.metric_function == "completion"][0]
    assert completion.status == "success"
    assert completion.duration_ms is not None and completion.duration_ms >= 0
    assert {r.run_id for r in rows} == {ctx.run_id}
    assert VersionedTable(spark, path).history().count() == 1  # batched


def test_metric_context_failure_status(spark, tmp_path):
    path = str(tmp_path / "activity_log")
    with pytest.raises(RuntimeError):  # exceptions not suppressed
        with MetricContext(
            spark,
            layer=1,
            project="dst",
            dataset_year=2024,
            description="bronze load",
            table_path=path,
        ):
            raise RuntimeError("boom")
    rows = VersionedTable(spark, path).read().collect()
    assert len(rows) == 1 and rows[0].status == "failure"


def test_logger_batches_across_flushes(spark, tmp_path):
    path = str(tmp_path / "activity_log")
    logger = MetricsLogger(spark, table_path=path)
    for i in range(5):
        logger.log_metric(
            layer=1,
            project="p",
            dataset_year=2024,
            description=f"m{i}",
            value=i,
            unit="rows",
            function="count",
        )
    assert logger.flush() == 5
    assert logger.flush() == 0  # buffer drained
    table = VersionedTable(spark, path)
    assert table.read().count() == 5
    assert table.history().count() == 1


def test_logger_extra_map_roundtrips_through_delta_log(spark, tmp_path):
    """The ``extra`` map<string,string> column survives flush → Delta
    log → read, across a create and an append, and the schema read
    back is METRICS_SCHEMA."""
    from dst_spark_k8_lakehouse_spark.plans import delta_reader

    path = str(tmp_path / "activity_log")
    logger = MetricsLogger(spark, table_path=path)
    extras = [{"k": "v", "unicode": "å"}, {}, {"empty": ""}]
    for i, extra in enumerate(extras):
        logger.log_metric(
            layer=1, project="p", dataset_year=2024, description=f"m{i}",
            value=i, unit="rows", function="count", extra=extra,
        )
        logger.flush()  # first flush creates, the rest append
    assert delta_reader.is_delta_table(path)
    table = VersionedTable(spark, path)
    assert table.read().schema == METRICS_SCHEMA
    got = {r.description: r.extra for r in table.read().collect()}
    assert got == {f"m{i}": e for i, e in enumerate(extras)}
    assert table.read(version=0).count() == 1


def test_helpers(spark, customers_raw, tmp_path):
    from pyspark.sql import functions as F

    assert helpers.df_count(customers_raw) == 10
    assert helpers.df_avg(customers_raw, "age") == pytest.approx(39.56, abs=0.01)
    assert helpers.df_error_count(customers_raw) == 0  # column absent
    flagged = customers_raw.withColumn("is_error", F.col("age").isNull())
    assert helpers.df_error_count(flagged) == 1
    assert helpers.count_files(str(tmp_path)) == 0
    assert helpers.df_avg(customers_raw.limit(0), "age") == 0.0

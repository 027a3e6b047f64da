"""Every registered query either matches its DuckDB oracle exactly
(oracle-declared) or at least runs and returns rows (rows-only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark import registry

from tests.oracle import assert_matches_oracle

registry.load_all()

ORACLE_IDS = sorted(qid for qid in registry.QUERIES if qid in registry.ORACLES)
ROWS_ONLY_IDS = sorted(
    qid for qid in registry.QUERIES if qid not in registry.ORACLES
)


@pytest.mark.parametrize("qid", ORACLE_IDS)
def test_query_matches_oracle(qid, spark, duck, sf_dir):
    df = registry.QUERIES[qid](spark, sf_dir)
    assert_matches_oracle(df, duck, registry.ORACLES[qid])


@pytest.mark.parametrize("qid", ROWS_ONLY_IDS)
def test_rows_only_query_runs(qid, spark, sf_dir):
    df = registry.QUERIES[qid](spark, sf_dir)
    rows = df.limit(1000).collect()
    assert df.schema.fieldNames(), f"{qid}: empty schema"
    assert rows is not None


def test_u4_udf_builds_without_warnings(spark, sf_dir):
    """Building ``u4_udf`` must not warn: type hints on a ``@F.udf``
    function under postponed annotations make PySpark warn "Cannot
    infer the eval type from type hints" on every build."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        registry.QUERIES["u4_udf"](spark, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"nation", "revenue", "n_items"} <= set(df.columns)


def test_entry_contract_shape():
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs), "oracle without a matching query"


def test_bench_headline_ids_resolve():
    """Every bench HEADLINE id must exist in the registry — bench.py
    exits loudly on a miss, which must never happen in a driver run."""
    import bench

    missing = [q for q in bench.HEADLINE if q not in registry.QUERIES]
    assert not missing, missing


SQL_PARITY_IDS = [
    # oracles written in the ANSI subset BOTH engines parse — running
    # them through spark.sql on registered views must reproduce the
    # DataFrame-API result exactly (the reference's primary interface
    # is spark.sql over catalog views, SURVEY §3.1)
    "j8_star_join",
    "x1_q3_shipping",
    "x2_q10_returns",
    "a1_count",
    "a3_sum",
    "a11_gsets",
    "u5b_pandas_grouped_agg",
]


@pytest.mark.parametrize("qid", SQL_PARITY_IDS)
def test_sql_entrypoint_parity(qid, spark, sf_dir):
    from dst_spark_k8_lakehouse_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    via_sql = registry.ORACLES[qid]
    a = registry.QUERIES[qid](spark, sf_dir).toPandas()
    b = spark.sql(via_sql).toPandas()
    a = a[sorted(a.columns)]
    b = b[sorted(b.columns)]
    assert sorted(a.columns) == sorted(b.columns)
    ra = sorted(map(str, a.itertuples(index=False, name=None)))
    rb = sorted(map(str, b.itertuples(index=False, name=None)))
    assert ra == rb, f"{qid}: spark.sql result differs from DataFrame API"


def test_pivot_absent_cell_is_zero(spark, sf_dir):
    """A (priority, status) combination with no rows must pivot to 0.0,
    not NULL — Spark fills missing pivot cells with NULL after the
    aggregate, so the fill must be post-pivot (regression for the
    coalesce-inside-agg bug, which only surfaced on data where some
    combination is absent)."""
    from dst_spark_k8_lakehouse_spark.exact import cents
    from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        ~((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "P"))
    )
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg((F.sum(cents("o_totalprice")) / 100).cast("double"))
        .na.fill(0.0, ["F", "O", "P"])
    )
    row = out.filter("o_orderpriority = '1-URGENT'").head()
    assert row.P == 0.0  # absent cell: zero, never NULL

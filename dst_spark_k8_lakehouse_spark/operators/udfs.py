"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

The reference defines zero UDFs (all logic via built-ins — a posture we
keep for the hot path). These queries exist to prove the extension
points work, each with an oracle expressed as the equivalent SQL:

- ``u4_udf``       — row-at-a-time Python UDF (the slow path, ~here for
                     API parity only; never use in a 100 TB hot path)
- ``u5_pandas_udf`` — Arrow-vectorized scalar pandas UDF (the sanctioned
                     Python escape hatch; ~10-100× the row UDF)
- ``u6_grouped_map`` — ``applyInPandas`` grouped-map (UDTF-style),
                     per-group pandas DataFrame in/out
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table


@query(
    "u4_udf",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'standard'
                    ELSE 'premium' END AS tier
        FROM customer
    """,
)
def u4_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: scalar Python UDF (row-at-a-time; API-parity demo only).
    ``tier`` carries no type hints: under postponed annotations PySpark
    cannot read them and warns on every build."""

    @F.udf(T.StringType())
    def tier(acctbal):
        if acctbal < 0:
            return "debt"
        if acctbal < 5000:
            return "standard"
        return "premium"

    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", tier("c_acctbal").alias("tier")
    )


@query(
    "u5_pandas_udf",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                   / 100 AS net_price
        FROM lineitem
    """,
)
def u5_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: Arrow-vectorized scalar pandas UDF — whole columns cross the
    Python boundary as Arrow batches."""

    @F.pandas_udf(T.DoubleType())
    def net_price(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - discount) * (1 + tax)

    # cent-truncate rather than round: the product hits exact half-cent
    # ties where Spark and DuckDB round() disagree; floor on the same
    # IEEE double is bit-stable across engines
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                net_price("l_extendedprice", "l_discount", "l_tax") * 100
            )
            / 100
        ).alias("net_price"),
    )


@query(
    "u5b_pandas_grouped_agg",
    oracle="""
        SELECT c_nationkey,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS acctbal_sum
        FROM customer
        GROUP BY c_nationkey
    """,
)
def u5b_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5b: grouped-aggregate pandas UDF — the third vectorized flavor
    (SURVEY §2.11): a ``pandas_udf`` returning one scalar per group,
    used directly inside ``groupBy().agg()``. Each group's column
    arrives as ONE pandas Series (no partial aggregation — the whole
    group crosses the Arrow boundary, so like ``applyInPandas`` it
    needs bounded group sizes at 100 TB; unlike built-in aggregates it
    cannot map-side combine). Sum computed in exact integer cents
    (mirrors ``exact.exact_sum``) so the result value-hashes against
    the oracle."""

    @F.pandas_udf(T.DoubleType())
    def exact_bal_sum(bal: pd.Series) -> float:
        return float(bal.mul(100).round().astype("int64").sum()) / 100.0

    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(exact_bal_sum("c_acctbal").alias("acctbal_sum"))
    )


@query(
    "u6_grouped_map",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                     / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment),
                     4) AS bal_zscore
        FROM customer
    """,
)
def u6_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: ``applyInPandas`` grouped-map — per-segment z-score of account
    balance. One shuffle on the group key; each group becomes a pandas
    DataFrame in an executor-side Python worker. Groups must fit in
    worker memory — at 100 TB pick group keys with bounded cardinality
    per group (here: segments), never a near-unique key."""

    def zscore_impl(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["c_acctbal"].mean()
        std = pdf["c_acctbal"].std(ddof=1)
        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        out["bal_zscore"] = ((pdf["c_acctbal"] - mean) / std).round(4)
        return out

    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .applyInPandas(
            zscore_impl,
            schema="c_custkey long, c_mktsegment string, bal_zscore double",
        )
    )


@query(
    "u7_udtf",
    oracle="""
        SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
        FROM part WHERE p_partkey < 100
    """,
)
def u7_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7: Python UDTF (Spark 4 table function) — one input row expands
    to N output rows. Lateral-join shape; the UDTF runs Arrow-batched in
    the Python worker. (For plain tokenization explode() is the JVM fast
    path — a UDTF earns its cost when the expansion logic is genuinely
    procedural.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class SplitWords:
        def eval(self, name: str):
            for w in (name or "").split(" "):
                yield (w,)

    spark.udtf.register("split_words", SplitWords)
    part = load_table(spark, sf_dir, "part")
    part.filter("p_partkey < 100").createOrReplaceTempView("part_u7")
    return spark.sql(
        "SELECT p_partkey, s.word FROM part_u7, "
        "LATERAL split_words(p_name) s"
    )

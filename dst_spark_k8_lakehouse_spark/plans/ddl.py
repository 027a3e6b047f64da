"""DDL / catalog surface (SURVEY §2.2 D1-D14).

The reference's DDL runs against Polaris (Iceberg REST) and Delta
catalogs; every statement below has a session-catalog equivalent that
Spark executes with identical syntax — this module is a thin, explicit
wrapper so the capability surface is enumerable and testable.

Statements whose reference form needs format jars (row-level DML, time
travel, VACUUM, RENAME COLUMN) route to ``plans.table.VersionedTable``,
a handle over the jar-free Delta stack (``delta_writer`` /
``delta_reader`` / ``delta_dml``): the tables it writes are Delta
tables any Delta 3.x runtime reads.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def create_database(spark: SparkSession, name: str) -> None:
    """D1 (``CREATE DATABASE IF NOT EXISTS``, ``getting_started.py:125``,
    ``01_polaris_demo.ipynb:47``)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def show_databases(spark: SparkSession) -> list[str]:
    """D2 (``SHOW NAMESPACES``, ``01_polaris_demo.ipynb:58``)."""
    return [r.namespace for r in spark.sql("SHOW DATABASES").collect()]


def show_tables(spark: SparkSession, database: str | None = None) -> list[str]:
    """D2 (``SHOW TABLES``, ``05_…ipynb:228``)."""
    stmt = f"SHOW TABLES IN {database}" if database else "SHOW TABLES"
    return [r.tableName for r in spark.sql(stmt).collect()]


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """D3 (``DESCRIBE TABLE EXTENDED``, ``getting_started.py:141``)."""
    return spark.sql(f"DESCRIBE TABLE EXTENDED {name}")


def create_table(
    spark: SparkSession,
    name: str,
    columns: str,
    partitioned_by: str | None = None,
    location: str | None = None,
) -> None:
    """D4/D5 (typed ``CREATE TABLE … USING``, ``getting_started.py:
    130-137``; partitioned, ``02_iceberg_demo.ipynb:45-54``).

    Iceberg's hidden partition transform ``days(ts)`` (``02_…ipynb:54``)
    has no vanilla-Spark equivalent: callers declare an explicit derived
    date column instead (documented semantic diff — predicates must
    reference the partition column for pruning; Iceberg rewrites
    ``ts``-range predicates automatically)."""
    ddl = f"CREATE TABLE IF NOT EXISTS {name} ({columns}) USING parquet"
    if partitioned_by:
        ddl += f" PARTITIONED BY ({partitioned_by})"
    if location:
        ddl += f" LOCATION '{location}'"
    spark.sql(ddl)


_TRANSFORM_RE = re.compile(
    r"^\s*(?:(?P<fn>years|months|days|hours)\s*\(\s*(?P<col>\w+)\s*\)"
    r"|(?P<fn2>bucket|truncate)\s*\(\s*(?P<n>\d+)\s*,\s*(?P<col2>\w+)\s*\))"
    r"\s*$",
    re.IGNORECASE,
)


def partition_transform(
    spec: str, df: DataFrame | None = None
) -> tuple[str, Column]:
    """D5 fallback: an Iceberg hidden-partition transform spec
    (``days(ts)``, ``02_iceberg_demo.ipynb:54``; also ``years``/
    ``months``/``hours``/``bucket(N, col)``/``truncate(W, col)``) as an
    explicit derived column ``(name, expression)`` to partition plain
    parquet by.

    Semantic diff vs Iceberg, stated plainly: the partition column is
    VISIBLE (Iceberg hides it), and pruning requires predicates on the
    derived column (``ts_day >= DATE'…'``) — Iceberg rewrites raw
    ``ts``-range predicates automatically. Values match Iceberg's
    transform semantics (day/hour truncation, width-truncate); the
    bucket transform matches in DISTRIBUTION ONLY (Spark's murmur3 over
    the value vs Iceberg's murmur3 over a serialized form — same
    32-bucket shape, different assignment), so bucket is for layout,
    not for cross-engine file-level equality.
    """
    m = _TRANSFORM_RE.match(spec)
    if not m:
        raise ValueError(f"unsupported partition transform: {spec!r}")
    if m["fn"]:
        fn, col = m["fn"].lower(), m["col"]
        name = f"{col}_{fn[:-1]}"
        if fn == "years":
            return name, F.year(col)
        if fn == "months":
            return name, F.date_format(col, "yyyy-MM")
        if fn == "days":
            return name, F.to_date(col)
        return name, F.date_format(col, "yyyy-MM-dd-HH")
    fn, n, col = m["fn2"].lower(), int(m["n"]), m["col2"]
    if fn == "bucket":
        return f"{col}_bucket", F.pmod(F.hash(col), F.lit(n))
    # Iceberg truncate: width-truncate to multiples of W for ints and
    # decimals (v - (v mod W), scale-preserved), W-char prefix for
    # strings; float/double have NO truncate in the Iceberg spec —
    # raise instead of silently prefix-truncating their string form.
    # Type-resolved when a frame is given, string-prefix otherwise.
    if df is not None:
        dtype = df.schema[col].dataType
        dt = dtype.simpleString()
        if dt in ("tinyint", "smallint", "int", "bigint"):
            return f"{col}_trunc", F.col(col) - F.pmod(F.col(col), F.lit(n))
        if dt.startswith("decimal"):
            # Iceberg applies W in UNSCALED units: truncate[50] on a
            # scale-2 decimal is v - (v mod 0.50)
            from decimal import Decimal

            w = F.lit(str(Decimal(n).scaleb(-dtype.scale))).cast(dtype)
            return f"{col}_trunc", F.col(col) - F.pmod(F.col(col), w)
        if dt in ("float", "double"):
            raise ValueError(
                f"truncate[{n}]({col}): Iceberg defines no truncate "
                f"transform for {dt} columns"
            )
        if dt != "string":
            raise ValueError(
                f"truncate[{n}]({col}): unsupported column type {dt}"
            )
    return f"{col}_trunc", F.substring(F.col(col), 1, n)


def write_partitioned_by_transform(
    df: DataFrame, path: str, spec: str, mode: str = "overwrite"
) -> str:
    """Write ``df`` partitioned by a transform spec (derived-column D5
    fallback). Returns the derived partition column name — filter on it
    for pruning."""
    name, col = partition_transform(spec, df)
    df.withColumn(name, col).write.mode(mode).partitionBy(name).parquet(path)
    return name


def insert_into(spark: SparkSession, name: str, values_sql: str) -> None:
    """S10 (``INSERT INTO … VALUES``, ``getting_started.py:155``)."""
    spark.sql(f"INSERT INTO {name} VALUES {values_sql}")


def insert_overwrite(spark: SparkSession, name: str, select_sql: str) -> None:
    """S11 (``INSERT OVERWRITE``, ``03_delta_demo.ipynb:102-104``).

    Semantic diff vs the reference: on plain parquet tables Spark
    rejects an overwrite whose SELECT reads the target table
    (UNSUPPORTED_OVERWRITE — no snapshot isolation); Delta/Iceberg allow
    it. Self-referencing rewrites route through
    ``VersionedTable.update``/``overwrite``, which read a committed
    Delta version."""
    spark.sql(f"INSERT OVERWRITE TABLE {name} {select_sql}")


def add_column(spark: SparkSession, name: str, column_ddl: str) -> None:
    """D7 (``ALTER TABLE ADD COLUMN``, ``02_iceberg_demo.ipynb:122``)."""
    spark.sql(f"ALTER TABLE {name} ADD COLUMNS ({column_ddl})")


def drop_table(spark: SparkSession, name: str) -> None:
    """D6 (``DROP TABLE``, ``getting_started.py:129``)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def drop_database(spark: SparkSession, name: str, cascade: bool = True) -> None:
    """D6 (``DROP DATABASE``, ``01_polaris_demo.ipynb:77``)."""
    spark.sql(
        f"DROP DATABASE IF EXISTS {name}{' CASCADE' if cascade else ''}"
    )


def use_database(spark: SparkSession, name: str) -> None:
    """D9 (``USE``, ``05_…ipynb:60-67``)."""
    spark.sql(f"USE {name}")

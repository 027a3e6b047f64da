"""Lakehouse table layer (SURVEY.md §2.2): DDL/DML, schema evolution,
versioned writes, time travel."""

from dst_spark_k8_lakehouse_spark.plans import ddl, dml, table  # noqa: F401
from dst_spark_k8_lakehouse_spark.plans.table import VersionedTable  # noqa: F401

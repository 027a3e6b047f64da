"""Reference KMV sketch build for the tests: per column, hash →
distinct → ascending top-K through Spark's TakeOrderedAndProject, one
Spark job per column. ``plans/puffin.compute_column_sketches`` (one
job for every column) is pinned byte-identical against it."""

from __future__ import annotations

from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans.puffin import DEFAULT_K, kmv_serialize


def compute_column_sketches_per_column(
    df, cols: list[str], k: int = DEFAULT_K
) -> dict[str, bytes]:
    """Per column: hash → distinct → ascending top-K (map-side partial
    top-K + one driver merge), one Spark job per column."""
    out: dict[str, bytes] = {}
    for c in cols:
        rows = (
            df.where(F.col(c).isNotNull())
            .select(F.xxhash64(c).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
            .collect()
        )
        out[c] = kmv_serialize([int(r.h) + (1 << 63) for r in rows], k)
    return out

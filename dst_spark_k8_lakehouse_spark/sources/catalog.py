"""Testdata catalog: parquet tables as the engine's table layer.

The reference resolves tables through a Polaris REST catalog / Delta paths
(``docker/spark-notebook/connector.py:108-124``,
``getting_started.py:130-151``); locally the same surface is a directory of
parquet files registered as session-catalog views
(``spark.table(name)`` then works exactly like the reference's
``spark.table("polaris.demo.customers")``, ``05_datahub_lineage_demo
.ipynb:147``).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import stat
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-level cached tables, keyed (sf_dir, name) — populated only by
# an explicit cache_tables() call (bench / interactive sessions). The
# driver's correctness runs never populate it, so they always exercise
# the real parquet scan path.
_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}


@dataclass(frozen=True)
class ParquetFooter:
    """What planning needs from one parquet file: the schema Spark's
    inference would give it, and its row count."""

    schema: T.StructType
    num_rows: int


# The SQLConf flags schema inference hands its footer converter
# (``ParquetFileFormat.mergeSchemasInParallel``), in that order.
_CONVERTER_FLAGS = (
    "isParquetBinaryAsString",
    "isParquetINT96AsTimestamp",
    "parquetInferTimestampNTZEnabled",
    "legacyParquetNanosAsLong",
    "parquetReaderRespectUnknownTypeAnnotation",
)

# path -> ((mtime_ns, size, converter flags), footer): a rewritten file
# or a flipped flag re-reads the footer.
_FOOTERS: dict[str, tuple[tuple, ParquetFooter]] = {}


def parquet_footer(spark: SparkSession, path: str) -> ParquetFooter | None:
    """The footer of the local parquet file ``path``, read once on the
    driver and memoized by path, mtime, size and the session's
    converter flags; None when ``path`` is not a local file (callers
    then fall back to Spark's inference, which also reports a missing
    path).

    The schema comes from Spark's own ``readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built exactly as schema inference
    builds it, so ``spark.read.schema(footer.schema).parquet(path)``
    plans the relation inference would, without inference's job."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    sql_conf = spark._jsparkSession.sessionState().conf()
    flags = tuple(bool(getattr(sql_conf, f)()) for f in _CONVERTER_FLAGS)
    stamp = (st.st_mtime_ns, st.st_size, flags)
    hit = _FOOTERS.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    footer = _read_footer(spark, path, flags)
    _FOOTERS[path] = (stamp, footer)
    return footer


def _read_footer(spark: SparkSession, path: str, flags: tuple) -> ParquetFooter:
    jvm = spark._jvm
    jparquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    conv = jparquet.ParquetToSparkSchemaConverter
    binary_as_string, int96_as_ts, infer_ntz, nanos_as_long, respect_unknown = flags
    # inference leaves case sensitivity, field ids and variant
    # annotations at the converter's defaults
    converter = conv(
        binary_as_string, int96_as_ts, getattr(conv, "$lessinit$greater$default$3")(),
        infer_ntz, nanos_as_long, getattr(conv, "$lessinit$greater$default$6")(),
        getattr(conv, "$lessinit$greater$default$7")(), respect_unknown,
    )
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    meta = jparquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jpath, hadoop_conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
    )
    schema = jparquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(jpath, meta), converter
    )
    # indexed, not iterated: py4j ends an iteration on the JVM's
    # NoSuchElementException, which costs ~15 ms per footer
    blocks = meta.getBlocks()
    return ParquetFooter(
        T.StructType.fromJson(json.loads(schema.json())),
        sum(blocks.get(i).getRowCount() for i in range(blocks.size())),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the
    memoized footer: planning runs no Spark job."""
    footer = parquet_footer(spark, path)
    reader = spark.read if footer is None else spark.read.schema(footer.schema)
    return reader.parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, cached: bool = True
) -> DataFrame:
    """Parquet scan (S1): columnar, predicate-pushdown + column-pruning
    capable — filters/projections applied downstream reach the reader.
    The schema comes from the file's footer (``parquet_footer``), so
    building the scan starts no Spark job. ``cached=False`` skips the
    ``cache_tables`` handles and always returns the file-backed scan.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader only accepts as a raw LONG via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ). We adapt to whatever is on disk:

    * LONG nanos → rebuild a microsecond TIMESTAMP with exact integer
      division (a float division would lose precision — epoch-nanos
      exceed a double's 53-bit mantissa). Sub-microsecond residue is
      dropped; queries that emit event timestamps truncate to seconds
      on both engine and oracle sides.
    * TIMESTAMP / TIMESTAMP_NTZ → pass through unchanged. The session is
      pinned UTC (``session.py:86``), so NTZ values are bit-identical to
      the instants the old conversion produced, and NTZ matches the
      DuckDB oracle's naive-timestamp semantics under any driver session
      timezone.
    """
    hit = _TABLE_CACHE.get((sf_dir, name)) if cached else None
    if hit is not None:
        # guard against a cache populated by a stopped session: a
        # DataFrame bound to a dead SparkContext fails far from the
        # cause ("SparkContext has been shut down")
        if hit.sparkSession is spark:
            return hit
        _TABLE_CACHE.pop((sf_dir, name), None)
    if name != "events":
        return _read_parquet(spark, _table_path(sf_dir, name))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, _table_path(sf_dir, name))
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    return df


def _table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def cache_tables(spark: SparkSession, sf_dir: str) -> None:
    """Materialize every table once as a repartitioned, memory-cached
    DataFrame — the local stand-in for a cluster's parallel scan.

    The driver-generated testdata is 1 row group per file, so a cold
    ``spark.read.parquet`` plans 1-2 tasks no matter how many cores the
    session has: every downstream query starts from a serial scan. A
    1000-executor cluster reading 100 TB has thousands of splits and
    never hits this; locally we recover the parallelism by repartitioning
    each table to ~20k-row partitions (capped at core count; tiny dims
    stay single-partition — they broadcast anyway) and pinning the
    columnar cache. Subsequent ``load_table`` calls serve the cached
    plan; filters still prune via in-memory batch stats. Partitions are
    sized from the footer's row count, so the pinning ``count()`` is the
    only Spark job per table."""
    par = spark.sparkContext.defaultParallelism
    for name in TABLES:
        df = load_table(spark, sf_dir, name, cached=False)
        footer = parquet_footer(spark, _table_path(sf_dir, name))
        rows = footer.num_rows if footer is not None else df.count()
        # Partition-count policy is per-WORKLOAD-CLASS, not one
        # rows-per-partition constant:
        # * compute-bound tables (documents → tokenization/hashing,
        #   events → JSON parse/windowing, embeddings → vector math)
        #   keep ~20k rows/partition (embeddings full fan-out) — their
        #   queries spend CPU per row, so cores are the unit.
        # * relational tables (lineitem/orders/…) take ~60k
        #   rows/partition: their queries are scan+broadcast-join+agg
        #   bound, where per-task scheduling is the marginal cost —
        #   3× fewer tasks per join stage measured 10-30% off the
        #   star-join family (j8/x1/x2, consistent sign across four
        #   interleaved A/B runs) with no reproducible regression
        #   elsewhere. (Full 32-way fan-out on small tables regresses
        #   the bench ~50% — measured r2.) Tiny dims stay
        #   single-partition; they broadcast anyway.
        if name == "embeddings":
            n = par
        elif name in ("documents", "events"):
            n = max(1, min(par, rows // 20_000))
        else:
            n = max(1, min(par, rows // 60_000))
        cached = (df.repartition(n) if n > 1 else df.coalesce(1)).cache()
        cached.count()  # pin before queries run
        _TABLE_CACHE[(sf_dir, name)] = cached


def uncache_tables(spark: SparkSession) -> None:
    """Drop every pinned table cache (test hygiene)."""
    for df in _TABLE_CACHE.values():
        df.unpersist()
    _TABLE_CACHE.clear()


# Per-process parquet artifacts: key -> (path, schema written).
_ARTIFACTS: dict[tuple, tuple[str, T.StructType]] = {}


def persisted_table(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """A derived table written once per process and re-read after that:
    signatures, gram sets, weight tables that a production pipeline
    builds once per release and scans on every pass. The first call for
    ``key`` (whose first element names the artifact) writes ``build()``
    to a temporary directory removed at exit; every call reads it back
    with the schema it was written with, so no call after the first runs
    a Spark job before the caller's action."""
    hit = _ARTIFACTS.get(key)
    if hit is None:
        path = tempfile.mkdtemp(prefix=f"dst-{key[0]}-")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        df = build()
        df.write.mode("overwrite").parquet(path)
        hit = _ARTIFACTS[key] = (path, df.schema)
    path, schema = hit
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (catalog-scan surface,
    S9/D2/D3: ``spark.table``, SHOW TABLES, DESCRIBE all work)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

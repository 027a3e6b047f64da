"""Versioned lakehouse tables addressed by directory path (SURVEY §2.2,
§7.4): ``VersionedTable`` is a thin handle over the jar-free Delta stack
(``delta_writer`` / ``delta_reader`` / ``delta_dml``), so every table it
writes is a Delta table — the format the reference's own metrics code
appends to (``spark_logger.py:38,55``), readable by any Delta 3.x
runtime. Each mutating call commits one Delta version (none for a DML
statement that matches no row or a compaction with nothing to merge),
so ``read(version=N)`` addresses the state after the N-th commit.
``props`` of ``create`` / ``append`` / ``overwrite`` are stored as JSON
in the commit's ``commitInfo.userMetadata`` (the spec's free-form
commit field). The Delta modules are imported per call, so importing
the ``plans`` package stays cheap.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_cluster(
    df: DataFrame, cols: list[str], n_files: int = 8
) -> DataFrame:
    """THE Z-ORDER KERNEL (shared by ``delta_writer.zorder_delta`` and
    Iceberg's ``rewrite_data_files``): re-cluster ``df`` on the
    interleaved-bit order of ``cols`` without a global sort of raw
    values —

    1. per-column 256-bucket boundaries via ``approxQuantile``
       (Greenwald-Khanna sketch; driver state = 255 numbers per
       column, regardless of table size),
    2. bucket id per row from the broadcast boundary array (a
       ``filter``-count over 255 literals, map-only),
    3. z-value by bit-interleaving the 8-bit bucket ids (built as a
       shift-add expression in Python, evaluated in codegen),
    4. ``repartitionByRange(n_files, z)`` + in-partition sort — ONE
       range shuffle, the same cost shape as a compaction.

    Quantile bucketization also makes the interleave skew-proof:
    value ranges with more rows get more buckets, so files end up
    near-equal-sized even on zipfian keys. Strings/binary order by
    ``xxhash64`` (clusters equal values, which is what pruning
    needs)."""
    if not cols or len(cols) > 4:
        raise ValueError("zorder needs 1-4 columns")
    n_buckets = 256
    probs = [i / n_buckets for i in range(1, n_buckets)]
    z_terms: list[F.Column] = []
    for ci, col in enumerate(cols):
        dtype = df.schema[col].dataType.simpleString()
        if dtype in ("string", "binary"):
            key = F.xxhash64(F.col(col)).cast("double")
            kname = f"__zk_{ci}"
            df = df.withColumn(kname, key)
            bounds = df.stat.approxQuantile(kname, probs, 0.01)
            src = F.col(kname)
        else:
            bounds = df.stat.approxQuantile(col, probs, 0.01)
            src = F.col(col).cast("double")
        if not bounds:  # all-null / empty column: one bucket
            bucket = F.lit(0)
        else:
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            bucket = F.size(
                F.filter(arr, lambda b: b <= src)  # noqa: B023
            )
        # spread bucket bits to positions ci, ci+k, ci+2k, ... so
        # the k columns' bits interleave
        k = len(cols)
        spread = None
        for bit in range(8):
            term = (
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1))
                * F.lit(1 << (bit * k + ci))
            )
            spread = term if spread is None else spread + term
        z_terms.append(spread)
    z = z_terms[0]
    for t in z_terms[1:]:
        z = z + t
    return (
        df.withColumn("__z", z.cast("long"))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__zk_{i}" for i in range(len(cols))])
    )


class VersionedTable:
    """A writable, versioned Delta table addressed by directory path."""

    def __init__(self, spark: SparkSession, path: str):
        if os.path.exists(
            os.path.join(path, "_manifest.json")
        ) and not os.path.isdir(os.path.join(path, "_delta_log")):
            raise ValueError(
                f"{path} holds a table in the retired JSON-manifest "
                "format (_manifest.json, no _delta_log); rebuild it by "
                "re-running the job that wrote it"
            )
        self.spark = spark
        self.path = path

    # -- writes (each returns the committed version) -----------------
    def create(self, df: DataFrame, props: dict[str, Any] | None = None) -> int:
        """CTAS with ``createOrReplace`` meaning (``getting_started.py:
        130-151``, ``05_…ipynb:92``): on an existing table, an
        overwrite that also replaces the schema."""
        from dst_spark_k8_lakehouse_spark.plans import delta_reader, delta_writer

        if delta_reader.is_delta_table(self.path):
            return self.overwrite(df, props)
        delta_writer.create_delta(df, self.path, user_metadata=_text(props))
        return 0

    def append(self, df: DataFrame, props: dict[str, Any] | None = None) -> int:
        """Append with schema merge (``spark_logger.py:55-57``): new
        columns join the schema, earlier rows read them as NULL."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.append_delta(
            df, self.path, merge_schema=True, user_metadata=_text(props)
        )

    def overwrite(self, df: DataFrame, props: dict[str, Any] | None = None) -> int:
        """INSERT OVERWRITE (``03_delta_demo.ipynb:102-104``); ``df``'s
        schema becomes the table's. Old files stay until ``vacuum``."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.overwrite_delta(
            df, self.path, _text(props), overwrite_schema=True
        )

    def update(self, condition: str, assignments: dict[str, str]) -> int:
        """``UPDATE t SET … WHERE …`` (``02_iceberg_demo.ipynb:91``)."""
        from dst_spark_k8_lakehouse_spark.plans import delta_dml

        return delta_dml.update_delta(
            self.spark, self.path, condition, assignments
        )

    def delete(self, condition: str) -> int:
        """``DELETE FROM t WHERE …`` (``02_iceberg_demo.ipynb:103``)."""
        from dst_spark_k8_lakehouse_spark.plans import delta_dml

        return delta_dml.delete_delta(self.spark, self.path, condition)

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update_when_matched: bool = True,
        insert_when_not_matched: bool = True,
    ) -> int:
        """MERGE INTO by key (SURVEY §7.4); new source columns join the
        schema, duplicate source keys raise ``ValueError``."""
        from dst_spark_k8_lakehouse_spark.plans import delta_dml

        return delta_dml.merge_delta(
            self.spark, self.path, source, on,
            update_when_matched=update_when_matched,
            insert_when_not_matched=insert_when_not_matched,
            merge_schema=True,
        )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only RENAME COLUMN (``02_iceberg_demo.ipynb:123``);
        row-level DML on the renamed table then raises
        ``NotImplementedError``."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.rename_column(self.spark, self.path, old, new)

    def drop_column(self, col: str) -> int:
        """Metadata-only DROP COLUMN. An append that brings the name
        back adds a NEW column: earlier rows read NULL there."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.drop_column(self.spark, self.path, col)

    def compact(self) -> int:
        """OPTIMIZE: bin-pack the live files (one per append) into
        ~128 MiB files; the current version if nothing needed it."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        v = delta_writer.compact_delta(self.spark, self.path)
        return v if v >= 0 else delta_writer._next_version(self.path) - 1

    def zorder(self, cols: list[str], n_files: int = 8) -> int:
        """OPTIMIZE ZORDER BY ``cols`` into ``n_files`` files
        (``zorder_cluster``)."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.zorder_delta(self.spark, self.path, cols, n_files)

    def vacuum(self, *, retain_last: int = 1) -> list[str]:
        """VACUUM (``03_delta_demo.ipynb:182-186``): delete the data
        files none of the ``retain_last`` newest versions reference;
        returns their table-relative paths."""
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        return delta_writer.vacuum_delta(
            self.spark, self.path, retain_versions=retain_last
        )

    # -- reads -------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Scan, optionally time-travelling (``versionAsOf``); a version
        the log does not hold raises ``ValueError``."""
        from dst_spark_k8_lakehouse_spark.plans import delta_reader

        return delta_reader.read_delta(self.spark, self.path, version=version)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY, oldest first, with Delta's operation names
        and the number of live data files at each version."""
        from dst_spark_k8_lakehouse_spark.localrel import local_frame
        from dst_spark_k8_lakehouse_spark.plans import delta_reader

        rows = [
            (h["version"], h.get("timestamp"), h.get("operation"),
             len(self._files(h["version"])))
            for h in reversed(delta_reader.delta_history(self.path))
        ]
        return local_frame(
            self.spark, rows,
            "version int, timestamp_ms long, operation string, n_files int",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """The ``.files`` metadata table: one row per live data file."""
        from dst_spark_k8_lakehouse_spark.localrel import local_frame

        rows = [(p, int(a["size"])) for p, a in self._files(version).items()]
        return local_frame(self.spark, rows, "path string, bytes long")

    def _files(self, version: int | None) -> dict[str, dict]:
        from dst_spark_k8_lakehouse_spark.plans import delta_reader

        return delta_reader.plan_file_list(
            self.spark, self.path, version=version
        )["files"]

    def committed_props(self, key: str) -> set[Any]:
        """Every value recorded under ``key`` across the history."""
        return {p[key] for p in self._props() if key in p}

    def latest_prop(self, key: str, default: Any = None) -> Any:
        """``key`` from the NEWEST commit that set it — table state
        such as an index's cell count, where a rebuild must win over
        older values."""
        return next(
            (p[key] for p in reversed(self._props()) if key in p), default
        )

    def _props(self) -> list[dict[str, Any]]:
        """Props of the commits that carry them, oldest first."""
        from dst_spark_k8_lakehouse_spark.plans import delta_reader

        out = []
        for h in reversed(delta_reader.delta_history(self.path)):
            try:
                props = json.loads(h.get("userMetadata") or "null")
            except ValueError:
                continue  # free text from another writer
            if isinstance(props, dict):
                out.append(props)
        return out


def _text(props: dict[str, Any] | None) -> str | None:
    return json.dumps(props) if props else None

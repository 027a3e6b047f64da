#!/usr/bin/env python
"""Batch job: incremental corpus ingest — the daily O(batch) flow.

``jobs/curate_corpus.py`` builds the initial corpus plus its dedup
state (signature table); this job ingests a NEW document batch against
that state without rescanning corpus text:

  batch → quality gate → exact dedup (vs persisted hash table + within
  batch) → incremental near-dup (vs persisted signatures, band-join
  touches only matched buckets) → append survivors + their state rows

Cost is O(batch + matched buckets) — never O(corpus). Dedup policy:
the existing corpus always wins (a batch doc near-duplicating any
corpus doc is dropped); within the batch, smallest doc_id survives.
Every layer logs pipeline metrics like the reference's medallion jobs
(``06_pipeline_metrics_demo.ipynb:224-265``).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dst_spark_k8_lakehouse_spark import get_session  # noqa: E402
from dst_spark_k8_lakehouse_spark.llm import dedup  # noqa: E402
from dst_spark_k8_lakehouse_spark.metrics import MetricContext  # noqa: E402
from dst_spark_k8_lakehouse_spark.plans import VersionedTable, delta_reader  # noqa: E402
from jobs.curate_corpus import quality_gate  # noqa: E402


def bootstrap_hashes(corpus: DataFrame) -> DataFrame:
    """(doc_id, content_hash) state rows for a corpus. One-time
    O(corpus) when migrating a corpus curated before hash-state
    existed; steady-state ingest appends batch hashes only."""
    return corpus.select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )


def exact_dedup_incremental(
    batch: DataFrame, existing_hashes: DataFrame
) -> DataFrame:
    """Drop batch docs whose content hash exists in the corpus, then
    keep the smallest doc_id per remaining hash (within-batch dedup).
    One shuffle on the 32-byte hash; the corpus side contributes only
    its hash column."""
    from pyspark.sql import Window

    hashed = batch.withColumn("content_hash", F.sha2("text", 256))
    fresh = hashed.join(
        existing_hashes.select("content_hash"), "content_hash", "left_anti"
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )


def neardup_drop_set(pairs: DataFrame, batch_ids: DataFrame) -> DataFrame:
    """Batch doc_ids to drop, resolved per CONNECTED COMPONENT (not
    pairwise — pairwise drops under-delete on chains a~b, c~b where
    a and c never paired directly): for each near-dup cluster, if any
    member is an existing corpus doc the whole batch side drops
    (corpus wins); an all-batch cluster keeps its smallest doc_id."""
    labels = dedup.neardup_clusters(pairs)
    flagged = labels.join(
        batch_ids.withColumn("in_batch", F.lit(True)), "doc_id", "left"
    ).fillna(False, ["in_batch"])
    stats = flagged.groupBy("cluster_id").agg(
        F.max(F.when(~F.col("in_batch"), 1).otherwise(0)).alias(
            "has_existing"
        ),
        F.min(F.when(F.col("in_batch"), F.col("doc_id"))).alias(
            "min_batch_id"
        ),
    )
    return (
        flagged.join(stats, "cluster_id")
        .filter(
            F.col("in_batch")
            & (
                (F.col("has_existing") == 1)
                | (F.col("doc_id") != F.col("min_batch_id"))
            )
        )
        .select("doc_id")
        .distinct()
    )


def run(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    threshold: float = 0.7,
) -> dict[str, int]:
    """Ingest ``batch`` against the state under ``state_dir`` (written
    by curate_corpus: ``corpus`` + ``signatures`` tables; a ``hashes``
    table is bootstrapped on first run). Returns per-layer counts."""
    counts: dict[str, int] = {}
    corpus_t = VersionedTable(spark, f"{state_dir}/corpus")
    sigs_t = VersionedTable(spark, f"{state_dir}/signatures")
    hashes_t = VersionedTable(spark, f"{state_dir}/hashes")

    if not delta_reader.is_delta_table(hashes_t.path):
        hashes_t.create(bootstrap_hashes(corpus_t.read()))

    existing_sigs = sigs_t.read()
    # refuse state from an incompatible signature family (the r5
    # minhash-modulus fix changed every signature value; a band-join
    # against old state would SILENTLY match nothing and admit dups)
    if (
        "sig_v" not in existing_sigs.columns
        or existing_sigs.filter(
            F.col("sig_v") != dedup.SIG_VERSION
        ).limit(1).count()
        > 0
    ):
        raise ValueError(
            "signature state at "
            f"{state_dir}/signatures was built by an incompatible "
            f"minhash family (need sig_v = {dedup.SIG_VERSION}); "
            "re-run curate_corpus to rebuild dedup state"
        )

    with MetricContext(
        spark,
        layer=3,
        project="corpus",
        dataset_year=2024,
        description="incremental ingest",
        job_name="ingest_batch",
        table_path=f"{state_dir}/_activity_log",
    ) as ctx:

        def log(layer: int, desc: str, n: int) -> None:
            counts[desc] = n
            ctx.log_metric(
                layer=layer,
                project="corpus",
                dataset_year=2024,
                description=desc,
                value=n,
                unit="rows",
                function="count",
                source_path=state_dir,
            )

        log(1, "batch_docs", batch.count())

        gated = quality_gate(batch)
        # content_hash rides along to the hashes-table append — the
        # text is already hashed once in the exact-dedup pass
        exact = exact_dedup_incremental(gated, hashes_t.read())
        log(2, "batch_after_exact", exact.count())

        pairs, new_sigs = dedup.incremental_neardup(
            exact.drop("content_hash"),
            existing_sigs.drop("sig_v"),  # stamp checked above
            threshold=threshold,
        )
        drops = neardup_drop_set(pairs, exact.select("doc_id"))
        # pin survivors so the appends below reuse one materialization
        # of the gate/dedup pipeline (new_sigs is pinned inside
        # incremental_neardup, so the signature UDF also runs once)
        survivors = exact.join(drops, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        log(3, "batch_ingested", survivors.count())

        corpus_t.append(survivors.drop("content_hash"))
        sigs_t.append(
            new_sigs.join(survivors.select("doc_id"), "doc_id", "left_semi")
            .withColumn("sig_v", F.lit(dedup.SIG_VERSION))
        )
        hashes_t.append(survivors.select("doc_id", "content_hash"))
    return counts


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--batch-dir", required=True, help="parquet dir of new docs")
    parser.add_argument("--state-dir", required=True)
    args = parser.parse_args()
    spark = get_session(app_name="ingest-batch")
    counts = run(spark, spark.read.parquet(args.batch_dir), args.state_dir)
    print(counts)


if __name__ == "__main__":
    main()

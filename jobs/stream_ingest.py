#!/usr/bin/env python
"""Streaming job: continuous corpus ingest — the micro-batch face of
``jobs/ingest_batch.py``.

New document files land in an arrivals directory; a file-source stream
picks them up and ``foreachBatch`` runs the SAME O(batch) incremental
ingest (quality gate → exact dedup vs persisted hashes → near-dup vs
persisted signatures → append survivors + state rows) against the
curated state. Streaming semantics stack with the ingest policy:

- **source progress** is checkpointed, so a restart resumes at the
  first unprocessed file — no arrival is ingested twice *by the
  source*;
- **micro-batch retry** (crash after the ingest ran but before the
  checkpoint commit) re-runs the batch — and ingests NOTHING the
  second time, because every survivor of the first attempt is now in
  the persisted hash/signature state and content dedup drops it.
  Exactly-once corpus content from at-least-once execution, by
  policy rather than by sink transaction.
- **the appends themselves are three separate commits** (corpus,
  signatures, hashes), so a crash INSIDE ingest can leave corpus
  rows whose state rows never landed — then the retry's content
  dedup would not see them and would duplicate. ``run_stream``
  closes that window by reconciling state FIRST on every start:
  corpus docs missing from the hash/signature tables get their
  state rows (re)derived from corpus text before any batch runs.
  Corpus-append-first ordering makes that recovery possible (state
  rows are always derivable from corpus rows; the reverse ordering
  would strand state rows that silently DROP real content).

At 100 TB this is the standard continuous-curation shape: the state
tables are the big persisted artifacts, each micro-batch touches
O(batch + matched buckets) of them.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from dst_spark_k8_lakehouse_spark import get_session  # noqa: E402
from dst_spark_k8_lakehouse_spark.llm import dedup  # noqa: E402
from dst_spark_k8_lakehouse_spark.plans import VersionedTable, delta_reader  # noqa: E402
from jobs.ingest_batch import bootstrap_hashes  # noqa: E402
from jobs.ingest_batch import run as ingest_run  # noqa: E402

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _reconcile_state(spark: SparkSession, state_dir: str) -> None:
    """Crash-window recovery (see module docstring): (re)derive hash
    and signature state rows for any corpus doc missing them. No-op on
    a clean state; O(missing docs) otherwise — state is always
    recoverable from corpus text because ingest appends corpus FIRST."""
    corpus_t = VersionedTable(spark, f"{state_dir}/corpus")
    hashes_t = VersionedTable(spark, f"{state_dir}/hashes")
    sigs_t = VersionedTable(spark, f"{state_dir}/signatures")
    if not delta_reader.is_delta_table(hashes_t.path):
        return  # first ingest bootstraps hashes itself
    corpus = corpus_t.read()
    missing_h = corpus.join(
        hashes_t.read().select("doc_id"), "doc_id", "left_anti"
    )
    if missing_h.limit(1).count():
        hashes_t.append(bootstrap_hashes(missing_h))
    missing_s = corpus.join(
        sigs_t.read().select("doc_id"), "doc_id", "left_anti"
    )
    if missing_s.limit(1).count():
        sigs_t.append(
            dedup.signature_table(missing_s, spread=False).withColumn(
                "sig_v", F.lit(dedup.SIG_VERSION)
            )
        )


def run_stream(
    spark: SparkSession,
    arrivals_dir: str,
    state_dir: str,
    threshold: float = 0.7,
) -> list[dict[str, int]]:
    """Drain all currently-available arrival files through the
    incremental ingest (``availableNow`` trigger — the batch-drain
    mode; a deployment would run the same query continuously).
    Returns per-micro-batch layer counts, in order."""
    batch_counts: list[dict[str, int]] = []
    _reconcile_state(spark, state_dir)

    def ingest_micro_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch hands a batch-scoped DataFrame; the ingest is
        # plain batch code from here (localCheckpoint inside pins it)
        batch_counts.append(ingest_run(spark, batch_df, state_dir, threshold))

    (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one arrival file per batch
        .parquet(arrivals_dir)
        .writeStream.foreachBatch(ingest_micro_batch)
        .option("checkpointLocation", f"{state_dir}/_ingest_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return batch_counts


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--arrivals", required=True)
    parser.add_argument("--state", required=True)
    args = parser.parse_args()
    spark = get_session(app_name="stream-ingest")
    for counts in run_stream(spark, args.arrivals, args.state):
        print(counts)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Capture .explain('formatted') for round-14 touched queries, under the
bench session configuration (AQE off, SF-derived shuffle partitions,
cached tables) so the committed plans match what bench.py executes.

Usage: python scripts/capture_plans_r14.py before|after [qid ...]
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dst_spark_k8_lakehouse_spark import get_session, registry
from dst_spark_k8_lakehouse_spark.sources.catalog import cache_tables

SF_DIR = "/root/testdata/sf0.1"
DEFAULT_IDS = [
    "l2_minhash_lsh",
    "l2_minhash_lsh_sigs",
    "l6_dsir_select",
    "l3_unigram_logprob",
    "x2_q10_returns",
]


def formatted_plan(df) -> str:
    """``df.explain('formatted')`` as a string."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in ("before", "after"):
        sys.exit(__doc__)
    tag = sys.argv[1]
    ids = sys.argv[2:] or DEFAULT_IDS
    # the same SF directory and shuffle-partition rule as bench.py
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    registry.load_all()
    spark = get_session(app_name="dst-plan-capture")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(int(max(8, min(32, 32 * sf))))
    )
    cache_tables(spark, sf_dir)
    out = Path(__file__).resolve().parents[1] / "plans" / "r14"
    out.mkdir(parents=True, exist_ok=True)
    for qid in ids:
        plan = formatted_plan(registry.QUERIES[qid](spark, sf_dir))
        (out / f"{qid}_{tag}.txt").write_text(plan)
        print(f"wrote {qid}_{tag}.txt ({len(plan)} bytes)")
    # the signature stage in isolation (the size-switch small branch)
    from dst_spark_k8_lakehouse_spark.llm import dedup
    from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

    docs = dedup.with_planted_duplicates(load_table(spark, sf_dir, "documents"))
    plan = formatted_plan(dedup.signature_table(docs))
    (out / f"l2_minhash_sig_stage_{tag}.txt").write_text(plan)
    print(f"wrote l2_minhash_sig_stage_{tag}.txt")


if __name__ == "__main__":
    main()

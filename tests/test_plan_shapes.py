"""Physical-plan regression tests — the 100 TB contract.

Correctness tests prove the operators compute the right answer at small
sf; these prove the *plans* are the ones that survive a 1000-executor
cluster: filters reach the parquet reader, projections prune the scan
schema, small dimensions broadcast instead of shuffling the fact side,
sort+limit lowers to TakeOrderedAndProject (partition-local top-k), and
aggregations are partial (map-side) before the shuffle. A regression in
any of these is invisible at 60k rows and fatal at 100 TB.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark import registry
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

registry.load_all()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_projection_prunes_scan_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan
    # the 9 unselected columns must not appear in the scan
    assert "l_extendedprice" not in plan


def test_broadcast_join_no_fact_shuffle(spark, sf_dir):
    plan = plan_of(registry.QUERIES["j5_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dimensions(spark, sf_dir):
    """The flagship must stream lineitem through broadcast joins at this
    scale (AQE/static planning both acceptable) — a sort-merge join here
    means a dimension grew past the broadcast threshold or a hint broke."""
    plan = plan_of(registry.QUERIES["j8_star_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation+region at minimum
    assert "SortMergeJoin" not in plan


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = plan_of(registry.QUERIES["o2_sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # a global Sort + CollectLimit would sort every partition fully
    assert "Exchange rangepartitioning" not in plan


def test_aggregate_is_partial_then_final(spark, sf_dir):
    plan = plan_of(registry.QUERIES["a5_groupby_agg"](spark, sf_dir))
    # partial + final HashAggregate around one exchange: map-side combine
    # shuffles one row per (task, group), not one per input row
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_scalar_pipeline(spark, sf_dir):
    plan = plan_of(registry.QUERIES["f1_string"](spark, sf_dir), "codegen")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0" not in plan


def test_semi_join_does_not_materialize_right_columns(spark, sf_dir):
    plan = plan_of(registry.QUERIES["j4_semi"](spark, sf_dir))
    assert "LeftSemi" in plan
    # semi join needs only the key from orders
    assert "ReadSchema: struct<o_custkey:bigint>" in plan


def test_exact_sums_stay_in_codegen(spark, sf_dir):
    """Integer-cent aggregation must not fall back to interpreted
    decimal aggregation (exact.py design note)."""
    # (explain("codegen") can't see through AdaptiveSparkPlan before
    # execution; the formatted plan's aggregate expressions are the
    # contract here — bigint cents, never a decimal slow path)
    formatted = plan_of(registry.QUERIES["a3_sum"](spark, sf_dir))
    assert "partial_sum(cast(round((o_totalprice" in formatted
    assert "decimal" not in formatted.lower()


def test_window_topk_single_shuffle(spark, sf_dir):
    plan = plan_of(registry.QUERIES["w4_topk_group"](spark, sf_dir))
    # one hash-partitioning exchange on the window key...
    assert plan.count("Arguments: hashpartitioning") == 1
    # ...and rank<=k pushed below the shuffle (WindowGroupLimit applies
    # the per-group limit map-side before exchanging)
    assert plan.count("WindowGroupLimit") >= 2


def test_cosine_topk_broadcasts_query_vector(spark, sf_dir):
    plan = plan_of(registry.QUERIES["l4_cosine_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    # the embeddings side must never shuffle for a 1-row query join
    assert "Exchange hashpartitioning" not in plan


@pytest.mark.parametrize(
    "qid", ["l1_exact_dedup", "l3_token_count", "l4_cosine_topk", "l4_batch_topk"]
)
def test_llm_ops_have_no_python_in_hot_path(spark, sf_dir, qid):
    """Dedup hashing, token counting and cosine scoring must stay
    JVM-side — a BatchEvalPython / ArrowEvalPython / MapInArrow node
    here means a 10-100× hot-path regression at corpus scale (the
    cosine scorers have one spelling, the HOF fold, at every size)."""
    plan = plan_of(registry.QUERIES[qid](spark, sf_dir))
    assert "Python" not in plan and "MapInArrow" not in plan


def test_x2_q10_broadcasts_and_takeordered(spark, sf_dir):
    """Q10 shape: lineitem must stream through broadcast joins (orders
    slice, customer, nation all hinted) with no sort-merge join, and
    the top-20 must lower to TakeOrderedAndProject, never a global
    sort."""
    plan = plan_of(registry.QUERIES["x2_q10_returns"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan  # map-side combine before the agg shuffle


def test_curation_map_only_ops_have_no_shuffle(spark, sf_dir):
    """Chunking, sampling, and PII scrubbing are pure map work — any
    Exchange in their plans is a regression that turns a linear 100 TB
    pass into a shuffle."""
    for qid in ("l6_chunk_docs", "l6_stratified_sample", "l6_pii_scrub"):
        plan = plan_of(registry.QUERIES[qid](spark, sf_dir))
        assert "Exchange" not in plan, qid


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    """Packing shuffles exactly once, on the shard key — a second
    exchange (or a partition-less window) would mean a global-order
    cumsum that serializes the corpus through one task."""
    import re

    plan = plan_of(registry.QUERIES["l6_pack_sequences"](spark, sf_dir))
    # formatted mode lists each node once in the tree and once in the
    # detail section — count distinct numbered Exchange nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(source" in plan


def test_vocab_topk_partial_agg_and_takeordered(spark, sf_dir):
    """Wordcount must partially aggregate before its shuffle (token
    cardinality crosses the wire, not token count) and take the top-50
    via TakeOrderedAndProject."""
    plan = plan_of(registry.QUERIES["l6_vocab_topk"](spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """l7's benchmark gram set must broadcast — the corpus side is TBs
    at scale and must never shuffle on the gram key. Gram construction
    must be map-only up to the join."""
    plan = plan_of(registry.QUERIES["l7_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_contamination_scan_broadcasts_persisted_grams(spark, sf_dir):
    """The production scan must keep the same broadcast shape with the
    persisted gram set on the build side — one map-side pass over the
    corpus at 100 TB."""
    plan = plan_of(registry.QUERIES["l7_contamination_scan"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_mixture_epochs_is_shuffle_free(spark, sf_dir):
    """Mixture reweighting computes each doc's epoch count from its own
    id: the plan must contain NO exchange at all — map-only, the shape
    that runs as a pure pass-through stage at 100 TB."""
    plan = plan_of(registry.QUERIES["l6_mixture_epochs"](spark, sf_dir))
    assert "Exchange" not in plan


def test_zorder_plan_is_single_range_shuffle(spark, tmp_path):
    """The zorder rewrite must cost exactly one range exchange (plus
    the quantile sketch passes) — not a global sort, not repeated
    shuffles."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    df = spark.range(10_000).select(
        (F.col("id") % 97).alias("a"), (F.col("id") % 89).alias("b")
    )
    t = VersionedTable(spark, str(tmp_path / "zp"))
    t.create(df)
    # reproduce the zorder read→cluster plan without writing
    src = t.read()
    probs = [i / 256 for i in range(1, 256)]
    bounds_a = src.stat.approxQuantile("a", probs, 0.01)
    arr = F.array(*[F.lit(float(x)) for x in bounds_a])
    z = F.size(F.filter(arr, lambda bv: bv <= F.col("a").cast("double")))
    clustered = (
        src.withColumn("__z", z.cast("long"))
        .repartitionByRange(4, "__z")
        .sortWithinPartitions("__z")
    )
    plan = plan_of(clustered, "simple")
    assert plan.count("Exchange rangepartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    # the in-partition sort must be partition-local (global=false)
    assert "Sort [__z" in plan and "], false, 0" in plan


def test_passage_dedup_map_side_explode_no_python(spark, sf_dir):
    """Passage construction must be a map-side Generate (explode) with
    no Python stage anywhere; the frequency agg must be partial-then-
    final (HashAggregate before the exchange). The freq↔passages join
    may broadcast locally (tiny aggregate estimate) but must never put
    the PASSAGES side on the build side — at 100 TB the frequency
    table is corpus-sized and the plan degrades to a keyed join."""
    plan = plan_of(registry.QUERIES["l6_passage_dedup"](spark, sf_dir))
    assert "Generate" in plan and "Python" not in plan
    assert "partial_count" in plan  # map-side combine on the freq agg


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """The token→vocab join must broadcast the vocab (explicitly hinted
    — bounded in any top-K-capped deployment) and stay JVM-side."""
    plan = plan_of(registry.QUERIES["l3_unigram_logprob"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_fuzzy_decontam_broadcasts_benchmark_bands(spark, sf_dir):
    """Candidate generation must probe broadcast BENCHMARK bands (small
    by construction) — the corpus band table must never shuffle on the
    band key; the signature stage is the Arrow-vectorized mapInArrow
    kernel at every input size — never row-at-a-time Python."""
    plan = plan_of(registry.QUERIES["l7_fuzzy_decontam"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_x3_health_composite_stays_jvm_and_broadcasts_benchmark(
    spark, sf_dir
):
    """The composite must inherit each branch's audited shape: no
    Python anywhere, the contamination branch's benchmark grams
    broadcast, and the dup branch keyed by hash (no text-keyed
    SortMergeJoin)."""
    plan = plan_of(registry.QUERIES["x3_corpus_health"](spark, sf_dir))
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_jdbc_roundtrip_pushdown(spark, sf_dir):
    """S13 live path: the partitioned JDBC read issues 4 bounded range
    queries (RDD partition count) and filters compile into the remote
    WHERE clause (PushedFilters in the scan)."""
    import uuid

    from pyspark.sql import functions as F

    from dst_spark_k8_lakehouse_spark.sources import scans

    url = f"jdbc:derby:memory:planshape{uuid.uuid4().hex};create=true"
    (
        load_table(spark, sf_dir, "customer")
        .limit(200)
        .select("c_custkey", "c_acctbal")
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "cust")
        .option("driver", scans._DERBY_DRIVER)
        .save()
    )
    back = scans.jdbc_table_source(
        spark, url, "cust",
        partition_column="c_custkey", lower_bound=1, upper_bound=201,
        num_partitions=4, driver=scans._DERBY_DRIVER,
    )
    assert back.rdd.getNumPartitions() == 4
    plan = (
        back.filter(F.col("c_acctbal") > 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "c_acctbal" in plan


def test_delta_dv_read_broadcasts_delete_set(spark, tmp_path):
    """A DV-table read must subtract deletions with a BROADCAST
    anti-join keyed on the (KB-scale) deleted set — a shuffled
    anti-join here would move the full table by (file, pos) at
    100 TB."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_dv,
        delta_reader,
        delta_writer,
    )

    t = str(tmp_path / "dvplan")
    delta_writer.create_delta(spark.range(1000).coalesce(2), t)
    delta_dv.delete_where_dv(spark, t, "id % 97 = 0")
    plan = plan_of(delta_reader.read_delta(spark, t))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # one scan of the data files, not per-file branches (formatted
    # output names each scan twice: once in the tree, once in detail)
    assert plan.count("Scan parquet") == 2


def test_iceberg_mor_read_joins_stay_small_side(spark, tmp_path):
    """Merge-on-read subtraction: the position-delete set and the
    per-file sequence map must sit on the build side (broadcast),
    never force a table-wide shuffle."""
    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_mor,
        iceberg_reader,
        iceberg_writer,
    )

    t = str(tmp_path / "morplan")
    iceberg_writer.create_iceberg(
        spark.range(1000).coalesce(2), t, format_version=2
    )
    iceberg_mor.delete_where_mor(spark, t, "id % 97 = 0")
    plan = plan_of(iceberg_reader.read_iceberg(spark, t))
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_f7_variant_stays_jvm(spark, sf_dir):
    """VARIANT extraction is JVM-native expression work — a Python
    UDF in this plan would mean the variant path fell off the
    codegen'd fast path."""
    plan = plan_of(
        registry.QUERIES["f7_variant"](spark, sf_dir), "simple"
    )
    assert "PythonUDF" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # every aggregate is a partial-then-final HASH aggregate: variant
    # extraction happens in the projection (a VariantType in the agg
    # buffer forces SortAggregate), and the schema pin rides a
    # broadcast 1-row distinct (max(string) would force it too)
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortAggregate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_kafka_wire_decode_is_one_python_stage(spark, sf_dir):
    """The segment decode is ONE mapInPandas stage (per-segment
    tasks); the aggregation after parse must still be partial →
    shuffle → final, and from_json must not drag a second Python
    stage in."""
    from dst_spark_k8_lakehouse_spark.sources import kafka_wire
    from dst_spark_k8_lakehouse_spark.streaming.pipelines import (
        parse_kafka_events,
    )

    seg = kafka_wire._segment_fixture(spark, sf_dir)
    df = parse_kafka_events(kafka_wire.kafka_segment_source(spark, seg))
    plan = plan_of(df.groupBy("event_type").count(), "simple")
    assert plan.count("MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan  # from_json is JVM-side
    assert plan.count("HashAggregate") == 2, plan

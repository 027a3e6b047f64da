"""Table resolution without Spark jobs: footer schemas and row counts
(``sources/catalog.py``), the persisted-artifact helper, and the
lazy-builder contract for the ``corpus_curation`` ids."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dst_spark_k8_lakehouse_spark import registry
from dst_spark_k8_lakehouse_spark.sources import catalog
from tests.conftest import assert_no_jobs, spark_jobs

registry.load_all()
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("name", catalog.TABLES)
def test_footer_schema_is_spark_inferred_schema(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":  # load_table reads events under this flag
        spark.conf.set(_NANOS, "true")
    footer = catalog.parquet_footer(spark, path)
    assert footer.schema == spark.read.parquet(path).schema
    assert footer.num_rows == pq.ParquetFile(path).metadata.num_rows


def _events(tmp_path, unit: str) -> str:
    sf = tmp_path / unit
    sf.mkdir()
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                  pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   sf / "events.parquet", version="2.6", coerce_timestamps=None)
    return str(sf)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_encodings(spark, tmp_path, unit):
    """Both physical encodings ``events.ts`` has shipped in: parquet
    TIMESTAMP(NANOS) (a LONG under nanosAsLong, rebuilt as micros) and
    TIMESTAMP(MICROS) (TIMESTAMP_NTZ, passed through)."""
    sf = _events(tmp_path, unit)
    path = f"{sf}/events.parquet"
    assert pq.ParquetFile(path).schema_arrow.field("ts").type.unit == unit
    df = catalog.load_table(spark, sf, "events")  # sets nanosAsLong
    assert catalog.parquet_footer(spark, path).schema == spark.read.parquet(path).schema
    micros = [r.us for r in df.selectExpr("unix_micros(to_timestamp(ts)) AS us")
              .orderBy("us").collect()]
    assert micros == [1_700_000_000_123_456, 1_700_000_001_000_000]


def test_unpinned_load_table_runs_no_job(spark, sf_dir):
    for name in catalog.TABLES:
        with assert_no_jobs(spark, f"load_table({name!r})"):
            catalog.load_table(spark, sf_dir, name, cached=False)


def test_missing_table_still_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.load_table(spark, str(tmp_path), "region")


def test_rewritten_file_rereads_footer(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert catalog.parquet_footer(spark, path).num_rows == 2
    assert catalog.load_table(spark, sf, "region").count() == 2
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}), path)
    footer = catalog.parquet_footer(spark, path)
    assert footer.num_rows == 3
    assert footer.schema.names == ["r_regionkey", "r_name"]
    df = catalog.load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 3


def test_cache_tables_runs_only_its_pinning_counts(spark, sf_dir):
    """No schema-inference job and no sizing count: every job belongs to
    one of the per-table pinning ``count()`` executions."""
    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        with spark_jobs(spark) as jobs:
            catalog.cache_tables(spark, sf_dir)
        executions = set()
        for job in jobs:
            sql_id = store.jobWithAssociatedSql(job)._2()
            assert sql_id.isDefined(), f"job {job} runs outside a SQL execution"
            executions.add(sql_id.get())
        assert len(executions) == len(catalog.TABLES)
    finally:
        catalog.uncache_tables(spark)


def test_persisted_table_reads_back_without_a_job(spark):
    key = ("test-artifact", os.getpid())
    df = catalog.persisted_table(
        spark, key, lambda: spark.range(5).selectExpr("id", "id * 2 AS twice")
    )
    path = catalog._ARTIFACTS[key][0]
    assert df.schema == spark.read.parquet(path).schema
    with assert_no_jobs(spark, "a warm persisted_table"):
        again = catalog.persisted_table(spark, key, lambda: 1 / 0)
    assert sorted(r.twice for r in again.collect()) == [0, 2, 4, 6, 8]


# ``corpus_curation``'s ids. A builder plans; the caller's action runs.
CURATION_IDS = [
    "x3_corpus_health", "l1_exact_dedup", "l2_minhash_lsh",
    "l2_minhash_lsh_sigs", "l3_text_stats", "l3_unigram_logprob",
    "l3_gopher_gate", "l4_cosine_topk", "l4_ann_ivf_probe", "l6_chunk_docs",
    "l6_passage_dedup", "l6_vocab_topk", "l6_dsir_select", "l6_dsir_scan",
    "l7_contamination", "l7_contamination_scan",
]

# Builders allowed to start jobs: id -> (class, reason, every call?).
EAGER_BUILDERS = {
    "x3_corpus_health": (
        "eager checkpoint",
        "one tokenize pass into an eager localCheckpoint, so parallel "
        "stages cannot race the materialization (llm/health.py)", True),
    "l2_minhash_lsh": (
        "AQE shuffle stage",
        "with 2+ task slots the signature input is spread by a repartition; "
        "localCheckpoint(eager=False) defines its RDD through the adaptive "
        "plan, which runs that shuffle's map stage", True),
    "l2_minhash_lsh_sigs": (
        "lifecycle artifact", "writes the persisted signature table", False),
    "l4_ann_ivf_probe": (
        "lifecycle artifact, data-dependent plan",
        "the first call builds the IVF index; every call collects the "
        "nprobe best cells, whose ids become a filter pushed into the scan",
        True),
    "l6_dsir_scan": (
        "lifecycle artifact", "writes the persisted DSIR weight table", False),
    "l7_contamination_scan": (
        "lifecycle artifact", "writes the persisted benchmark gram set", False),
}


@pytest.mark.parametrize("qid", CURATION_IDS)
def test_curation_builder_is_lazy(spark, sf_dir, qid):
    """First and warm builds in an un-pinned session: zero jobs unless
    allow-listed, and a first-call-only entry is lazy when warm."""
    build = registry.QUERIES[qid]
    allowed = EAGER_BUILDERS.get(qid)
    with spark_jobs(spark) as first:
        build(spark, sf_dir)
    assert allowed is not None or not first, f"{qid} started jobs {first}"
    if allowed is None or not allowed[2]:
        with assert_no_jobs(spark, f"a warm {qid} build"):
            build(spark, sf_dir)

"""Benchmark-contamination detection (train/eval overlap).

The standard pretraining hygiene check (GPT-3 appendix C shape): flag
any training document sharing an exact token n-gram with a benchmark
document. Expressed Spark-first:

- n-grams are built map-only (``sequence`` + ``transform`` +
  ``concat_ws`` — no Python),
- the benchmark side is DISTINCT n-grams **broadcast** to the scan:
  benchmarks are structurally small (MBs) against a corpus that is
  not (TBs), so this is the one join in the engine where a broadcast
  is safe BY CONSTRUCTION, not by data luck — the 100 TB plan is one
  map-side pass over the corpus,
- per-doc contamination = distinct grams hitting the benchmark set,
  aggregated with a partial-agg groupBy on doc_id.

Window size: 5 tokens here (the corpus averages ~50 tokens/doc; the
classical 13-gram window is for web-scale documents — the operator
takes ``n`` as a parameter).

Evidence: the scan side includes the planted mirror copies
(``with_planted_duplicates``), whose originals form the stand-in
benchmark — every mirror must flag at 100% gram overlap, and the
whole result value-matches a DuckDB oracle that computes the same
n-gram join in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.llm.dedup import (
    DUP_OFFSET,
    spread_compute,
    with_planted_duplicates,
)
from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table, persisted_table


def _doc_gram_hashes(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram_h) — distinct xxhash64 n-gram hashes per doc,
    map-only and string-free: tokens are hashed once, each gram hash
    combines ``n`` consecutive token hashes. ~1.6× faster than building
    gram strings (no per-gram string allocation), and the downstream
    broadcast carries 8-byte longs.

    Shares ``_doc_gram_hashes_sized``'s single-projection plan shape
    (r13: one regex split per doc — the old ``filter(size(tok) >= n)``
    on a projected alias was pushed below the projection with the
    alias substituted, so the split ran twice per doc; see the
    plan-shape notes on the sized variant). The ``isNotNull`` filter
    drops the outer-explode marker rows of short docs; gram hashes
    themselves are never null."""
    return (
        _doc_gram_hashes_sized(docs, n)
        .filter(F.col("gram_h").isNotNull())
        .select("doc_id", "gram_h")
    )


def _doc_gram_hashes_sized(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, n_grams, gram_h) — ``_doc_gram_hashes`` with the doc's
    DISTINCT gram count carried through the explode, so a consumer that
    inner-joins the grams can still report per-doc totals without a
    second tokenize pass or a left join (r13 optimization: the
    contamination aggregate's input shrinks from every gram in the
    corpus to the hits only — guide §2.3 "aggregate before you
    shuffle"). The gram array is built in its own projection and
    referenced twice (``size`` + ``explode``); CollapseProject keeps a
    multiply-referenced non-cheap alias un-inlined, so the HOF pipeline
    still evaluates once per doc.

    PLAN-SHAPE WARNING #2 (r13, cousin of the r12 dsir isnotnull
    lesson): the explode MUST be ``explode_outer``. With a plain
    ``explode`` of an ATTRIBUTE, ``InferFiltersFromGenerate`` adds
    ``size(garr) > 0 AND isnotnull(garr)`` and predicate pushdown then
    re-inlines the ENTIRE tokenize+hash HOF pipeline into that filter
    (measured: the sf0.1 query went from ~0.45 s to minutes). The rule
    skips outer generates; ``size(tok) >= n`` already guarantees the
    array is non-empty, so outer ≡ inner here row for row (and a
    hypothetical null row could not survive the downstream equi-join
    anyway).

    PLAN-SHAPE NOTE #3: there is deliberately NO ``size(tok) >= n``
    filter here. A filter on a projected alias gets pushed below the
    projection with the alias SUBSTITUTED, so the regex split would be
    evaluated twice per doc (once in the pushed filter, once in the
    projection — this also affects ``_doc_gram_hashes``'s shape). The
    ``gram_hash_array`` IF-guard yields an empty array for short docs
    instead; ``explode_outer`` turns it into one null-gram row that the
    consumer's equi-join drops."""
    return (
        docs.withColumn(
            "tokh",
            F.expr(
                r"transform(split(trim(lower(text)), '\\s+'), "
                "t -> xxhash64(t))"
            ),
        )
        .withColumn("garr", gram_hash_array(n))
        .select(
            "doc_id",
            F.size("garr").cast("long").alias("n_grams"),
            F.explode_outer("garr").alias("gram_h"),
        )
    )


def gram_hash_array(n: int, tokh_col: str = "tokh"):
    """The ARRAY-valued face of ``_doc_gram_hashes``: distinct
    xxhash64 n-gram hashes of a token-hash array column, as one array
    per row — empty below ``n`` tokens. For callers that MATERIALIZE
    per-doc gram sets into a shared checkpoint (x3) so several
    consumers read one tokenize pass; the exploding face stays the
    right shape for single-consumer scans."""
    parts = ", ".join(
        f"element_at({tokh_col}, i + {j})" for j in range(n)
    )
    return F.expr(
        f"IF(size({tokh_col}) >= {n}, "
        f"array_distinct(transform("
        f"sequence(1, size({tokh_col}) - {n - 1}), "
        f"i -> xxhash64({parts}))), "
        f"CAST(array() AS ARRAY<BIGINT>))"
    )


def contamination_report(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """(doc_id, n_grams, n_hit) for every corpus doc sharing at least
    one token n-gram with any benchmark doc. ``benchmark`` is
    broadcast — see module docstring for why that is safe here.

    Both sides compare xxhash64 gram HASHES, not gram strings (r11 —
    the persisted-scan path proved value-identical results for two
    rounds, and the string variant spent ~35% of the query allocating
    per-gram strings and broadcasting a ~40-byte-per-entry table; the
    hashed broadcast carries 8-byte longs). Collision note as in the
    module docstring: birthday bound ~1e-9 at 1e5 grams, and the
    value-matching oracle would catch one deterministically."""
    bench_grams = F.broadcast(
        _doc_gram_hashes(benchmark, n).select("gram_h").distinct()
    )
    grams = _doc_gram_hashes_sized(corpus, n)
    return (
        grams.join(bench_grams, "gram_h")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_hit"),
        )
    )


# Persisted benchmark gram sets, one per (sf_dir, n) — the
# l2_minhash_lsh_sigs pattern (``persisted_table``). A benchmark suite
# changes rarely; a production pipeline builds its gram set ONCE and
# re-reads it for every corpus pass, so the timed query below measures
# the marginal cost of scanning a corpus, not of re-tokenizing the
# benchmark. Grams are stored as xxhash64 values (_doc_gram_hashes):
# the broadcast hash table carries 8-byte longs instead of ~40-byte
# strings, and the probe compares longs. (A cross-gram hash collision
# could over-count n_hit; at ~1e5 distinct grams the birthday bound is
# ~1e-9, and the value-matching oracle would catch it deterministically.)
def _persisted_benchmark_grams(
    spark: SparkSession, sf_dir: str, n: int
) -> DataFrame:
    def build() -> DataFrame:
        docs = with_planted_duplicates(load_table(spark, sf_dir, "documents"))
        benchmark = docs.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < DUP_OFFSET)
        )
        return _doc_gram_hashes(benchmark, n).select("gram_h").distinct()

    return persisted_table(spark, ("bench-grams", sf_dir, n), build)


def contamination_scan(
    corpus: DataFrame, bench_grams_hashed: DataFrame, n: int = 5
) -> DataFrame:
    """Marginal contamination pass: corpus vs a PERSISTED hashed gram
    set. Same result as ``contamination_report`` (gram hashing is
    deterministic); the benchmark side is a parquet read + broadcast
    instead of tokenize + distinct per pass, and both sides compare
    8-byte gram hashes instead of gram strings."""
    grams = _doc_gram_hashes_sized(corpus, n)
    return (
        grams.join(F.broadcast(bench_grams_hashed), "gram_h")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_hit"),
        )
    )


_L7_ORACLE = f"""
        WITH tok AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {DUP_OFFSET}, text
                FROM documents WHERE doc_id % 10 = 0
            )
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   array_to_string(t[i.i:i.i + 4], ' ') AS gram
            FROM tok,
                 LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) i
            WHERE len(t) >= 5
        ),
        bg AS (
            SELECT DISTINCT gram FROM g
            WHERE doc_id % 10 = 0 AND doc_id < {DUP_OFFSET}
        )
        SELECT g.doc_id,
               count(*) AS n_grams,
               CAST(count(bg.gram) AS BIGINT) AS n_hit
        FROM g LEFT JOIN bg USING (gram)
        WHERE g.doc_id % 10 <> 0 OR g.doc_id >= {DUP_OFFSET}
        GROUP BY g.doc_id
        HAVING count(bg.gram) > 0
    """


@query("l7_contamination", oracle=_L7_ORACLE)
def l7_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: contamination scan of the corpus (with planted mirrors)
    against the stand-in benchmark (every 10th original doc). Every
    mirror copy must flag with n_hit == n_grams; any organic 5-gram
    collision in the corpus flags too — both sides value-checked by
    the oracle. ``spread_compute`` on the corpus side (r13): the
    tokenize+gram-hash HOF pass is per-token interpreted work over a
    1-2-partition scan (measured 0.45 → 0.26 s at sf0.1; no-op at
    cluster scale). The benchmark side stays unspread — it is 10% of
    the docs and feeds a broadcast build."""
    docs = with_planted_duplicates(load_table(spark, sf_dir, "documents"))
    benchmark = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < DUP_OFFSET)
    )
    corpus = spread_compute(
        docs.filter(
            (F.col("doc_id") % 10 != 0) | (F.col("doc_id") >= DUP_OFFSET)
        )
    )
    return contamination_report(corpus, benchmark, n=5)


@query("l7_contamination_scan", oracle=_L7_ORACLE)
def l7_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 (production flow): the SAME contamination result as
    ``l7_contamination``, but against the persisted benchmark gram
    set — the marginal cost of checking a corpus once the benchmark
    suite is pipeline state. This is how the 100 TB pass runs: the
    gram set is built once per benchmark release, broadcast as 8-byte
    hashes, and the corpus scan stays one map-side pass.
    ``spread_compute`` (r13): parallelizes the interpreted gram-hash
    pass (measured 0.39 → 0.19 s at sf0.1; no-op at cluster scale)."""
    docs = with_planted_duplicates(load_table(spark, sf_dir, "documents"))
    corpus = spread_compute(
        docs.filter(
            (F.col("doc_id") % 10 != 0) | (F.col("doc_id") >= DUP_OFFSET)
        )
    )
    bench = _persisted_benchmark_grams(spark, sf_dir, n=5)
    return contamination_scan(corpus, bench, n=5)


FUZZY_DROP = 13  # perturbed mirrors drop every 13th token


def _perturbed_mirrors(docs: DataFrame) -> DataFrame:
    """Near-copies of every 10th doc: same text minus every
    FUZZY_DROP-th token (deterministic, map-only) — the fuzzy
    analogue of ``with_planted_duplicates`` for testing
    jaccard-threshold decontamination (exact n-gram scans miss
    these once the drop lands inside the window)."""
    tok = F.split(F.trim(F.lower("text")), r"\s+")
    kept = F.expr(
        f"filter(tok, (t, i) -> (i + 1) % {FUZZY_DROP} != 0)"
    )
    return (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("tok", tok)
        .select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.concat_ws(" ", kept).alias("text"),
            "lang",
            F.lit("fuzzy-mirror").alias("source"),
        )
        # recompute: the rebuilt text is shorter and lowercased — a
        # carried-over n_chars would silently disagree with text
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def fuzzy_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    spread: bool = True,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bench_doc, jaccard) — corpus documents that are NEAR
    duplicates of a benchmark document (exact shingle Jaccard >=
    ``threshold``, LSH-bucketed candidates only). The fuzzy
    complement of the exact n-gram scan: paraphrased or lightly
    edited benchmark text shares few exact 5-grams but keeps a high
    shingle Jaccard.

    Spark shape: MinHash signatures for both sides (``mapInArrow``,
    the l2 stage); the BENCHMARK band table is broadcast — like the
    gram scan, the benchmark is small by construction, so candidate
    generation is a map-side hash probe over corpus bands, never a
    shuffle of the corpus. ``bands=16`` (r=2) trades extra candidates
    for recall at moderate Jaccard (J=0.7 → band hit 0.49, miss
    probability (1-0.49)^16 ≈ 2e-5); every candidate is verified with
    the exact Jaccard before flagging, so the trade costs compute,
    not precision."""
    from dst_spark_k8_lakehouse_spark.llm.dedup import (
        banded_signatures,
        signature_table,
        verified_pairs,
    )

    # corpus_sigs: reuse an existing (checkpointed) signature frame —
    # the signature stage is the dominant cost and a curation run has
    # already computed it for the near-dup pass (same params)
    sig_c = (
        corpus_sigs
        if corpus_sigs is not None
        else signature_table(corpus, num_hashes, shingle_n, spread=spread)
    )
    sig_b = signature_table(benchmark, num_hashes, shingle_n, spread=spread)
    bands_c = banded_signatures(sig_c, num_hashes, bands)
    bands_b = F.broadcast(
        banded_signatures(sig_b, num_hashes, bands).withColumnRenamed(
            "doc_id", "bench_doc"
        )
    )
    cand = (
        bands_c.join(bands_b, ["band", "sig"])
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("bench_doc").alias("doc_b"),
        )
        .distinct()
    )
    # exact-Jaccard verification shares dedup.verified_pairs (ONE
    # source of truth for the truncation + threshold semantics);
    # corpus and benchmark ids are disjoint by construction, so the
    # unioned signature frame is id-unique
    return verified_pairs(
        cand, sig_c.unionByName(sig_b), threshold
    ).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("bench_doc"),
        "jaccard",
    )


def _fuzzy_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        _perturbed_mirrors(docs)
    )
    return corpus, benchmark


@query("l7_fuzzy_decontam")  # rows-only: LSH banding is not SQL-expressible
def l7_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: fuzzy train/eval decontamination — flag corpus docs within
    Jaccard 0.5 of any benchmark doc. Planted perturbed mirrors (every
    10th doc minus every 13th token) are the ground truth; the recall
    contract below is the oracle-checked face of this query."""
    corpus, benchmark = _fuzzy_inputs(spark, sf_dir)
    return fuzzy_decontamination(corpus, benchmark)


@query(
    "l7_fuzzy_recall",
    oracle=rf"""
        SELECT count(*) AS n_planted, TRUE AS recall_ok
        FROM (
            SELECT len(regexp_split_to_array(trim(lower(text)), '\s+'))
                       AS n
            FROM documents WHERE doc_id % 10 = 0
        )
        WHERE n - n // {FUZZY_DROP} >= 3 AND n >= 3
    """,
)
def l7_fuzzy_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 recall contract: >= 90% of the planted perturbed mirrors
    must be flagged against their benchmark originals. Unlike the l2
    contracts (exact copies, J = 1.0, recall provably 1.0), a fuzzy
    pair can in principle miss every band, so the deterministic
    fixture recall is pinned at >= 0.9 (measured: 1.0 at sf0.001 and
    sf0.01; per-pair miss odds ~2e-5 at J ≈ 0.7, see
    ``fuzzy_decontamination``). Planted = benchmark docs whose
    PERTURBED text still has >= shingle_n tokens (both sides need a
    signature)."""
    flagged = l7_fuzzy_decontam(spark, sf_dir)
    tok_n = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    expected = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn("n", tok_n)
        .filter(
            (F.col("n") - F.floor(F.col("n") / FUZZY_DROP) >= 3)
            & (F.col("n") >= 3)
        )
        .select(
            F.col("doc_id").alias("bench_doc"),
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"),
        )
    )
    hits = flagged.select("doc_id", "bench_doc").distinct().withColumn(
        "hit", F.lit(1)
    )
    return expected.join(hits, ["doc_id", "bench_doc"], "left").agg(
        F.count("*").alias("n_planted"),
        (F.count("hit") >= F.count("*") * 0.9).alias("recall_ok"),
    )

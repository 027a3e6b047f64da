"""Corpus-curation operators for training-data pipelines (SURVEY §2.12
extension set, round 2): chunking, sequence packing, stratified
sampling, PII scrubbing, vocabulary statistics.

These are the ops between "raw deduplicated corpus" and "tensors":
every one is a single scan plus at most one bounded shuffle, expressed
with built-in functions (no Python), and every one is oracle-checked
against DuckDB running the equivalent SQL. Token parity rule: both
sides tokenize with a single-space split on trimmed text (same
convention as ``l2_ngram_jaccard``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.llm.dedup import (
    PLANTED_SQL,
    spread_compute,
    with_planted_duplicates,
)
from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table, persisted_table

CHUNK = 64  # tokens per chunk
STRIDE = 48  # chunk start distance (CHUNK - STRIDE = 16-token overlap)
CTX = 512  # pack budget (tokens per training sequence)


@query(
    "l6_chunk_docs",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tok
                   FROM documents)
        SELECT doc_id,
               CAST(s // {STRIDE} AS INT) AS chunk_idx,
               CAST(len(list_slice(tok, s + 1, s + {CHUNK})) AS INT)
                   AS n_tokens,
               array_to_string(list_slice(tok, s + 1, s + {CHUNK}), ' ')
                   AS chunk_text
        FROM t, unnest(range(0, len(tok), {STRIDE})) AS u(s)
    """,
)
def l6_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: sliding-window chunking — split each document into
    CHUNK(=64)-token chunks every STRIDE(=48) tokens (16-token
    overlap), the standard pre-embedding / pre-training windowing step.

    Plan: one scan, chunk starts from ``sequence()`` + ``explode``
    (map-side row expansion, no shuffle), chunk text via
    ``slice``/``concat_ws`` on the token array. At 100 TB this is
    embarrassingly parallel; output is ~(1 + overlap/stride)× input
    tokens, and the explode never materializes a document's chunks
    outside one task."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("tok")
    )
    return (
        docs.select(
            "doc_id",
            "tok",
            F.explode(
                F.expr(f"sequence(0, size(tok) - 1, {STRIDE})")
            ).alias("s"),
        )
        .select(
            "doc_id",
            (F.col("s") / STRIDE).cast("int").alias("chunk_idx"),
            F.size(F.expr(f"slice(tok, s + 1, {CHUNK})"))
            .cast("int")
            .alias("n_tokens"),
            F.concat_ws(" ", F.expr(f"slice(tok, s + 1, {CHUNK})")).alias(
                "chunk_text"
            ),
        )
    )


@query(
    "l6_pack_sequences",
    oracle=f"""
        WITH t AS (SELECT source, doc_id,
                          len(string_split(trim(text), ' ')) AS n_tokens
                   FROM documents)
        SELECT source, doc_id, CAST(n_tokens AS INT) AS n_tokens,
               CAST((sum(n_tokens) OVER w - n_tokens) // {CTX} AS INT)
                   AS pack_id,
               CAST((sum(n_tokens) OVER w - n_tokens) % {CTX} AS INT)
                   AS pack_offset
        FROM t
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)
    """,
)
def l6_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: sequence packing — assign each document a (pack_id,
    pack_offset) in a concatenate-then-split-at-CTX(=512)-tokens layout,
    the GPT-style packing that wastes no context window (documents may
    span pack boundaries; the trainer splits at token level).

    Plan: running token sum via a window partitioned BY SOURCE SHARD —
    never a global order. A total-order cumsum would serialize the
    corpus through one task at 100 TB; per-shard packing is how real
    pipelines do it (each shard's packs are independent; shard id
    rides along in pack addressing). One shuffle on the shard key."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return docs.select(
        "source",
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (start / CTX).cast("int").alias("pack_id"),
        (start % CTX).cast("int").alias("pack_offset"),
    )


# Per-language keep-rate (percent): downsample the dominant language to
# balance the training mix. doc_id % 100 is the deterministic,
# engine-portable "hash"; testdata doc_ids are dense so the modulus is
# uniform.
SAMPLE_RATES = {"en": 30, "de": 100, "es": 100, "fr": 100, "zh": 100}


@query(
    "l6_stratified_sample",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE doc_id % 100 < CASE lang
            {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))}
            ELSE 100 END
    """,
)
def l6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: stratified sampling for language balance — keep doc_id %
    100 < rate(lang), downsampling English to SAMPLE_RATES["en"] = 30%
    and keeping minority languages whole.

    The mod-of-id filter (rather than ``rand()`` or per-stratum
    ``row_number``) is deliberate: it is deterministic across runs and
    engines, needs NO shuffle and no per-stratum ordering (a
    ``row_number`` stratified sample serializes each stratum through
    one task at scale), and composes with incremental ingest — a doc's
    keep/drop decision never changes as the corpus grows."""
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in sorted(SAMPLE_RATES.items())
        ],
        F.lit(100),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 < rate)
        .select("doc_id", "lang", "source")
    )


# Java and RE2 dialect-portable patterns (no backreferences, no
# lookaround): email, then North-American-style phone.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@query(
    "l6_pii_scrub",
    oracle=f"""
        WITH t AS (SELECT doc_id,
                          text || ' contact user' || doc_id ||
                          '@example.com or 555-' ||
                          lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
                          '-0199' AS text
                   FROM documents)
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
               len(regexp_extract_all(text, '{EMAIL_RE}')) +
               len(regexp_extract_all(text, '{PHONE_RE}')) AS n_hits
        FROM t
    """,
)
def l6_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: PII scrubbing — replace emails and phone numbers with typed
    placeholder tokens, counting hits for audit metrics. The synthetic
    corpus contains no PII, so both sides append a deterministic
    contact line per doc first — the scrub is then non-vacuous by
    construction (every row has ≥2 hits).

    Plan: pure map (``regexp_replace`` / ``regexp_extract_all`` are
    JVM codegen) — zero shuffle, linear at 100 TB. Patterns restricted
    to the Java∩RE2 dialect so engine parity is exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
        (
            F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0))
            + F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), 0))
        ).cast("long").alias("n_hits"),
    )


@query(
    "l6_vocab_topk",
    oracle="""
        SELECT tok AS token, count(*) AS n
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok
        ORDER BY n DESC, token
        LIMIT 50
    """,
)
def l6_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: corpus vocabulary top-k — the wordcount that sizes a
    tokenizer's vocab and surfaces boilerplate. Explode is map-side;
    the count groupBy partial-aggregates before its shuffle (token
    cardinality, not token count, crosses the wire); top-50 is
    ``TakeOrderedAndProject`` with a deterministic (count, token)
    tiebreak."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


# Epoch rates per source domain for the training-mixture query: >1
# upsamples (repeat epochs), <1 downsamples, unlisted sources default
# to 1.0. Fixed-point (rate × 1000) so Spark and the SQL oracle do the
# same integer arithmetic — no float-boundary flakes.
MIXTURE_MILLI: dict[str, int] = {
    "src0": 2500,   # 2.5 epochs: high-quality domain repeated
    "src1": 1500,
    "src2": 400,    # 0.4 epochs: downweighted domain
    "src3": 0,      # excluded entirely
}


def mixture_epochs(docs: DataFrame, milli_rates: dict[str, int]) -> DataFrame:
    """(doc, epoch) rows realizing per-domain epoch rates — the
    mixture-reweighting step of a training-data pipeline (domain
    weights from a recipe like DoReMi; an epoch rate of 2.5 means the
    whole domain twice plus a deterministic half).

    Map-only and shuffle-free: every doc computes its copy count from
    its own id — ``floor(rate)`` full epochs plus one more iff
    ``doc_id % 1000 < rate mod 1000`` (the same deterministic mod-hash
    posture as ``l6_stratified_sample``: stable across runs, engines,
    and corpus growth; no ``rand()``, no per-domain ordering). The
    fractional slice is id-stable, so incremental ingest never flips
    an old doc's epoch count. Output carries ``epoch`` so a downstream
    pack/shuffle can spread repeats across shards.
    """
    rate = F.coalesce(
        *[
            F.when(F.col("source") == k, F.lit(v))
            for k, v in sorted(milli_rates.items())
        ],
        F.lit(1000),
    )
    n_copies = (rate / 1000).cast("int") + (
        (F.col("doc_id") % 1000) < (rate % 1000)
    ).cast("int")
    return (
        docs.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1, __n)")).alias("epoch"),
        )
    )


@query(
    "l6_mixture_epochs",
    oracle=f"""
        WITH rated AS (
            SELECT doc_id, source,
                   CASE source
                       {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIXTURE_MILLI.items()))}
                       ELSE 1000 END AS rate,
            FROM documents
        ),
        counted AS (
            SELECT doc_id, source,
                   CAST(rate // 1000 AS INT)
                   + CASE WHEN doc_id % 1000 < rate % 1000
                          THEN 1 ELSE 0 END AS n
            FROM rated
        )
        SELECT doc_id, source, CAST(e.epoch AS INT) AS epoch
        FROM counted,
             LATERAL (SELECT unnest(range(1, n + 1)) AS epoch) e
        WHERE n > 0
    """,
)
def l6_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: domain-mixture reweighting over the documents table with
    the ``MIXTURE_MILLI`` recipe (upsample src0/src1, downsample src2,
    drop src3, every other source one epoch)."""
    return mixture_epochs(
        load_table(spark, sf_dir, "documents"), MIXTURE_MILLI
    )


# Knuth multiplicative hashes (odd multipliers → bijections mod 2^32,
# so sequential doc_ids scatter without collisions). Two DIFFERENT
# multipliers keep the split assignment and the shuffle order
# statistically independent; both are plain int64 arithmetic, so Spark
# and DuckDB compute bit-identical values (no engine hash functions,
# which never agree across engines).
SPLIT_HASH_MULT = 2654435761
SHUFFLE_HASH_MULT = 2246822519
_HASH_MOD = 4294967296  # 2^32
SHUFFLE_SHARDS = 64


@query(
    "l6_split_assign",
    oracle=f"""
        SELECT doc_id,
               CAST((doc_id * {SPLIT_HASH_MULT}) % {_HASH_MOD} % 100
                    AS INT) AS bucket,
               CASE WHEN (doc_id * {SPLIT_HASH_MULT}) % {_HASH_MOD} % 100 < 90
                    THEN 'train'
                    WHEN (doc_id * {SPLIT_HASH_MULT}) % {_HASH_MOD} % 100 < 95
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
)
def l6_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: deterministic train/val/test assignment (90/5/5) from a
    multiplicative hash of the stable doc_id — the property a real
    pipeline needs is that re-running curation NEVER migrates a doc
    across splits (no RNG, no row order dependence, no engine hash).
    Map-only, shuffle-free; at 100 TB it's a free column on any scan.
    """
    bucket = F.pmod(
        F.pmod(F.col("doc_id") * SPLIT_HASH_MULT, F.lit(_HASH_MOD)),
        F.lit(100),
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "l6_global_shuffle",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   (doc_id * {SHUFFLE_HASH_MULT}) % {_HASH_MOD} AS hv
            FROM documents
        )
        SELECT doc_id,
               CAST(hv % {SHUFFLE_SHARDS} AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY hv % {SHUFFLE_SHARDS}
                                       ORDER BY hv, doc_id) AS INT) AS pos
        FROM h
    """,
)
def l6_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: deterministic corpus shuffle for training order — every doc
    gets a (shard, pos) address from a multiplicative hash, scrambling
    any ingest/source locality so a trainer reading shards in order
    sees a pseudo-random document sequence that is REPRODUCIBLE across
    runs and engines.

    Plan shape is the 100 TB-safe one: shard first (hash mod k, one
    bounded shuffle), order WITHIN shards (per-partition sort) — never
    a global row_number, which would serialize the corpus through one
    task. Shard count is the parallelism knob; readers interleave
    shards."""
    hv = F.pmod(F.col("doc_id") * SHUFFLE_HASH_MULT, F.lit(_HASH_MOD))
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            hv.alias("hv"),
            F.pmod(hv, F.lit(SHUFFLE_SHARDS)).cast("int").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "pos")
    )


PASSAGE = 10  # tokens per aligned passage (C4-style dedup unit)
PASSAGE_DF = 2  # passage is boilerplate once seen in >= this many docs


@query(
    "l6_passage_dedup",
    oracle=f"""
        WITH bronze AS ({PLANTED_SQL}),
        t AS (SELECT doc_id, string_split(trim(text), ' ') AS tok
              FROM bronze),
        p AS (SELECT doc_id, CAST(s // {PASSAGE} AS INT) AS pidx,
                     array_to_string(
                         list_slice(tok, s + 1, s + {PASSAGE}), ' ')
                         AS passage
              FROM t, unnest(range(0, len(tok), {PASSAGE})) AS u(s)),
        f AS (SELECT passage, count(DISTINCT doc_id) AS df
              FROM p GROUP BY 1)
        SELECT p.doc_id,
               CAST(count(*) AS INT) AS n_passages,
               CAST(sum(CASE WHEN f.df >= {PASSAGE_DF} THEN 1 ELSE 0 END)
                    AS INT) AS n_dup_passages,
               COALESCE(string_agg(
                   CASE WHEN f.df < {PASSAGE_DF} THEN p.passage END,
                   ' ' ORDER BY p.pidx), '') AS clean_text
        FROM p JOIN f USING (passage)
        GROUP BY p.doc_id
    """,
)
def l6_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: repeated-passage removal (the C4 pipeline's line-dedup step,
    adapted to this corpus's newline-free text): documents split into
    aligned PASSAGE(=10)-token windows; any passage occurring in >=
    PASSAGE_DF(=2) distinct documents is boilerplate and is removed
    from EVERY document carrying it; the cleaned text is reassembled
    from the surviving passages in order. Runs over the planted-mirror
    corpus so removal is non-vacuous (mirror passages occur twice).

    Plan: passages are built map-only (``sequence``+``slice``+
    ``posexplode``, no shuffle); document frequency is one wordcount-
    shape partial agg keyed by passage; flagging is a join back on
    passage; reassembly is one groupBy(doc_id) with an order-restoring
    ``array_sort(collect_list(struct(pidx, …)))`` — bounded per doc.
    At 100 TB the frequency agg and flag join would key on
    ``xxhash64(passage)`` (8-byte shuffle keys instead of passage
    text, collision odds ~n²/2⁶⁴) and the hot boilerplate passages
    (exactly the ones this op exists to find) are the skewed keys —
    AQE skew-join or the star-edge guard from the LSH path applies.
    The oracle keeps exact passage strings so both engines compare
    identical values. ``spread_compute`` (r13): the three tokenize
    subtrees below run interpreted HOFs over what is otherwise a
    1-2-partition scan — the spread parallelizes them AND its exchange
    is reused across the subtrees (one scan execution, measured 0.72 →
    0.37 s at sf0.1; a no-op at cluster scale where the scan already
    has thousands of splits)."""
    return passage_dedup_report(
        spread_compute(
            with_planted_duplicates(load_table(spark, sf_dir, "documents"))
        )
    )


def passage_dedup_report(docs: DataFrame) -> DataFrame:
    """(doc_id, n_passages, n_dup_passages, clean_text) for any
    (doc_id, text) frame — the reusable core of ``l6_passage_dedup``.

    Plan (r6 rewrite, ~3× off the r5 shape): the ONLY corpus-sized
    shuffle keys are 8-byte ``xxhash64(passage)`` longs — (1) document
    frequency is a partial-agg ``count`` over per-doc-distinct passage
    hashes; (2) the boilerplate set (df >= PASSAGE_DF — small by
    construction, it IS the repeated material) broadcast-semi-joins
    against a positional hash explode, so only boilerplate occurrences
    reach the per-doc flag aggregation; (3) documents themselves are
    never exploded into a shuffle — the cleaned text is reassembled
    map-side with an index-aware ``filter`` HOF over the passage array
    against the doc's flagged-index set (AQE broadcasts the flag side
    when small). Passage strings never leave the mapper. A cross-
    passage hash collision could mis-flag (birthday ~n²/2⁶⁴, same
    adjudicated posture as the hashed-gram contamination path); the
    value-matching oracle would catch it deterministically.

    Measured floor (r6, interleaved best-of-5 at sf0.1, one session):
    this shape 0.82 s, the r5 string-shuffle shape 0.70 s, a one-pass
    collect-the-dup-set variant 0.76 s — all within co-tenancy noise,
    all >2× DuckDB's 0.12 s. At sf0.1 (5.5k docs) the cost is two
    interpreted-HOF tokenize/hash map passes (~0.3 s each) plus fixed
    stage scheduling, which no plan shape removes; the shapes only
    diverge at scale, where this one shuffles 8-byte hashes instead of
    passage strings and never shuffles the documents at all. And
    diverge they do — measured on the replicated-sf1 sweep
    (``scripts/make_scaled_testdata.py``): this shape is FLAT
    sf0.1→sf1 (0.38 s → 0.31 s for 10× the docs, output verified
    10×), where the r5 string-shuffle shape measured 3.6× for 10×."""
    base = docs.select(
        "doc_id", F.split(F.trim("text"), " ").alias("tok")
    ).withColumn("tokh", F.expr("transform(tok, t -> xxhash64(t))"))
    # passage hash = xxhash64 over the window's TOKEN-HASH slice — no
    # per-passage string is built in the two corpus hash passes
    pharr = (
        f"transform(sequence(0, size(tokh) - 1, {PASSAGE}), "
        f"s -> xxhash64(slice(tokh, s + 1, {PASSAGE})))"
    )
    # (1) df per passage hash: per-doc distinct first, so the corpus
    # agg is a plain count with map-side partials (explode stays
    # inline — see contamination._doc_gram_hashes plan-shape warning)
    dup = (
        base.select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({pharr})")).alias("ph"),
        )
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= PASSAGE_DF)
        .select("ph")
    )
    # (2) flagged positions per doc — only boilerplate rows survive
    # the broadcast semi-join, so this groupBy is boilerplate-sized
    flags = (
        base.select(
            "doc_id",
            F.posexplode(F.expr(pharr)).alias("pidx", "ph"),
        )
        .join(F.broadcast(dup), "ph", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pidx").alias("dup_idx"))
    )
    # (3) map-side reassembly: passage STRINGS are built only here,
    # once; no corpus shuffle, no second explode
    parr = F.expr(
        f"transform(sequence(0, size(tok) - 1, {PASSAGE}), "
        f"s -> concat_ws(' ', slice(tok, s + 1, {PASSAGE})))"
    )
    return (
        base.join(flags, "doc_id", "left")
        .withColumn("parr", parr)
        .select(
            "doc_id",
            F.size("parr").cast("int").alias("n_passages"),
            F.coalesce(F.size("dup_idx"), F.lit(0))
            .cast("int")
            .alias("n_dup_passages"),
            F.expr(
                "array_join(filter(parr, (p, i) -> dup_idx IS NULL "
                "OR NOT array_contains(dup_idx, i)), ' ')"
            ).alias("clean_text"),
        )
    )


def passage_scrub(docs: DataFrame) -> DataFrame:
    """Rewrite each document's text with corpus-repeated passages
    removed (and drop documents that were boilerplate end-to-end —
    empty cleaned text would otherwise collapse into one giant
    "duplicate" group at the exact-dedup stage). Schema-preserving:
    n_chars is recomputed for the cleaned text."""
    report = passage_dedup_report(docs).select(
        "doc_id", "clean_text", "n_dup_passages"
    )
    return (
        docs.join(report, "doc_id")
        .filter(F.length("clean_text") > 0)
        .select(
            "doc_id",
            F.col("clean_text").alias("text"),
            "lang",
            "source",
            # cast: length() is INT; the documents schema carries
            # n_chars BIGINT and a silent narrowing breaks schema-merge
            # appends downstream (caught by the stream-ingest test)
            F.length("clean_text").cast("long").alias("n_chars"),
        )
    )


@query(
    "l6_dsir_select",
    oracle="""
        WITH w AS (
            SELECT doc_id, lang,
                   unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        ),
        raw AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
        tgt AS (SELECT w, count(*) AS c FROM w WHERE lang = 'en'
                GROUP BY 1),
        tot AS (
            SELECT (SELECT CAST(sum(c) AS BIGINT) FROM raw) AS tc,
                   (SELECT CAST(sum(c) AS BIGINT) FROM tgt) AS tt,
                   (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v
        ),
        wb AS (
            SELECT raw.w,
                   (length(to_base(COALESCE(tgt.c, 0) + 1, 2))
                    - length(to_base(tt + v, 2)))
                   - (length(to_base(raw.c + 1, 2))
                      - length(to_base(tc + v, 2))) AS b
            FROM raw LEFT JOIN tgt USING (w), tot
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               CAST(sum(b) AS BIGINT) AS dsir_bits,
               CAST(CASE WHEN sum(b) >= 0 THEN 1 ELSE 0 END AS INT)
                   AS selected
        FROM w JOIN wb USING (w)
        GROUP BY doc_id
    """,
)
def l6_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: DSIR-style data selection (Xie et al. 2023, public method) —
    per-document importance weight log(p_target / p_raw) summed over
    token occurrences, where p_target is the unigram distribution of
    the TARGET domain (here: the ``lang = 'en'`` slice) and p_raw the
    whole corpus's, both add-one smoothed; documents scoring >= 0 are
    selected as target-resembling. The log is quantized to INTEGER
    bits (binary-representation lengths, the ``l3_unigram_logprob``
    trick) so both engines compute identical integers — production
    swaps in ``ln`` one-lined, ranking unchanged.

    Plan (r13 re-plan, guide §2.4 "remove shuffles outright"): ONE
    wordcount partial agg builds (word, raw count, target count) —
    the target side is a ``count_if`` conditional aggregate, not a
    second filtered aggregation — and the corpus totals come from an
    unpartitioned window over the AGGREGATED vocab frame (bounded:
    the vocabulary, not the corpus), replacing the raw⋈tgt join +
    crossJoin(totals) shape whose broadcast subtrees re-executed the
    tokenize+aggregate pipeline three more times. The corpus is now
    tokenized twice per run (weights + scoring) instead of five
    times, with one wordcount shuffle instead of two plus a join.
    The paper buckets hashed n-grams to 10k buckets instead of
    words; at 100 TB this vocabulary becomes that fixed-width bucket
    table (swap the word key for ``xxhash64(w) % B`` — the broadcast
    stays tiny either way), exactly how the hashed-gram contamination
    path already works."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim("text"), " ")).alias("w"),
    )
    wc = toks.groupBy("w").agg(
        F.count("*").alias("c_raw"),
        F.count_if(F.col("lang") == "en").alias("c_tgt"),
    )
    # single-partition window: safe BY CONSTRUCTION (vocabulary-sized
    # input; any production deployment caps/buckets the vocab anyway)
    tot = Window.partitionBy()
    bits = lambda c: F.length(F.bin(c))  # noqa: E731
    weights = wc.select(
        "w",
        (
            (
                bits(F.col("c_tgt") + 1)
                - bits(F.sum("c_tgt").over(tot) + F.count("*").over(tot))
            )
            - (
                bits(F.col("c_raw") + 1)
                - bits(F.sum("c_raw").over(tot) + F.count("*").over(tot))
            )
        ).alias("b"),
    )
    return (
        toks.join(F.broadcast(weights), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("b").cast("long").alias("dsir_bits"),
            (F.sum("b") >= 0).cast("int").alias("selected"),
        )
    )


# Cross-engine bucket key: the first 60 bits of md5(w) — the one hash
# DuckDB and Spark both compute bit-identically over UTF-8 strings
# (DuckDB has no xxhash64), so the ORACLE recomputes the same buckets.
# The library default below is xxhash64 (one 8-byte JVM op, no hex
# detour); the bucketing semantics and plan shape are identical.
# Hex chars 12-15 of the md5, not 1-15 (r12): the bucket is the value
# MOD 2^16 (DSIR_BUCKETS), and 16^4 = 2^16 means the last 4 chars of
# any hex prefix ending at position 15 ARE that residue — bucket
# values are bit-identical to the old 15-char form (pinned by
# test_curation), while both engines skip parsing 11 dead hex chars
# per token (Spark: 0.42 → 0.32 s at sf0.1).
DSIR_MD5_BUCKET = "CAST(conv(substring(md5(w), 12, 4), 16, 10) AS BIGINT)"
DSIR_MD5_BUCKET_DUCK = "('0x' || substr(md5(w), 12, 4))::BIGINT"


def dsir_bucket_weights(
    toks: DataFrame, n_buckets: int, bucket_sql: str | None = None
) -> DataFrame:
    """DSIR importance weights over HASHED BUCKETS — the paper's own
    production shape (Xie et al. 2023 hash n-grams into 10k buckets)
    and the fix for ``l6_dsir_select``'s 100 TB caveat: the word-level
    weight table broadcast is Heaps-law-sized (vocabulary keeps
    growing with corpus bytes), while the bucket table is FIXED-WIDTH
    — ``n_buckets`` rows of (long, long) regardless of corpus size,
    broadcastable forever.

    ``toks`` must carry ``w`` (token) and ``is_target``; weights are
    integer log2-quantized exactly like ``l6_dsir_select`` (binary-
    representation-length trick) so any engine reproduces them
    bit-for-bit. Returns (bkt, b)."""
    hb = (
        F.xxhash64("w") if bucket_sql is None else F.expr(bucket_sql)
    )
    tb = toks.withColumn("bkt", F.pmod(hb, F.lit(n_buckets)))
    raw = tb.groupBy("bkt").agg(F.count("*").alias("c_raw"))
    tgt = tb.filter(F.col("is_target")).groupBy("bkt").agg(
        F.count("*").alias("c_tgt")
    )
    totals = raw.agg(
        F.sum("c_raw").alias("tc"), F.count("*").alias("v")
    ).crossJoin(tgt.agg(F.sum("c_tgt").alias("tt")))
    bits = lambda c: F.length(F.expr(f"bin({c})"))  # noqa: E731
    return (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bkt",
            (
                (bits("coalesce(c_tgt, 0) + 1") - bits("tt + v"))
                - (bits("c_raw + 1") - bits("tc + v"))
            ).alias("b"),
        )
    )


def dsir_score_bucketed(
    toks: DataFrame, weights: DataFrame, n_buckets: int,
    bucket_sql: str | None = None,
) -> DataFrame:
    """Score a corpus against a (persisted) bucket-weight table: one
    map-side pass — bucket each token (8-byte key), broadcast-join the
    fixed-width weight table, sum per document. No corpus-sized
    shuffle except the doc_id aggregation.

    The bucket key is wrapped in ``coalesce(…, 0)`` to make it
    provably NON-NULL (r12, measured 0.57 → 0.40 s at sf0.1): a
    nullable join-key EXPRESSION makes Catalyst infer
    ``isnotnull(<whole expression>)`` and push it below the
    projection, re-evaluating the full md5+conv per token a second
    time; a non-nullable key folds the inferred filter to true. The
    value never changes — tokens are split results, never null."""
    hb = (
        F.xxhash64("w") if bucket_sql is None else F.expr(bucket_sql)
    )
    return (
        toks.withColumn(
            "bkt", F.coalesce(F.pmod(hb, F.lit(n_buckets)), F.lit(0))
        )
        .join(F.broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("b").cast("long").alias("dsir_bits"),
            (F.sum("b") >= 0).cast("int").alias("selected"),
        )
    )


def _dsir_toks(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(F.split(F.trim("text"), " ")).alias("w"),
    )


# Persisted DSIR bucket-weight tables, one per (sf_dir, B, expr) — the
# l7_contamination_scan pattern (``persisted_table``): a target domain
# changes rarely, so a production pipeline builds the weight table
# ONCE per target release and re-reads it for every corpus pass.
def _persisted_dsir_weights(
    spark: SparkSession, sf_dir: str, n_buckets: int,
    bucket_sql: str | None,
) -> DataFrame:
    return persisted_table(
        spark,
        ("dsir-weights", sf_dir, n_buckets, bucket_sql or "xxhash64"),
        lambda: dsir_bucket_weights(
            _dsir_toks(load_table(spark, sf_dir, "documents")),
            n_buckets, bucket_sql,
        ),
    )


DSIR_BUCKETS = 65536


@query(
    "l6_dsir_scan",
    oracle=f"""
        WITH w0 AS (
            SELECT doc_id, lang,
                   unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        ),
        wb0 AS (
            SELECT doc_id, lang,
                   {DSIR_MD5_BUCKET_DUCK} % {DSIR_BUCKETS} AS bkt
            FROM w0
        ),
        raw AS (SELECT bkt, count(*) AS c FROM wb0 GROUP BY 1),
        tgt AS (SELECT bkt, count(*) AS c FROM wb0 WHERE lang = 'en'
                GROUP BY 1),
        tot AS (
            SELECT (SELECT CAST(sum(c) AS BIGINT) FROM raw) AS tc,
                   (SELECT CAST(sum(c) AS BIGINT) FROM tgt) AS tt,
                   (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v
        ),
        wb AS (
            SELECT raw.bkt,
                   (length(to_base(COALESCE(tgt.c, 0) + 1, 2))
                    - length(to_base(tt + v, 2)))
                   - (length(to_base(raw.c + 1, 2))
                      - length(to_base(tc + v, 2))) AS b
            FROM raw LEFT JOIN tgt USING (bkt), tot
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               CAST(sum(b) AS BIGINT) AS dsir_bits,
               CAST(CASE WHEN sum(b) >= 0 THEN 1 ELSE 0 END AS INT)
                   AS selected
        FROM wb0 JOIN wb USING (bkt)
        GROUP BY doc_id
    """,
)
def l6_dsir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 (production flow): DSIR selection against a PERSISTED
    hashed-bucket weight table — ``l6_dsir_select``'s 100 TB shape
    (VERDICT r6 item 3, the ``l7_contamination_scan`` precedent). The
    weight table is built once per target release ({DSIR_BUCKETS}
    fixed-width rows — broadcastable at ANY corpus size, unlike the
    word-level table whose vocabulary is Heaps-law-sized), then every
    corpus pass is bucket + broadcast-join + per-doc sum, map-side.
    The oracle recomputes the SAME md5-derived buckets in DuckDB;
    the xxhash64 default the library uses is pytest-locked to agree
    with word-level selection on ≥95% of documents
    (``test_curation.py``). ``spread_compute`` (r13): the md5-bucket
    derivation is per-token interpreted work over a 1-2-partition
    scan; spreading it measured 0.38 → 0.16 s at sf0.1 (no-op at
    cluster scale)."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    weights = _persisted_dsir_weights(
        spark, sf_dir, DSIR_BUCKETS, DSIR_MD5_BUCKET
    )
    return dsir_score_bucketed(
        _dsir_toks(docs), weights, DSIR_BUCKETS, DSIR_MD5_BUCKET
    )

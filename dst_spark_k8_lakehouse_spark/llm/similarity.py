"""Similarity search over embedding columns (SURVEY §2.12 L4).

Vectors live in an ``array<float>`` column (``embeddings.embedding``,
64-dim). Three tiers, from exact to approximate:

- **brute-force cosine top-k** (oracle-checked): broadcast the query
  vector, dot-product via higher-order functions (JVM, no Python),
  ``orderBy().limit()`` → ``TakeOrderedAndProject`` (partition-local
  top-k then driver merge of k·partitions candidates — the correct
  100 TB shape; never a global sort). One scorer at every corpus size:
  a numpy-GEMM ``mapInArrow`` twin lost to it at one query and won by
  under 10% at ten queries (sf1), so it was retired.
- **IVF** (inverted-file): assign vectors to their nearest centroid
  once (a narrow map + small broadcast join), search only the closest
  ``nprobe`` cells — the scale path: cuts scanned vectors by
  ~n_cells/nprobe at a measurable recall cost (pytest asserts recall
  against brute force).
- **sign-LSH bucketing** reuses the hyperplane family in
  ``dedup.l2_embed_neardup``.

All dot products cast float→double per element before multiplying and
fold left-to-right — the same IEEE operation sequence DuckDB's
``list_dot_product`` on ``DOUBLE[]`` performs, which is what lets a
float similarity score survive a cross-engine value-hash (plus a 1e-6
floor-truncation belt).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)


def dot(a: str, b: str) -> Column:
    return F.expr(DOT.format(a=a, b=b))


def norm(a: str) -> Column:
    return F.sqrt(F.expr(DOT.format(a=a, b=a)))


def _safe_div(num: Column, den: Column) -> Column:
    """0.0 on a zero denominator: a zero-norm embedding (padding row,
    failed embed call) must score 0, not kill the job — Spark 4's
    default ANSI mode raises on x/0 instead of returning inf."""
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def cosine(a: str, b: str) -> Column:
    return _safe_div(dot(a, b), norm(a) * norm(b))


def _query_cosine() -> Column:
    """1e6-floored cosine of ``embedding`` against a broadcast query
    ``qv`` whose norm ``qn`` was computed once on the query side — per
    corpus row only dot + own-norm remain (2 folds, not 3), the same
    IEEE ops as the oracle's per-row sqrt."""
    return (
        F.floor(
            1e6 * _safe_div(dot("embedding", "qv"), norm("embedding") * F.col("qn"))
        )
        / 1e6
    )


@query(
    "l4_cosine_topk",
    oracle="""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0)
        SELECT vec_id, label,
               CAST(floor(1e6 * list_dot_product(embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv)))) / 1e6
                    AS DOUBLE) AS cosine
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """,
)
def l4_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: brute-force cosine top-10 against the vec_id=0 query vector.

    The 1-row query side rides a broadcast nested-loop join (no
    shuffle); scoring is one JVM HOF pass (``_query_cosine``) at every
    corpus size; top-k is ``TakeOrderedAndProject``. Tiebreak on vec_id
    keeps the cut deterministic when truncated scores collide.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm("embedding").alias("qn")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _query_cosine().alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@query(
    "l4_batch_topk",
    oracle="""
        WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id >= 10),
             s AS (SELECT qid, vec_id, label,
                          floor(1e6 * list_dot_product(cv, qv)
                                / (sqrt(list_dot_product(cv, cv))
                                   * sqrt(list_dot_product(qv, qv)))) / 1e6
                              AS sim
                   FROM c CROSS JOIN q)
        SELECT qid, vec_id, CAST(sim AS DOUBLE) AS cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY sim DESC, vec_id) AS rk
              FROM s)
        WHERE rk <= 3
    """,
)
def l4_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: batched similarity search — top-3 neighbors for each of 10
    query vectors in ONE pass over the corpus.

    This is the shape real retrieval workloads take (queries arrive in
    batches, not singly): broadcast the whole query batch, score every
    (corpus row × query) in the map stage, then per-query top-k via
    ``WindowGroupLimit`` (rank ≤ k applied map-side before the shuffle).
    Corpus is scanned once regardless of batch size — at 100 TB the
    scan dominates, so batching divides its cost across all queries.

    Scoring is the same JVM HOF fold as ``l4_cosine_topk`` at every
    corpus size — no Python boundary, and the oracle's IEEE sequence.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        norm("embedding").alias("qn"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        emb.filter(F.col("vec_id") >= 10)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            _query_cosine().alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


def ivf_assign(vectors: DataFrame, n_cells: int = 8) -> DataFrame:
    """Assign each vector to its nearest 'centroid'.

    Centroid choice is deterministic: the first ``n_cells`` vectors by
    vec_id act as seeds (k-means|| would refine them; seeding is enough
    to exercise the partition-the-space/search-few-cells plan shape).
    The centroid table is tiny → broadcast join; argmin via
    ``row_number`` over (distance, cell) per vector.
    """
    from pyspark.sql import Window

    cents = vectors.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    scored = (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn("sim", cosine("embedding", "cv"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("sim"), F.asc("cell")
                )
            ),
        )
    )
    return scored.filter(F.col("rk") == 1).select(
        "vec_id", "label", "embedding", "cell"
    )


def build_ivf_index(
    vectors: DataFrame, index_path: str, n_cells: int = 8
):
    """Materialize the IVF index: cell assignments + precomputed norms,
    written as a versioned table PARTITIONED in storage by cell would be
    the cluster layout; locally the table carries the cell column and
    relies on predicate pushdown. Build cost is one pass; queries then
    touch nprobe/n_cells of the data (`query_ivf_index`)."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    assigned = ivf_assign(vectors, n_cells).withColumn(
        "norm", norm("embedding")
    )
    table = VersionedTable(vectors.sparkSession, index_path)
    # n_cells is INDEX state, not a query-time choice: persist it with
    # the snapshot so queries cannot probe with a mismatched cell count
    # (which would silently make some cells unreachable)
    table.create(assigned, props={"ivf_n_cells": n_cells})
    return table


def _open_ivf_index(spark: SparkSession, index_path: str):
    """(table, rows, cell count) of an index ``build_ivf_index`` wrote;
    the cell count comes from the newest commit that recorded one."""
    from dst_spark_k8_lakehouse_spark.plans import VersionedTable

    table = VersionedTable(spark, index_path)
    n_cells = table.latest_prop("ivf_n_cells")
    if n_cells is None:
        raise ValueError(
            f"no ivf_n_cells prop at {index_path} — not an IVF index "
            "built by build_ivf_index"
        )
    return table, table.read(), n_cells


def query_ivf_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Probe-path ANN query against a persisted IVF index: rank cells by
    centroid similarity (tiny driver-side list), scan only the nprobe
    best cells (pushed-down cell filter), brute-force within them.
    ``n_cells`` is read from the index's snapshot props (persisted by
    ``build_ivf_index``) — a caller-supplied value could silently
    desynchronize from the stored assignment and make cells
    unreachable. ``exclude_vec_id`` drops a known row (e.g. the query
    vector itself when it came from the corpus) BEFORE the top-k cut."""
    _table, index, n_cells = _open_ivf_index(spark, index_path)
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = index.filter(F.col("vec_id") < n_cells).select(
        "cell", F.col("embedding").alias("cv")
    )
    probe = [
        r.cell
        for r in cents.withColumn("qv", qv)
        .select("cell", cosine("cv", "qv").alias("sim"))
        .orderBy(F.desc("sim"), "cell")
        .limit(nprobe)
        .collect()
    ]
    scoped = index.filter(F.col("cell").isin(probe))
    if exclude_vec_id is not None:
        scoped = scoped.filter(F.col("vec_id") != exclude_vec_id)
    return (
        scoped.withColumn("qv", qv)
        .select(
            "vec_id",
            "label",
            (F.floor(1e6 * _safe_div(
                dot("embedding", "qv"), F.col("norm") * norm("qv")
            )) / 1e6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


# Per-process index cache for the probe-path query: (sf_dir) → (index
# path, vec_id=0 query vector). Build-once-query-many is the production
# IVF shape; the registry/bench contract is stateless (spark, sf_dir)
# calls, so the build memoizes here — the bench's warm pass pays the
# build, the timed pass measures the probe alone.
_IVF_PROBE_CACHE: dict[str, tuple[str, list[float]]] = {}


def _ivf_probe_setup(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[float]]:
    if sf_dir not in _IVF_PROBE_CACHE:
        import atexit
        import shutil
        import tempfile

        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == 0).head()
        if row is None:
            raise ValueError(
                f"embeddings at {sf_dir} has no vec_id=0 row to use as "
                "the probe query vector"
            )
        path = tempfile.mkdtemp(prefix="dst-ivf-index-")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_ivf_index(emb, path, n_cells=8)
        _IVF_PROBE_CACHE[sf_dir] = (path, [float(x) for x in row.embedding])
    return _IVF_PROBE_CACHE[sf_dir]


@query("l4_ann_ivf_probe")  # rows-only: ANN result set is approximate
def l4_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: the PRODUCTION IVF path — approximate top-10 against a
    persisted index (cell assignments + precomputed norms built once in
    ``build_ivf_index``). The query plans a cell-pruned scan: rank 8
    centroids driver-side (nprobe-row collect), read only the 2 best
    cells, brute-force within them against stored norms. Same result
    set as the inline ``l4_ann_ivf`` rebuild, at index-probe cost —
    this is the number that scales: query cost is nprobe/n_cells of the
    corpus regardless of corpus size."""
    path, qvec = _ivf_probe_setup(spark, sf_dir)
    return query_ivf_index(
        spark, path, qvec, k=10, nprobe=2, exclude_vec_id=0
    )


@query("l4_ann_ivf")  # rows-only: ANN result set is approximate by design
def l4_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: IVF approximate top-10 — probe the 2 cells nearest the query
    vector, brute-force only within them. At 100 TB the assignment is
    computed once and persisted partitioned by cell, so a query touches
    nprobe/n_cells of the data; here both steps run inline."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, n_cells=8)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    probe_cells = (
        cents.crossJoin(F.broadcast(q))
        .select("cell", cosine("cv", "qv").alias("sim"))
        .orderBy(F.desc("sim"), "cell")
        .limit(2)
        .select("cell")
    )
    return (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (F.floor(1e6 * cosine("embedding", "qv")) / 1e6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@query(
    "l4_ivf_recall",
    oracle="SELECT CAST(10 AS BIGINT) AS n_brute, TRUE AS overlap_ok",
)
def l4_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 recall contract: the IVF probe's top-10 must overlap the
    brute-force top-10 in ≥7 positions — the bound the recall pytest
    asserts, promoted to an oracle row. Everything is deterministic
    (centroids are the first 8 vectors, scores floored at 1e-6,
    vec_id tiebreaks), so a regression in cell assignment or probe
    pruning flips the boolean instead of passing as rows-only. The
    brute-force side itself is value-checked against DuckDB by
    ``l4_cosine_topk``'s own oracle."""
    approx = l4_ann_ivf(spark, sf_dir).select("vec_id")
    brute = l4_cosine_topk(spark, sf_dir).select("vec_id")
    overlap = brute.join(approx, "vec_id", "left_semi")
    return brute.agg(F.count("*").alias("n_brute")).crossJoin(
        overlap.agg((F.count("*") >= 7).alias("overlap_ok"))
    )


QUANT_LEVELS = 127  # symmetric int8: codes in [-127, 127]


def quantize_embeddings(vectors: DataFrame) -> DataFrame:
    """(vec_id, scale, codes) — per-vector symmetric int8 quantization,
    the 100 TB storage path for embedding corpora (4× smaller than
    float32, 8× smaller than the double math, and the form a GPU/ANN
    service ingests). Map-only; zero-norm vectors are dropped (no
    scale exists, same policy as the sign-LSH path).

    Codes use floor(x/scale) clamped to ±QUANT_LEVELS rather than
    round(): floor of an exact IEEE division is bit-reproducible
    across engines (round() half-tie rules differ), which is what
    makes the oracle below a value-match instead of a tolerance
    check. The reconstruction error bound is one code unit (< scale)
    instead of half a unit — immaterial for retrieval (see
    ``l4_quant_recall``) and a fair trade for a testable quantizer."""
    scale = (
        F.expr(
            "array_max(transform(embedding,"
            " x -> abs(CAST(x AS DOUBLE))))"
        )
        / QUANT_LEVELS
    )
    return (
        vectors.withColumn("scale", scale)
        .filter(F.col("scale") > 0)
        .withColumn(
            "codes",
            F.expr(
                "transform(embedding, x -> CAST(least(greatest("
                f"floor(CAST(x AS DOUBLE) / scale), {-QUANT_LEVELS}D),"
                f" {QUANT_LEVELS}D) AS INT))"
            ),
        )
        .select("vec_id", "scale", "codes")
    )


@query(
    "l4_embed_quantize",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / {QUANT_LEVELS}
                       AS scale
            FROM embeddings
        ),
        c AS (
            SELECT vec_id, scale,
                   list_transform(embedding, x -> CAST(least(greatest(
                       floor(CAST(x AS DOUBLE) / scale),
                       {-QUANT_LEVELS}), {QUANT_LEVELS}) AS INT))
                       AS codes
            FROM v WHERE scale > 0
        )
        SELECT vec_id,
               CAST(len(codes) AS INT) AS n_dims,
               floor(1e9 * scale) / 1e9 AS scale_q,
               CAST(list_sum(codes) AS BIGINT) AS sum_codes,
               CAST(list_max(codes) AS INT) AS max_code,
               CAST(list_min(codes) AS INT) AS min_code
        FROM c
    """,
)
def l4_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: int8 quantization audit — per vector, the quantization
    scale plus integer summaries of the code vector (dimension count,
    code sum / max / min). The summaries are scalars so the oracle
    value-matches without array-stringification ambiguity; the codes
    themselves are exercised end-to-end by ``l4_quant_recall``."""
    q = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.size("codes").cast("int").alias("n_dims"),
        (F.floor(1e9 * F.col("scale")) / 1e9).alias("scale_q"),
        F.expr("CAST(aggregate(codes, 0L, (acc, v) -> acc + v) AS BIGINT)")
        .alias("sum_codes"),
        F.array_max("codes").cast("int").alias("max_code"),
        F.array_min("codes").cast("int").alias("min_code"),
    )


@query(
    "l4_quant_recall",
    oracle="SELECT CAST(10 AS BIGINT) AS n_brute, TRUE AS overlap_ok",
)
def l4_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 recall contract: retrieval over DEQUANTIZED int8 vectors
    (full-precision query, the standard asymmetric setup) must overlap
    the exact top-10 in ≥8 positions. Everything is deterministic
    (floor-quantized codes, floored scores, vec_id tiebreaks), so a
    quantizer regression flips the boolean."""
    emb = load_table(spark, sf_dir, "embeddings")
    deq = quantize_embeddings(emb.filter(F.col("vec_id") != 0)).select(
        "vec_id",
        F.expr(
            "transform(codes, c -> CAST(c AS DOUBLE) * scale)"
        ).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm("embedding").alias("qn")
    )
    approx = (
        deq.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _query_cosine().alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    brute = l4_cosine_topk(spark, sf_dir).select("vec_id")
    overlap = brute.join(approx, "vec_id", "left_semi")
    return brute.agg(F.count("*").alias("n_brute")).crossJoin(
        overlap.agg((F.count("*") >= 8).alias("overlap_ok"))
    )


def append_to_ivf_index(new_vectors: DataFrame, index_path: str):
    """Incremental IVF maintenance: assign a batch of NEW vectors to
    the index's EXISTING centroids and append them — O(batch), never a
    rebuild. The ANN twin of ``incremental_neardup``: state is built
    once, daily ingest extends it.

    Centroids stay fixed (the standard serving-time policy; drifted
    cells are rebalanced by an offline rebuild, same as any IVF
    service). New vec_ids must not collide with existing rows — a
    reused id would shadow a stored vector — so collisions raise
    (checked with one pushed-down id filter over the index; the id
    list is batch-sized by construction)."""
    table, index, n_cells = _open_ivf_index(
        new_vectors.sparkSession, index_path
    )
    new_ids = [r.vec_id for r in new_vectors.select("vec_id").collect()]
    if index.filter(F.col("vec_id").isin(new_ids)).limit(1).count():
        raise ValueError(
            "vec_id collision: the batch reuses ids already in the "
            f"index at {index_path}"
        )
    cents = index.filter(F.col("vec_id") < n_cells).select(
        F.col("cell"), F.col("embedding").alias("cv")
    )
    from pyspark.sql import Window

    assigned = (
        new_vectors.crossJoin(F.broadcast(cents))
        .withColumn("sim", cosine("embedding", "cv"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("sim"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "label",
            "embedding",
            "cell",
            norm("embedding").alias("norm"),
        )
    )
    table.append(assigned)
    return table

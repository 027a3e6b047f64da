"""Property-based tests (hypothesis) for the dedup layer: signature
determinism under repartitioning, signatures equal to the pure-Python
reference on hostile text, exact-dedup idempotence, and chunking
coverage on arbitrary generated documents — invariants the fixed
testdata can't probe."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark import registry
from dst_spark_k8_lakehouse_spark.llm import curation, dedup
from dst_spark_k8_lakehouse_spark.localrel import local_frame
from tests import minhash_reference

registry.load_all()

# words: mixed-case, non-ASCII letters, no whitespace — a " "-joined doc
# splits back into exactly its words under every tokenizer here
word = st.text(alphabet="abcdefghXYZéΣİẞA", min_size=1, max_size=6)
doc = st.lists(word, min_size=0, max_size=30).map(" ".join)

# hostile text for the persisted-signature contract: every Python
# str.split() whitespace character, including those Java's \s does not
# match (NBSP, Unicode spaces, line and paragraph separators, the
# \x1c-\x1f separators); case mappings that change length or depend on
# context; whitespace-only and empty strings; nulls
WHITESPACE = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
gap = st.text(alphabet=WHITESPACE, min_size=1, max_size=2)
hostile_word = st.text(alphabet="abcdeXYZΣİẞA", min_size=1, max_size=4)
hostile_doc = st.one_of(
    st.none(),
    st.just(""),
    gap,
    st.lists(st.tuples(gap, hostile_word), max_size=8).map(
        lambda parts: "".join(g + w for g, w in parts)
    ),
)


def _docs_df(spark, texts, n_parts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(n_parts)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(texts=st.lists(doc, min_size=1, max_size=12), n_parts=st.integers(1, 6))
def test_minhash_signatures_partition_invariant(spark, texts, n_parts):
    """Signatures must be a pure function of the text — identical for
    any partitioning (the property that lets a cluster of any size
    reproduce and incrementally extend a persisted signature table)."""
    a = {
        r.doc_id: (tuple(r.mh), tuple(r.shash))
        for r in dedup.signature_table(_docs_df(spark, texts, 1)).collect()
    }
    b = {
        r.doc_id: (tuple(r.mh), tuple(r.shash))
        for r in dedup.signature_table(
            _docs_df(spark, texts, n_parts)
        ).collect()
    }
    assert a == b
    # identical texts ⇒ identical signatures (dedup soundness)
    by_text: dict[str, set] = {}
    for i, t in enumerate(texts):
        if i in a:
            by_text.setdefault(t, set()).add(a[i])
    assert all(len(sigs) == 1 for sigs in by_text.values())


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(texts=st.lists(doc, min_size=1, max_size=15))
def test_exact_dedup_keeps_min_id_per_text(spark, texts):
    """One survivor per distinct text, and it is always the smallest
    doc_id (the deterministic keep rule dropDuplicates lacks)."""
    df = _docs_df(spark, texts, 3)
    hashed = df.select("doc_id", F.sha2("text", 256).alias("h"))
    kept = hashed.groupBy("h").agg(F.min("doc_id").alias("keep"))
    expected = {}
    for i, t in enumerate(texts):
        expected.setdefault(t, i)  # first occurrence = min id
    assert {r.keep for r in kept.collect()} == set(expected.values())


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(tokens=st.lists(word, min_size=1, max_size=200))
def test_chunking_covers_any_length(spark, tokens):
    """For any token count n: ceil-div chunk count, full coverage, and
    concatenating stride-prefixes rebuilds the document."""
    text = " ".join(tokens)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    df.createOrReplaceTempView("_hyp_doc")
    chunks = (
        df.select(
            "doc_id",
            F.split(F.trim("text"), " ").alias("tok"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(0, size(tok) - 1, {curation.STRIDE})")
            ).alias("s"),
            "tok",
        )
        .select(
            (F.col("s") / curation.STRIDE).cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.expr(f"slice(tok, s + 1, {curation.CHUNK})")
            ).alias("chunk_text"),
        )
        .orderBy("chunk_idx")
        .collect()
    )
    n = len(tokens)
    assert len(chunks) == (n - 1) // curation.STRIDE + 1
    parts = [c.chunk_text.split(" ") for c in chunks]
    rebuilt = parts[0] + [
        t
        for p in parts[1:]
        for t in p[curation.CHUNK - curation.STRIDE :]
    ]
    assert rebuilt == tokens


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(texts=st.lists(doc, min_size=1, max_size=12))
def test_passage_dedup_preserves_unique_content(spark, texts):
    """On arbitrary generated docs: the passage count matches the
    aligned windowing, and clean_text is always the in-order concat
    of a subset of the doc's own passages (never reordered, never
    text from another doc)."""
    df = _docs_df(spark, texts, 3)
    out = {
        r.doc_id: r
        for r in curation.passage_dedup_report(df).collect()
    }
    P = curation.PASSAGE
    for i, t in enumerate(texts):
        toks = t.strip().split(" ")
        passages = [
            " ".join(toks[s : s + P]) for s in range(0, len(toks), P)
        ]
        r = out[i]
        assert r.n_passages == len(passages)
        # clean_text must be the in-order concat of a subset of the
        # doc's passages: walk passages, consuming clean_text
        ct = r.clean_text
        pos = 0
        for p in passages:
            if ct[pos : pos + len(p)] == p and (
                pos + len(p) == len(ct) or ct[pos + len(p)] == " "
            ):
                pos += len(p) + 1
        assert pos >= len(ct), (ct, passages)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=10,
    )
)
def test_quantization_roundtrip_error_bound_property(spark, vecs):
    """For arbitrary float vectors: every dequantized element is
    within one code unit of the original and codes stay in
    [-QUANT_LEVELS, QUANT_LEVELS]."""
    from dst_spark_k8_lakehouse_spark.llm import similarity

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.quantize_embeddings(df).collect()
    originals = {i: v for i, v in enumerate(vecs)}
    for r in rows:
        assert r.scale > 0
        for c, x in zip(r.codes, originals[r.vec_id]):
            assert -similarity.QUANT_LEVELS <= c <= similarity.QUANT_LEVELS
            assert abs(c * r.scale - float(x)) <= r.scale * (1 + 1e-9)


@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(hostile_doc, min_size=1, max_size=12),
    n_parts=st.integers(1, 3),
)
@example(texts=["a\xa0b c d"], n_parts=1)
@example(texts=["", None, "two tokens", "one two three"], n_parts=2)
def test_signature_table_matches_reference(spark, texts, n_parts):
    """``signature_table`` rows are persisted SIG_VERSION state: on
    hostile text (Unicode whitespace, case mappings, empty strings,
    nulls) they must equal the pure-Python reference doc by doc — the
    same docs dropped (fewer than 3 tokens), the same minhash signature
    and the same shingle-hash set, at any input size or partitioning.
    The docs are a ``LocalRelation``, so Catalyst knows their (tiny)
    size, as it does for a real small table."""
    docs = local_frame(
        spark, list(enumerate(texts)), "doc_id long, text string"
    ).repartition(n_parts)
    got = {
        r.doc_id: (tuple(r.mh), tuple(r.shash))
        for r in dedup.signature_table(docs).collect()
    }
    want = {i: minhash_reference.signature(t) for i, t in enumerate(texts)}
    assert got == {i: sig for i, sig in want.items() if sig is not None}

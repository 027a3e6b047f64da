"""Result checks: order-insensitive value digests of query results, and
Python references for the query ids that have no DuckDB oracle.

A result is reduced to ``(rows, digest)``: columns sorted by name, each
column brought to one canonical dtype (numbers and booleans as float64,
temporal values as epoch microseconds, everything else as text), every
row hashed, and the row hashes summed modulo 2**64. Row order does not
change the digest; any changed value, column name or row count does.
The same function digests the Spark result and the DuckDB oracle result,
so integer-vs-float or decimal-vs-double differences between the two
engines do not count as mismatches, as in ``tests/oracle.py``.

``LshReference`` and ``IvfReference`` check the MinHash-LSH and IVF
results, which DuckDB cannot compute, against the generated documents
and embeddings.
"""

from __future__ import annotations

import datetime as dt
import decimal
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa

_NULL = "\x00null"


def _text(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return _NULL
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_text(k)}:{_text(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_, int, np.integer, float, np.floating, decimal.Decimal)):
        return repr(float(v) + 0.0)
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp)):
        return str(pd.Timestamp(v).as_unit("us").value)
    return str(v)


def _canonical(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64").where(s.notna(), -(2**63))
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return s.astype("float64") + 0.0  # -0.0 -> 0.0
    vals = s.dropna()
    if len(vals) and all(
        isinstance(v, (bool, np.bool_, int, np.integer, float, np.floating, decimal.Decimal))
        for v in vals
    ):
        return s.astype("float64") + 0.0
    if len(vals) and all(isinstance(v, (dt.datetime, dt.date, pd.Timestamp)) for v in vals):
        return _canonical(pd.to_datetime(s))
    return s.map(_text).astype(object)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """``(row count, order-insensitive value digest)`` of a frame."""
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: _canonical(df[c]).reset_index(drop=True) for c in cols})
    value = zlib.crc32("\x1f".join(map(str, cols)).encode())
    if len(canon) and cols:
        rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
        value = (value + int(rows.sum(dtype=np.uint64))) & (2**64 - 1)
    return len(df), value


# ---------------------------------------------------------------------------
# references for the registry ids that have no DuckDB oracle, computed in
# Python from the generated inputs


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed left to right in float64, the order
    of the engine's ``aggregate(zip_with(...))`` fold."""
    return np.cumsum(a.astype(np.float64) * b.astype(np.float64), axis=-1)[..., -1]


def shingle_hashes(text: str, n: int = 3) -> frozenset[int]:
    """CRC-32 of every ``n``-token shingle of the lower-cased text."""
    toks = text.lower().split()
    return frozenset(zlib.crc32(" ".join(toks[i:i + n]).encode()) for i in range(len(toks) - n + 1))


class LshReference:
    """What a MinHash-LSH near-duplicate pass over ``documents`` plus its
    planted copies (every tenth document again, id + ``dup_offset``)
    must return: every pair of documents with identical shingle sets
    (Jaccard 1 collides in every band), and for every pair it returns,
    the exact Jaccard of the two shingle sets, at least ``threshold``."""

    def __init__(self, docs: pd.DataFrame, dup_offset: int, threshold: float = 0.5):
        texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        texts.update({i + dup_offset: t for i, t in list(texts.items()) if i % 10 == 0})
        self.sets = {i: s for i, t in texts.items() if (s := shingle_hashes(t))}
        self.threshold = threshold
        groups: dict[frozenset[int], list[int]] = {}
        for i, s in self.sets.items():
            groups.setdefault(s, []).append(i)
        self.identical = {(a, b) for ids in groups.values() for a in ids for b in ids if a < b}

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.sets[a], self.sets[b]
        return np.floor(1e6 * len(sa & sb) / len(sa | sb)) / 1e6

    def check(self, pdf: pd.DataFrame) -> str | None:
        rows = list(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist(), pdf["jaccard"].tolist()))
        pairs = {(a, b) for a, b, _j in rows}
        if len(pairs) != len(rows):
            return f"{len(rows) - len(pairs)} duplicate pairs"
        missing = self.identical - pairs
        if missing:
            return f"{len(missing)} of {len(self.identical)} identical-document pairs missing"
        for a, b, j in rows:
            if not (a < b and a in self.sets and b in self.sets):
                return f"pair ({a}, {b}) is not an ordered pair of known documents"
            ref = self.jaccard(a, b)
            if ref < self.threshold or abs(ref - j) > 1e-9:
                return f"pair ({a}, {b}): jaccard {j}, exact {ref}"
        return None


class IvfReference:
    """What the IVF probe must return for the ``vec_id`` 0 query: the
    ``k`` vectors (other than the query) most cosine-similar to it among
    the ``nprobe`` cells whose centroids are closest to it, where the
    centroids are the first ``n_cells`` vectors and every vector belongs
    to its most similar centroid. Cosines are floored to 1e-6."""

    def __init__(self, emb: pa.Table, k: int, n_cells: int = 8, nprobe: int = 2):
        ids = emb.column("vec_id").to_numpy()
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.k = k
        self.label = dict(zip(ids.tolist(), emb.column("label").to_numpy().tolist()))
        order = np.argsort(ids)
        ids, vecs = ids[order], vecs[order]
        norms = np.sqrt(_seq_dot(vecs, vecs))
        cents = vecs[:n_cells]
        sims = np.stack([_seq_dot(vecs, c) / (norms * norms[j]) for j, c in enumerate(cents)], axis=1)
        cell = np.argmax(sims, axis=1)  # first maximum: ties go to the lower cell
        q = vecs[0]
        probe = np.argsort(-sims[0], kind="stable")[:nprobe]
        cos = np.floor(1e6 * (_seq_dot(vecs, q) / (norms * norms[0]))) / 1e6
        scoped = np.isin(cell, probe) & (ids != 0)
        self.cosine = dict(zip(ids[scoped].tolist(), cos[scoped].tolist()))
        self.kth = np.sort(cos[scoped])[::-1][k - 1]

    def check(self, pdf: pd.DataFrame) -> str | None:
        if len(pdf) != self.k:
            return f"rows {len(pdf)} != {self.k}"
        ids = pdf["vec_id"].tolist()
        if len(set(ids)) != len(ids):
            return "duplicate vec_id"
        for vid, label, c in zip(ids, pdf["label"].tolist(), pdf["cosine"].tolist()):
            ref = self.cosine.get(vid)
            if ref is None:
                return f"vec_id {vid} is not in a probed cell"
            if label != self.label[vid] or abs(ref - c) > 2e-6 or ref < self.kth - 2e-6:
                return f"vec_id {vid}: label {label}, cosine {c}; expected {self.label[vid]}, {ref}"
        return None

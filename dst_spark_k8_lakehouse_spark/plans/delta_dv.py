"""DELETION-VECTOR row-level deletes on NATIVE Delta tables —
jar-free merge-on-read per the public Delta protocol.

The Delta-side counterpart of ``plans/iceberg_mor``: copy-on-write
DML (``plans/delta_dml``) rewrites every file containing a matching
row; a deletion-vector DELETE instead commits, per touched file, a
compressed bitmap of dropped row indexes (``plans/roaring`` —
RoaringBitmapArray, conformance-tested against the reference
implementation) and re-adds the file with the descriptor attached.
Cost: one filter scan + a matched-rows-sized bitmap write — no data
file is rewritten. Readers subtract the bitmaps at scan time
(``delta_reader``'s ``_metadata.row_index`` anti-join), exactly how
the Delta runtime's DV reads work (reference stack: Delta 4.0 jars,
``scripts/download-jars.sh:80-83``; the protocol feature is
``deletionVectors``, minReaderVersion 3 / minWriterVersion 7).

Descriptor storage kinds (all three read; writes use "u"):

- ``u``: pathOrInlineDv = optional prefix + Z85(16-byte uuid); the
  bitmap lives in ``deletion_vector_<uuid>.bin`` under the table
  root, size+CRC32-framed (``roaring.append_dv_blobs``); one .bin per
  commit holds every touched file's bitmap back to back.
- ``p``: absolute path to such a file.
- ``i``: the bitmap Z85-inlined into the log itself.

A second DELETE touching an already-vectored file MERGES bitmaps
(union) — the descriptor in the newest add action always carries the
file's complete deleted set, so replay state stays one-add-per-file.

``materialize_dvs`` rewrites vectored files without their deleted
rows (``dataChange: false`` — a reorganization streams see through,
like OPTIMIZE), bounding read-side anti-join work and re-enabling the
copy-on-write DML / compaction paths, which refuse to run over live
DVs rather than resurrect deleted rows.

Scale: bitmaps are built EXECUTOR-side — matched positions shuffle on
their 8-byte file key, each file's bitmap is serialized inside an
``applyInPandas`` stage (unioning the file's existing bitmap from
shared storage there too), and the driver receives one compressed
KB-scale blob per touched file, never a position row. A
delete-10%-of-100-TB commit therefore costs the driver
O(touched files × compressed bitmap bytes), not O(matched rows) —
the wide-delete case ``test_delta_dv.py`` pins with a bounded-driver
fixture. The read-side anti-join keys on the deleted set, broadcast
while small.
"""

from __future__ import annotations

import os
import uuid as uuid_mod
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import (
    delta_reader,
    delta_writer,
    roaring,
)


def dv_file_path(table: str, descriptor: dict[str, Any]) -> str | None:
    """Absolute path of the .bin behind a ``u``/``p`` descriptor
    (None for inline)."""
    st = descriptor["storageType"]
    if st == "i":
        return None
    if st == "p":
        return delta_reader._strip_uri(descriptor["pathOrInlineDv"])
    if st == "u":
        enc = descriptor["pathOrInlineDv"]
        prefix, tail = enc[:-20], enc[-20:]
        u = uuid_mod.UUID(bytes=roaring.z85_decode(tail))
        name = f"deletion_vector_{u}.bin"
        return os.path.join(table, *filter(None, [prefix, name]))
    raise NotImplementedError(f"DV storageType {st!r} (u/p/i only)")


def dv_positions(table: str, descriptor: dict[str, Any]) -> list[int]:
    """Deleted row indexes of one descriptor, cardinality-checked."""
    if descriptor["storageType"] == "i":
        data = roaring.z85_decode(descriptor["pathOrInlineDv"])
        if len(data) < int(descriptor["sizeInBytes"]):
            raise ValueError(
                "inline DV shorter than descriptor sizeInBytes"
            )
        data = data[: int(descriptor["sizeInBytes"])]
    else:
        data = roaring.read_dv_blob(
            dv_file_path(table, descriptor),
            int(descriptor["offset"]),
            int(descriptor["sizeInBytes"]),
        )
    positions = roaring.deserialize_rbm_array(data)
    if len(positions) != int(descriptor["cardinality"]):
        raise ValueError(
            f"DV cardinality {descriptor['cardinality']} != decoded "
            f"{len(positions)} positions"
        )
    return positions


def _protocol_action(state: dict) -> dict[str, Any] | None:
    """The protocol-upgrade action a DV commit needs, or None if the
    table already declares the feature. Existing implied features
    (column mapping) are carried into the feature lists — a v3
    protocol must name every feature in use."""
    p = state.get("protocol") or {}
    feats = set(p.get("readerFeatures") or [])
    if p.get("minReaderVersion", 1) >= 3 and "deletionVectors" in feats:
        return None
    mode = (state["metaData"].get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    reader_feats = {"deletionVectors"} | feats
    writer_feats = {"deletionVectors"} | set(
        p.get("writerFeatures") or []
    )
    if mode != "none":
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }
    }


def delete_where_dv(
    spark: SparkSession, table: str, condition: str
) -> int:
    """``DELETE FROM table WHERE condition`` as a deletion-vector
    commit: matched rows are resolved to per-file row indexes through
    one scan of the CURRENT visible rows (existing DVs already
    subtracted, so re-deleting is a no-op), unioned into each touched
    file's existing bitmap EXECUTOR-side (per-file ``applyInPandas``
    bitmap build — the driver only ever sees compressed blobs), and
    published as remove+re-add actions with descriptors — no data
    file rewritten. Returns the committed version, or -1 on a
    no-match no-op."""
    state = delta_reader._replay(spark, table, None)
    rel_by_norm = {}
    for rel in state["files"]:
        absp = rel if os.path.isabs(rel) else os.path.join(table, rel)
        rel_by_norm[os.path.normpath(absp)] = rel
    # existing descriptors, keyed the way the executors see the file —
    # metadata-sized closure state (path/offset/size per vectored file)
    old_by_rel = {
        rel: a["deletionVector"]
        for rel, a in state["files"].items()
        if a.get("deletionVector")
    }
    old_spans = {
        rel: (dv_file_path(table, d), int(d["offset"]),
              int(d["sizeInBytes"]))
        if d["storageType"] != "i" else (None, 0, 0)
        for rel, d in old_by_rel.items()
    }
    old_inline = {
        rel: d["pathOrInlineDv"]
        for rel, d in old_by_rel.items() if d["storageType"] == "i"
    }
    df = delta_reader.read_delta(spark, table, with_row_identity=True)

    def _build(pdf):
        """Per-file bitmap build, EXECUTOR-side: positions never leave
        the executor as rows — only the compressed (KB-scale) blob
        does. Unions the file's existing bitmap here too (the old blob
        is read from the table's shared storage)."""
        import pandas as pd
        from urllib.parse import unquote as _unq

        import re as _re

        f = _unq(pdf["f"].iloc[0])
        f = _re.sub(r"^file:(//)?", "", f)
        rel = rel_by_norm[os.path.normpath(f)]
        positions = set(int(p) for p in pdf["p"].tolist())
        if rel in old_inline:
            positions |= set(
                roaring.deserialize_rbm_array(
                    roaring.z85_decode(old_inline[rel])
                )
            )
        elif rel in old_spans:
            path, off, size = old_spans[rel]
            positions |= set(
                roaring.deserialize_rbm_array(
                    roaring.read_dv_blob(path, off, size)
                )
            )
        blob = roaring.serialize_rbm_array(sorted(positions))
        return pd.DataFrame(
            {"rel": [rel], "blob": [blob], "card": [len(positions)]}
        )

    from dst_spark_k8_lakehouse_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    built = (
        df.where(condition)
        .select(
            F.col(delta_reader.ROW_FILE).alias("f"),
            F.col(delta_reader.ROW_POS).alias("p"),
        )
        .groupBy("f")
        .applyInPandas(_build, "rel string, blob binary, card long")
        .collect()  # one compressed blob per touched file, never rows
    )
    if not built:
        return -1
    by_rel = {r["rel"]: r for r in built}
    new_sets = {rel: int(by_rel[rel]["card"]) for rel in by_rel}
    rels = sorted(by_rel)
    blobs = [bytes(by_rel[rel]["blob"]) for rel in rels]
    dv_uuid = uuid_mod.uuid4()
    bin_path = os.path.join(table, f"deletion_vector_{dv_uuid}.bin")
    spans = roaring.append_dv_blobs(bin_path, blobs)
    import time

    now = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    proto = _protocol_action(state)
    if proto:
        actions.append(proto)
    for rel, (offset, size) in zip(rels, spans):
        old_add = state["files"][rel]
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
        )
        new_add = dict(old_add)
        new_add["dataChange"] = True
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": roaring.z85_encode(dv_uuid.bytes),
            "offset": offset,
            "sizeInBytes": size,
            "cardinality": new_sets[rel],
        }
        actions.append({"add": new_add})
    actions.append(delta_writer._commit_info("DELETE"))
    return delta_writer._commit_from_state(
        spark, table, state, actions, "DV DELETE"
    )


def materialize_dvs(spark: SparkSession, table: str) -> int:
    """Rewrite every DV-carrying file without its deleted rows and
    drop the descriptors — ``dataChange: false``, a reorganization
    (what real OPTIMIZE does on vectored tables). Re-enables the
    copy-on-write DML and compaction paths. Returns the committed
    version, or -1 if the table has no DVs."""
    import time

    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    state = delta_reader._replay(spark, table, None)
    from dst_spark_k8_lakehouse_spark.plans import delta_rowtracking

    if delta_rowtracking.enabled(state):
        raise NotImplementedError(
            "materialize_dvs on a row-tracked table would reassign "
            "row ids (file rewrite); keep the vectors — reads "
            "subtract them and ids stay stable"
        )
    vectored = {
        rel: a for rel, a in state["files"].items()
        if a.get("deletionVector")
    }
    if not vectored:
        return -1
    now = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    for rel, a in sorted(vectored.items()):
        absp = rel if os.path.isabs(rel) else os.path.join(table, rel)
        dropped = dv_positions(table, a["deletionVector"])
        kept = (
            spark.read.parquet(absp)
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(
                # local_frame: no-job broadcast build (r13; an RDD-
                # scan frame costs a Python-worker job per broadcast)
                F.broadcast(
                    local_frame(
                        spark, [(int(p),) for p in dropped], "__pos long"
                    )
                ),
                "__pos",
                "left_anti",
            )
            .drop("__pos")
        )
        adds = delta_writer._write_data_files(kept, table)
        pv = a.get("partitionValues") or {}
        prefix = os.path.dirname(rel)
        for new in adds:
            new["add"]["partitionValues"] = pv
            new["add"]["dataChange"] = False
            if prefix:
                nrel = f"{prefix}/{new['add']['path']}"
                dst = os.path.join(table, *nrel.split("/"))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(
                    os.path.join(table, new["add"]["path"]), dst
                )
                new["add"]["path"] = nrel
        actions += adds
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
        )
    actions.append(delta_writer._commit_info("OPTIMIZE"))
    return delta_writer._commit_from_state(
        spark, table, state, actions, "DV materialization",
        check_meta=False,
    )


def dv_stats(spark: SparkSession, table: str) -> dict[str, int]:
    """Driver-side health numbers (no data scan): vectored files and
    total deleted-row cardinality — what a maintenance scheduler keys
    ``materialize_dvs`` off."""
    state = delta_reader._replay(spark, table, None)
    vectored = [
        a["deletionVector"]
        for a in state["files"].values()
        if a.get("deletionVector")
    ]
    return {
        "data_files": len(state["files"]),
        "vectored_files": len(vectored),
        "deleted_rows": sum(int(d["cardinality"]) for d in vectored),
    }

"""Both Delta checkpoint writers build the ``add`` column column by
column (``delta_writer._checkpoint_add_table``); what they write must
read back Arrow-equal, row group for row group, to the row-wise
reference in ``tests/delta_reference.py`` — across deletion vectors
(one without ``offset``), tags, row-tracking fields, null and absent
partition values, and next to ``txn`` / ``domainMetadata`` rows."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from dst_spark_k8_lakehouse_spark.plans import delta_columnar
from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr
from dst_spark_k8_lakehouse_spark.plans import delta_writer as dw
from tests import delta_reference as ref


def _add(i: int) -> dict:
    a = {
        "path": f"ds=d{i % 3}/part-{i:04d}.parquet",
        "partitionValues": {"ds": f"d{i % 3}"},
        "size": 1000 + i,
        "modificationTime": 1_700_000_000_000 + i,
        "dataChange": True,
        "stats": json.dumps({"numRecords": i}),
    }
    if i % 4 == 1:
        a["deletionVector"] = {
            "storageType": "u", "pathOrInlineDv": f"ab{i:018d}",
            "offset": 4 * i, "sizeInBytes": 40, "cardinality": i,
        }
    if i % 4 == 3:  # inline DVs carry no offset
        a["deletionVector"] = {
            "storageType": "i", "pathOrInlineDv": f"wi5b=0000{i:06d}",
            "sizeInBytes": 30, "cardinality": 2,
        }
    if i % 5 == 0:
        a["tags"] = {"INSERTION_TIME": str(i)}
    if i % 3 == 0:
        a["baseRowId"] = 100 * i
        a["defaultRowCommitVersion"] = i // 5
    if i % 7 == 0:
        a["partitionValues"] = {"ds": None}
    if i % 11 == 0:
        del a["partitionValues"], a["modificationTime"], a["stats"]
    return a


def _log(tmp_path, name: str, n_adds: int = 23) -> str:
    """A fabricated log: adds of every shape over three commits, one
    remove, txn watermarks and live plus removed domain metadata."""
    table = str(tmp_path / name)
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "ds", "type": "string", "nullable": True, "metadata": {}},
    ]}
    commits = [
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
         {"metaData": {"id": "t", "format": {"provider": "parquet",
                                             "options": {}},
                       "schemaString": json.dumps(schema),
                       "partitionColumns": ["ds"], "configuration": {},
                       "createdTime": 0}}],
        [{"add": _add(i)} for i in range(n_adds // 2)]
        + [{"txn": {"appId": "a", "version": 3}},
           {"domainMetadata": {"domain": "gone", "configuration": "{}",
                               "removed": False}}],
        [{"add": _add(i)} for i in range(n_adds // 2, n_adds)]
        + [{"remove": {"path": _add(2)["path"], "deletionTimestamp": 0,
                       "dataChange": True}},
           {"txn": {"appId": "b", "version": 7}},
           {"domainMetadata": {"domain": "gone", "configuration": "{}",
                               "removed": True}},
           {"domainMetadata": {"domain": "delta.clustering",
                               "configuration": '{"clusteringColumns":[]}',
                               "removed": False}}],
    ]
    for v, actions in enumerate(commits):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return table


def _row_groups(pf: pq.ParquetFile) -> list[int]:
    return [pf.metadata.row_group(i).num_rows
            for i in range(pf.metadata.num_row_groups)]


def test_classic_checkpoint_equals_rowwise_reference(spark, tmp_path,
                                                     monkeypatch):
    monkeypatch.setattr(dw, "_CHECKPOINT_CHUNK", 5)
    table = _log(tmp_path, "classic")
    state = dr._replay(spark, table, None)
    paths = sorted(state["files"])
    v = dw.write_checkpoint(spark, table)
    pf = pq.ParquetFile(
        os.path.join(table, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    schema = pf.schema_arrow
    # row group 0: protocol, metaData, two txn, one live domain
    head = pf.read_row_group(0)
    assert head.num_rows == 5 and head["add"].null_count == 5
    assert head["txn"].drop_null().to_pylist() == [
        {"appId": "a", "version": 3}, {"appId": "b", "version": 7}]
    assert [d["domain"] for d in head["domainMetadata"].drop_null()
            .to_pylist()] == ["delta.clustering"]
    # then one row group per chunk of adds, the last one short
    chunks = [paths[i:i + 5] for i in range(0, len(paths), 5)]
    assert _row_groups(pf) == [5, 5, 5, 5, 5, 2]
    for g, chunk in enumerate(chunks, start=1):
        got = pf.read_row_group(g)
        assert got.equals(ref.add_table(state["files"], chunk, schema))


def test_v2_sidecars_equal_rowwise_reference(spark, tmp_path):
    for sidecar_files in (3, 30):  # 30: more parts than adds
        table = _log(tmp_path, f"v2_{sidecar_files}")
        state = dr._replay(spark, table, None)
        paths = sorted(state["files"])
        v = dw.write_checkpoint_v2(spark, table,
                                   sidecar_files=sidecar_files)
        log = os.path.join(table, "_delta_log")
        (top,) = [f for f in os.listdir(log)
                  if f.startswith(f"{v:020d}.checkpoint.")]
        top_tbl = pq.read_table(os.path.join(log, top))
        assert delta_columnar.is_v2_top(os.path.join(log, top))
        assert top_tbl["txn"].drop_null().to_pylist() == [
            {"appId": "a", "version": 3}, {"appId": "b", "version": 7}]
        sidecars = [s["path"] for s in
                    top_tbl["sidecar"].drop_null().to_pylist()]
        assert len(sidecars) == sidecar_files
        chunk = -(-len(paths) // sidecar_files)
        for i, name in enumerate(sidecars):
            pf = pq.ParquetFile(os.path.join(log, "_sidecars", name))
            want = ref.add_table(state["files"],
                                 paths[i * chunk:(i + 1) * chunk],
                                 pf.schema_arrow)
            pq.write_table(want, str(tmp_path / "want.parquet"))
            assert _row_groups(pf) == _row_groups(
                pq.ParquetFile(str(tmp_path / "want.parquet")))
            assert pf.read().equals(want)


def test_v2_upgrade_replays_the_log_once(spark, tmp_path, monkeypatch):
    """The protocol-upgrade commit is applied to the replayed state in
    memory; the log is replayed again only when a racing commit moved
    the head past the upgrade's version."""
    replays = []
    real = dr._replay

    def counting(*a, **kw):
        replays.append(a[1])
        return real(*a, **kw)

    monkeypatch.setattr(dr, "_replay", counting)
    table = _log(tmp_path, "once")
    v = dw.write_checkpoint_v2(spark, table, sidecar_files=2)
    assert v == 3 and len(replays) == 1
    state = real(spark, table, None)  # through the new checkpoint
    assert "v2Checkpoint" in state["protocol"]["readerFeatures"]
    assert len(state["files"]) == 22

    # a benign commit (a txn watermark) races in before the upgrade:
    # the upgrade lands one version later and the state is re-replayed
    table = _log(tmp_path, "race")
    real_action = dw._v2_protocol_action

    def racing(state):
        with open(os.path.join(table, "_delta_log",
                               f"{3:020d}.json"), "w") as fh:
            fh.write(json.dumps({"txn": {"appId": "c", "version": 1}}))
        return real_action(state)

    monkeypatch.setattr(dw, "_v2_protocol_action", racing)
    replays.clear()
    v = dw.write_checkpoint_v2(spark, table, sidecar_files=2)
    assert v == 4
    assert len(replays) == 3  # first, the conflict check, the re-replay
    assert real(spark, table, None)["txns"] == {"a": 3, "b": 7, "c": 1}

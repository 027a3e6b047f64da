"""Reference checkpoint-``add`` builder for the tests: the row-wise
construction (one dict per live file, then ``pa.Table.from_pylist``)
that ``delta_writer._checkpoint_add_table``'s column-wise builder is
pinned against."""

from __future__ import annotations

from typing import Any

import pyarrow as pa


def checkpoint_add_dict(path: str, a: dict[str, Any]) -> dict[str, Any]:
    """One checkpoint ``add`` struct (spec: ``dataChange: false``;
    stats, tags, DV descriptors and row-tracking fields survive)."""
    d = a.get("deletionVector")
    return {
        "path": path,
        "partitionValues": a.get("partitionValues") or {},
        "size": int(a["size"]),
        "modificationTime": int(a.get("modificationTime") or 0),
        "dataChange": False,
        "deletionVector": (
            {
                "storageType": d["storageType"],
                "pathOrInlineDv": d["pathOrInlineDv"],
                "offset": int(d.get("offset") or 0),
                "sizeInBytes": int(d["sizeInBytes"]),
                "cardinality": int(d["cardinality"]),
            }
            if d
            else None
        ),
        "stats": a.get("stats"),
        "tags": a.get("tags"),
        "baseRowId": a.get("baseRowId"),
        "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
    }


def add_table(files: dict[str, dict[str, Any]], paths: list[str],
              schema: pa.Schema) -> pa.Table:
    """Checkpoint rows of the live adds ``paths``: the ``add`` column
    filled row by row, every other column of ``schema`` null."""
    return pa.Table.from_pylist(
        [{"add": checkpoint_add_dict(p, files[p])} for p in paths],
        schema=schema,
    )

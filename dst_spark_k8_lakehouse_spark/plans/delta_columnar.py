"""Columnar (pyarrow) Delta log PLANNING — the Delta twin of the
Iceberg manifest-level pruning tier.

Before r9, ``delta_reader._replay`` materialized EVERY checkpoint add
action as a Python dict (~30 µs/add) and ``_stats_keep`` ran
``json.loads`` over every add's stats string in a driver loop — a
correct plan with the wrong COST SHAPE: ~30 s of single-threaded
driver time per query at the ~1M live adds a 100 TB table carries
(measured by the PLANTIME tracker at 0.29–0.39 s per 10k adds,
growing linearly). The checkpoint is ALREADY a parquet file and the
commit tail is line-delimited JSON, so this module keeps both
columnar:

- ``load_checkpoint``: read checkpoint parts with pyarrow, split the
  (few) non-add action rows out as dicts and keep the add rows as ONE
  Arrow table of the ``add`` struct's children — no per-add Python.
- ``parse_add_lines``: parse a commit file's ``{"add":…}`` lines with
  ``pyarrow.json`` under an EXPLICIT protocol schema
  (``unexpected_field_behavior="error"``, so any shape beyond the
  spec fields this planner understands falls back to the exact
  ``json.loads`` path rather than silently dropping a field).
- ``prune_adds``: evaluate partition pruning (generated-column
  predicates + explicit partition filters, via dictionary-encoded
  partition values — the Python callable runs once per DISTINCT
  partition tuple, not per file) and per-add stats data skipping
  (stats JSON parsed columnar by ``pyarrow.json`` under a schema
  derived from the table schema, bounds compared with Arrow compute)
  as Arrow masks.
- ``materialize_adds``: convert ONLY the kept rows to the per-add
  dicts the scan builder consumes.

Exactness contract: every fast path either produces the SAME file
list as the dict path or returns ``None`` and the caller replays the
classic way — ``tests/test_delta_columnar.py`` pins columnar-vs-dict
file-list equality over randomized logs (the mirror of
``test_avro_codec``'s generated-vs-reference decoder pin). Known
conservative corner: a numeric literal whose Python type mismatches
the column (float predicate on a long column) skips columnar stats
for that predicate (keeps a superset; the residual row filter stays
exact), where the dict path compares with Python cross-type
semantics.

Reference parity: the jar's Delta log replay does the same thing on
the JVM — checkpoint reads stay columnar in Spark and stats pruning
runs expression-compiled (delta.io PROTOCOL.md "Checkpoints" +
"Per-file Statistics"); this is the pyarrow rendition for the
jar-free reader (``plans/delta_reader.py``).
"""

from __future__ import annotations

import io
import json
import os
import re
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc

def _arr(col) -> pa.Array:
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


# ---------------------------------------------------------------------------
# map-typed column handling (shared with delta_reader._checkpoint_rows):
# to_pylist keeps exact Python ints/strs (pandas would coerce nested
# ints to floats) but renders MAP values as (key, value) tuple lists —
# locate the map-typed paths ONCE from the schema, convert only those
# per row (a generic per-value recursion measured ~10× slower)


def map_paths(t: pa.DataType, prefix: tuple = ()) -> list[tuple]:
    if pa.types.is_map(t):
        return [prefix]
    if pa.types.is_struct(t):
        out = []
        for f in t:
            out += map_paths(f.type, prefix + (f.name,))
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # no list-of-map shapes in the log schemas; refuse the fast
        # path if a foreign writer has one
        if map_paths(t.value_type, prefix):
            raise NotImplementedError("map nested in list")
    return []


def convert_maps(row: dict, paths: list[tuple]) -> dict:
    for path in paths:
        node = row
        for seg in path[:-1]:
            node = node.get(seg)
            if node is None:
                break
        else:
            v = node.get(path[-1])
            if v is not None:
                node[path[-1]] = dict(v)
    return row


def schema_map_paths(schema: pa.Schema) -> list[tuple]:
    out: list[tuple] = []
    for fl in schema:
        out += map_paths(fl.type, (fl.name,))
    return out


# ---------------------------------------------------------------------------
# checkpoint loading

# V2 top-level checkpoints are UUID-named ({v}.checkpoint.{uniqueStr}
# .parquet). Multipart classic parts carry TWO dotted index segments
# ({i:010d}.{n:010d}) so the single-segment match below excludes them,
# and the classic single-file name ends ".checkpoint.parquet" exactly.
_V2_TOP_RE = re.compile(r"\.checkpoint\.[^.]+\.parquet$")


def is_v2_top(path: str) -> bool:
    name = os.path.basename(path)
    return bool(_V2_TOP_RE.search(name)) and not name.endswith(
        ".checkpoint.parquet"
    )


def read_sidecar_tables(files: list[str]) -> list[pa.Table]:
    """Read V2 sidecar parquet files — on a THREAD pool when there are
    several (pyarrow releases the GIL during parquet decode), which is
    the point of sidecars at scale: planning cost over N live-file
    shards is O(N / threads) on one machine and one-shard-per-task on
    a cluster, where a classic checkpoint is one serial read."""
    import pyarrow.parquet as pq

    if len(files) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(files))) as ex:
            return list(ex.map(pq.read_table, files))
    return [pq.read_table(f) for f in files]


def _load_checkpoint_v2(top_file: str) -> tuple[pa.Table, list[dict]]:
    """V2 top-level checkpoint → (Arrow table of sidecar ``add``
    children, non-add action dicts). Top-level file actions (the
    spec's sidecar-less v2 shape) ride the dict list. Raises on any
    layout surprise — the caller's fail-open returns None and the
    reader's EXACT v2 dict path (``delta_reader._v2_checkpoint_rows``)
    takes over; there is deliberately NO row-wise fallback that could
    read a top-level file alone and silently plan an empty table."""
    import pyarrow.parquet as pq

    t = pq.read_table(top_file)
    if "sidecar" not in t.column_names:
        raise ValueError(f"v2 checkpoint {top_file}: no sidecar column")
    others: list[dict] = []
    sidecar_files: list[str] = []
    log_dir = os.path.dirname(top_file)
    paths = schema_map_paths(t.schema)
    for raw in t.to_pylist():
        raw = convert_maps(raw, paths)
        sc = raw.get("sidecar")
        if sc is not None:
            sidecar_files.append(
                os.path.join(log_dir, "_sidecars", sc["path"])
            )
            continue
        for key in (
            "metaData", "add", "remove", "protocol", "txn",
            "domainMetadata",
        ):
            if raw.get(key) is not None:
                others.append({key: raw[key]})
        # checkpointMetadata rows are v2 bookkeeping — nothing to apply
    adds: list[pa.Table] = []
    for st in read_sidecar_tables(sidecar_files):
        if "add" not in st.column_names:
            raise ValueError("v2 sidecar without an add column")
        valid = pc.is_valid(st.column("add"))
        add_rows = st.filter(valid)
        col = _arr(add_rows.column("add"))
        adds.append(
            pa.Table.from_arrays(
                col.flatten(), names=[fl.name for fl in col.type]
            )
        )
        rest = st.filter(pc.invert(valid))
        if rest.num_rows:
            rpaths = schema_map_paths(rest.schema)
            for raw in rest.to_pylist():
                raw = convert_maps(raw, rpaths)
                if raw.get("remove") is not None:
                    others.append({"remove": raw["remove"]})
    if not adds:
        # sidecar-less v2 shape (all file actions inline) — let the
        # exact dict path handle it rather than inventing an empty
        # add table with a partial schema
        raise ValueError(f"v2 checkpoint {top_file}: no sidecar adds")
    table = adds[0] if len(adds) == 1 else pa.concat_tables(adds)
    return table, others


def load_checkpoint(
    cp_files: list[str],
) -> tuple[pa.Table, list[dict]] | None:
    """Read checkpoint parquet parts columnar: returns (Arrow table of
    the ``add`` struct's children, non-add action dicts in row order)
    or None when the layout defeats the fast path (caller falls back
    to the exact dict replay)."""
    try:
        import pyarrow.parquet as pq

        if len(cp_files) == 1 and is_v2_top(cp_files[0]):
            return _load_checkpoint_v2(cp_files[0])
        adds: list[pa.Table] = []
        others: list[dict] = []
        for f in cp_files:
            t = pq.read_table(f)
            if "add" not in t.column_names or "path" not in [
                fl.name for fl in t.schema.field("add").type
            ]:
                return None
            valid = pc.is_valid(t.column("add"))
            add_rows = t.filter(valid)
            col = _arr(add_rows.column("add"))
            adds.append(
                pa.Table.from_arrays(
                    col.flatten(), names=[fl.name for fl in col.type]
                )
            )
            rest = t.filter(pc.invert(valid))
            if rest.num_rows:
                paths = schema_map_paths(rest.schema)
                for raw in rest.to_pylist():
                    raw = convert_maps(raw, paths)
                    for key in ("metaData", "remove", "protocol", "txn",
                                "domainMetadata"):
                        if raw.get(key) is not None:
                            others.append({key: raw[key]})
        table = adds[0] if len(adds) == 1 else pa.concat_tables(adds)
        return table, others
    except Exception:
        return None


# ---------------------------------------------------------------------------
# commit-tail add batches

_DV_STRUCT = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)


def parse_add_lines(
    lines: list[str], pv_fields: list[str]
) -> pa.Table | None:
    """Parse ``{"add":…}`` commit lines columnar under an explicit
    protocol schema (``pv_fields`` = the partition-value keys the
    table's metaData allows). Any unexpected field errors the parse on
    purpose — only the exact spec shape takes the fast path; the
    caller replays such files with ``json.loads`` instead, so nothing
    is ever silently dropped."""
    from pyarrow import json as pj

    schema = pa.schema(
        [
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        (
                            "partitionValues",
                            pa.struct(
                                [(c, pa.string()) for c in pv_fields]
                            ),
                        ),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("deletionVector", _DV_STRUCT),
                        # the one tag OUR writer emits (liquid
                        # clustering); an add carrying any other tag
                        # key errors the explicit schema on purpose
                        # and replays via json.loads
                        (
                            "tags",
                            pa.struct(
                                [("clusteringProvider", pa.string())]
                            ),
                        ),
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                    ]
                ),
            )
        ]
    )
    try:
        data = "\n".join(lines).encode()
        t = pj.read_json(
            io.BytesIO(data),
            parse_options=pj.ParseOptions(
                explicit_schema=schema,
                unexpected_field_behavior="error",
            ),
        )
        if t.num_rows != len(lines):
            return None
        col = _arr(t.column("add"))
        if col.null_count:
            return None
        return pa.Table.from_arrays(
            col.flatten(), names=[fl.name for fl in col.type]
        )
    except Exception:
        return None


# ---------------------------------------------------------------------------
# partition-value extraction


def pv_arrays(
    tbl: pa.Table, part_cols: list[str], phys: dict[str, str]
) -> dict[str, pa.Array]:
    """Per-partition-column value arrays (string, nullable), with the
    dict path's ``raw.get(physical, raw.get(logical))`` resolution.
    Raises when the shape needs the exact path (map-typed
    partitionValues under column mapping, where missing-key-vs-null
    can't be told apart columnar)."""
    col = _arr(tbl.column("partitionValues"))
    out: dict[str, pa.Array] = {}
    if pa.types.is_struct(col.type):
        names = {f.name for f in col.type}
        for c in part_cols:
            p = phys.get(c, c)
            if p in names and c in names and p != c:
                # BOTH spellings are declared struct fields
                # (parse_add_lines declares both), so an add keyed by
                # the LOGICAL name parses with a null physical child —
                # schema-level physical-wins would read null and prune
                # a live file. Mirror the dict path's per-row
                # resolution (raw.get(phys, raw.get(logical))) with a
                # validity coalesce. Sole divergence: a malformed add
                # carrying BOTH keys with an explicit-null physical
                # and non-null logical (JSON absent-vs-null collapse
                # in Arrow) — no writer produces one.
                out[c] = _arr(pc.coalesce(
                    pc.struct_field(col, p), pc.struct_field(col, c)
                ))
            elif p in names:
                out[c] = _arr(pc.struct_field(col, p))
            elif c in names:
                out[c] = _arr(pc.struct_field(col, c))
            else:
                out[c] = pa.nulls(len(col), pa.string())
        return out
    if pa.types.is_map(col.type):
        for c in part_cols:
            p = phys.get(c, c)
            if p != c:
                # get(phys, get(logical)) needs key-presence, which
                # map_lookup can't distinguish from a null value
                raise NotImplementedError(
                    "column-mapped map partitionValues: exact path"
                )
            out[c] = _arr(
                pc.map_lookup(col, query_key=p, occurrence="first")
            )
        return out
    raise NotImplementedError(f"partitionValues type {col.type}")


_PV_NULL = "\x00\x01<pv-null>"


def pv_membership_mask(
    pvs: dict[str, pa.Array],
    part_cols: list[str],
    keep_pv: Callable[[dict[str, str | None]], bool],
) -> pa.Array:
    """Evaluate an arbitrary per-partition-tuple predicate columnar:
    dictionary-encode the partition values, run ``keep_pv`` once per
    DISTINCT tuple (O(partitions), not O(files)), and map the verdicts
    back as an ``is_in`` mask. Collision-free by construction (fixed
    radix over dictionary indices); raises into the caller's fallback
    when a value collides with the null sentinel."""
    cols = [pvs[c] for c in part_cols]
    idxs: list[pa.Array] = []
    sizes: list[int] = []
    for a in cols:
        if a.null_count:
            hit = pc.is_in(pa.array([_PV_NULL]), value_set=a)
            if hit[0].as_py():
                raise ValueError("pv null-sentinel collision")
            a = pc.fill_null(a, _PV_NULL)
        enc = pc.dictionary_encode(a)
        idxs.append(pc.cast(enc.indices, pa.int64()))
        sizes.append(len(enc.dictionary))
    cap = 1
    for s in sizes:
        cap *= max(s, 1)
        if cap > (1 << 62):
            raise OverflowError("partition radix overflow")
    combined = idxs[0]
    for i in range(1, len(idxs)):
        combined = pc.add(
            pc.multiply(combined, pa.scalar(sizes[i], pa.int64())),
            idxs[i],
        )
    tb = pa.table(
        {"__k": combined, **{f"c{i}": a for i, a in enumerate(cols)}}
    )
    # use_threads=False: "first" is an ORDERED aggregator and pyarrow
    # refuses it under threaded Acero — with the default TableGroupBy
    # this raised on EVERY call, so the whole partition-filter fast
    # path silently dead-ended into the dict fallback (found r10 by
    # the mixed-spelling regression test; the equality pin held
    # because the fallback is exact, but the r9 speedup never applied
    # to dict filters). Serial is fine: the table here is one row per
    # FILE of key indices, and the group count is O(partitions).
    uniq = pa.TableGroupBy(tb, ["__k"], use_threads=False).aggregate(
        [(f"c{i}", "first") for i in range(len(cols))]
    )
    kept: list[int] = []
    for r in uniq.to_pylist():
        pv = {c: r[f"c{i}_first"] for i, c in enumerate(part_cols)}
        if keep_pv(pv):
            kept.append(r["__k"])
    return pc.is_in(combined, value_set=pa.array(kept, pa.int64()))


# ---------------------------------------------------------------------------
# stats data skipping

# stats JSON representation per Spark type: numbers for numerics,
# ISO strings (lexicographic == chronologic) for date/timestamp —
# exactly what delta_reader._stats_literal compares against
_PA_BY_SPARK = {
    "byte": pa.int64(),
    "short": pa.int64(),
    "integer": pa.int64(),
    "long": pa.int64(),
    "float": pa.float64(),
    "double": pa.float64(),
    "string": pa.string(),
    "date": pa.string(),
    "timestamp": pa.string(),
    "timestamp_ntz": pa.string(),
    "boolean": pa.bool_(),
}


def _bound_scalar(x: Any, typ: pa.DataType) -> pa.Scalar:
    if pa.types.is_integer(typ) and not (
        isinstance(x, int) and not isinstance(x, bool)
    ):
        # float-vs-long cross-type compare: Python compares exactly,
        # int64 Arrow can't — keep-all (superset) for this predicate
        raise TypeError(f"non-int literal {x!r} on integer stats")
    return pa.scalar(x, typ)


def stats_mask(
    tbl: pa.Table,
    predicates: list[tuple],
    phys: dict[str, str] | None,
    schema,
    stats_literal: Callable[[Any], Any],
) -> pa.Array:
    """Columnar ``_stats_keep``: parse the batch's stats strings ONCE
    with ``pyarrow.json`` under a schema carrying only the predicate
    columns (typed from the TABLE schema), compare bounds with Arrow
    compute. Per-predicate conversion failures keep all files for
    that predicate (the dict path's TypeError-keep); structural parse
    failures raise into the caller's exact fallback."""
    from pyarrow import json as pj

    n = tbl.num_rows
    import numpy as np

    all_true = pa.array(np.ones(n, dtype=bool))
    if "stats" not in tbl.column_names:
        return all_true
    by_name = {f.name: f for f in schema.fields}
    fields: dict[str, pa.DataType] = {}
    for col, _op, _lit in predicates:
        p = phys.get(col, col) if phys else col
        t = _PA_BY_SPARK.get(by_name[col].dataType.typeName())
        if t is None:
            raise NotImplementedError(
                f"stats skipping type {by_name[col].dataType}"
            )
        fields[p] = t
    bounds = pa.struct(sorted(fields.items()))
    s = pc.fill_null(_arr(tbl.column("stats")), "{}")
    s = pc.if_else(pc.equal(s, ""), pa.scalar("{}"), s)
    parsed = pj.read_json(
        io.BytesIO("\n".join(s.to_pylist()).encode()),
        parse_options=pj.ParseOptions(
            explicit_schema=pa.schema(
                [("minValues", bounds), ("maxValues", bounds)]
            ),
            unexpected_field_behavior="ignore",
        ),
    )
    if parsed.num_rows != n:
        raise ValueError("stats row-count mismatch")
    minv = _arr(parsed.column("minValues"))
    maxv = _arr(parsed.column("maxValues"))
    mask = all_true
    for col, op, lit in predicates:
        p = phys.get(col, col) if phys else col
        lo = pc.struct_field(minv, p)
        hi = pc.struct_field(maxv, p)
        missing = pc.or_(pc.is_null(lo), pc.is_null(hi))
        try:
            if op == "in":
                ok = None
                for v in lit:
                    xs = _bound_scalar(stats_literal(v), fields[p])
                    one = pc.and_kleene(
                        pc.less_equal(lo, xs), pc.greater_equal(hi, xs)
                    )
                    ok = one if ok is None else pc.or_kleene(ok, one)
                if ok is None:  # empty IN list: bounds prove nothing
                    ok = pa.array(np.zeros(n, dtype=bool))
            else:
                xs = _bound_scalar(stats_literal(lit), fields[p])
                if op in ("==", "="):
                    ok = pc.and_kleene(
                        pc.less_equal(lo, xs), pc.greater_equal(hi, xs)
                    )
                elif op == ">=":
                    ok = pc.greater_equal(hi, xs)
                elif op == ">":
                    ok = pc.greater(hi, xs)
                elif op == "<=":
                    ok = pc.less_equal(lo, xs)
                elif op == "<":
                    ok = pc.less(lo, xs)
                else:
                    continue  # unknown op: keep (dict path does too)
        except (TypeError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
            continue
        keep = pc.fill_null(pc.or_kleene(missing, ok), True)
        mask = pc.and_(mask, keep)
    return mask


# ---------------------------------------------------------------------------
# pruning + materialization


def prune_adds(
    sub: pa.Table,
    dropped: set[str],
    part_cols: list[str],
    phys: dict[str, str],
    keep_pv: Callable[[dict], bool] | None,
    predicates: list[tuple] | None,
    schema,
    stats_literal: Callable[[Any], Any],
) -> pa.Table | None:
    """Apply liveness (``dropped`` = paths removed or re-added after
    this batch was registered), partition pruning and stats skipping
    to an add batch as ONE combined Arrow mask; returns the kept
    rows, or None when exactness needs the dict path."""
    try:
        sub = sub.combine_chunks()
        masks: list[pa.Array] = []
        if dropped:
            masks.append(
                pc.invert(
                    pc.is_in(
                        _arr(sub.column("path")),
                        value_set=pa.array(sorted(dropped), pa.string()),
                    )
                )
            )
        if part_cols and keep_pv is not None:
            pvs = pv_arrays(sub, part_cols, phys)
            masks.append(pv_membership_mask(pvs, part_cols, keep_pv))
        if predicates:
            masks.append(
                stats_mask(sub, predicates, phys, schema, stats_literal)
            )
        if not masks:
            return sub
        total = masks[0]
        for m in masks[1:]:
            total = pc.and_(total, m)
        return sub.filter(total)
    except Exception:
        return None


def dedup_last(tbl: pa.Table) -> pa.Table | None:
    """Keep only the LAST row per path (an add action replaces any
    earlier add of the same path — re-adds with fresh stats or a new
    deletion vector are routine between checkpoints). No-op when
    paths are already unique; None when the check itself fails."""
    try:
        import numpy as np

        paths = _arr(tbl.column("path"))
        n = tbl.num_rows
        if pc.count_distinct(paths).as_py() == n:
            return tbl
        idx = pa.array(np.arange(n, dtype=np.int64))
        g = (
            pa.table({"p": paths, "i": idx})
            .group_by("p")
            .aggregate([("i", "max")])
        )
        return tbl.filter(pc.is_in(idx, value_set=g.column("i_max")))
    except Exception:
        return None


def _pylist(a: pa.Array) -> list:
    """``a.to_pylist()``, through the cheapest exact route: an all-null
    column is ``[None] * n`` and null-free numeric/bool columns and
    all string columns go through numpy's ``tolist`` (the same Python
    values — ints, floats, bools, strs, None for a null string — built
    in C instead of per-value scalar boxing; ~10x on 100k rows)."""
    n = len(a)
    if a.null_count == n:
        return [None] * n
    t = a.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or (
        not a.null_count
        and (pa.types.is_integer(t) or pa.types.is_boolean(t)
             or pa.types.is_float32(t) or pa.types.is_float64(t))
    ):
        return a.to_numpy(zero_copy_only=False).tolist()
    return a.to_pylist()


def _map_column_dicts(arr: pa.Array) -> list[dict | None] | None:
    """MapArray → per-row plain dicts via the CHILD arrays (one
    conversion per child + offset slicing) instead of the generic
    per-row ``to_pylist``; a column whose every row holds exactly one
    entry (a one-column ``partitionValues``) builds ``{key: value}``
    straight from the zipped children. Returns None (caller falls back
    to ``to_pylist``) on a SLICED array: ``offsets``/``keys``/``items``
    views don't account for a nonzero parent offset."""
    if arr.offset != 0:
        return None
    import numpy as np

    n = len(arr)
    keys = _pylist(arr.keys)
    vals = _pylist(arr.items)
    off = arr.offsets.to_numpy()
    if not arr.null_count and len(keys) == n and (
        np.diff(off) == 1
    ).all():
        return [{k: v} for k, v in zip(keys, vals)]
    off = off.tolist()
    valid = arr.is_valid().to_pylist() if arr.null_count else None
    out: list[dict | None] = []
    for i in range(n):
        if valid is not None and not valid[i]:
            out.append(None)
            continue
        o0, o1 = off[i], off[i + 1]
        out.append(dict(zip(keys[o0:o1], vals[o0:o1])))
    return out


def _row_dicts(names: list[str], cols: list[list]) -> list[dict]:
    """Zip equal-length columns into one dict per row with a generated
    dict-display function — about half the cost of
    ``dict(zip(names, row))`` per row."""
    args = ", ".join(f"c{i}" for i in range(len(names)))
    body = ", ".join(f"{nm!r}: c{i}" for i, nm in enumerate(names))
    make = eval(f"lambda {args}: {{{body}}}")  # noqa: S307 - names are repr()-quoted
    return list(map(make, *cols))


def materialize_adds(tbl: pa.Table) -> list[dict]:
    """Kept add rows → the per-add dicts the scan builder consumes
    (map-typed columns converted to plain dicts), materialized
    COLUMN-WISE: one conversion per child column (``_pylist``: all-null
    columns as ``[None] * n``, numeric/bool/string columns through
    numpy) plus one generated dict display per row, with map columns
    decoded through their child arrays (``_map_column_dicts``). The
    whole-table ``to_pylist`` this replaces spent ~2 s per 100k adds
    (PLANTIME delta_cp full tier) — the dominant cost of an unpruned
    checkpointed plan.

    STRUCT-typed partitionValues drop their null-valued keys: the
    parse declares BOTH column-mapping spellings, so a row keyed by
    one spelling materializes the other as an artifact null — and the
    dict path's ``raw.get(phys, raw.get(logical))`` would take a
    present-null physical key as authoritative and silently prune a
    LIVE file (found r10 by the mixed-spelling regression test). A
    REAL null partition value keeps identical semantics with its keys
    dropped too: ``get`` then misses every spelling and resolves None
    either way."""
    schema = tbl.schema
    names = list(schema.names)
    cols: list[list] = []
    for name in names:
        f = schema.field(name)
        # maps nested BELOW the top level (inside a struct/list child)
        # would need the generic recursion — no add-action shape has
        # one, but a foreign layout must not silently keep tuple lists
        deep = [p for p in map_paths(f.type, (name,)) if len(p) > 1]
        if deep:
            return [
                convert_maps(r, schema_map_paths(schema))
                for r in tbl.to_pylist()
            ]
        a = _arr(tbl.column(name))
        if pa.types.is_map(f.type) and a.null_count != len(a):
            vals = _map_column_dicts(a)
            if vals is None:
                vals = [
                    dict(v) if v is not None else None
                    for v in a.to_pylist()
                ]
        else:
            vals = _pylist(a)
            if name == "partitionValues" and pa.types.is_struct(f.type):
                vals = [
                    {k: x for k, x in v.items() if x is not None}
                    if v is not None
                    else None
                    for v in vals
                ]
        cols.append(vals)
    return _row_dicts(names, cols)

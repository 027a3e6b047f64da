"""Iceberg HIDDEN-PARTITION transforms — the spec's partition
functions (identity, year/month/day/hour, bucket[N], truncate[W])
for the native writer/reader stack.

The reference's own partitioned demo table is
``PARTITIONED BY (days(ts))``
(``/root/reference/docker/spark-notebook/02_iceberg_demo.ipynb:45-54``);
this module lets ``iceberg_writer.create_iceberg`` build exactly that
shape natively: the partition spec records the spec-appendix transform
name (``day``, ``bucket[16]``, ``truncate[4]`` …), data files group by
the TRANSFORMED value, manifests carry the typed transform result as
the partition record, and ``iceberg_reader`` prunes files from a
SOURCE-column predicate by mapping it through the transform
(monotonic transforms take range predicates; bucket takes equality).

Three faces of each transform live here, kept consistent by the
spec-appendix test vectors in ``tests/test_iceberg_transforms.py``:

- ``spark_transform_column``: the distributed write-path expression
  (built-in functions for the calendar/truncate transforms; an
  Arrow-vectorized pandas UDF for bucket's murmur3, numpy-vectorized
  for 8-byte inputs);
- ``py_transform``: the driver-side literal evaluator pruning uses
  (one call per predicate bound — metadata work, never per row);
- ``result_type``: the Iceberg type of the partition record value
  (calendar transforms and bucket produce ``int`` per the spec;
  truncate keeps the source type).

Scale: pruning happens at planning time against manifest partition
records — a day-partitioned 100 TB table answers a one-week range
predicate by scanning 7 partitions' files, and the residual row
filter (applied by ``read_iceberg``) keeps boundary partitions exact.
"""

from __future__ import annotations

import datetime
import re
from typing import Any, Callable

import pandas as pd  # the bucket pandas-UDF type hints resolve here

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EPOCH = datetime.date(1970, 1, 1)

# transforms whose output preserves the source order — a range
# predicate on the source maps to a range over partition values
MONOTONIC = {"identity", "year", "month", "day", "hour", "truncate"}

# accepted source Iceberg types per transform (spec "Partition
# Transforms" table; decimal/fixed sources raise loudly below)
_CALENDAR_SOURCES = {"date", "timestamp", "timestamptz"}
_SOURCES = {
    "year": _CALENDAR_SOURCES,
    "month": _CALENDAR_SOURCES,
    "day": _CALENDAR_SOURCES,
    "hour": {"timestamp", "timestamptz"},
    "bucket": {"int", "long", "string", "date", "timestamp",
               "timestamptz"},
    "truncate": {"int", "long", "string"},
}


def parse_partition_item(item: str) -> tuple[str, str, int | None]:
    """One ``partition_by`` entry → ``(transform, source_col, param)``.

    Accepts the SQL-surface spellings the reference notebook uses
    (``days(ts)``, ``months(ts)``, ``years(ts)``, ``hours(ts)`` —
    plus singular forms), ``bucket(N, col)``, ``truncate(W, col)``,
    and a bare column name (identity)."""
    s = item.strip()
    m = re.fullmatch(r"(\w+)\s*\(\s*([^)]*)\s*\)", s)
    if not m:
        return "identity", s, None
    fn, args = m.group(1).lower(), [a.strip() for a in m.group(2).split(",")]
    aliases = {"days": "day", "months": "month", "years": "year",
               "hours": "hour", "date": "day"}
    fn = aliases.get(fn, fn)
    if fn in ("year", "month", "day", "hour"):
        if len(args) != 1:
            raise ValueError(f"{item!r}: {fn}(col) takes one column")
        return fn, args[0], None
    if fn in ("bucket", "truncate"):
        if len(args) != 2:
            raise ValueError(f"{item!r}: {fn}(N, col)")
        n = int(args[0])
        if n <= 0:
            raise ValueError(f"{item!r}: parameter must be positive")
        return fn, args[1], n
    if fn == "identity":
        return "identity", args[0], None
    raise NotImplementedError(
        f"partition transform {fn!r} (identity/year/month/day/hour/"
        "bucket/truncate)"
    )


def spec_transform_name(transform: str, param: int | None) -> str:
    """Spec-appendix serialized name: ``bucket[16]``, ``truncate[4]``,
    else the bare transform name."""
    if transform in ("bucket", "truncate"):
        return f"{transform}[{param}]"
    return transform


def parse_spec_transform(name: str) -> tuple[str, int | None]:
    """Inverse of ``spec_transform_name`` (reads specs written by any
    Iceberg writer)."""
    m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", name)
    if m:
        return m.group(1), int(m.group(2))
    if name in ("identity", "year", "month", "day", "hour", "void"):
        return name, None
    raise NotImplementedError(f"partition transform {name!r}")


def partition_field_name(transform: str, src: str) -> str:
    """Default partition-field name, matching real Iceberg's
    convention (``ts_day``, ``id_bucket``, ``name_trunc``)."""
    if transform == "identity":
        return src
    suffix = {"truncate": "trunc"}.get(transform, transform)
    return f"{src}_{suffix}"


def result_type(transform: str, src_type: str, src_name: str) -> str:
    """Iceberg type of the partition record value. Calendar transforms
    and bucket produce ``int``; truncate keeps the source type;
    identity keeps the source type (validated by the caller's
    ``_PARTITION_AVRO`` map); void (a v1 DROPPED field) keeps the
    source type and always records null."""
    if transform in ("identity", "void"):
        return src_type
    allowed = _SOURCES.get(transform)
    if allowed is None or src_type not in allowed:
        raise NotImplementedError(
            f"partition transform {transform!r} on source type "
            f"{src_type!r} (column {src_name!r}); supported sources: "
            f"{sorted(allowed or [])}"
        )
    if transform == "truncate":
        return src_type
    return "int"


# ---------------------------------------------------------------------------
# murmur3_x86_32 — the spec's bucket hash (Appendix B), seed 0 over the
# value's canonical bytes: 8-byte little-endian long for every integral
# shape (int/long/date-days/timestamp-micros), raw UTF-8 for strings.


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Pure-Python reference murmur3 (x86, 32-bit), signed result —
    validated against the spec-appendix vectors in the tests."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i: 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[4 * nblocks:]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _mm3_longs_np(vals):
    """Vectorized murmur3_x86_32 over int64 values encoded as 8-byte
    little-endian (two 4-byte blocks, no tail) — the write path's hot
    shape; element-equal to ``murmur3_x86_32(v.to_bytes(8,'little'))``."""
    import numpy as np

    v = vals.astype(np.int64).view(np.uint64)
    h = np.zeros(len(v), dtype=np.uint32)
    with np.errstate(over="ignore"):
        for blk in ((v & 0xFFFFFFFF).astype(np.uint32),
                    (v >> np.uint64(32)).astype(np.uint32)):
            k = blk * np.uint32(0xCC9E2D51)
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * np.uint32(0x1B873593)
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def bucket_value(value: Any, n: int, src_type: str) -> int | None:
    """Driver-side bucket transform of one literal (pruning bounds)."""
    if value is None:
        return None
    data = _bucket_bytes(value, src_type)
    return (murmur3_x86_32(data) & 0x7FFFFFFF) % n


def _bucket_bytes(value: Any, src_type: str) -> bytes:
    if src_type in ("int", "long"):
        return int(value).to_bytes(8, "little", signed=True)
    if src_type == "string":
        return str(value).encode("utf-8")
    if src_type == "date":
        d = value if isinstance(value, datetime.date) else (
            datetime.date.fromisoformat(str(value))
        )
        return (d - _EPOCH).days.to_bytes(8, "little", signed=True)
    if src_type in ("timestamp", "timestamptz"):
        ts = value if isinstance(value, datetime.datetime) else (
            datetime.datetime.fromisoformat(str(value))
        )
        if ts.tzinfo is not None:
            ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        micros = int(
            (ts - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
        # rebuild exactly to dodge float rounding on large magnitudes
        delta = ts - datetime.datetime(1970, 1, 1)
        micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 \
            + delta.microseconds
        return micros.to_bytes(8, "little", signed=True)
    raise NotImplementedError(f"bucket on source type {src_type!r}")


# ---------------------------------------------------------------------------
# transform evaluation — Spark column (write path) and Python literal
# (pruning path)


def _as_date(col: Column) -> Column:
    return col.cast("date")


def spark_transform_column(
    transform: str, src: str, param: int | None, dtype: T.DataType
) -> Column:
    """The transform as a Spark Column over source column ``src`` —
    built-ins everywhere except bucket's murmur3 (Arrow-vectorized
    pandas UDF; numpy-vectorized for the integral shapes).

    Calendar transforms use component extraction (``year``/``month``/
    ``hour``/``datediff``), which reads TIMESTAMP_NTZ values as-is —
    the spec's NTZ semantics. For TIMESTAMP (tz-aware) the components
    come out in the session timezone; run UTC sessions for cross-
    engine-exact day boundaries (documented, matches the reference
    cluster's spark.sql.session.timeZone=UTC)."""
    c = F.col(src)
    if transform == "identity":
        return c
    if transform == "void":
        # a dropped v1 partition field: always null
        return F.lit(None).cast(dtype.simpleString())
    if transform == "year":
        return (F.year(c) - F.lit(1970)).cast("int")
    if transform == "month":
        return (
            (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
        ).cast("int")
    if transform == "day":
        return F.datediff(_as_date(c), F.lit("1970-01-01").cast("date"))
    if transform == "hour":
        return (
            F.datediff(_as_date(c), F.lit("1970-01-01").cast("date"))
            * F.lit(24) + F.hour(c)
        ).cast("int")
    if transform == "truncate":
        if isinstance(dtype, T.StringType):
            return F.substring(c, 1, int(param))
        if isinstance(dtype, (T.IntegerType, T.LongType,
                              T.ShortType, T.ByteType)):
            return (c - F.pmod(c, F.lit(int(param)))).cast(
                dtype.simpleString()
            )
        raise NotImplementedError(f"truncate on Spark type {dtype}")
    if transform == "bucket":
        return _bucket_column(c, int(param), dtype)
    raise NotImplementedError(f"partition transform {transform!r}")


def _bucket_column(c: Column, n: int, dtype: T.DataType) -> Column:
    from pyspark.sql.functions import pandas_udf

    if isinstance(dtype, (T.IntegerType, T.LongType,
                          T.ShortType, T.ByteType)):
        @pandas_udf("int")
        def _b(s: pd.Series) -> pd.Series:
            import numpy as np

            mask = s.notna()
            out = pd.Series([None] * len(s), dtype="object")
            if mask.any():
                h = _mm3_longs_np(s[mask].to_numpy(dtype="int64"))
                out[mask] = (h.astype("int64") & 0x7FFFFFFF) % n
            return out.astype("Int32")

        return _b(c)
    if isinstance(dtype, T.DateType):
        @pandas_udf("int")
        def _b(s: pd.Series) -> pd.Series:
            import numpy as np

            dt = pd.to_datetime(s)
            mask = dt.notna()
            out = pd.Series([None] * len(s), dtype="object")
            if mask.any():
                days = (
                    dt[mask].to_numpy(dtype="datetime64[D]")
                    .astype("int64")
                )
                h = _mm3_longs_np(days)
                out[mask] = (h.astype("int64") & 0x7FFFFFFF) % n
            return out.astype("Int32")

        return _b(c)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        @pandas_udf("int")
        def _b(s: pd.Series) -> pd.Series:
            import numpy as np

            mask = s.notna()
            out = pd.Series([None] * len(s), dtype="object")
            if mask.any():
                micros = (
                    s[mask].to_numpy(dtype="datetime64[us]")
                    .astype("int64")
                )
                h = _mm3_longs_np(micros)
                out[mask] = (h.astype("int64") & 0x7FFFFFFF) % n
            return out.astype("Int32")

        return _b(c)
    if isinstance(dtype, T.StringType):
        @pandas_udf("int")
        def _b(s: pd.Series) -> pd.Series:
            # variable-length inputs: per-row hash inside the Arrow
            # batch (strings are the cold bucket shape; ids are longs)
            return s.map(
                lambda v: None if v is None else
                (murmur3_x86_32(v.encode("utf-8")) & 0x7FFFFFFF) % n
            ).astype("Int32")

        return _b(c)
    raise NotImplementedError(f"bucket on Spark type {dtype}")


def py_transform(
    transform: str, param: int | None, src_type: str
) -> Callable[[Any], Any]:
    """Driver-side transform of a LITERAL (predicate bound) — must
    agree with ``spark_transform_column`` on every value; the tests
    cross-check them on randomized inputs."""
    def _to_dt(v: Any) -> datetime.datetime:
        if isinstance(v, datetime.datetime):
            dt = v
        elif isinstance(v, datetime.date):
            dt = datetime.datetime(v.year, v.month, v.day)
        else:
            dt = datetime.datetime.fromisoformat(str(v))
        if dt.tzinfo is not None:
            dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return dt

    if transform == "identity":
        return lambda v: v
    if transform == "void":
        return lambda v: None
    if transform == "year":
        return lambda v: None if v is None else _to_dt(v).year - 1970
    if transform == "month":
        return lambda v: None if v is None else (
            (_to_dt(v).year - 1970) * 12 + _to_dt(v).month - 1
        )
    if transform == "day":
        return lambda v: None if v is None else (
            _to_dt(v).date() - _EPOCH
        ).days
    if transform == "hour":
        return lambda v: None if v is None else (
            (_to_dt(v).date() - _EPOCH).days * 24 + _to_dt(v).hour
        )
    if transform == "truncate":
        if src_type == "string":
            return lambda v: None if v is None else str(v)[: int(param)]
        return lambda v: None if v is None else (
            int(v) - (int(v) % int(param) + int(param)) % int(param)
        )
    if transform == "bucket":
        return lambda v: bucket_value(v, int(param), src_type)
    raise NotImplementedError(f"partition transform {transform!r}")


# ---------------------------------------------------------------------------
# transform-aware pruning: map SOURCE-column predicates onto partition
# records

_OPS = {"==", "=", "<", "<=", ">", ">=", "in"}


def check_ops(predicates: list[tuple[str, str, Any]]) -> None:
    """Raise on an op ``predicates_to_column`` cannot build — the
    planners validate here so a bad predicate fails at plan time,
    while the residual Column itself is built only by the readers."""
    for _col, op, _lit in predicates:
        if op not in _OPS:
            raise ValueError(f"predicate op {op!r}; one of {sorted(_OPS)}")


def _minus_unit(lit: Any, src_type: str = "") -> Any:
    """``lit`` minus one smallest unit of the SOURCE COLUMN's type —
    what a strict ``<`` bound projects through; None when the type has
    no discrete unit (float/str → the caller keeps the inclusive
    bound). The unit must come from the source type, not the literal:
    ``src < date(D)`` on a timestamp source partitioned ``hour(src)``
    admits rows in every hour of day D-1, so the bound is
    ``midnight(D) - 1µs`` (projects to the last hour of D-1), NOT
    ``D - 1 day`` (which would wrongly prune hours 1..23 of D-1)."""
    if isinstance(lit, datetime.datetime):
        return lit - datetime.timedelta(microseconds=1)
    if isinstance(lit, datetime.date):
        if src_type.startswith("timestamp"):
            return datetime.datetime(
                lit.year, lit.month, lit.day
            ) - datetime.timedelta(microseconds=1)
        return lit - datetime.timedelta(days=1)
    if isinstance(lit, int) and not isinstance(lit, bool):
        return lit - 1
    return None


def partition_predicate(
    spec_fields: list[dict], schema_fields: list[dict],
    predicates: list[tuple[str, str, Any]],
) -> Callable[[dict], bool]:
    """Compile source-column ``(col, op, literal)`` predicates into a
    partition-record predicate for ``read_iceberg``'s file pruning.

    Monotonic transforms (identity, calendar, truncate) take the full
    range algebra: ``src >= lo → pv >= T(lo)`` and ``src < hi →
    pv <= T(hi)`` (boundary partitions stay in; the residual row
    filter makes them exact). Bucket is order-destroying — only
    ``==`` / ``in`` prune; range predicates over a bucket source add
    no constraint. Predicates over non-partition columns add no
    constraint (pruning is always a superset).

    A partition value that is ABSENT from the record (the file was
    written under an older spec, before ADD PARTITION FIELD) or NULL
    (null source rows, or a spec-evolution manifest rewrite) KEEPS the
    file — pruning must never drop rows it cannot reason about; the
    residual row filter stays exact either way."""
    checks = _compile_checks(spec_fields, schema_fields, predicates)
    _MISSING = object()

    def _pred(pv: dict) -> bool:
        for name, kind, w in checks:
            v = pv.get(name, _MISSING)
            if v is _MISSING or v is None:
                # older-spec file or null value: cannot prune — keep
                continue
            try:
                if not _FILE_CHECK[kind](v, w):
                    return False
            except TypeError:
                continue  # incomparable representations: keep
        return True

    return _pred


def _compile_checks(
    spec_fields: list[dict], schema_fields: list[dict],
    predicates: list[tuple[str, str, Any]],
) -> list[tuple[str, str, Any]]:
    """Project predicates through the spec's transforms into
    ``(partition_field_name, kind, bound)`` triples in the PV DOMAIN —
    the value representation manifests actually store (epoch days for
    date results, per the Avro date logical type). Both the file-level
    and the manifest-summary pruners consume these; kinds are ``eq``
    / ``in`` / ``ge`` / ``le``."""
    by_id = {f["id"]: f for f in schema_fields}
    checks: list[tuple[str, str, Any]] = []
    check_ops(predicates)
    for col, op, lit in predicates:
        for sf in spec_fields:
            src = by_id[sf["source-id"]]
            if src["name"] != col:
                continue
            tname, param = parse_spec_transform(sf["transform"])
            if tname == "void":
                continue
            stype = src["type"] if isinstance(src["type"], str) else ""
            t = py_transform(tname, param, stype)
            try:
                rt = result_type(tname, stype, src["name"])
            except NotImplementedError:
                rt = ""

            def tv(v, _t=t, _rt=rt):
                return to_pv_domain(_t(v), _rt)

            if tname == "bucket" or tname not in MONOTONIC:
                # order-destroying: only equality prunes
                if op in ("==", "="):
                    checks.append((sf["name"], "eq", tv(lit)))
                elif op == "in":
                    checks.append((sf["name"], "in", {tv(x) for x in lit}))
                continue
            if op in ("==", "="):
                checks.append((sf["name"], "eq", tv(lit)))
            elif op == "in":
                checks.append((sf["name"], "in", {tv(x) for x in lit}))
            elif op in (">", ">="):
                checks.append((sf["name"], "ge", tv(lit)))
            elif op in ("<", "<="):
                # strict < projects through T(lit - 1 source unit)
                # (Iceberg's inclusive-projection refinement) so a
                # range ending exactly on a partition boundary prunes
                # the boundary partition; unit-less literals fall back
                # to the inclusive T(lit)
                eff = _minus_unit(lit, stype) if op == "<" else None
                checks.append(
                    (sf["name"], "le",
                     tv(eff) if eff is not None else tv(lit))
                )
    return checks


_FILE_CHECK = {
    "eq": lambda pv, w: pv == w,
    "in": lambda pv, w: pv in w,
    "ge": lambda pv, w: pv >= w,
    "le": lambda pv, w: pv <= w,
}

# may the closed interval [lo, hi] contain any passing value?
_SUMMARY_CHECK = {
    "eq": lambda lo, hi, w: lo <= w <= hi,
    "in": lambda lo, hi, w: any(lo <= x <= hi for x in w),
    "ge": lambda lo, hi, w: hi >= w,
    "le": lambda lo, hi, w: lo <= w,
}


def to_pv_domain(v: Any, result_type_name: str) -> Any:
    """A transform output / user literal → the value domain manifest
    partition RECORDS store: epoch days for ``date`` results, epoch
    MICROS for ``timestamp``/``timestamptz`` (the Avro logical types
    are plain int/long on disk), pass-through otherwise. Without this
    an identity-partitioned date column compares ``datetime.date`` —
    or, found r10, ISO STRING — literals against int pvs and silently
    prunes everything."""
    if v is None:
        return None
    if result_type_name == "date":
        if isinstance(v, str):
            try:
                v = datetime.date.fromisoformat(v[:10])
            except ValueError:
                return v  # not a date spelling: keep (never prunes)
        if isinstance(v, datetime.datetime):
            v = v.date()
        if isinstance(v, datetime.date):
            return (v - _EPOCH).days
    if result_type_name in ("timestamp", "timestamptz"):
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v)
            except ValueError:
                return v
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            v = datetime.datetime(v.year, v.month, v.day)
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            delta = v - datetime.datetime(1970, 1, 1)
            return (
                delta.days * 86_400 + delta.seconds
            ) * 1_000_000 + delta.microseconds
    return v


_SUMMARY_MAX_STRING = 64  # longer strings carry no bounds (keep)


def summary_bound_bytes(v: Any, result_type_name: str) -> bytes | None:
    """PV-DOMAIN value → Iceberg single-value bytes (spec Appendix D)
    for a manifest-list ``field_summary`` bound. None = not
    representable (the summary simply carries no bound — readers keep
    the manifest). Covers exactly the partition-record value types the
    writer supports (``_PARTITION_AVRO``)."""
    import struct as _st

    if v is None:
        return None
    try:
        if result_type_name in ("int", "date"):
            return _st.pack("<i", int(v))
        if result_type_name == "long":
            return _st.pack("<q", int(v))
        if result_type_name == "boolean":
            return b"\x01" if v else b"\x00"
        if result_type_name == "string":
            s = str(v)
            if len(s) > _SUMMARY_MAX_STRING:
                return None
            return s.encode("utf-8")
    except (ValueError, OverflowError, _st.error):
        return None
    return None


def summary_bound_value(b: bytes, result_type_name: str) -> Any:
    """Inverse of ``summary_bound_bytes`` — back into the pv domain."""
    import struct as _st

    if result_type_name in ("int", "date"):
        return _st.unpack("<i", b)[0]
    if result_type_name == "long":
        return _st.unpack("<q", b)[0]
    if result_type_name == "boolean":
        return b != b"\x00"
    if result_type_name == "string":
        return b.decode("utf-8")
    raise NotImplementedError(f"summary bound type {result_type_name}")


def manifest_summary_predicate(
    schema_fields: list[dict],
    predicates: list[tuple[str, str, Any]] | None,
    pv_filter: dict[str, set] | None = None,
) -> Callable[[list[dict], list[dict]], bool]:
    """MANIFEST-LEVEL pruning from the manifest-list's ``partitions``
    field summaries — the planning-path twin of file-level data
    skipping. Returns ``keep(spec_fields, summaries) -> bool``: False
    iff the summaries PROVE no file in the manifest can match, so the
    planner skips the whole manifest WITHOUT Avro-decoding it.

    ``summaries`` is the manifest-list entry's ``partitions`` list,
    ordered like the manifest's own spec fields (``spec_fields`` —
    per-manifest resolution under spec evolution). ``pv_filter`` is an
    already-PV-DOMAIN dict filter ``{field_name: {wanted pvs}}``.
    Conservative everywhere: a summary with ``contains_null`` (null
    source rows OR a spec-evolution rewrite's unknown values), missing
    bounds, an undecodable type, or a field the predicates don't
    constrain keeps the manifest. At 100 TB this is what turns a
    thousands-of-manifests single-threaded metadata walk into a
    handful of decodes for a time-range query."""
    preds = list(predicates or [])
    flt = pv_filter or {}
    by_id = {f["id"]: f for f in schema_fields}
    _check_cache: dict[tuple, list[tuple[str, str, Any]]] = {}

    def keep(spec_fields: list[dict], summaries: list[dict]) -> bool:
        if not summaries or not spec_fields:
            return True
        if preds:
            key = tuple(
                (sf.get("field-id"), sf["name"], sf["transform"])
                for sf in spec_fields
            )
            checks = _check_cache.get(key)
            if checks is None:
                try:
                    checks = _compile_checks(spec_fields, schema_fields,
                                             preds)
                except (KeyError, NotImplementedError, ValueError):
                    # foreign spec vs schema, or a transform this
                    # engine can't evaluate (an OLD spec may carry
                    # one even when the default spec is fine): the
                    # manifest tier simply keeps everything — the
                    # file tier and residual stay exact
                    checks = []
                _check_cache[key] = checks
        else:
            checks = []
        for sf, sm in zip(spec_fields, summaries):
            if not isinstance(sm, dict):
                continue
            if sm.get("contains_null"):
                continue  # cannot reason about nulls/rewrites: keep
            lo_b, hi_b = sm.get("lower_bound"), sm.get("upper_bound")
            if lo_b is None or hi_b is None:
                continue
            src = by_id.get(sf.get("source-id"))
            stype = (src["type"] if src and isinstance(src["type"], str)
                     else "")
            try:
                tname, _p = parse_spec_transform(sf["transform"])
                rt = result_type(tname, stype, sf["name"])
                lo = summary_bound_value(bytes(lo_b), rt)
                hi = summary_bound_value(bytes(hi_b), rt)
            except Exception:
                continue  # undecodable: keep
            try:
                for name, kind, w in checks:
                    if name != sf["name"]:
                        continue
                    if not _SUMMARY_CHECK[kind](lo, hi, w):
                        return False
                wants = flt.get(sf["name"])
                if wants is not None and not any(
                    lo <= x <= hi for x in wants
                ):
                    return False
            except TypeError:
                continue  # incomparable: keep
        return True

    return keep


def predicates_to_column(
    predicates: list[tuple[str, str, Any]]
) -> Column | None:
    """The same predicates as a row-level Spark filter — the residual
    ``read_iceberg`` applies so boundary partitions return exactly the
    requested rows."""
    out = None
    for col, op, lit in predicates:
        c = F.col(col)
        if op in ("==", "="):
            e = c == F.lit(lit)
        elif op == "<":
            e = c < F.lit(lit)
        elif op == "<=":
            e = c <= F.lit(lit)
        elif op == ">":
            e = c > F.lit(lit)
        elif op == ">=":
            e = c >= F.lit(lit)
        elif op == "in":
            e = c.isin(list(lit))
        else:
            raise ValueError(f"predicate op {op!r}")
        out = e if out is None else (out & e)
    return out

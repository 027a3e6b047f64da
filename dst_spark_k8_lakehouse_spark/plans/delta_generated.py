"""Delta GENERATED COLUMNS — the protocol's hidden-partitioning twin
(writer feature ``generatedColumns``, minWriterVersion 4).

The reference stack's Delta jars accept
``ALTER TABLE … ADD COLUMN d DATE GENERATED ALWAYS AS (CAST(ts AS
DATE))`` and then partition by ``d`` — the Delta idiom for what
Iceberg spells ``PARTITIONED BY (days(ts))``. This module gives the
jar-free writer the same contract:

- ``create_delta(generated={"d": "CAST(ts AS DATE)"})`` stores the
  expression in the field's ``delta.generationExpression`` metadata
  (the spec's representation) and commits minWriterVersion 4;
- every write path COMPUTES a missing generated column from its
  expression and VALIDATES a supplied one (first violating row
  reported — a silently-wrong generated partition would corrupt
  pruning forever);
- ``read_delta(predicates=[("ts", ">=", lo), …])`` prunes partition
  files by deriving generated-column bounds from source-column
  predicates (the jar's ``OptimizeGeneratedColumn`` rule) for the
  RECOGNIZED monotonic expression shapes below, and applies the
  residual row filter so boundary partitions stay exact.

Recognized for pruning (the partition-relevant shapes; anything else
still computes/validates fine — it just doesn't prune):

- ``CAST(src AS DATE)`` / ``to_date(src)`` — date truncation;
- ``year(src)`` / ``month(src)`` / ``day(src)`` / ``hour(src)`` —
  calendar fields. NOTE: unlike Iceberg's transforms these are NOT
  monotonic across years (month(ts) wraps every January), so only
  ``year`` takes range predicates; month/day/hour prune on equality.

Partition values live in the log as STRINGS (Delta spec), so each
recognizer carries a typed parser for the comparison.
"""

from __future__ import annotations

import datetime
import json
import re
from typing import Any, Callable


GENERATION_KEY = "delta.generationExpression"


def generation_exprs(meta: dict[str, Any]) -> dict[str, str]:
    """{column: generation expression} from the schemaString."""
    sc = json.loads(meta["schemaString"])
    out: dict[str, str] = {}
    for f in sc["fields"]:
        md = f.get("metadata") or {}
        if GENERATION_KEY in md:
            out[f["name"]] = str(md[GENERATION_KEY])
    return out


def validation_exprs(gen: dict[str, str],
                     present: list[str]) -> list[tuple[str, str]]:
    """(column, must-hold condition) per SUPPLIED generated column —
    a supplied value must equal the expression null-safely (the spec:
    writers must verify)."""
    return [
        (c, f"({c}) <=> ({e})")
        for c, e in gen.items() if c in present
    ]


# ---------------------------------------------------------------------------
# pruning: source predicates → generated-partition-value predicates

_CAST_DATE_RE = re.compile(
    r"^\s*CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)\s*$", re.IGNORECASE
)
_TO_DATE_RE = re.compile(
    r"^\s*to_date\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
)
_FIELD_RE = re.compile(
    r"^\s*(year|month|day|dayofmonth|hour)\s*\(\s*`?(\w+)`?\s*\)\s*$",
    re.IGNORECASE,
)


def _to_dt(v: Any) -> datetime.datetime:
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    return datetime.datetime.fromisoformat(str(v))


def recognize(expr: str) -> tuple[str, Callable, Callable, bool] | None:
    """``(source column, transform(literal) -> typed value,
    parse(pv string) -> typed value, monotonic)`` for a recognized
    generation expression, else None (no pruning — never wrong)."""
    m = _CAST_DATE_RE.match(expr) or _TO_DATE_RE.match(expr)
    if m:
        return (
            m.group(1),
            lambda v: _to_dt(v).date(),
            datetime.date.fromisoformat,
            True,
        )
    m = _FIELD_RE.match(expr)
    if m:
        fld = m.group(1).lower()
        fld = "day" if fld == "dayofmonth" else fld
        getter = {
            "year": lambda v: _to_dt(v).year,
            "month": lambda v: _to_dt(v).month,
            "day": lambda v: _to_dt(v).day,
            "hour": lambda v: _to_dt(v).hour,
        }[fld]
        # only year is monotonic in the source; the others wrap
        return m.group(2), getter, int, fld == "year"
    return None


def partition_predicate(
    meta: dict[str, Any],
    predicates: list[tuple[str, str, Any]],
) -> Callable[[dict], bool] | None:
    """Compile source-column predicates into a predicate over the
    log's STRING partition values for generated partition columns.
    Returns None when nothing prunes. Monotonic shapes take ranges
    (strict ``<`` projects through lit − 1 µs); non-monotonic calendar
    fields prune on equality only. A null/absent partition value keeps
    the file (cannot prune)."""
    gen = generation_exprs(meta)
    part_cols = meta.get("partitionColumns") or []
    checks: list[tuple[str, Callable[[Any], bool]]] = []
    for col in part_cols:
        if col not in gen:
            continue
        rec = recognize(gen[col])
        if rec is None:
            continue
        src, t, parse, monotonic = rec
        for pcol, op, lit in predicates:
            if pcol != src:
                continue
            if op in ("==", "="):
                want = t(lit)
                checks.append(
                    (col, lambda v, p=parse, w=want: p(v) == w)
                )
            elif op == "in":
                wants = {t(x) for x in lit}
                checks.append(
                    (col, lambda v, p=parse, w=wants: p(v) in w)
                )
            elif not monotonic:
                continue  # range over a wrapping field: cannot prune
            elif op in (">", ">="):
                lo = t(lit)
                checks.append(
                    (col, lambda v, p=parse, b=lo: p(v) >= b)
                )
            elif op in ("<", "<="):
                eff = (
                    _to_dt(lit) - datetime.timedelta(microseconds=1)
                    if op == "<" and isinstance(
                        lit, (datetime.date, datetime.datetime)
                    )
                    else lit
                )
                hi = t(eff)
                checks.append(
                    (col, lambda v, p=parse, b=hi: p(v) <= b)
                )
    if not checks:
        return None

    def _pred(pv: dict) -> bool:
        for col, fn in checks:
            v = pv.get(col)
            if v is None:
                continue  # null partition: cannot prune, keep
            if not fn(v):
                return False
        return True

    return _pred


def refuse_stale_updates(
    meta: dict[str, Any], assigned: set[str], op: str
) -> None:
    """An UPDATE that assigns a generated column directly, or any
    column a generation expression reads, would leave the generated
    value stale (or move rows across partitions) — raise loudly, the
    same restriction real Delta enforces for generated partition
    columns."""
    gen = generation_exprs(meta)
    direct = sorted(assigned & set(gen))
    if direct:
        raise NotImplementedError(
            f"{op} assigns generated column(s) {direct}; generated "
            "values derive from their expression and cannot be set"
        )
    for col, expr in gen.items():
        words = set(re.findall(r"\w+", expr))
        hit = sorted(assigned & words)
        if hit:
            raise NotImplementedError(
                f"{op} assigns {hit}, which generated column "
                f"{col!r} = {expr!r} reads — the generated value "
                "would go stale; rewrite the table instead"
            )

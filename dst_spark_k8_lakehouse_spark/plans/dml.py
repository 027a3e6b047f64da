"""SQL-string DML entry points over the versioned table layer.

The reference's notebooks speak SQL DML against Iceberg/Delta tables
(``UPDATE`` / ``DELETE``, ``02_iceberg_demo.ipynb:91,103``; upserts in
the Delta demo). Without those format jars, the same statements have no
executable home in vanilla Spark — parquet tables reject row-level DML.
This module is the thin parser shim that keeps API parity honest: the
statement text a reference user already has dispatches onto the
native Delta and Iceberg DML (``delta_dml`` / ``iceberg_dml``), which
execute it as file-granular copy-on-write commits; ``execute_dml``
takes ``VersionedTable`` handles, ``execute_native_sql`` directories.

Deliberately a shim, not a SQL frontend: expressions inside SET /
WHERE / ON travel VERBATIM into the DataFrame layer (Spark parses
them); only the statement skeleton is recognized here. Anything the
skeleton grammar doesn't cover raises ``ValueError`` loudly rather
than mis-executing.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans.table import VersionedTable

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>[\w.]+)\s+SET\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[\w.]+)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w.]+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>[\w.]+)(?:\s+(?:AS\s+)?(?P<salias>\w+))?"
    r"\s+ON\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MATCHED_RE = re.compile(
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*", re.IGNORECASE
)
_NOT_MATCHED_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*", re.IGNORECASE
)
_ON_EQ_RE = re.compile(r"^\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*$")


def _split_top_keyword(text: str, keyword: str) -> tuple[str, str | None]:
    """Split ``text`` at the first whole-word ``keyword`` that sits
    outside quotes and parens (a bare regex split would mis-fire on
    ``SET note = 'fixed where broken'``). Returns ``(before, after)``;
    ``after`` is None when the keyword never appears at top level."""
    pat = re.compile(rf"\b{keyword}\b", re.IGNORECASE)
    depth = 0
    quote: str | None = None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and (m := pat.match(text, i)):
            return text[:i], text[m.end() :]
        i += 1
    return text, None


def _split_commas(text: str) -> list[str]:
    """Top-level comma split, paren/quote-aware (a naive split would
    break ``greatest(a, b)`` and ``bucket(4, id)``)."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    for ch in text:
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _split_assignments(set_clause: str) -> dict[str, str]:
    """Split ``col = expr, col2 = expr2`` paren/quote-aware."""
    parts = _split_commas(set_clause)
    out: dict[str, str] = {}
    for part in parts:
        col, eq, expr = part.partition("=")
        if not eq or not col.strip().replace(".", "").isidentifier():
            raise ValueError(f"unparseable SET assignment: {part.strip()!r}")
        out[col.strip().split(".")[-1]] = expr.strip()
    return out


_IDENTITY_CLAUSE_RE = re.compile(
    r"(?P<col>\w+)\s+(?P<type>BIGINT|LONG)\s+GENERATED\s+"
    r"(?P<mode>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
    r"(?:\s*\(\s*START\s+WITH\s+(?P<start>-?\d+)"
    r"(?:\s+INCREMENT\s+BY\s+(?P<step>-?\d+))?\s*\))?",
    re.IGNORECASE,
)


def _strip_identity_clauses(
    cols_text: str,
) -> tuple[str, dict[str, dict]]:
    """Pull ``col BIGINT GENERATED ALWAYS|BY DEFAULT AS IDENTITY
    [(START WITH s [INCREMENT BY k])]`` clauses out of a CREATE TABLE
    column list — returns the plain-typed column text plus the
    ``create_delta(identity=…)`` spec dict."""
    identity: dict[str, dict] = {}

    def repl(m: re.Match) -> str:
        identity[m["col"]] = {
            "start": int(m["start"] or 1),
            "step": int(m["step"] or 1),
            "always": m["mode"].upper() == "ALWAYS",
        }
        return f"{m['col']} {m['type']}"

    return _IDENTITY_CLAUSE_RE.sub(repl, cols_text), identity


def _sql_literal(text: str):
    """A single SQL literal → Python value: quoted string, integer,
    float, or boolean. Iceberg write-defaults are VALUES per the spec
    (Appendix-D single-value serialization), never expressions — so
    anything else refuses loudly instead of storing an unevaluable
    string."""
    s = text.strip()
    if len(s) >= 2 and s[0] == s[-1] == "'":
        return s[1:-1].replace("''", "'")
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        raise ValueError(
            f"DEFAULT {text!r} is not a literal (string/number/"
            "boolean); Iceberg defaults are values, not expressions"
        ) from None


def _merge_keys(on_clause: str, aliases: set[str]) -> list[str]:
    """Equality-conjunct ON clause → merge key column list. Each
    conjunct must be ``a.k = b.k`` (or unqualified) on the SAME column
    name — the only shape a key-list MERGE expresses."""
    keys: list[str] = []
    for conj in re.split(r"\s+AND\s+", on_clause, flags=re.IGNORECASE):
        m = _ON_EQ_RE.match(conj)
        if not m:
            raise ValueError(f"unsupported MERGE ON conjunct: {conj.strip()!r}")
        q1, c1, q2, c2 = m.groups()
        for q in (q1, q2):
            if q is not None and q not in aliases:
                raise ValueError(f"unknown qualifier {q!r} in MERGE ON")
        if c1 != c2:
            raise ValueError(
                f"MERGE ON must equate the same column on both sides, "
                f"got {c1!r} = {c2!r}"
            )
        keys.append(c1)
    return keys


def execute_dml(
    sql: str,
    tables: dict[str, VersionedTable],
    sources: dict[str, DataFrame] | None = None,
) -> int:
    """Execute one UPDATE / DELETE / MERGE statement against versioned
    tables. ``tables`` maps statement table names to ``VersionedTable``
    instances (the catalog shim); MERGE sources resolve from
    ``sources`` first, then from ``tables``. Returns the committed
    version. The statement runs through ``execute_native_sql`` on the
    tables' directories; any other statement raises ``ValueError``.

    Supported skeletons (expressions inside pass to Spark verbatim):

    - ``UPDATE t SET c = expr[, ...] [WHERE cond]``
    - ``DELETE FROM t [WHERE cond]``
    - ``MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k [AND ...]
      [WHEN MATCHED THEN UPDATE SET *]
      [WHEN NOT MATCHED THEN INSERT *]``
      (whole-row actions, matching Delta's ``UPDATE SET *`` /
      ``INSERT *`` shorthand; at least one WHEN clause required)
    """
    if not any(r.match(sql) for r in (_UPDATE_RE, _DELETE_RE, _MERGE_RE)):
        raise ValueError(
            f"not a supported DML statement: {sql.strip()[:80]!r}"
        )
    spark = next(iter(tables.values())).spark
    return execute_native_sql(
        spark, sql, {n: t.path for n, t in tables.items()}, sources
    )


# ------------------------------------------------- native-table SQL

_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<table>[\w.]+)"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS?)?\s*$",
    re.IGNORECASE,
)
_WRITE_ORDERED_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+WRITE\s+ORDERED\s+BY"
    r"\s*(?P<cols>[\w.,()\s]+?)\s*$",
    re.IGNORECASE,
)
_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<dst>[\w.]+)\s+"
    r"SHALLOW\s+CLONE\s+(?P<src>[\w.]+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?\s*$",
    re.IGNORECASE,
)
# Iceberg SQL-extensions ref DDL + the WAP publish procedure
_CREATE_REF_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+CREATE\s+"
    r"(?P<kind>BRANCH|TAG)\s+(?P<name>\w+)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(?P<snap>\d+))?\s*$",
    re.IGNORECASE,
)
_DROP_REF_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+DROP\s+"
    r"(?:BRANCH|TAG)\s+(?P<name>\w+)\s*$",
    re.IGNORECASE,
)
_FAST_FORWARD_RE = re.compile(
    r"^\s*CALL\s+(?:[\w.]+\.)?fast_forward\s*\(\s*"
    r"'?(?P<table>[\w.]+)'?\s*,\s*'(?P<branch>\w+)'\s*,\s*"
    r"'(?P<to>\w+)'\s*\)\s*$",
    re.IGNORECASE,
)
_CHERRYPICK_RE = re.compile(
    r"^\s*CALL\s+(?:[\w.]+\.)?cherrypick_snapshot\s*\(\s*"
    r"'?(?P<table>[\w.]+)'?\s*,\s*(?P<snap>\d+)\s*\)\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<table>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]+)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<table>[\w.]+)\s+TO\s+VERSION\s+AS\s+OF"
    r"\s+(?P<v>\d+)\s*$",
    re.IGNORECASE,
)
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ADD\s+COLUMNS?\s*"
    r"\(?\s*(?P<col>\w+)\s+(?P<type>\w+(?:\(\d+(?:,\s*\d+)?\))?)"
    r"(?:\s+DEFAULT\s+(?P<default>[^()]+?))?\s*\)?\s*$",
    re.IGNORECASE,
)
_SET_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>\w+)\s+SET\s+DEFAULT\s+(?P<expr>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>\w+)\s+DROP\s+DEFAULT\s*$",
    re.IGNORECASE,
)
_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+DROP\s+COLUMNS?\s*"
    r"\(?\s*(?P<col>\w+)\s*\)?\s*$",
    re.IGNORECASE,
)
_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>\w+)\s+TYPE\s+(?P<type>\w+)\s*$",
    re.IGNORECASE,
)
# SQL type spellings → the engines' type names
_WIDEN_TYPES = {
    "bigint": "long", "long": "long", "int": "integer",
    "integer": "integer", "smallint": "short", "short": "short",
    "double": "double", "float": "float",
}
_ADD_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+ADD\s+PARTITION\s+FIELD\s+"
    r"(?P<item>.+?)\s*$",
    re.IGNORECASE,
)
_DROP_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+DROP\s+PARTITION\s+FIELD\s+"
    r"(?P<name>\w+)\s*$",
    re.IGNORECASE,
)
_SET_CDF_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+SET\s+TBLPROPERTIES\s*\(\s*"
    r"['\"]?delta\.enableChangeDataFeed['\"]?\s*=\s*['\"]?true['\"]?"
    r"\s*\)\s*$",
    re.IGNORECASE,
)
_SET_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<body>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(?P<table>[\w.]+)\s+COMPUTE\s+STATISTICS"
    r"(?:\s+FOR\s+COLUMNS\s+(?P<cols>[\w,\s]+?))?\s*$",
    re.IGNORECASE,
)
_SET_ICT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+SET\s+TBLPROPERTIES\s*\(\s*"
    r"['\"]?delta\.enableInCommitTimestamps['\"]?\s*=\s*['\"]?true['\"]?"
    r"\s*\)\s*$",
    re.IGNORECASE,
)
# a statement-level table name: dotted identifiers, each segment
# optionally backtick-quoted (the notebooks write
# delta.`s3a://bucket/path` — getting_started.py:144)
_NAME = r"(?:[\w]+|`[^`]+`)(?:\.(?:[\w]+|`[^`]+`))*"
_CREATE_TABLE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    rf"(?P<table>{_NAME})\s*\((?P<cols>.*?)\)\s*"
    rf"USING\s+(?P<fmt>delta|iceberg)"
    # .* then \) so transform parens nest (days(ts), bucket(4, id))
    rf"(?:\s+PARTITIONED\s+BY\s*\((?P<parts>.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?:(?P<ie>IF\s+EXISTS)\s+)?"
    rf"(?P<table>{_NAME})\s*$",
    re.IGNORECASE,
)
_CREATE_DB_RE = re.compile(
    rf"^\s*CREATE\s+(?:DATABASE|NAMESPACE|SCHEMA)\s+"
    rf"(?:IF\s+NOT\s+EXISTS\s+)?(?P<db>{_NAME})\s*$",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+(?P<table>{_NAME})\s+"
    rf"(?P<body>VALUES\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_SELECT_RE = re.compile(
    rf"^\s*SELECT\s+\*\s+FROM\s+(?P<table>{_NAME})"
    rf"(?:\s+WHERE\s+(?P<where>.*))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# star-shaped joins through statement text: every JOIN hangs off the
# running intermediate via USING (shared column names) — the shape
# cbo.plan_star_join advises and orders
_SELECT_JOIN_RE = re.compile(
    rf"^\s*SELECT\s+\*\s+FROM\s+(?P<table>{_NAME})"
    rf"(?P<joins>(?:\s+JOIN\s+{_NAME}\s+USING\s*\([^)]*\))+)"
    rf"(?:\s+WHERE\s+(?P<where>.*))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_CLAUSE_RE = re.compile(
    rf"\s+JOIN\s+(?P<dim>{_NAME})\s+USING\s*\((?P<keys>[^)]*)\)",
    re.IGNORECASE,
)


def execute_native_sql(
    spark,
    sql: str,
    tables: dict[str, str],
    sources: dict[str, DataFrame] | None = None,
) -> int:
    """The statement-text surface of the reference's notebooks routed
    onto NATIVE-format tables (jar-free): ``tables`` maps statement
    names to table DIRECTORIES; the format (Delta log vs Iceberg
    metadata) is detected per table and the call dispatches to the
    matching native implementation. Same shim philosophy as
    ``execute_dml``: only the statement SKELETON is parsed here;
    expressions travel verbatim to Spark, and unrecognized shapes
    raise instead of mis-executing.

    Supported: UPDATE / DELETE / MERGE (both formats, copy-on-write),
    ``VACUUM t [RETAIN k VERSIONS]`` (Delta vacuum / Iceberg
    expire_snapshots), ``OPTIMIZE t [ZORDER BY (a, b)]`` (Delta
    compaction / z-ordering; since r8 also Iceberg — the rewrite
    action through the shared clustering kernel, sort-aware when the
    table declares an order), ``ALTER TABLE t WRITE ORDERED BY
    (a, b)`` (Iceberg sort-order DDL, r8), ``RESTORE TABLE t TO
    VERSION AS OF v`` (Delta), ``ALTER TABLE t ADD COLUMN c type`` /
    ``RENAME COLUMN a TO b`` (both formats, metadata-only),
    ``ALTER TABLE t SET TBLPROPERTIES
    (delta.enableChangeDataFeed=true)``. Returns the
    committed version / snapshot id (0 for metadata-only ops without
    one). A directory carrying BOTH formats (the UniForm bridge)
    mutates through its Delta log — re-sync the export afterwards."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_cdf,
        delta_dml,
        delta_reader,
        delta_writer,
        iceberg_dml,
        iceberg_reader,
        iceberg_writer,
    )

    def _path(name: str) -> str:
        if name not in tables:
            raise ValueError(
                f"unknown table {name!r}; have {sorted(tables)}"
            )
        return tables[name]

    def _fmt(path: str) -> str:
        if delta_reader.is_delta_table(path):
            return "delta"
        if iceberg_reader.is_iceberg_table(path):
            return "iceberg"
        raise ValueError(f"{path} is neither a Delta nor Iceberg table")

    sql = sql.strip().rstrip(";").strip()
    if _CREATE_DB_RE.match(sql):
        # namespaces are directory prefixes here (no catalog service
        # in a jar-free stack) — the statement succeeds as a no-op so
        # notebook scripts replay verbatim
        return 0
    if m := _CREATE_TABLE_RE.match(sql):
        p = _path(m["table"])
        exists = (
            delta_reader.is_delta_table(p)
            or iceberg_reader.is_iceberg_table(p)
        )
        if exists:
            if m["ine"]:
                return 0
            raise ValueError(f"table {m['table']} already exists at {p}")
        from pyspark.sql import types as T

        cols_text, identity = _strip_identity_clauses(m["cols"])
        schema = T._parse_datatype_string(cols_text)
        empty = spark.createDataFrame([], schema)
        parts = [c for c in _split_commas(m["parts"] or "") if c]
        if m["fmt"].lower() == "delta":
            bad = [c for c in parts if "(" in c]
            if bad:
                raise NotImplementedError(
                    f"Delta PARTITIONED BY transform(s) {bad}: Delta "
                    "partitions on plain columns (transforms are "
                    "Iceberg's hidden partitioning)"
                )
            if identity:
                # the id columns are writer-generated: drop them from
                # the CTAS frame, create_delta appends them
                empty = empty.drop(*identity)
            delta_writer.create_delta(
                empty, p, partition_by=parts or None,
                identity=identity or None,
            )
        else:
            if identity:
                raise NotImplementedError(
                    "GENERATED ... AS IDENTITY is Delta's identity-"
                    "column feature; Iceberg has no identity columns"
                )
            iceberg_writer.create_iceberg(
                empty, p, partition_by=parts or None
            )
        return 0
    if m := _DROP_TABLE_RE.match(sql):
        import shutil

        p = _path(m["table"])
        exists = (
            delta_reader.is_delta_table(p)
            or iceberg_reader.is_iceberg_table(p)
        )
        if not exists:
            if m["ie"]:
                return 0
            raise ValueError(f"no table {m['table']} at {p}")
        shutil.rmtree(p)
        return 0
    if m := _INSERT_RE.match(sql):
        p = _path(m["table"])
        fmt = _fmt(p)
        target_schema = (
            json.loads(
                delta_reader._replay(spark, p, None)["metaData"][
                    "schemaString"
                ]
            )
            if fmt == "delta"
            else None
        )
        # VALUES rows parse through Spark itself (expressions travel
        # verbatim — TIMESTAMP literals, arithmetic, all of SQL)
        src = spark.sql(f"SELECT * FROM ({m['body']})")
        if fmt == "delta":
            from dst_spark_k8_lakehouse_spark.plans import delta_identity

            names = [f["name"] for f in target_schema["fields"]]
            struct = delta_reader.schema_from_json(target_schema)
            if len(src.columns) != len(names):
                # a short INSERT may omit writer-filled columns —
                # identity and CURRENT_DEFAULT; positionally it must
                # omit ALL of them (anything else is ambiguous)
                meta_like = {"schemaString": json.dumps(target_schema)}
                omittable = set(
                    delta_identity.identity_specs(meta_like)
                ) | set(delta_writer.column_defaults(meta_like))
                slim = [n for n in names if n not in omittable]
                if len(src.columns) != len(slim):
                    raise ValueError(
                        f"INSERT arity {len(src.columns)} != table "
                        f"arity {len(names)} (nor {len(slim)} with "
                        f"writer-filled column(s) {sorted(omittable)} "
                        "omitted)"
                    )
                names = slim
            keep = set(names)
            src = src.toDF(*names).select(
                *[
                    F.col(f.name).cast(f.dataType)
                    for f in struct.fields
                    if f.name in keep
                ]
            )
            return delta_writer.append_delta(src, p)
        meta, _v = iceberg_writer._load_meta(p)
        names = [f["name"] for f in meta["schema"]["fields"]]
        if len(src.columns) != len(names):
            raise ValueError(
                f"INSERT arity {len(src.columns)} != table arity "
                f"{len(names)}"
            )
        src = src.toDF(*names).select(
            *[
                F.col(f["name"]).cast(
                    iceberg_reader._spark_type(f["type"]).simpleString()
                )
                for f in meta["schema"]["fields"]
            ]
        )
        return iceberg_writer.append_iceberg(src, p)
    if m := _VACUUM_RE.match(sql):
        p = _path(m["table"])
        n = int(m["n"] or 1)
        if _fmt(p) == "delta":
            delta_writer.vacuum_delta(spark, p, retain_versions=n)
        else:
            iceberg_writer.expire_snapshots(spark, p, retain_last=n)
        return 0
    if m := _OPTIMIZE_RE.match(sql):
        p = _path(m["table"])
        pfilter = None
        if m["where"] and m["where"].strip():
            # OPTIMIZE WHERE takes PARTITION equality conjuncts only
            # (real Delta's restriction): col = literal [AND ...]
            pfilter = {
                c: _sql_literal(e)
                for c, e in _split_assignments(
                    re.sub(r"\s+AND\s+", ",", m["where"].strip(),
                           flags=re.IGNORECASE)
                ).items()
            }
        if _fmt(p) == "delta":
            if m["cols"]:
                if pfilter is not None:
                    raise NotImplementedError(
                        "OPTIMIZE WHERE + ZORDER BY in one statement "
                        "is not supported; zorder the whole table or "
                        "bin-pack the partition"
                    )
                cols = [c.strip() for c in m["cols"].split(",")]
                return delta_writer.zorder_delta(spark, p, cols)
            # real Delta's OPTIMIZE on a CLUSTER BY table is the
            # incremental clustering pass, not bin-packing
            state = delta_reader._replay(spark, p, None)
            if delta_writer.clustering_columns(state):
                if pfilter is not None:
                    raise NotImplementedError(
                        "OPTIMIZE WHERE on a clustered table: liquid "
                        "clustering owns the whole layout (the pass "
                        "is already incremental)"
                    )
                return delta_writer.cluster_delta(spark, p)
            v = delta_writer.compact_delta(
                spark, p, min_files=2, partition_filter=pfilter
            )
            return v if v >= 0 else 0
        if pfilter is not None:
            raise NotImplementedError(
                "OPTIMIZE WHERE is the Delta partition-scoped form; "
                "scope Iceberg rewrites with rewrite_data_files over "
                "a partition_filter instead"
            )
        # Iceberg (r8): the rewrite action through the shared
        # clustering kernel. Like the Delta branch (and the
        # maintenance job), an idempotent OPTIMIZE must not cost a
        # full-table shuffle or GROW the file count: no-op under 2
        # live files, and never rewrite into more files than exist.
        n_live = len(
            iceberg_reader.plan_file_list(spark, p)["data"]
        )
        if n_live < 2:
            return 0
        target = min(8, n_live)
        if m["cols"]:
            cols = [c.strip() for c in m["cols"].split(",")]
            return iceberg_writer.rewrite_data_files(
                spark, p, sort_order=f"zorder({', '.join(cols)})",
                target_files=target,
            )
        meta_i, _v = iceberg_writer._load_meta(p)
        if iceberg_writer.default_sort_columns(meta_i):
            return iceberg_writer.rewrite_data_files(
                spark, p, target_files=target
            )
        return iceberg_writer.overwrite_iceberg(
            iceberg_reader.read_iceberg(spark, p).repartition(target), p
        )
    if m := _WRITE_ORDERED_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError(
                "WRITE ORDERED BY is Iceberg's sort-order DDL; cluster "
                "a Delta table with OPTIMIZE t ZORDER BY (...)"
            )
        # strip ONE outer paren pair when it wraps the whole list,
        # then split on TOP-LEVEL commas only: `bucket(16, id)` is ONE
        # sort term, not two fragments
        txt = m["cols"].strip()
        if txt.startswith("(") and txt.endswith(")"):
            inner, depth, whole = txt[1:-1], 0, True
            for ch in inner:
                depth += ch == "("
                depth -= ch == ")"
                if depth < 0:
                    whole = False
                    break
            if whole and depth == 0:
                txt = inner
        cols = iceberg_writer.split_sort_terms(txt)
        iceberg_writer.set_sort_order(p, cols)
        return 0
    if m := _CLONE_RE.match(sql):
        dstp, srcp = _path(m["dst"]), _path(m["src"])
        if _fmt(srcp) != "delta":
            raise NotImplementedError(
                "SHALLOW CLONE is Delta's zero-copy table fork; the "
                "Iceberg analogue is a branch (CREATE BRANCH + WAP)"
            )
        delta_writer.shallow_clone_delta(
            spark, srcp, dstp,
            version=int(m["v"]) if m["v"] else None,
        )
        return 0
    if m := _CREATE_REF_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError(
                "CREATE BRANCH/TAG is Iceberg ref DDL; Delta time "
                "travel addresses versions directly"
            )
        snap = int(m["snap"]) if m["snap"] else None
        if m["kind"].upper() == "BRANCH":
            iceberg_writer.create_branch(p, m["name"], snap)
        else:
            iceberg_writer.create_tag(p, m["name"], snap)
        return 0
    if m := _DROP_REF_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError("DROP BRANCH/TAG is Iceberg-only")
        iceberg_writer.drop_ref(p, m["name"])
        return 0
    if m := _FAST_FORWARD_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError("fast_forward is Iceberg-only")
        return iceberg_writer.fast_forward(p, m["branch"], m["to"])
    if m := _CHERRYPICK_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError("cherrypick_snapshot is Iceberg-only")
        return iceberg_writer.cherry_pick_snapshot(
            spark, p, int(m["snap"])
        )
    if m := _RESTORE_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "delta":
            raise NotImplementedError(
                "RESTORE syntax is Delta's; roll Iceberg back with "
                "iceberg_writer.rollback_iceberg"
            )
        return delta_writer.restore_delta(spark, p, int(m["v"]))
    if m := _ADD_COL_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) == "delta":
            if m["default"]:
                raise NotImplementedError(
                    "Delta disallows ADD COLUMN with a DEFAULT (the "
                    "allowColumnDefaults contract: existing rows "
                    "cannot retroactively gain a value) — ADD COLUMN "
                    "first, then ALTER COLUMN ... SET DEFAULT"
                )
            delta_writer.add_column(spark, p, m["col"], m["type"])
        else:
            iceberg_writer.add_column(
                p, m["col"], m["type"],
                default=(
                    _sql_literal(m["default"]) if m["default"] else None
                ),
            )
        return 0
    if m := _SET_DEFAULT_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) == "delta":
            # Delta defaults are SQL expressions (CURRENT_DEFAULT)
            delta_writer.set_column_default(
                spark, p, m["col"], m["expr"]
            )
        else:
            # Iceberg write-defaults are single VALUES (Appendix D)
            iceberg_writer.set_write_default(
                p, m["col"], _sql_literal(m["expr"])
            )
        return 0
    if m := _DROP_DEFAULT_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) == "delta":
            delta_writer.drop_column_default(spark, p, m["col"])
        else:
            iceberg_writer.set_write_default(p, m["col"], None)
        return 0
    if m := _RENAME_COL_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) == "delta":
            delta_writer.rename_column(spark, p, m["old"], m["new"])
        else:
            iceberg_writer.rename_column(p, m["old"], m["new"])
        return 0
    if m := _DROP_COL_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) == "delta":
            delta_writer.drop_column(spark, p, m["col"])
        else:
            iceberg_writer.drop_column(spark, p, m["col"])
        return 0
    if m := _ALTER_TYPE_RE.match(sql):
        p = _path(m["table"])
        t = _WIDEN_TYPES.get(m["type"].lower())
        if t is None:
            raise NotImplementedError(
                f"ALTER COLUMN TYPE {m['type']}: only the widening "
                "set (smallint/int/bigint/float/double) is supported"
            )
        if _fmt(p) == "delta":
            delta_writer.widen_column_type(spark, p, m["col"], t)
        else:
            # Iceberg spells int/long, not integer
            iceberg_writer.promote_column_type(
                p, m["col"], {"integer": "int"}.get(t, t)
            )
        return 0
    if m := _ADD_PART_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError(
                "ADD PARTITION FIELD is Iceberg spec evolution; Delta "
                "partitions are fixed at create (use generated columns)"
            )
        iceberg_writer.add_partition_field(p, m["item"])
        return 0
    if m := _DROP_PART_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "iceberg":
            raise NotImplementedError(
                "DROP PARTITION FIELD is Iceberg spec evolution"
            )
        iceberg_writer.drop_partition_field(p, m["name"])
        return 0
    if m := _SET_CDF_RE.match(sql):
        return delta_cdf.enable_cdf(spark, _path(m["table"]))
    if m := _ANALYZE_RE.match(sql):
        p = _path(m["table"])
        cols = (
            [c.strip() for c in m["cols"].split(",") if c.strip()]
            if m["cols"] else None
        )
        if _fmt(p) == "iceberg":
            # NDV sketches (Puffin) + partition statistics — the two
            # sidecars plans/cbo.table_profile reads
            iceberg_writer.write_table_statistics(spark, p, cols=cols)
            from dst_spark_k8_lakehouse_spark.plans import (
                iceberg_partition_stats,
            )

            iceberg_partition_stats.write_partition_stats(spark, p)
        else:
            if cols:
                raise NotImplementedError(
                    "Delta per-column NDV statistics are not "
                    "maintained by this engine (per-add min/max/null "
                    "stats ride every write already); ANALYZE "
                    "backfills the crc snapshot aggregate"
                )
            state = delta_reader._replay(spark, p, None)
            delta_writer.write_version_checksum(
                spark, p, int(state["version"])
            )
        return 0
    if m := _SET_ICT_RE.match(sql):
        p = _path(m["table"])
        if _fmt(p) != "delta":
            raise NotImplementedError(
                "delta.enableInCommitTimestamps is a Delta property; "
                "Iceberg snapshot timestamps are already in-commit"
            )
        return delta_writer.enable_in_commit_timestamps(spark, p)
    if m := _SET_PROPS_RE.match(sql):
        # generic properties (the CDF/ICT spellings matched above and
        # took their protocol-upgrading paths)
        p = _path(m["table"])
        props: dict[str, str] = {}
        for pair in _split_commas(m["body"]):
            k, eq, v = pair.partition("=")
            if not eq:
                raise ValueError(
                    f"unparseable TBLPROPERTIES pair {pair.strip()!r}"
                )
            v = v.strip()
            if len(v) >= 2 and v[0] == v[-1] in "'\"":
                v = v[1:-1].replace("''", "'")
            props[k.strip().strip("'\"")] = v
        if _fmt(p) == "delta":
            return delta_writer.set_table_properties(spark, p, props)
        iceberg_writer.set_properties(p, props)
        return 0
    if m := _UPDATE_RE.match(sql):
        p = _path(m["table"])
        set_clause, where = _split_top_keyword(m["rest"], "WHERE")
        assigns = _split_assignments(set_clause)
        if _fmt(p) == "delta":
            return delta_dml.update_delta(
                spark, p, where or "true", assigns
            )
        return iceberg_dml.update_iceberg(
            spark, p, where or "true", assigns
        )
    if m := _DELETE_RE.match(sql):
        p = _path(m["table"])
        before, where = _split_top_keyword(m["rest"], "WHERE")
        if before.strip():
            raise ValueError(
                f"unexpected text after DELETE FROM table: "
                f"{before.strip()!r}"
            )
        if _fmt(p) == "delta":
            return delta_dml.delete_delta(spark, p, where or "true")
        return iceberg_dml.delete_iceberg(spark, p, where or "true")
    if m := _MERGE_RE.match(sql):
        p = _path(m["target"])
        src_name = m["source"]
        if sources and src_name in sources:
            source = sources[src_name]
        elif src_name in tables:
            sp = tables[src_name]
            source = (
                delta_reader.read_delta(spark, sp)
                if delta_reader.is_delta_table(sp)
                else iceberg_reader.read_iceberg(spark, sp)
            )
        else:
            raise ValueError(f"unknown MERGE source {src_name!r}")
        aliases = {
            m["talias"] or m["target"], m["salias"] or m["source"]
        }
        on_clause, when = _split_top_keyword(m["rest"], "WHEN")
        if when is None:
            raise ValueError("MERGE needs at least one WHEN clause")
        when = "WHEN" + when
        update_matched = bool(_MATCHED_RE.search(when))
        insert_unmatched = bool(_NOT_MATCHED_RE.search(when))
        recognized = _MATCHED_RE.sub("", _NOT_MATCHED_RE.sub("", when))
        if recognized.strip():
            raise ValueError(
                f"unsupported MERGE WHEN clause(s): "
                f"{recognized.strip()!r}"
            )
        keys = _merge_keys(on_clause, aliases)
        if _fmt(p) == "delta":
            return delta_dml.merge_delta(
                spark, p, source, on=keys,
                update_when_matched=update_matched,
                insert_when_not_matched=insert_unmatched,
            )
        return iceberg_dml.merge_iceberg(
            spark, p, source, on=keys,
            update_when_matched=update_matched,
            insert_when_not_matched=insert_unmatched,
        )
    raise ValueError(f"not a supported statement: {sql.strip()[:80]!r}")


_DESCRIBE_DETAIL_RE = re.compile(
    rf"^\s*DESCRIBE\s+DETAIL\s+(?P<table>{_NAME})\s*$", re.IGNORECASE
)
_DESCRIBE_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+(?P<table>{_NAME})\s*$", re.IGNORECASE
)
_SHOW_PROPS_RE = re.compile(
    rf"^\s*SHOW\s+TBLPROPERTIES\s+(?P<table>{_NAME})\s*$",
    re.IGNORECASE,
)


def _describe_detail(spark, path: str) -> DataFrame:
    """One row of table facts from METADATA (Delta: crc/replay;
    Iceberg: snapshot summary / manifest walk) — never a data scan."""
    from dst_spark_k8_lakehouse_spark.plans import (
        cbo,
        delta_reader,
        iceberg_reader,
        iceberg_writer,
    )

    prof = cbo.table_profile(spark, path)
    if prof["format"] == "delta":
        state = delta_reader._replay(spark, path, None)
        meta = state["metaData"]
        row = (
            "delta", meta.get("id"), path,
            len(state["files"]), int(prof["bytes"]),
            list(meta.get("partitionColumns") or []),
            dict(meta.get("configuration") or {}),
        )
    else:
        meta, _v = iceberg_writer._load_meta(path)
        n_files = len(
            iceberg_reader.plan_file_list(spark, path)["data"]
        )
        row = (
            "iceberg", str(meta.get("table-uuid", "")), path,
            n_files, int(prof["bytes"]),
            [
                f["name"]
                for f in iceberg_writer._spec_fields(meta)
            ],
            dict(meta.get("properties") or {}),
        )
    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    return local_frame(
        spark,
        [row],
        "format string, id string, location string, numFiles long, "
        "sizeInBytes long, partitionColumns array<string>, "
        "properties map<string,string>",
    )


def _describe_history(spark, path: str) -> DataFrame:
    """Version/snapshot history, newest first, from the log alone.
    Delta rows carry the ICT when present (the timestamp that
    survives storage migrations); Iceberg rows are the snapshot
    list."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_reader,
        iceberg_reader,
    )

    rows = []
    if delta_reader.is_delta_table(path):
        rows = [
            (h["version"], h.get("operation"), h.get("timestamp"))
            for h in delta_reader.delta_history(path)
        ]
    else:
        for s in iceberg_reader.iceberg_snapshots(path):
            rows.append(
                (
                    int(s["snapshot_id"]),
                    s.get("operation"),
                    int(s["timestamp_ms"])
                    if s.get("timestamp_ms") else None,
                )
            )
    from dst_spark_k8_lakehouse_spark.localrel import local_frame

    return local_frame(
        spark, rows, "version long, operation string, timestamp_ms long"
    )


def query_native_sql(
    spark, sql: str, tables: dict[str, str]
) -> DataFrame:
    """The read half of the notebook statement surface against a
    NATIVE Delta or Iceberg directory: ``SELECT * FROM t
    [WHERE <cond>]`` (the shape ``getting_started.py:163-168`` and
    ``02_iceberg_demo.ipynb`` run after their INSERTs — WHERE text
    travels verbatim to Spark), star-shaped joins ``SELECT * FROM f
    JOIN d USING (k, …) [JOIN …]* [WHERE …]`` planned through the
    CBO (``cbo.plan_star_join``: metadata-sidecar profiles, greedy
    smallest-intermediate-first ordering for ≥3-table FROMs,
    per-step broadcast hints), plus the observability statements
    ``DESCRIBE DETAIL t`` (one metadata-derived fact row),
    ``DESCRIBE HISTORY t`` (versions/snapshots, ICT-aware) and
    ``SHOW TBLPROPERTIES t``. Anything beyond these shapes raises —
    real analytical SQL belongs on DataFrames / spark.sql over
    registered views, not on this replay shim."""
    from dst_spark_k8_lakehouse_spark.plans import (
        delta_reader,
        iceberg_reader,
        iceberg_writer,
    )

    s = sql.strip().rstrip(";").strip()

    def _path_of(name: str) -> str:
        if name not in tables:
            raise ValueError(
                f"unknown table {name!r}; have {sorted(tables)}"
            )
        return tables[name]

    if m := _DESCRIBE_DETAIL_RE.match(s):
        return _describe_detail(spark, _path_of(m["table"]))
    if m := _DESCRIBE_HISTORY_RE.match(s):
        return _describe_history(spark, _path_of(m["table"]))
    if m := _SHOW_PROPS_RE.match(s):
        p = _path_of(m["table"])
        if delta_reader.is_delta_table(p):
            conf = delta_reader._replay(spark, p, None)["metaData"].get(
                "configuration"
            ) or {}
        else:
            conf = iceberg_writer._load_meta(p)[0].get("properties") or {}
        from dst_spark_k8_lakehouse_spark.localrel import local_frame

        return local_frame(
            spark, sorted(conf.items()), "key string, value string"
        )
    if m := _SELECT_JOIN_RE.match(s):
        # JOINS PLAN THROUGH THE CBO (VERDICT r12 item 6): statement-
        # text joins over native tables would otherwise reach Spark
        # as unsized parquet unions it can't size — plan_star_join
        # profiles every table from its metadata sidecars, orders ≥3-
        # table FROMs greedy smallest-intermediate-first, and lands
        # advise_join's broadcast hints per step.
        from dst_spark_k8_lakehouse_spark.plans import cbo

        dims = [
            (
                _path_of(jm["dim"]),
                [k.strip() for k in jm["keys"].split(",") if k.strip()],
            )
            for jm in _JOIN_CLAUSE_RE.finditer(m["joins"])
        ]
        if any(not keys for _p, keys in dims):
            raise ValueError(f"empty USING column list in {s[:80]!r}")
        df, _plan = cbo.plan_star_join(
            spark, _path_of(m["table"]), dims
        )
        return df.where(m["where"]) if m["where"] else df
    m = _SELECT_RE.match(s)
    if not m:
        raise ValueError(
            f"query_native_sql handles SELECT * FROM t "
            f"[JOIN d USING (k, …)]* [WHERE ...], "
            f"DESCRIBE DETAIL/HISTORY and SHOW TBLPROPERTIES; "
            f"got {s[:80]!r}"
        )
    p = _path_of(m["table"])
    df = (
        delta_reader.read_delta(spark, p)
        if delta_reader.is_delta_table(p)
        else iceberg_reader.read_iceberg(spark, p)
    )
    return df.where(m["where"]) if m["where"] else df

"""Minimal pure-Python Avro object-container codec for Iceberg
metadata files (public Avro 1.x spec, container format + binary
encoding). Scope: exactly the subset Iceberg manifests / manifest
lists use — records, strings, bytes, int/long (zigzag varint), float,
double, boolean, null, unions, arrays, maps, fixed, enums — with
``null`` and ``deflate`` block codecs (what real Iceberg writers emit).

Why it exists: ``iceberg_reader`` would otherwise go through the JVM
Avro library via py4j, which costs a py4j round-trip PER FIELD ACCESS
and requires a live SparkSession — unusable inside Python DataSource
planning. This codec reads the same files driver-side in plain Python
(a manifest is metadata-sized: KBs to a few MB).

ONE decoder: for each (writer schema, projection) pair the reader
generates the source of one Python function that decodes a whole
record block — varints, strings and nested values inlined, fields
outside the projection skipped without building values — compiles it
once and caches it for the process (``_block_decoder``). A projection
(``read_avro_file(path, project=...)``) yields one flat tuple per
record holding only the requested field paths; the full-record read is
the all-fields projection of the same generator, emitting dicts. A
manifest walk that needs a dozen of an entry's ~25 fields then touches
each value once, instead of building nested dicts and walking them
again.

Not a general Avro implementation: no logical-type coercion (Iceberg
readers interpret raw values), no schema resolution against a reader
schema (container files are self-describing and are read with the
writer schema, which is exactly how manifest readers work), and no
recursive named types (no Iceberg metadata schema has one).
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any, Iterable

_MAGIC = b"Obj\x01"


def _register(schema: dict, names: dict[str, Any]) -> None:
    if isinstance(schema, dict) and "name" in schema:
        ns = schema.get("namespace")
        full = f"{ns}.{schema['name']}" if ns else schema["name"]
        names.setdefault(full, schema)
        names.setdefault(schema["name"], schema)


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``pos`` (Avro int/long share the encoding):
    ``(value, next pos)``. Generated decoders inline the one-byte case
    and call this for longer ones."""
    acc = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if b < 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


# ---------------------------------------------------------------------------
# block-decoder generator


# one block may hold at most this many values that occupy no bytes
_MAX_ZERO_WIDTH = 1 << 20

_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes",
     "string")
)
_COMPLEX = frozenset(("record", "enum", "fixed", "array", "map"))


class _Gen:
    """Emits the source of ``_decode_block(data, n, append)``: decode
    ``n`` records from ``data`` (one uncompressed block), ``append``
    each and return the end position."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.names: dict[str, Any] = {}
        self.consts: dict[str, Any] = {}
        self.inlining: list[str] = []
        self.n = 0

    def var(self, prefix: str = "v") -> str:
        self.n += 1
        return f"{prefix}{self.n}"

    def emit(self, ind: int, line: str) -> None:
        self.lines.append("    " * ind + line)

    def const(self, value: Any) -> str:
        name = self.var("_k")
        self.consts[name] = value
        return name

    # -- schema helpers -------------------------------------------------

    def resolve(self, schema: Any) -> tuple[Any, str]:
        """``(schema, type name)`` with named references resolved."""
        if isinstance(schema, list):
            return schema, "union"
        if isinstance(schema, str):
            if schema in _PRIMITIVES:
                return schema, schema
            if schema not in self.names:
                raise NotImplementedError(
                    f"Avro type {schema!r} beyond this reader"
                )
            schema = self.names[schema]
        t = schema["type"]
        if t in _PRIMITIVES or t in _COMPLEX:
            return schema, t
        return self.resolve(t)  # {"type": "<named type>"}

    def register_all(self, schema: Any) -> None:
        """Register every named definition up front, in document
        order, so a reference resolves wherever it is first met."""
        if isinstance(schema, list):
            for b in schema:
                self.register_all(b)
        elif isinstance(schema, dict):
            if schema.get("type") in ("record", "enum", "fixed"):
                _register(schema, self.names)
            for f in schema.get("fields") or ():
                self.register_all(f["type"])
            for key in ("items", "values"):
                if key in schema:
                    self.register_all(schema[key])

    def enter(self, record: dict) -> None:
        """Push a record being inlined (``inlining`` pops it); meeting
        it again inside itself means a recursive type."""
        name = record.get("name", "")
        if name and name in self.inlining:
            raise NotImplementedError(f"recursive Avro type {name!r}")
        self.inlining.append(name)

    def min_width(self, schema: Any) -> int:
        """Fewest bytes one value can occupy (the block-count guard:
        a corrupt count must fail fast, not spin)."""
        schema, t = self.resolve(schema)
        if t == "record":
            self.enter(schema)
            try:
                return sum(self.min_width(f["type"])
                           for f in schema["fields"])
            finally:
                self.inlining.pop()
        return {"null": 0, "float": 4, "double": 8}.get(
            t, int(schema["size"]) if t == "fixed" else 1
        )

    # -- emitters -------------------------------------------------------

    def long(self, ind: int, target: str) -> None:
        self.emit(ind, "b = data[pos]")
        self.emit(ind, "if b < 128:")
        self.emit(ind + 1, f"{target} = _ZZ[b]")
        self.emit(ind + 1, "pos += 1")
        self.emit(ind, "else:")
        self.emit(ind + 1, f"{target}, pos = _varint(data, pos)")

    def skip_long(self, ind: int) -> None:
        self.emit(ind, "while data[pos] > 127:")
        self.emit(ind + 1, "pos += 1")
        self.emit(ind, "pos += 1")

    def length(self, ind: int, target: str) -> None:
        self.long(ind, target)
        self.emit(ind, f"if {target} < 0:")
        self.emit(ind + 1, "raise ValueError('negative Avro length')")

    def blocks(self, ind: int, width: int, body, skip_sized: bool) -> None:
        """Array/map block loop: count [byte size] items…, 0-ended;
        ``body(ind)`` emits one item of at least ``width`` bytes.
        Skipping jumps whole blocks whose count is negative (their
        byte size follows)."""
        c = self.var("c")
        self.emit(ind, "while True:")
        self.long(ind + 1, c)
        self.emit(ind + 1, f"if not {c}:")
        self.emit(ind + 2, "break")
        self.emit(ind + 1, f"if {c} < 0:")
        if skip_sized:
            sz = self.var("z")
            self.length(ind + 2, sz)
            self.emit(ind + 2, f"pos += {sz}")
            self.emit(ind + 2, "continue")
        else:
            self.emit(ind + 2, f"{c} = -{c}")
            self.skip_long(ind + 2)
        self.count_guard(ind + 1, c, width, "len(data) - pos")
        self.emit(ind + 1, f"for _ in range({c}):")
        body(ind + 2)

    def count_guard(self, ind: int, count: str, width: int,
                    room: str) -> None:
        """A corrupt count must fail fast, not spin: ``count`` values
        of ``width`` bytes each must fit in ``room``; zero-width values
        (nulls, empty records) are capped at ``_MAX_ZERO_WIDTH``."""
        if width:
            self.emit(ind, f"if {count} * {width} > {room}:")
            self.emit(ind + 1, "raise EOFError('truncated Avro block')")
        else:
            self.emit(ind, f"if {count} > {_MAX_ZERO_WIDTH}:")
            self.emit(ind + 1, "raise ValueError('implausible Avro count')")

    def union_dispatch(self, ind: int, branches: list, per_branch) -> None:
        idx = self.var("u")
        self.long(ind, idx)
        for i, br in enumerate(branches):
            self.emit(ind, f"{'if' if i == 0 else 'elif'} {idx} == {i}:")
            per_branch(ind + 1, br)
        self.emit(ind, "else:")
        self.emit(ind + 1, "raise ValueError('Avro union index out of range')")

    def decode(self, schema: Any, ind: int, target: str) -> None:
        """Lines decoding one value of ``schema`` into ``target``."""
        schema, t = self.resolve(schema)
        if t == "null":
            self.emit(ind, f"{target} = None")
        elif t == "boolean":
            self.emit(ind, f"{target} = data[pos] == 1")
            self.emit(ind, "pos += 1")
        elif t in ("int", "long"):
            self.long(ind, target)
        elif t in ("float", "double"):
            fn, w = ("_f4", 4) if t == "float" else ("_f8", 8)
            self.emit(ind, f"{target} = {fn}(data, pos)[0]")
            self.emit(ind, f"pos += {w}")
        elif t in ("bytes", "string"):
            ln = self.var("n")
            self.length(ind, ln)
            tail = ".decode()" if t == "string" else ""
            self.emit(ind, f"{target} = data[pos:pos + {ln}]{tail}")
            self.emit(ind, f"pos += {ln}")
        elif t == "fixed":
            size = int(schema["size"])
            self.emit(ind, f"{target} = data[pos:pos + {size}]")
            self.emit(ind, f"pos += {size}")
        elif t == "enum":
            syms = tuple(schema["symbols"])
            k = self.var("e")
            self.long(ind, k)
            self.emit(ind, f"if not 0 <= {k} < {len(syms)}:")
            self.emit(ind + 1, "raise ValueError('Avro enum index out of range')")
            self.emit(ind, f"{target} = {self.const(syms)}[{k}]")
        elif t == "union":
            def branch(i2, br):
                self.decode(br, i2, target)

            self.union_dispatch(ind, schema, branch)
        elif t == "record":
            self.enter(schema)
            parts = []
            for f in schema["fields"]:
                fv = self.var()
                self.decode(f["type"], ind, fv)
                parts.append(f"{f['name']!r}: {fv}")
            self.inlining.pop()
            self.emit(ind, f"{target} = {{{', '.join(parts)}}}")
        elif t == "array":
            it = self.var("i")
            self.emit(ind, f"{target} = []")

            def body(i2):
                self.decode(schema["items"], i2, it)
                self.emit(i2, f"{target}.append({it})")

            self.blocks(ind, self.min_width(schema["items"]), body,
                        skip_sized=False)
        elif t == "map":
            key, val = self.var("k"), self.var("m")
            self.emit(ind, f"{target} = {{}}")

            def body(i2):
                self.decode("string", i2, key)
                self.decode(schema["values"], i2, val)
                self.emit(i2, f"{target}[{key}] = {val}")

            self.blocks(ind, 1 + self.min_width(schema["values"]), body,
                        skip_sized=False)
        else:
            raise NotImplementedError(f"Avro type {t!r} beyond this reader")

    def skip(self, schema: Any, ind: int) -> None:
        """Lines advancing ``pos`` past one value, building nothing."""
        schema, t = self.resolve(schema)
        if t == "null":
            return
        if t == "boolean":
            self.emit(ind, "pos += 1")
        elif t in ("int", "long", "enum"):
            self.skip_long(ind)
        elif t in ("float", "double", "fixed"):
            w = {"float": 4, "double": 8}.get(t) or int(schema["size"])
            self.emit(ind, f"pos += {w}")
        elif t in ("bytes", "string"):
            ln = self.var("n")
            self.length(ind, ln)
            self.emit(ind, f"pos += {ln}")
        elif t == "union":
            def branch(i2, br):
                before = len(self.lines)
                self.skip(br, i2)
                if len(self.lines) == before:
                    self.emit(i2, "pass")

            self.union_dispatch(ind, schema, branch)
        elif t == "record":
            self.enter(schema)
            for f in schema["fields"]:
                self.skip(f["type"], ind)
            self.inlining.pop()
        elif t in ("array", "map"):
            item = schema["items" if t == "array" else "values"]

            def body(i2):
                before = len(self.lines)
                if t == "map":
                    self.skip("string", i2)
                self.skip(item, i2)
                if len(self.lines) == before:
                    self.emit(i2, "pass")

            self.blocks(ind, self.min_width(item) + (t == "map"), body,
                        skip_sized=True)
        else:
            raise NotImplementedError(f"Avro type {t!r} beyond this reader")

    def project(self, schema: Any, tree: dict, ind: int,
                slots: dict) -> None:
        """Lines decoding the ``tree`` paths of one value of ``schema``
        into their slot variables and skipping everything else. A path
        through an array collects one value per item into a list; a
        path that leaves the schema (absent field, non-record value,
        null union branch) reads None."""
        schema, t = self.resolve(schema)
        if t == "union":
            def branch(i2, br):
                self.project(br, tree, i2, slots)

            self.union_dispatch(ind, schema, branch)
            return
        if t == "array":
            outer = {k: slots[k] for k in self.leaf_keys(tree)}
            inner = dict(slots)
            for k, var in outer.items():
                inner[k] = self.var("t")
                self.emit(ind, f"{var} = []")

            def body(i2):
                self.project(schema["items"], tree, i2, inner)
                for k, var in outer.items():
                    self.emit(i2, f"{var}.append({inner[k]})")

            self.blocks(ind, self.min_width(schema["items"]), body,
                        skip_sized=False)
            return
        if t != "record":
            self.skip(schema, ind)
            self.none_all(tree, ind, slots)
            return
        self.enter(schema)
        seen = set()
        for f in schema["fields"]:
            sub = tree.get(f["name"], False)
            seen.add(f["name"])
            if sub is False:
                self.skip(f["type"], ind)
            elif sub is None:
                self.decode(f["type"], ind, slots[id(tree), f["name"]])
            else:
                self.project(f["type"], sub, ind, slots)
        self.inlining.pop()
        self.none_all(tree, ind, slots, seen)

    def leaf_keys(self, tree: dict) -> list[tuple]:
        out = []
        for k, sub in tree.items():
            if sub is None:
                out.append((id(tree), k))
            else:
                out += self.leaf_keys(sub)
        return out

    def none_all(self, tree: dict, ind: int, slots: dict,
                 keep: set = frozenset()) -> None:
        for k, sub in tree.items():
            if k in keep:
                continue
            if sub is None:
                self.emit(ind, f"{slots[id(tree), k]} = None")
            else:
                self.none_all(sub, ind, slots)


# one-byte zigzag varints, the common case (statuses, lengths, keys)
_ZZ = tuple((b >> 1) ^ -(b & 1) for b in range(128))
_f4 = struct.Struct("<f").unpack_from
_f8 = struct.Struct("<d").unpack_from

_DECODERS: dict[tuple, Any] = {}


def _normalize(project: Iterable) -> tuple[tuple[str, ...], ...]:
    return tuple(
        (p,) if isinstance(p, str) else tuple(p) for p in project
    )


def _block_decoder(schema_json: str, project: tuple | None):
    """The generated ``_decode_block(data, n, append) -> end pos`` for
    a writer schema and projection (None = full records as dicts);
    compiled once per process and pair."""
    key = (schema_json, project)
    fn = _DECODERS.get(key)
    if fn is not None:
        return fn
    schema = json.loads(schema_json)
    g = _Gen()
    g.register_all(schema)
    g.emit(0, "def _decode_block(data, n, append):")
    g.count_guard(1, "n", g.min_width(schema), "len(data)")
    g.emit(1, "pos = 0")
    g.emit(1, "for _ in range(n):")
    as_dicts = project is None
    if as_dicts:
        top, t = g.resolve(schema)
        if t == "record":
            project = tuple((f["name"],) for f in top["fields"])
        else:
            g.decode(schema, 2, "rec")
            g.emit(2, "append(rec)")
    if project is not None:
        tree: dict = {}
        for path in project:
            node = tree
            for seg in path[:-1]:
                node = node.setdefault(seg, {})
                if node is None:
                    raise ValueError(f"overlapping projection {path}")
            if isinstance(node.get(path[-1]), dict):
                raise ValueError(f"overlapping projection {path}")
            node[path[-1]] = None
        slots: dict = {}

        def alloc(node: dict) -> None:
            for k, sub in node.items():
                if sub is None:
                    slots[id(node), k] = g.var("s")
                else:
                    alloc(sub)

        alloc(tree)
        g.project(schema, tree, 2, slots)

        def slot_of(path):
            node = tree
            for seg in path[:-1]:
                node = node[seg]
            return slots[id(node), path[-1]]

        if as_dicts:
            items = ", ".join(
                f"{p[0]!r}: {slot_of(p)}" for p in project
            )
            g.emit(2, f"append({{{items}}})")
        else:
            items = "".join(f"{slot_of(p)}, " for p in project)
            g.emit(2, f"append(({items}))")
    g.emit(1, "return pos")
    ns = {"_varint": _varint, "_ZZ": _ZZ, "_f4": _f4, "_f8": _f8,
          **g.consts}
    try:
        code = compile("\n".join(g.lines), "<avro block decoder>", "exec")
    except (SyntaxError, RecursionError) as e:  # nesting beyond CPython's
        raise NotImplementedError(f"Avro schema too deep: {e}") from None
    exec(code, ns)
    fn = _DECODERS[key] = ns["_decode_block"]
    return fn


def _read_header(path: str, data: bytes) -> tuple[dict[str, bytes], bytes, int]:
    """Container header: ``(metadata map, sync marker, first block
    position)``."""
    if data[:4] != _MAGIC:
        raise ValueError(f"{path} is not an Avro container file")
    meta: dict[str, bytes] = {}
    try:
        pos = 4
        while True:
            n, pos = _varint(data, pos)
            if n == 0:
                break
            if n < 0:
                n = -n
                _size, pos = _varint(data, pos)
            for _ in range(n):
                kl, pos = _varint(data, pos)
                k = data[pos:pos + kl].decode()
                pos += kl
                vl, pos = _varint(data, pos)
                meta[k] = data[pos:pos + vl]
                pos += vl
    except IndexError:
        raise EOFError(f"{path}: truncated Avro header") from None
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise EOFError(f"{path}: truncated Avro header")
    return meta, sync, pos + 16


def _zigzag(v: int) -> int:
    # arithmetic shift keeps this exact for negatives in Python
    return (v << 1) ^ (v >> 63)


def _put_long(out: bytearray, v: int) -> None:
    u = _zigzag(v)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _put_bytes(out: bytearray, b: bytes) -> None:
    _put_long(out, len(b))
    out += b


def _encode(schema: Any, v: Any, out: bytearray,
            names: dict[str, Any]) -> None:
    if isinstance(schema, list):  # union: pick the branch by value
        if v is None and "null" in schema:
            _put_long(out, schema.index("null"))
            return
        for i, branch in enumerate(schema):
            if branch != "null":
                _put_long(out, i)
                _encode(branch, v, out, names)
                return
        raise ValueError(f"no union branch for {v!r} in {schema}")
    if isinstance(schema, str):
        t = schema
        if t in names:
            _encode(names[t], v, out, names)
            return
    else:
        t = schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
        return
    if t in ("int", "long"):
        _put_long(out, int(v))
        return
    if t == "float":
        out += struct.pack("<f", float(v))
        return
    if t == "double":
        out += struct.pack("<d", float(v))
        return
    if t == "bytes":
        _put_bytes(out, bytes(v))
        return
    if t == "string":
        _put_bytes(out, str(v).encode("utf-8"))
        return
    if t == "record":
        _register(schema, names)
        for f in schema["fields"]:
            if f["name"] not in v and "default" in f:
                _encode(f["type"], f["default"], out, names)
            else:
                _encode(f["type"], v[f["name"]], out, names)
        return
    if t == "array":
        items = list(v or [])
        if items:
            _put_long(out, len(items))
            for item in items:
                _encode(schema["items"], item, out, names)
        _put_long(out, 0)
        return
    if t == "map":
        entries = dict(v or {})
        if entries:
            _put_long(out, len(entries))
            for k, val in entries.items():
                _put_bytes(out, str(k).encode("utf-8"))
                _encode(schema["values"], val, out, names)
        _put_long(out, 0)
        return
    if t == "fixed":
        _register(schema, names)
        b = bytes(v)
        if len(b) != int(schema["size"]):
            raise ValueError(f"fixed size {len(b)} != {schema['size']}")
        out += b
        return
    if t == "enum":
        _register(schema, names)
        _put_long(out, schema["symbols"].index(v))
        return
    raise NotImplementedError(f"Avro type {t!r} beyond this writer")


def write_avro_file(
    path: str, schema_json: str, records: list[dict[str, Any]]
) -> None:
    """Write an Avro object-container file (null codec) — the pure-
    Python counterpart of ``read_avro_file``, conformance-tested
    against the JVM Avro reader (``test_avro_codec.py``). One block
    per 1000 records."""
    import os as _os

    schema = json.loads(schema_json)
    names: dict[str, Any] = {}
    header = bytearray()
    header += _MAGIC
    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": b"null",
    }
    _encode({"type": "map", "values": "bytes"}, meta, header, {})
    sync = _os.urandom(16)
    header += sync
    body = bytearray()
    for i in range(0, max(len(records), 1), 1000):
        chunk = records[i: i + 1000]
        if not chunk:
            break
        block = bytearray()
        for r in chunk:
            _encode(schema, r, block, names)
        _put_long(body, len(chunk))
        _put_bytes(body, bytes(block))
        body += sync
    with open(path, "wb") as fh:
        fh.write(bytes(header) + bytes(body))


def read_avro_file(path: str, project: Iterable | None = None) -> list:
    """All records of an Avro container file — plain dicts, or with
    ``project`` (field paths: a top-level name, or a tuple of names
    into nested records) one tuple per record holding just those
    values in ``project`` order; a path absent from the writer schema
    or crossing a null union branch reads None. Truncated input raises
    ``EOFError``, corrupt input ``ValueError``."""
    with open(path, "rb") as fh:
        data = fh.read()
    meta, sync, pos = _read_header(path, data)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"Avro codec {codec!r}; null/deflate only")
    decode = _block_decoder(
        meta["avro.schema"].decode(),
        None if project is None else _normalize(project),
    )
    out: list = []
    append = out.append
    while pos < len(data):
        try:
            n, pos = _varint(data, pos)
            size, pos = _varint(data, pos)
        except IndexError:
            raise EOFError(f"{path}: truncated block header") from None
        if n < 0 or size < 0:
            raise ValueError(f"{path}: negative block count or size")
        block = data[pos:pos + size]
        if len(block) != size:
            raise EOFError(f"{path}: truncated record block")
        pos += size
        if codec == "deflate":
            try:
                block = zlib.decompress(block, -15)  # raw deflate per spec
            except zlib.error as e:
                raise ValueError(f"{path}: corrupt deflate block: {e}") from None
        try:
            end = decode(block, n, append)
        except (IndexError, struct.error):
            raise EOFError(f"{path}: truncated record block") from None
        if end > len(block):
            raise EOFError(f"{path}: truncated record block")
        if end < len(block):
            raise ValueError(
                f"{path}: {len(block) - end} undecoded bytes in a "
                "record block"
            )
        if data[pos:pos + 16] != sync:
            raise ValueError(f"{path}: sync marker mismatch")
        pos += 16
    return out

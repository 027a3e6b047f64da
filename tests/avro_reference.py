"""Reference Avro codec for the tests: the interpreted record decoder
(one schema dispatch per value, reading from a stream) and a container
writer that can emit deflate blocks and negative (byte-sized) array /
map block counts. ``plans/avro_codec``'s generated decoders are pinned
against this module; the package itself keeps only the generated
decoder and the null-codec writer."""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, BinaryIO, NamedTuple

from dst_spark_k8_lakehouse_spark.plans import avro_codec

MAGIC = b"Obj\x01"


def read_long(buf: BinaryIO) -> int:
    """Zigzag varint (Avro int/long share the encoding)."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def read_bytes(buf: BinaryIO) -> bytes:
    n = read_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise EOFError("truncated bytes")
    return out


def read_blocks(buf: BinaryIO, read_item) -> list:
    """Array/map block sequence: count [size] items..., 0-terminated;
    negative count = block byte size follows (skippable form)."""
    out = []
    while True:
        n = read_long(buf)
        if n == 0:
            return out
        if n < 0:
            n = -n
            read_long(buf)  # block byte size, unused
        for _ in range(n):
            out.append(read_item())


def register(schema: Any, names: dict[str, Any]) -> None:
    if isinstance(schema, dict) and "name" in schema:
        ns = schema.get("namespace")
        full = f"{ns}.{schema['name']}" if ns else schema["name"]
        names.setdefault(full, schema)
        names.setdefault(schema["name"], schema)


def register_all(schema: Any, names: dict[str, Any]) -> dict[str, Any]:
    """Every named definition of ``schema``, in document order — a
    reference may sit on a path the data never takes through its
    definition (e.g. an enum defined in an unused union branch)."""
    if isinstance(schema, list):
        for b in schema:
            register_all(b, names)
    elif isinstance(schema, dict):
        register(schema, names)
        for f in schema.get("fields") or ():
            register_all(f["type"], names)
        for key in ("items", "values"):
            if key in schema:
                register_all(schema[key], names)
    return names


def resolve(schema: Any, names: dict[str, Any]) -> tuple[Any, str]:
    if isinstance(schema, list):
        return schema, "union"
    if isinstance(schema, str):
        if schema in names:
            return resolve(names[schema], names)
        return schema, schema
    register(schema, names)
    return schema, schema["type"]


def decode(schema: Any, buf: BinaryIO, names: dict[str, Any]) -> Any:
    schema, t = resolve(schema, names)
    if t == "union":  # varint branch index
        return decode(schema[read_long(buf)], buf, names)
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return read_bytes(buf)
    if t == "string":
        return read_bytes(buf).decode("utf-8")
    if t == "record":
        return {
            f["name"]: decode(f["type"], buf, names)
            for f in schema["fields"]
        }
    if t == "array":
        return read_blocks(buf, lambda: decode(schema["items"], buf, names))
    if t == "map":
        def kv():
            k = read_bytes(buf).decode("utf-8")
            return (k, decode(schema["values"], buf, names))

        return dict(read_blocks(buf, kv))
    if t == "fixed":
        return buf.read(int(schema["size"]))
    if t == "enum":
        return schema["symbols"][read_long(buf)]
    raise NotImplementedError(f"Avro type {t!r}")


def read_header(buf: BinaryIO) -> tuple[dict[str, bytes], bytes]:
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro container file")
    meta = decode({"type": "map", "values": "bytes"}, buf, {})
    return meta, buf.read(16)


def read_records(path: str) -> list:
    """All records of a container file, decoded value by value."""
    with open(path, "rb") as fh:
        data = fh.read()
    buf = io.BytesIO(data)
    meta, sync = read_header(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    names = register_all(schema, {})
    out: list = []
    while buf.tell() < len(data):
        n = read_long(buf)
        block = read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        bbuf = io.BytesIO(block)
        for _ in range(n):
            out.append(decode(schema, bbuf, names))
        if bbuf.read(1):
            raise ValueError("undecoded bytes in a record block")
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return out


def value_at(schema: Any, value: Any, path: tuple, names: dict) -> Any:
    """The value at ``path`` (record field names) of a decoded value —
    the semantics of ``read_avro_file(project=...)``: an array maps the
    rest of the path over its items, and a path leaving the schema
    reads None. Union branches are recognized from the decoded value,
    so a union may hold at most one record-or-map branch."""
    if not path:
        return value
    if not names:
        register_all(schema, names)
    schema, t = resolve(schema, names)
    if t == "union":
        if isinstance(value, dict):
            kinds = ("record", "map")
        elif isinstance(value, list):
            kinds = ("array",)
        else:
            return None
        branch = next(b for b in schema if resolve(b, names)[1] in kinds)
        return value_at(branch, value, path, names)
    if t == "array":
        return [value_at(schema["items"], v, path, names) for v in value]
    if t != "record":
        return None
    for f in schema["fields"]:
        if f["name"] == path[0]:
            return value_at(f["type"], value[path[0]], path[1:], names)
    return None


class Branch(NamedTuple):
    """A union value with its branch spelled out (a plain value takes
    ``null`` when None, else the first non-null branch)."""

    index: int
    value: Any


def encode(schema: Any, v: Any, out: bytearray, names: dict[str, Any],
           negative_blocks: bool = False) -> None:
    """Binary-encode ``v``; ``negative_blocks`` writes arrays and maps
    as two-item blocks with negative counts and byte sizes (the
    skippable form real writers may emit)."""
    schema, t = resolve(schema, names)
    if t == "union":
        if not isinstance(v, Branch):
            v = Branch(
                schema.index("null") if v is None
                else next(i for i, b in enumerate(schema) if b != "null"),
                v,
            )
        avro_codec._put_long(out, v.index)
        encode(schema[v.index], v.value, out, names, negative_blocks)
    elif t in ("array", "map"):
        items = list(v.items()) if t == "map" else list(v)
        sub = schema["values" if t == "map" else "items"]
        step = 2 if negative_blocks else max(len(items), 1)
        for i in range(0, len(items), step):
            chunk = items[i:i + step]
            body = bytearray()
            for item in chunk:
                if t == "map":
                    avro_codec._put_bytes(body, item[0].encode("utf-8"))
                    item = item[1]
                encode(sub, item, body, names, negative_blocks)
            if negative_blocks:
                avro_codec._put_long(out, -len(chunk))
                avro_codec._put_long(out, len(body))
            else:
                avro_codec._put_long(out, len(chunk))
            out += body
        avro_codec._put_long(out, 0)
    elif t == "record":
        for f in schema["fields"]:
            encode(f["type"], v[f["name"]], out, names, negative_blocks)
    else:
        avro_codec._encode(schema, v, out, names)


def write_container(path: str, schema_json: str, records: list,
                    codec: str = "null", per_block: int = 1000,
                    negative_blocks: bool = False) -> None:
    """An Avro container file with ``per_block`` records per block."""
    schema = json.loads(schema_json)
    header = bytearray(MAGIC)
    avro_codec._encode(
        {"type": "map", "values": "bytes"},
        {"avro.schema": schema_json.encode("utf-8"),
         "avro.codec": codec.encode("utf-8")},
        header, {},
    )
    sync = os.urandom(16)
    header += sync
    names = register_all(schema, {})
    for i in range(0, len(records), per_block):
        chunk = records[i:i + per_block]
        block = bytearray()
        for r in chunk:
            encode(schema, r, block, names, negative_blocks)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            block = bytearray(co.compress(bytes(block)) + co.flush())
        avro_codec._put_long(header, len(chunk))
        avro_codec._put_bytes(header, bytes(block))
        header += sync
    with open(path, "wb") as fh:
        fh.write(bytes(header))


def read_avro_file(path: str, project=None) -> list:
    """Drop-in for ``avro_codec.read_avro_file`` on the reference
    decoder: records decoded value by value, projected afterwards."""
    recs = read_records(path)
    if project is None:
        return recs
    with open(path, "rb") as fh:
        meta, _sync = read_header(fh)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    paths = [(p,) if isinstance(p, str) else tuple(p) for p in project]
    names = register_all(schema, {})
    return [tuple(value_at(schema, r, p, names) for p in paths)
            for r in recs]

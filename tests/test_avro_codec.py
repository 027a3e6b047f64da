"""The pure-Python Avro container decoder agrees with the JVM Avro
library byte-for-byte across the type surface Iceberg metadata uses —
including types our own writer never emits but real runtimes do
(maps, fixed, enums, deflate blocks, multi-block files)."""

from __future__ import annotations

import json
import os

import pytest

from dst_spark_k8_lakehouse_spark.plans import avro_codec
from tests import avro_reference as ref

SCHEMA = {
    "type": "record",
    "name": "kitchen",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "int"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "fx", "type": {"type": "fixed", "name": "fx8", "size": 4}},
        {
            "name": "e",
            "type": {"type": "enum", "name": "col",
                     "symbols": ["RED", "GREEN", "BLUE"]},
        },
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": "int"}],
            },
        },
        {"name": "again", "type": "inner"},  # named-type reference
    ],
}


def _write_with_jvm(spark, path: str, codec: str, n: int) -> None:
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    if codec == "deflate":
        w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(schema, jvm.java.io.File(path))
    inner_schema = schema.getField("nested").schema()
    fx_schema = schema.getField("fx").schema()
    e_schema = schema.getField("e").schema()
    jfloat = jvm.java.lang.Float.valueOf
    for i in range(n):
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("i", i)
        rec.put("l", (i + 1) * 10_000_000_000)  # > int32: py4j sends Long
        rec.put("f", jfloat(float(i) / 2))
        rec.put("d", float(i) / 3)
        rec.put("b", i % 2 == 0)
        rec.put("s", f"s{i}·π")  # non-ascii utf-8
        rec.put("by", jvm.java.nio.ByteBuffer.wrap(bytes([i % 256] * 3)))
        rec.put("u", None if i % 3 == 0 else i)
        arr = jvm.java.util.ArrayList()
        for j in range(i % 4):
            arr.add(j)
        rec.put("arr", arr)
        m = jvm.java.util.HashMap()
        m.put(f"k{i}", f"v{i}")
        rec.put("m", m)
        rec.put(
            "fx",
            jvm.org.apache.avro.generic.GenericData.Fixed(
                fx_schema, bytes([1, 2, 3, i % 256])
            ),
        )
        rec.put(
            "e",
            jvm.org.apache.avro.generic.GenericData.EnumSymbol(
                e_schema, ["RED", "GREEN", "BLUE"][i % 3]
            ),
        )
        inner = jvm.org.apache.avro.generic.GenericData.Record(inner_schema)
        inner.put("x", i * 7)
        rec.put("nested", inner)
        inner2 = jvm.org.apache.avro.generic.GenericData.Record(inner_schema)
        inner2.put("x", i * 11)
        rec.put("again", inner2)
        w.append(rec)
        if i == n // 2:
            w.sync()  # force a second block
    w.close()


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_kitchen_sink_roundtrip(spark, tmp_path, codec):
    p = str(tmp_path / f"k-{codec}.avro")
    _write_with_jvm(spark, p, codec, 201)
    rows = avro_codec.read_avro_file(p)
    assert len(rows) == 201
    for i in (0, 1, 100, 200):
        r = rows[i]
        assert r["i"] == i and r["l"] == (i + 1) * 10_000_000_000
        assert r["f"] == pytest.approx(i / 2, rel=1e-6)
        assert r["d"] == i / 3
        assert r["b"] is (i % 2 == 0)
        assert r["s"] == f"s{i}·π"
        assert r["by"] == bytes([i % 256] * 3)
        assert r["u"] == (None if i % 3 == 0 else i)
        assert r["arr"] == list(range(i % 4))
        assert r["m"] == {f"k{i}": f"v{i}"}
        assert r["fx"] == bytes([1, 2, 3, i % 256])
        assert r["e"] == ["RED", "GREEN", "BLUE"][i % 3]
        assert r["nested"] == {"x": i * 7}
        assert r["again"] == {"x": i * 11}


def test_not_avro_raises(tmp_path):
    p = str(tmp_path / "x")
    with open(p, "wb") as fh:
        fh.write(b"PAR1 not avro")
    with pytest.raises(ValueError, match="not an Avro container"):
        avro_codec.read_avro_file(p)


def test_python_writer_roundtrips_through_python_reader(tmp_path):
    p = str(tmp_path / "w.avro")
    rows = [
        {
            "i": i, "l": (i + 1) * 10_000_000_000, "f": i / 2.0,
            "d": i / 3.0, "b": i % 2 == 0, "s": f"s{i}·π",
            "by": bytes([i % 256] * 3),
            "u": None if i % 3 == 0 else i,
            "arr": list(range(i % 4)), "m": {f"k{i}": f"v{i}"},
            "fx": bytes([1, 2, 3, i % 256]),
            "e": ["RED", "GREEN", "BLUE"][i % 3],
            "nested": {"x": i * 7}, "again": {"x": i * 11},
        }
        for i in range(2500)  # > one 1000-record block
    ]
    avro_codec.write_avro_file(p, json.dumps(SCHEMA), rows)
    back = avro_codec.read_avro_file(p)
    assert len(back) == 2500
    for i in (0, 999, 1000, 2499):
        want = dict(rows[i])
        want["f"] = pytest.approx(want["f"], rel=1e-6)
        assert back[i] == want


def test_python_writer_readable_by_jvm(spark, tmp_path):
    """Cross-engine conformance in the OTHER direction: files this
    writer produces must parse in the reference implementation."""
    p = str(tmp_path / "w2.avro")
    rows = [
        {
            "i": i, "l": (i + 1) * 10_000_000_000, "f": 0.5, "d": 0.25,
            "b": True, "s": f"x{i}", "by": b"ab",
            "u": i if i % 2 else None, "arr": [1, 2], "m": {"a": "b"},
            "fx": b"\x01\x02\x03\x04", "e": "GREEN",
            "nested": {"x": 1}, "again": {"x": 2},
        }
        for i in range(50)
    ]
    avro_codec.write_avro_file(p, json.dumps(SCHEMA), rows)
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    n = 0
    while reader.hasNext():
        rec = reader.next()
        i = int(str(rec.get("i")))
        assert str(rec.get("s")) == f"x{i}"
        assert int(str(rec.get("l"))) == (i + 1) * 10_000_000_000
        assert str(rec.get("e")) == "GREEN"
        assert int(str(rec.get("nested").get("x"))) == 1
        n += 1
    reader.close()
    assert n == 50


def test_property_roundtrip_random_records(tmp_path):
    """Property: arbitrary values of the manifest-relevant types
    survive a python-write → python-read round trip exactly."""
    from hypothesis import given, settings, strategies as st

    schema = {
        "type": "record",
        "name": "prop",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "u", "type": ["null", "string"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "b", "type": "boolean"},
            {"name": "d", "type": "double"},
        ],
    }
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    rec = st.fixed_dictionaries(
        {
            "l": longs,
            "s": st.text(max_size=40),
            "u": st.none() | st.text(max_size=10),
            "arr": st.lists(longs, max_size=5),
            "m": st.dictionaries(st.text(max_size=8), longs, max_size=4),
            "b": st.booleans(),
            "d": st.floats(allow_nan=False),
        }
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(rec, max_size=20))
    def roundtrip(rows):
        p = str(tmp_path / "prop.avro")
        avro_codec.write_avro_file(p, json.dumps(schema), rows)
        assert avro_codec.read_avro_file(p) == rows

    roundtrip()


def test_compiled_decoder_equals_interpreted(tmp_path):
    """The generated block decoder and the interpreted reference
    (``tests/avro_reference``) produce IDENTICAL output on every shape
    the Iceberg metadata surface uses — unions, nested records, bounds
    maps (negative skippable block counts included), arrays, fixed,
    enum, both codecs."""
    schema = json.dumps({
        "type": "record", "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"], "default": None},
            {"name": "b", "type": "boolean"},
            {"name": "d", "type": "double"},
            {"name": "bs", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {
                "type": "map", "values": ["null", "bytes"]}},
            {"name": "sub", "type": {
                "type": "record", "name": "sub",
                "fields": [{"name": "x", "type": "int"}]}},
            {"name": "sub2", "type": ["null", "sub"], "default": None},
        ],
    })
    rows = [
        {"s": f"row{i}", "n": None if i % 3 == 0 else i * 12345,
         "b": i % 2 == 0, "d": i / 7.0, "bs": bytes([i % 256]) * (i % 9),
         "arr": list(range(i % 5)),
         "m": {f"k{j}": (None if j % 2 else bytes([j])) for j in range(i % 4)},
         "sub": {"x": -i}, "sub2": None if i % 2 else {"x": i}}
        for i in range(500)
    ]
    p = str(tmp_path / "t.avro")
    avro_codec.write_avro_file(p, schema, rows)
    assert avro_codec.read_avro_file(p) == ref.read_records(p) == rows
    for codec, negative in (("deflate", False), ("null", True),
                            ("deflate", True)):
        p2 = str(tmp_path / f"t-{codec}-{negative}.avro")
        ref.write_container(p2, schema, rows, codec=codec, per_block=128,
                            negative_blocks=negative)
        assert avro_codec.read_avro_file(p2) == ref.read_records(p2) == rows


def test_compiled_decoder_edge_values(tmp_path):
    """Varint edges through the generated decoder: int64 extremes,
    zero, alternating signs, empty strings/bytes/arrays/maps."""
    schema = json.dumps({
        "type": "record", "name": "e",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    })
    edge = [-(2**63), -(2**63) + 1, -1, 0, 1, 63, 64, -64, -65,
            2**63 - 1, 2**31, -(2**31) - 1]
    rows = [
        {"v": v, "s": "", "b": b"", "a": edge, "m": {}} for v in edge
    ]
    p = str(tmp_path / "e.avro")
    avro_codec.write_avro_file(p, schema, rows)
    assert avro_codec.read_avro_file(p) == rows
    assert ref.read_records(p) == rows
    assert avro_codec.read_avro_file(p, project=["v", "a"]) == [
        (r["v"], r["a"]) for r in rows
    ]


def test_projection_paths(tmp_path):
    """Projected tuples: nested record paths, paths mapped over an
    array of records, and paths the writer schema lacks (None)."""
    p = str(tmp_path / "p.avro")
    rows = [
        {"i": i, "l": i, "f": 0.5, "d": 0.25, "b": True, "s": f"s{i}",
         "by": b"x", "u": None if i % 2 else i, "arr": [1],
         "m": {"k": "v"}, "fx": b"abcd", "e": "RED",
         "nested": {"x": i * 7}, "again": {"x": i * 11}}
        for i in range(5)
    ]
    avro_codec.write_avro_file(p, json.dumps(SCHEMA), rows)
    got = avro_codec.read_avro_file(
        p, project=[("nested", "x"), "s", ("again", "x"), "u",
                    ("absent",), ("nested", "absent"), ("m", "k"),
                    ("by", "deeper")],
    )
    assert got == [
        (i * 7, f"s{i}", i * 11, None if i % 2 else i, None, None, None,
         None)
        for i in range(5)
    ]
    bounds = json.dumps({
        "type": "record", "name": "b",
        "fields": [{"name": "lb", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "kv", "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "bytes"}]}}]}],
    })
    q = str(tmp_path / "b.avro")
    avro_codec.write_avro_file(q, bounds, [
        {"lb": [{"key": 1, "value": b"a"}, {"key": 2, "value": b"b"}]},
        {"lb": None},
        {"lb": []},
    ])
    assert avro_codec.read_avro_file(
        q, project=[("lb", "key"), ("lb", "value")]
    ) == [([1, 2], [b"a", b"b"]), (None, None), ([], [])]
    with pytest.raises(ValueError, match="overlapping"):
        avro_codec.read_avro_file(q, project=["lb", ("lb", "key")])


def test_decoders_cached_per_schema_and_projection(tmp_path):
    """Manifests sharing a writer schema share one generated decoder:
    reading another file of the same schema compiles nothing."""
    paths = []
    for k in range(3):
        p = str(tmp_path / f"c{k}.avro")
        avro_codec.write_avro_file(p, json.dumps(SCHEMA), [])
        paths.append(p)
    avro_codec.read_avro_file(paths[0])
    avro_codec.read_avro_file(paths[0], project=["s"])
    before = dict(avro_codec._DECODERS)
    for p in paths[1:]:
        avro_codec.read_avro_file(p)
        avro_codec.read_avro_file(p, project=["s"])
    assert avro_codec._DECODERS == before


# ---------------------------------------------------------------------------
# property: generated decoders == the interpreted reference over random
# schemas, and damaged files fail with EOFError / ValueError


def _schemas_and_values():
    """(schema, records, projection paths) over random schemas of
    bounded depth: nested records, ``["null", X]`` and multi-branch
    unions, arrays and maps, fixed, enum, float, double and named-type
    references."""
    from hypothesis import strategies as st

    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    prim_values = {
        "null": st.none(),
        "boolean": st.booleans(),
        "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "long": longs,
        "float": st.floats(width=32, allow_nan=False),
        "double": st.floats(allow_nan=False),
        "bytes": st.binary(max_size=6),
        "string": st.text(max_size=6),
    }

    @st.composite
    def build(draw):
        counter = [0]
        named: list[tuple[str, dict]] = []

        def fresh(prefix):
            counter[0] += 1
            return f"{prefix}{counter[0]}"

        def typ(depth, in_union=False):
            kinds = ["prim", "fixed", "enum"]
            if named and not in_union:
                kinds.append("ref")
            if depth > 0:
                kinds += ["record", "array", "map"]
                if not in_union:
                    kinds += ["union", "union"]
            kind = draw(st.sampled_from(kinds))
            if kind == "prim":
                p = draw(st.sampled_from(sorted(prim_values)))
                if in_union and p == "null":
                    p = "long"
                return p, prim_values[p]
            if kind == "fixed":
                n = draw(st.integers(min_value=0, max_value=4))
                s = {"type": "fixed", "name": fresh("fx"), "size": n}
                v = st.binary(min_size=n, max_size=n)
                named.append((s["name"], (s, v)))
                return s, v
            if kind == "enum":
                syms = [f"S{i}" for i in range(draw(
                    st.integers(min_value=1, max_value=4)))]
                s = {"type": "enum", "name": fresh("en"), "symbols": syms}
                v = st.sampled_from(syms)
                named.append((s["name"], (s, v)))
                return s, v
            if kind == "ref":
                name, (s, v) = draw(st.sampled_from(named))
                return name, v
            if kind == "record":
                fields, values = [], {}
                for _ in range(draw(st.integers(min_value=1, max_value=4))):
                    ft, fv = typ(depth - 1)
                    f = fresh("f")
                    fields.append({"name": f, "type": ft})
                    values[f] = fv
                s = {"type": "record", "name": fresh("r"),
                     "fields": fields}
                v = st.fixed_dictionaries(values)
                named.append((s["name"], (s, v)))
                return s, v
            if kind == "array":
                it, iv = typ(depth - 1)
                return ({"type": "array", "items": it},
                        st.lists(iv, max_size=4))
            if kind == "map":
                it, iv = typ(depth - 1)
                return ({"type": "map", "values": it},
                        st.dictionaries(st.text(max_size=4), iv,
                                        max_size=3))
            # union: ["null", X] or up to three branches, at most one
            # of each container kind (the reference projection tells
            # branches apart by decoded value)
            branches, values, used = [], [], set()
            if draw(st.booleans()):
                branches.append("null")
                values.append(st.none())
            for _ in range(draw(st.integers(min_value=1, max_value=3))):
                n_named = len(named)
                bt, bv = typ(depth - 1, in_union=True)
                key = (bt if isinstance(bt, str)  # no refs in unions
                       else bt["type"] if bt["type"] == "array"
                       else "dictlike" if bt["type"] in ("map", "record")
                       else bt["name"])
                if key in used:
                    del named[n_named:]  # the branch is dropped
                    continue
                used.add(key)
                branches.append(bt)
                values.append(bv)
            return branches, st.one_of(*[
                vs.map(lambda x, i=i: ref.Branch(i, x))
                for i, vs in enumerate(values)
            ])

        fields, values = [], {}
        for _ in range(draw(st.integers(min_value=1, max_value=5))):
            ft, fv = typ(2)
            f = fresh("top")
            fields.append({"name": f, "type": ft})
            values[f] = fv
        schema = {"type": "record", "name": "top", "fields": fields}
        records = draw(st.lists(st.fixed_dictionaries(values), max_size=6))
        # projection: random paths down the generated field names,
        # including names that exist only elsewhere in the schema
        all_names = [f"f{i}" for i in range(1, counter[0] + 1)] + [
            f["name"] for f in fields
        ]
        paths = draw(st.lists(
            st.lists(st.sampled_from(all_names), min_size=1, max_size=3)
            .map(tuple),
            min_size=1, max_size=4, unique=True,
        ))
        # overlapping paths (one a prefix of another) are rejected by
        # design; keep the maximal ones
        paths = [p for p in paths if not any(
            q != p and q[:len(p)] == p for q in paths)]
        return schema, records, paths

    return build()


def test_property_generated_decoder_equals_reference(tmp_path):
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(_schemas_and_values(), st.sampled_from(["null", "deflate"]),
           st.booleans(), st.integers(min_value=1, max_value=4))
    def check(case, codec, negative, per_block):
        schema, records, paths = case
        p = str(tmp_path / "prop.avro")
        ref.write_container(p, json.dumps(schema), records, codec=codec,
                            per_block=per_block, negative_blocks=negative)
        want = ref.read_records(p)
        assert avro_codec.read_avro_file(p) == want
        got = avro_codec.read_avro_file(p, project=paths)
        assert got == [
            tuple(ref.value_at(schema, r, path, {}) for path in paths)
            for r in want
        ]

    check()


def _block_span(path: str) -> tuple[int, int]:
    """Byte span of a single-block file's block (count, size, data,
    sync)."""
    import io

    data = open(path, "rb").read()
    buf = io.BytesIO(data)
    ref.read_header(buf)
    return buf.tell(), len(data)


def test_property_damaged_files_raise(tmp_path):
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(_schemas_and_values(), st.sampled_from(["null", "deflate"]),
           st.booleans(), st.data())
    def check(case, codec, negative, data):
        schema, records, _paths = case
        if not records:
            return
        p = str(tmp_path / "dmg.avro")
        ref.write_container(p, json.dumps(schema), records, codec=codec,
                            per_block=len(records),
                            negative_blocks=negative)
        raw = open(p, "rb").read()
        start, end = _block_span(p)
        # truncation anywhere inside the only block
        cut = data.draw(st.integers(min_value=start + 1,
                                    max_value=end - 1))
        open(p, "wb").write(raw[:cut])
        with pytest.raises((EOFError, ValueError)):
            avro_codec.read_avro_file(p)
        # a flipped byte: either still decodes or fails as corrupt —
        # never another error, never a hang
        at = data.draw(st.integers(min_value=start, max_value=end - 1))
        bit = data.draw(st.integers(min_value=0, max_value=7))
        flipped = bytearray(raw)
        flipped[at] ^= 1 << bit
        open(p, "wb").write(bytes(flipped))
        try:
            avro_codec.read_avro_file(p)
        except (EOFError, ValueError):
            pass

    check()


def test_trailing_bytes_in_block_raise(tmp_path):
    """A block with bytes past its last record is corrupt."""
    p = str(tmp_path / "t.avro")
    rows = [{"x": 1}, {"x": 2}]
    sch = json.dumps({"type": "record", "name": "t",
                      "fields": [{"name": "x", "type": "long"}]})
    avro_codec.write_avro_file(p, sch, rows)
    raw = open(p, "rb").read()
    start, _end = _block_span(p)
    sync = raw[-16:]
    block = bytearray()
    for r in rows:
        avro_codec._encode(json.loads(sch), r, block, {})
    body = bytearray()
    avro_codec._put_long(body, 2)
    avro_codec._put_bytes(body, bytes(block) + b"\x00")
    open(p, "wb").write(raw[:start] + bytes(body) + sync)
    with pytest.raises(ValueError, match="undecoded"):
        avro_codec.read_avro_file(p)

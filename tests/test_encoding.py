"""Typed binary datum codec: byte-for-byte parity with the reference's
schema encoding (/root/reference/pkg/schema/encoding.go), including the
exact vectors from encoding_test.go, plus wire round-trips through the
server so a binary fossil client is served correctly."""

from __future__ import annotations

import struct

import pytest

from fossil_spark.encoding import (
    decode_python,
    decode_to_display,
    encode_literal,
    encode_python,
    to_storage_text,
    validate_bytes,
)
from fossil_spark.schema import SchemaError


# --- reference encoding_test.go vectors ------------------------------------


def test_composite_with_array_vector():
    """TestEncodeStringForSchemaCompositeWithArray: keys given out of
    declaration order; expected bytes are coords (2x int32 LE) then a
    u32-length-prefixed string."""
    schema = '{"coords": [2]int32, "type": string}'
    data = encode_literal("type: click, coords: 1, 2", schema)
    expected = (
        struct.pack("<I", 1) + struct.pack("<I", 2)
        + struct.pack("<I", len("click")) + b"click"
    )
    assert data == expected


def test_composite_quoted_string_with_comma():
    """TestEncodeStringForSchemaCompositeQuotedString: a quoted string
    containing a comma must parse."""
    schema = '{"coords": [2]int32, "message": string}'
    data = encode_literal('coords: 10, 20, message: "hello, world"', schema)
    decoded = decode_python(data, schema)
    assert decoded["coords"] == [10, 20]
    assert decoded["message"] == '"hello, world"'


def test_composite_trailing_comma_rejected():
    """TestEncodeStringForSchemaCompositeTrailingComma."""
    schema = '{"coords": [2]int32, "type": string}'
    with pytest.raises(SchemaError):
        encode_literal("type: click, coords: 1, 2,", schema)


# --- scalar widths and round-trips -----------------------------------------


@pytest.mark.parametrize("schema,literal,expected", [
    ("boolean", "true", b"\x01"),
    ("boolean", "false", b"\x00"),
    ("int16", "-2", struct.pack("<h", -2)),
    ("int32", "123456", struct.pack("<i", 123456)),
    ("int64", "-99", struct.pack("<q", -99)),
    ("uint16", "65535", struct.pack("<H", 65535)),
    ("uint32", "4000000000", struct.pack("<I", 4000000000)),
    ("uint64", "18446744073709551615", struct.pack("<Q", 2**64 - 1)),
    ("float32", "1.5", struct.pack("<f", 1.5)),
    ("float64", "2.75", struct.pack("<d", 2.75)),
    ("string", "hello", b"hello"),
    # 8-bit types: the reference's EncodeStringForSchema omits them (a
    # gap — it silently emits zero bytes); we encode the 1 byte that
    # objects.go Size() declares and its decoder expects for uint8
    ("uint8", "200", b"\xc8"),
    ("int8", "-1", b"\xff"),
])
def test_scalar_encode(schema, literal, expected):
    data = encode_literal(literal, schema)
    assert data == expected
    # decode round-trips to the same literal meaning
    v = decode_python(data, schema)
    if schema.startswith("float"):
        assert v == pytest.approx(float(literal))
    elif schema == "boolean":
        assert v is (literal == "true")
    elif schema == "string":
        assert v == literal
    else:
        assert v == int(literal)


def test_array_roundtrip():
    data = encode_literal("1, 2, 3", "[3]int64")
    assert data == struct.pack("<3q", 1, 2, 3)
    assert decode_python(data, "[3]int64") == [1, 2, 3]
    with pytest.raises(SchemaError):
        encode_literal("1, 2", "[3]int64")


def test_display_format_parity():
    """DecodeStringForSchema formats: %f floats, comma-joined arrays,
    `key: value` composites, binary summarized."""
    assert decode_to_display(struct.pack("<d", 1.5), "float64") == "1.500000"
    assert decode_to_display(struct.pack("<2i", 3, 4), "[2]int32") == "3, 4"
    assert decode_to_display(b"\x01", "boolean") == "true"
    assert decode_to_display(b"\x00\x01\x02", "binary") == "...3 bytes..."
    schema = '{"coords": [2]int32, "type": string}'
    data = encode_literal("type: click, coords: 1, 2", schema)
    assert decode_to_display(data, schema) == "coords: 1, 2, type: click"


def test_validate_bytes_lengths():
    """objects.go Validate parity: fixed types are exactly their
    width."""
    assert validate_bytes(struct.pack("<d", 1.0), "float64")
    assert not validate_bytes(b"1.5", "float64")  # 3 bytes != 8
    assert not validate_bytes(b"\x00" * 7, "float64")
    assert validate_bytes(struct.pack("<3q", 1, 2, 3), "[3]int64")
    assert not validate_bytes(struct.pack("<2q", 1, 2), "[3]int64")


def test_storage_text_forms():
    assert to_storage_text(True) == "true"
    assert to_storage_text(1.5) == "1.5"
    assert to_storage_text([1, 2]) == "[1, 2]"
    assert to_storage_text({"a": 1}) == '{"a": 1}'


def test_encode_python_matches_encode_literal():
    schema = '{"coords": [2]int32, "type": string}'
    lit = encode_literal("type: click, coords: 1, 2", schema)
    py = encode_python({"coords": [1, 2], "type": "click"}, schema)
    assert lit == py
    # JSON storage text re-encodes identically (server QUERY path)
    assert encode_python('{"coords": [1, 2], "type": "click"}', schema) == lit


def test_encode_python_reads_stored_text_as_spark_does():
    # stored datum pass the flush gate in Spark's spelling, which
    # Python's int()/float()/json.loads do not all read
    assert encode_python("5d", "float64") == struct.pack("<d", 5.0)
    assert encode_python("0x1p3", "float64") == struct.pack("<d", 8.0)
    assert encode_python("1e40", "float32") == struct.pack("<f", float("inf"))
    assert encode_python("\x005\x7f", "int8") == struct.pack("<b", 5)
    assert encode_python("[1, 2] trailing", "[2]int32") == struct.pack("<2i", 1, 2)
    assert encode_python("[+INF, 1]", "[2]float64") == struct.pack("<2d", float("inf"), 1.0)
    with pytest.raises(SchemaError):
        encode_python("1_000", "int64")


# --- wire round-trip: binary client -> server -> binary client -------------


@pytest.fixture()
def bin_server(spark):
    import os
    import shutil
    import uuid
    from datetime import datetime

    from fossil_spark.server import FossilServer

    d = os.path.join("build", f"enc_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    srv = FossilServer(
        spark, {"db": os.path.join(d, "db")}, now=datetime(2030, 1, 1),
    ).start()
    yield srv
    srv.stop()
    shutil.rmtree(d, ignore_errors=True)


def test_binary_datum_roundtrip_over_wire(bin_server):
    """A client sending schema-encoded BYTES (what the reference REPL
    sends, repl/parser.go:55) must round-trip: stored typed, returned
    as the same bytes, displayed per DecodeStringForSchema."""
    from fossil_spark.server import FossilClient

    with FossilClient(bin_server.host, bin_server.port) as c:
        c.create("/sensors", "float64")
        c.create("/readings", "[3]int64")
        c.create("/clicks", '{"coords": [2]int32, "type": string}')

        # raw binary appends, exactly the bytes a fossil client sends
        c.append("/sensors/temp", struct.pack("<d", 21.5))
        c.append("/readings", struct.pack("<3q", 7, 8, 9))
        click = encode_literal("type: tap, coords: 3, 4",
                               '{"coords": [2]int32, "type": string}')
        c.append("/clicks", click)

        rows = c.query("all in /sensors")
        assert rows[0]["raw"] == struct.pack("<d", 21.5)
        assert rows[0]["value"] == 21.5
        assert rows[0]["data"] == "21.500000"
        assert rows[0]["schema"] == "float64"

        rows = c.query("all in /readings")
        assert rows[0]["raw"] == struct.pack("<3q", 7, 8, 9)
        assert rows[0]["value"] == [7, 8, 9]

        rows = c.query("all in /clicks")
        assert rows[0]["raw"] == click
        assert rows[0]["value"] == {"coords": [3, 4], "type": "tap"}
        assert rows[0]["data"] == "coords: 3, 4, type: tap"


def test_append_literal_encodes_like_repl(bin_server):
    """append_literal looks up the topic schema and binary-encodes the
    text literal client-side (REPL parity)."""
    from fossil_spark.server import FossilClient

    with FossilClient(bin_server.host, bin_server.port) as c:
        c.create("/m", "int32")
        c.append_literal("/m/x", "42")
        rows = c.query("all in /m")
        assert rows[0]["raw"] == struct.pack("<i", 42)
        assert rows[0]["value"] == 42

        # typed values flow through FQL pipelines as numbers
        c.append_literal("/m/x", "58")
        rows = c.query("all in /m | reduce a, b -> a + b")
        assert float(rows[0]["data"]) == 100.0


def test_textual_fallback_still_validates(bin_server):
    """Our own text clients keep working: a non-binary payload on a
    typed topic falls back to text + conforms() (db.go:486 parity)."""
    from fossil_spark.server import FossilClient

    with FossilClient(bin_server.host, bin_server.port) as c:
        c.create("/t", "float64")
        c.append("/t/a", "3.25")  # 4 text bytes, not 8 -> text path
        rows = c.query("all in /t")
        assert rows[0]["value"] == 3.25
        with pytest.raises(RuntimeError, match="does not conform"):
            c.append("/t/a", "not-a-float")


# --- property-based round-trips (hypothesis) -------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_INT_BOUNDS = {
    "int8": (-128, 127), "int16": (-(1 << 15), (1 << 15) - 1),
    "int32": (-(1 << 31), (1 << 31) - 1), "int64": (-(1 << 63), (1 << 63) - 1),
    "uint8": (0, 255), "uint16": (0, (1 << 16) - 1),
    "uint32": (0, (1 << 32) - 1), "uint64": (0, (1 << 64) - 1),
}


@st.composite
def _scalar_case(draw):
    name = draw(st.sampled_from(sorted(_INT_BOUNDS) + ["float32", "float64", "boolean"]))
    if name == "boolean":
        v = draw(st.booleans())
        return name, "true" if v else "false", v
    if name.startswith("float"):
        width = 32 if name == "float32" else 64
        v = draw(st.floats(allow_nan=False, allow_infinity=False, width=width))
        return name, repr(v), v
    lo, hi = _INT_BOUNDS[name]
    v = draw(st.integers(lo, hi))
    return name, str(v), v


@given(_scalar_case())
@settings(max_examples=200, deadline=None)
def test_scalar_roundtrip_property(case):
    name, literal, expected = case
    data = encode_literal(literal, name)
    got = decode_python(data, name)
    if name.startswith("float"):
        import struct as _s

        fmt = "<f" if name == "float32" else "<d"
        assert _s.pack(fmt, got) == _s.pack(fmt, float(literal))
    else:
        assert got == expected
    # width parity with objects.go Size()
    from fossil_spark.encoding import type_size

    assert len(data) == type_size(name)


@given(
    st.integers(1, 8),
    st.sampled_from(["int16", "int32", "int64", "float64"]),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_array_roundtrip_property(n, elem, data):
    lo, hi = _INT_BOUNDS.get(elem, (None, None))
    if elem == "float64":
        vals = data.draw(st.lists(
            st.floats(allow_nan=False, allow_infinity=False),
            min_size=n, max_size=n,
        ))
    else:
        vals = data.draw(st.lists(st.integers(lo, hi), min_size=n, max_size=n))
    literal = ", ".join(repr(v) if elem == "float64" else str(v) for v in vals)
    out = decode_python(encode_literal(literal, f"[{n}]{elem}"), f"[{n}]{elem}")
    assert out == pytest.approx(vals) if elem == "float64" else out == vals


@given(
    st.integers(-(1 << 31), (1 << 31) - 1),
    st.integers(-(1 << 31), (1 << 31) - 1),
    st.text(
        alphabet=st.characters(blacklist_characters='",\\:{}[]()',
                               blacklist_categories=("Cs", "Cc")),
        max_size=40,
    ),
)
@settings(max_examples=100, deadline=None)
def test_composite_roundtrip_property(a, b, s):
    from hypothesis import assume

    # an empty unquoted member is malformed in the reference too
    # (encoding.go consumeValueForObject rejects empty tokens)
    assume(s.strip())
    schema = '{"coords": [2]int32, "label": string}'
    literal = f"coords: {a}, {b}, label: {s.strip()}"
    data = encode_literal(literal, schema)
    out = decode_python(data, schema)
    assert out["coords"] == [a, b]
    assert out["label"] == s.strip()
    # python-value encoding produces the identical bytes
    assert encode_python(out, schema) == data


def test_unsized_array_element_is_schema_error():
    """A schema object whose array element has no fixed width (only
    constructible by hand or via a corrupt registry — parse_schema
    rejects it) must surface as SchemaError / non-conforming, never as
    a bare KeyError that turns an APPEND into a 500."""
    from fossil_spark.encoding import validate_bytes
    from fossil_spark.schema import FossilSchema, SchemaError
    import pyspark.sql.types as T

    bad = FossilSchema("[2]string", T.ArrayType(T.StringType()), array_len=2)
    with pytest.raises(SchemaError, match="no fixed width"):
        decode_python(b"1234", bad)
    assert validate_bytes(b"1234", bad) is False

    comp = FossilSchema(
        '{"tags": [2]string}', T.StringType(),
        entries={"tags": bad},
    )
    with pytest.raises(SchemaError, match="no fixed width"):
        decode_python(b"12345678", comp)
    assert validate_bytes(b"12345678", comp) is False

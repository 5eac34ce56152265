"""Schema grammar, validation, and topic-hierarchy rules (mirrors the
reference's docs/schema.md semantics)."""

import pytest
from hypothesis import given, strategies as st
from pyspark.sql import types as T

from fossil_spark.schema import (
    SchemaError, TopicRegistry, parse_schema, validate,
)


def test_scalar_types():
    assert parse_schema("string").spark_type == T.StringType()
    assert parse_schema("binary").spark_type == T.BinaryType()
    assert parse_schema("boolean").spark_type == T.BooleanType()
    assert parse_schema("int8").spark_type == T.ByteType()
    assert parse_schema("int64").spark_type == T.LongType()
    assert parse_schema("uint16").spark_type == T.IntegerType()
    assert parse_schema("uint64").spark_type == T.DecimalType(20, 0)
    assert parse_schema("float32").spark_type == T.FloatType()
    assert parse_schema("float64").spark_type == T.DoubleType()


def test_array_types():
    s = parse_schema("[4]int32")
    assert s.spark_type == T.ArrayType(T.IntegerType())
    assert s.array_len == 4


def test_array_rejects_variable_length_elements():
    with pytest.raises(SchemaError):
        parse_schema("[4]string")
    with pytest.raises(SchemaError):
        parse_schema("[2]binary")


def test_composite():
    s = parse_schema('{"coordinates": [2]int32, "action": string}')
    assert isinstance(s.spark_type, T.StructType)
    assert s.spark_type.fieldNames() == ["coordinates", "action"]
    assert s.entries["coordinates"].array_len == 2


def test_composite_rejects_nested_composite():
    with pytest.raises(SchemaError):
        parse_schema('{"a": {"b": int8}}')


def test_unknown_type():
    with pytest.raises(SchemaError):
        parse_schema("quux")


@given(st.sampled_from(["int8", "int16", "int32", "int64"]),
       st.integers(min_value=1, max_value=64))
def test_array_roundtrip_property(elem, n):
    s = parse_schema(f"[{n}]{elem}")
    assert s.array_len == n


def test_validate_int(spark):
    df = spark.createDataFrame(
        [("1",), ("notanint",), ("-5",)], "value string"
    )
    out = validate(df, parse_schema("int32")).collect()
    by_val = {r["value"]: r["valid"] for r in out}
    assert by_val == {"1": True, "notanint": False, "-5": True}


def test_validate_uint_rejects_negative(spark):
    df = spark.createDataFrame([("5",), ("-5",)], "value string")
    out = {r["value"]: r["valid"] for r in validate(df, parse_schema("uint8")).collect()}
    assert out == {"5": True, "-5": False}


def test_validate_array_length(spark):
    df = spark.createDataFrame([("[1,2]",), ("[1,2,3]",)], "value string")
    out = {r["value"]: r["valid"] for r in
           validate(df, parse_schema("[2]int32")).collect()}
    assert out == {"[1,2]": True, "[1,2,3]": False}


def test_validate_composite(spark):
    df = spark.createDataFrame(
        [('{"coordinates": [1, 2], "action": "move"}',), ("junk",)], "value string"
    )
    schema = parse_schema('{"coordinates": [2]int32, "action": string}')
    out = {r["value"]: r["valid"] for r in validate(df, schema).collect()}
    assert out['{"coordinates": [1, 2], "action": "move"}'] is True
    assert out["junk"] is False


def test_store_schema_enforcement(spark, tmp_path_factory):
    import os
    import shutil
    import uuid
    from datetime import datetime

    import pytest as _pytest

    from fossil_spark.store import EventStore

    root = os.path.join("build", f"schema_store_{uuid.uuid4().hex[:8]}")
    try:
        st = EventStore(spark, root)
        st.set_schema("/sensors/temp", "float64")
        # conforming appends land
        st.append_rows([(datetime(2024, 1, 1), "/sensors/temp", "71.5")])
        # non-conforming appends are rejected (reference db.go:486)
        with _pytest.raises(SchemaError):
            st.append_rows([(datetime(2024, 1, 2), "/sensors/temp", "notafloat")])
        # sub-topic schema conflicts are rejected
        with _pytest.raises(SchemaError):
            st.set_schema("/sensors/temp/garage", "int32")
        # typed query: arithmetic on the declared float64, no coercion
        st.append_rows([(datetime(2024, 1, 3), "/sensors/temp", "86.0")])
        out = st.query_typed("all | map F -> 5/9 * (F-32)", "/sensors/temp")
        vals = sorted(round(r["value"], 6) for r in out.collect())
        assert vals == [round(5 / 9 * (71.5 - 32), 6), 30.0]
        assert st.schema_for_topic("/sensors/temp/attic").text == "float64"
        assert st.schema_for_topic("/logs").text == "string"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_topic_registry_inheritance():
    reg = TopicRegistry()
    reg.set("/sensors/temp", "float64")
    # sub-topics inherit
    assert reg.get("/sensors/temp/garage").text == "float64"
    # same schema on sub-topic is fine
    reg.set("/sensors/temp/garage", "float64")
    # conflicting sub-topic schema is rejected (docs/schema.md)
    with pytest.raises(SchemaError):
        reg.set("/sensors/temp/attic", "int32")
    # unrelated topics default to string
    assert reg.get("/logs").text == "string"


def test_root_schema_governs_all_topics():
    # a schema declared on "/" is the ancestor of every topic
    # (db.go parentSchema walks to root)
    from fossil_spark.schema import TopicRegistry

    reg = TopicRegistry()
    reg.set("/", "float64")
    assert reg.get("/any/deeply/nested/topic").text == "float64"
    with pytest.raises(SchemaError):
        reg.set("/sub", "int32")  # conflicts with the root schema


def test_conforms_mirrors_validate_semantics():
    from fossil_spark.schema import conforms, parse_schema

    f64 = parse_schema("float64")
    assert conforms("1.5", f64) and not conforms("nope", f64)
    i8 = parse_schema("int8")
    assert conforms("127", i8) and not conforms("128", i8)
    assert not conforms("3.5", i8)
    u32 = parse_schema("uint32")
    assert conforms("0", u32) and not conforms("-1", u32)
    b = parse_schema("boolean")
    assert conforms("True", b) and not conforms("1", b)
    arr = parse_schema("[3]int32")
    assert conforms("[1, 2, 3]", arr)
    assert not conforms("[1, 2]", arr) and not conforms('["a","b","c"]', arr)
    comp = parse_schema('{"k": int32, "s": string}')
    assert conforms('{"k": 5, "s": "x"}', comp)
    assert not conforms('{"k": "bad", "s": "x"}', comp)
    assert not conforms('{"s": "x"}', comp)


# Literals where Python's parsers, Java's and Jackson's disagree: digit
# separators, other scripts' digits, float suffixes, hex, whitespace and
# control bytes, signs, special float words, range edges.
_SCALAR_LITERALS = [
    "0", "5", "-5", "+5", "-0", "+0", "00", "007", "1_000", "1_0.5", "١٢٣", "٥", "٣.٥",
    "５", "²", "5d", "5f", "5D", "5F", "5.", "5.0", ".5", "-.5", "3.5", "-0.4", "5.e3",
    ".e3", "1e3", "1E3", "1e+3", "1e", "e5", "5e", ".", "-", "+", "--5", "5-", "1 2",
    "1.2.3", "0x10", "0x1p3", "0X1P3", "0x1p3d", "0x1P-2F", "0x1.8p1", "0x.p1", "0x1p",
    "0b1", "0o7", " 5", "5 ", "\t5\n", "\x005", "5\x7f", "\x7f5", "\xa05", "5\xa0",
    "\u20035", "5\u2028", " ", "", "NaN", "nan", "-NaN", "+NaN", "-nan", "+nan", "NaNd",
    "inf", "+inf", "-inf", "Inf", "INF", " inf", "inf ", "\x00inf", "inf\x7f",
    "Infinity", "-Infinity", "+Infinity", "infinity", "INFINITY", "Infinityd",
    "1e40", "3.4028236e38", "1e400", "-1e400", "1e-400", "1e309", "9" * 400,
    "127", "128", "-128", "-129", "255", "256", "32767", "32768", "65535", "65536",
    "2147483647", "2147483648", "4294967295", "4294967296",
    "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809",
    "18446744073709551615", "18446744073709551616", "100000000000000000000",
    "true", "false", "True", "FALSE", " true", "true ", "t", "1", "yes",
]
_SCALAR_SCHEMAS = ["int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
                   "uint64", "float32", "float64", "float", "boolean", "string", "binary"]
# JSON arrays: token types, Jackson's extra NaN/Infinity spellings,
# lengths, nulls, single quotes, trailing text
_ARRAY_LITERALS = [
    "[1,2]", "[1, 2]", " [1,2] ", "\t\n[1,2]", "[1,2] x", "[1,2]]", "[1,2]\x00",
    "[1,2] [3]", "[1,2]//c", "\ufeff[1,2]", "\x0b[1,2]", "[1,2,3]", "[1]", "[]", "[1,2,]",
    "[1.0,2]", "[1.5,2]", "[-0.0,1]", "[1e3,1]", "[1E3,1]", '["1",2]', '["5","6"]',
    "['1',2]", "[-1,2]", "[-0,1]", "[01,1]", "[200,1]", "[128,1]", "[255,1]", "[256,1]",
    "[-129,1]", "[2147483648,1]", "[4294967295,1]", "[4294967296,1]",
    "[9223372036854775807,1]", "[9223372036854775808,1]",
    "[18446744073709551615,1]", "[18446744073709551616,1]", "[1e400,1]", "[3.5e38,1]",
    "[NaN,1]", "[Infinity,1]", "[-Infinity,1]", "[+Infinity,1]", "[+INF,1]", "[-INF,1]",
    "[INF,1]", "[+NaN,1]", "[1,-INFx]", "[1,-INFINITY]", '["NaN",1]', '["Infinity",1]',
    '["+Infinity",1]', '["+INF",1]', '["-INF",1]', '["inf",1]', '[1, "-INF" ]',
    '["+5",1]', '["-0","5"]', '["1,000",1]', '["18446744073709551615",1]',
    '["18446744073709551616",1]', "[true,false]", '["true",false]', "[true,1]",
    "[null,1]", "[[1],2]", '[{"a":1},2]', '{"a":1}', "1", "null", "",
]
_ARRAY_SCHEMAS = ["[2]int8", "[2]uint8", "[2]int32", "[2]uint32", "[2]int64",
                  "[2]uint64", "[2]float32", "[2]float64", "[2]boolean"]
# composites: member token types, repeated keys, array members, base64
_COMPOSITE_LITERALS = [
    '{"a": 5}', '{"a": "5"}', '{"a": 5.0}', '{"a": 5.5}', '{"a": -1}', '{"a": -0}',
    '{"a": 128}', '{"a": 200}', '{"a": 300}', '{"a": 1e3}', '{"a": 01}', '{"a":5,}',
    '{"a": "x"}', '{"a": true}', '{"a": "true"}', '{"a": null}', "{}", '{"b": 1}',
    '{"A": 5}', "{'a': 5}", '{"a": 5, "b": "x"}', '{"a": 5, "b": 7}', '{"a": 5, "b": null}',
    '{"a": [1,2]}', '{"a": [1,2,3]}', '{"a": [1,null]}', '{"a": [1,"2"]}', '{"a": "[1,2]"}',
    '{"a": {"x": 1}}', '{"a": NaN}', '{"a": "NaN"}', '{"a": Infinity}', '{"a": "Infinity"}',
    '{"a": "inf"}', '{"a": -INF}', '{"a": +INF}', '{"a": "+INF"}', '{"a": "-INF"}',
    '{"a": "-0"}', '{"a": "007"}', '{"a": " 5"}', '{"a": "5.5"}', '{"a": 1.5e0}',
    '{"a": 18446744073709551615}', '{"a": 18446744073709551616}',
    '{"a": "18446744073709551615"}', '{"a": 9223372036854775808}', '{"a": 1e400}',
    '{"a": 3.5e38}', '{"a": 5, "a": "x"}', '{"a": "x", "a": 5}', '{"a": 5, "a": null}',
    '{"a": null, "a": 5}', '{"a": 5, "a": 300}', '{"a": 300, "a": 5}', '{"a": 5, "a": 5.5}',
    '{"a": [1,2], "a": [1,2,3]}', '{"a": [1,2,3], "a": [1,2]}', '{"a": [1,2], "a": 7}',
    '{"a": [1,2], "a": [1,"x"]}', '{"a": 1, "b": "s", "a": 2}', '{"b": "s", "a": [300, 1]}',
    '{"a": 5, "b": {"x": [1]}}', '{"a": 5} x', ' {"a": 5} ', '{"a": 5}\x00',
    '[{"a": 5}]', "[]", "5", "null", "junk", '{"a": "AQID"}', '{"a": "AQI="}',
    '{"a": "AQI"}', '{"a": "AQ=="}', '{"a": "AQ="}', '{"a": "A QID"}', '{"a": "AQID\\n"}',
    '{"a": ""}', '{"a": "////"}', '{"a": "-_-_"}', '{"a": "AQ==AQ=="}', '{"a": "AQID "}',
    '{"a": "AQ\\u003d="}', '{"a": "YR=="}', '{"a": "Y"}', '{"a": "!!"}',
    '{"a": 1.0E10}', '{"a": 1e-4}', '{"a": -0.0}', '{"a": 1234567.5}', '{"a": 0.001}',
    '{"a": [1.5, "x", null, true, 2e22]}', '{"a": "é\\n"}', '{"a": {"k": 1, "k": "é"}}',
]
_COMPOSITE_SCHEMAS = [
    '{"a": int8}', '{"a": uint8}', '{"a": int64}', '{"a": uint64}', '{"a": float32}',
    '{"a": float64}', '{"a": boolean}', '{"a": string}', '{"a": binary}',
    '{"a": [2]int32}', '{"a": [2]uint64}', '{"a": int32, "b": string}',
    '{"a": [2]int8, "b": [2]float32}', '{"a": [2]boolean, "b": binary}',
]


def _generated_literals(rng):
    """Seeded random numbers near the type bounds, written the ways
    clients write them."""
    out = []
    for bound in (0, 1 << 7, 1 << 8, 1 << 15, 1 << 16, 1 << 31, 1 << 32, 1 << 63, 1 << 64):
        for _ in range(4):
            n = rng.choice((1, -1)) * (bound + rng.randint(-2, 2))
            out += [str(n), f"+{n}" if n >= 0 else str(n), f" {n}\t", f"{n}.0"]
    for _ in range(40):
        x = rng.uniform(-1e6, 1e6) * 10.0 ** rng.randint(-40, 40)
        out += [repr(x), f"{x:e}", f"{x:.3f}", f"{x:g}", f"{x}f", float.hex(x)]
    return out


def test_conforms_agrees_with_distributed_validate(spark):
    # the driver gate (conforms: server APPEND and every flush) and the
    # distributed gate (validate: query_typed) must accept and reject
    # the same datum, or acked data fails the flush or vanishes from
    # typed queries; one collect over every case
    import random

    from fossil_spark.schema import conforms, datum_value, parse_schema, validate

    families = [
        (_SCALAR_SCHEMAS, _SCALAR_LITERALS + _generated_literals(random.Random(7))),
        (_ARRAY_SCHEMAS, _ARRAY_LITERALS),
        (_COMPOSITE_SCHEMAS, _COMPOSITE_LITERALS),
    ]
    wrong, n = [], 0
    for names, literals in families:
        schemas = [parse_schema(s) for s in names]
        # one verdict and one value column per schema, one row per literal
        df = spark.createDataFrame([(v,) for v in literals], "value string")
        for j, schema in enumerate(schemas):
            df = validate(df, schema).withColumnsRenamed({"valid": f"v{j}", "parsed": f"p{j}"})
        for r in df.collect():
            for j, schema in enumerate(schemas):
                n += 1
                got = conforms(r["value"], schema)
                if got != r[f"v{j}"]:
                    wrong.append((schema.text, r["value"], got, r[f"v{j}"]))
                elif got and _norm(datum_value(r["value"], schema), schema) != _norm(r[f"p{j}"], schema):
                    wrong.append((schema.text, r["value"], datum_value(r["value"], schema), r[f"p{j}"]))
    assert n == sum(len(s) * len(v) for s, v in families)
    assert not wrong, f"{len(wrong)} of {n} differ (schema, datum, driver, Spark): {wrong[:20]}"


def _norm(value, schema):
    """A parsed value, driver- or Spark-side, in one comparable form."""
    import struct

    if schema.entries:
        return tuple(_norm(value[k], sub) for k, sub in schema.entries.items())
    if schema.element is not None:
        return tuple(_norm(v, schema.element) for v in value)
    if schema.text.startswith("float"):
        return struct.pack("<d", value)  # NaN equals NaN, -0.0 differs from 0.0
    if schema.text == "binary":
        return bytes(value.encode() if isinstance(value, str) else value)
    return value


def test_validate_reads_typed_values(spark):
    # integer members are range-checked after a wide read and cast back
    # to the declared type; uint64 keeps its full range
    from decimal import Decimal

    from fossil_spark.schema import parse_schema, validate

    def parsed(schema, values):
        df = spark.createDataFrame([(v,) for v in values], "value string")
        return [r["parsed"] for r in validate(df, parse_schema(schema)).collect()]

    assert parsed("[2]int8", ["[1, -128]", "[200, 1]"]) == [[1, -128], None]
    assert parsed("uint64", [" 18446744073709551615", "3.5"]) == [Decimal(18446744073709551615), None]
    assert parsed('{"a": uint64, "b": [2]uint8}', ['{"a": 7, "b": [255, 0]}']) == [
        (Decimal(7), [255, 0])]

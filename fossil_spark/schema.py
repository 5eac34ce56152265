"""Fossil schema syntax → Spark types, plus topic-level schema registry.

Grammar parity with /root/reference/docs/schema.md:

    schema     = type / array / composite
    type       = "string" / "binary" / fixed-type
    fixed-type = "boolean" / "int8|16|32|64" / "uint8|16|32|64" /
                 "float32" / "float64"
    array      = "[" digits "]" fixed-type
    composite  = "{" '"key"': value, ... "}"

Mapping notes:
- uintN maps to the next wider signed Spark type (Spark has no
  unsigned integers); uint64 maps to decimal(20,0).
- fossil arrays are fixed-length; Spark arrays are variable — the
  declared length is enforced by validate() and conforms(), not by
  the type.
- composites become StructType (values may be anything but another
  composite, as in the reference).

The registry mirrors the reference's topic hierarchy rule
(docs/schema.md, db.go:88 parentSchema): a topic inherits the nearest
ancestor schema, and conflicting sub-topic schemas are rejected.
"""

from __future__ import annotations

import base64
import json
import math
import re
import struct
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaError(ValueError):
    pass


_SCALARS: dict[str, T.DataType] = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    # the reference CLI also accepts bare "float" (docs/schema.md table)
    "float": T.DoubleType(),
}

_FIXED = {k for k in _SCALARS if k not in ("string", "binary", "float")}

_ARRAY_RE = re.compile(r"^\[(\d+)\]\s*(\w+)$")


@dataclass
class FossilSchema:
    """A parsed fossil schema: Spark type + array-length constraint."""
    text: str
    spark_type: T.DataType
    array_len: int | None = None
    entries: dict[str, "FossilSchema"] = field(default_factory=dict)
    element: "FossilSchema | None" = None  # an array's element type


def parse_schema(text: str) -> FossilSchema:
    s = text.strip()
    if not s:
        raise SchemaError("empty schema")
    if s.startswith("{"):
        return _parse_composite(s)
    m = _ARRAY_RE.match(s)
    if m:
        n, elem = int(m.group(1)), m.group(2)
        if elem not in _FIXED:
            raise SchemaError(
                f"array element must be a fixed type, got {elem!r} "
                "(string/binary/composite are variable-length)"
            )
        return FossilSchema(s, T.ArrayType(_SCALARS[elem]), array_len=n,
                            element=FossilSchema(elem, _SCALARS[elem]))
    if s in _SCALARS:
        return FossilSchema(s, _SCALARS[s])
    raise SchemaError(f"unknown schema type {s!r}")


def _parse_composite(s: str) -> FossilSchema:
    body = s.strip()
    if not body.startswith("{") or not body.endswith("}"):
        raise SchemaError("composite must be wrapped in { }")
    inner = body[1:-1].strip()
    entries: dict[str, FossilSchema] = {}
    # entries are '"key": value' separated by commas; array values
    # contain no commas and keys are quoted, so a regex split is safe
    for part in filter(None, (p.strip() for p in inner.split(","))):
        m = re.match(r'^"([\w\-]+)"\s*:\s*(.+)$', part)
        if not m:
            raise SchemaError(f"bad composite entry {part!r}")
        key, val = m.group(1), m.group(2).strip()
        if val.startswith("{"):
            raise SchemaError("composite values cannot be composites")
        entries[key] = parse_schema(val)
    if not entries:
        raise SchemaError("empty composite")
    struct = T.StructType(
        [T.StructField(k, v.spark_type) for k, v in entries.items()]
    )
    return FossilSchema(s, struct, entries=entries)


def validate(df: DataFrame, schema: FossilSchema, value_col: str = "value") -> DataFrame:
    """Split a raw (string-typed) value column into conforming/
    rejected, mirroring the reference's append-time validation
    (db.go:486: datum not matching the topic schema are rejected).

    Returns the input with two extra columns: `parsed` (typed value or
    null) and `valid` (boolean). Cast-based: stays in codegen. This is
    the distributed gate (query_typed, the schema_validate key);
    conforms() is the same gate for one datum on the driver."""
    c = F.col(value_col)
    st = schema.spark_type
    if schema.entries or schema.element is not None:
        # Integer leaves are read wider than declared and range-checked
        # after the read: Jackson reads 128..255 into a byte, and an
        # array element or composite member has no range check of its
        # own. Strings are JSON's double-quoted ones only.
        read = F.from_json(c, _json_read_type(schema), {"allowSingleQuotes": "false"})
        valid = F.coalesce(_json_checked(read, schema), F.lit(False))
        parsed = F.when(valid, read.try_cast(st))
    elif isinstance(st, (T.StringType, T.BinaryType)):
        parsed = c.cast(st)
        valid = c.isNotNull()
    elif isinstance(st, T.BooleanType):
        parsed = F.when(F.lower(c).isin("true", "false"), F.lower(c) == "true")
        valid = parsed.isNotNull()
    else:
        if schema.text == "uint64":
            # the decimal cast also takes "3.5" and "1e3" (rounding);
            # hold uint64 to the integer grammar of the other int types
            c = F.regexp_extract(c, f"^{_INT_LITERAL}\\z", 1)
        # try_cast: null on non-conforming input (ANSI-safe)
        parsed = c.try_cast(st)
        valid = parsed.isNotNull()
        if schema.text.startswith("uint"):
            # uintN maps to the next wider signed Spark type, so the
            # cast alone misses both bounds — enforce the fossil range
            valid = F.coalesce(_in_range(parsed, schema.text), F.lit(False))
    return df.withColumn("parsed", parsed).withColumn("valid", valid)


def _in_range(col: Column, name: str) -> Column:
    lo, hi = _INT_RANGES[name]
    # uint64's upper bound does not fit a bigint literal
    return col.between(lo, Decimal(hi) if name == "uint64" else hi)


def _json_read_type(schema: FossilSchema) -> T.DataType:
    """The Spark type validate() reads a JSON datum with: integer leaves
    as bigint, uint64 leaves as their JSON text."""
    if schema.entries:
        return T.StructType([T.StructField(k, _json_read_type(v))
                             for k, v in schema.entries.items()])
    if schema.element is not None:
        return T.ArrayType(_json_read_type(schema.element))
    if schema.text == "uint64":
        return T.StringType()
    if schema.text in _INT_RANGES:
        return T.LongType()
    return schema.spark_type


def _json_checked(read: Column, schema: FossilSchema) -> Column:
    """Whether a value read with _json_read_type conforms: members
    present, arrays of the declared length without nulls, integers in
    range. Null, not false, for some missing values."""
    if schema.entries:
        ok = read.isNotNull()
        for k, sub in schema.entries.items():
            ok = ok & _json_checked(read.getField(k), sub)
        return ok
    if schema.element is not None:
        return (F.size(read) == schema.array_len) & F.forall(
            read, lambda x: _json_checked(x, schema.element))
    if schema.text == "uint64":
        return read.rlike(r"^-?[0-9]+\z") & _in_range(read.try_cast(T.DecimalType(20, 0)), "uint64")
    if schema.text in _INT_RANGES:
        return _in_range(read, schema.text)
    return read.isNotNull()


_INT_RANGES = {
    "int8": (-(1 << 7), (1 << 7) - 1),
    "int16": (-(1 << 15), (1 << 15) - 1),
    "int32": (-(1 << 31), (1 << 31) - 1),
    "int64": (-(1 << 63), (1 << 63) - 1),
    "uint8": (0, (1 << 8) - 1),
    "uint16": (0, (1 << 16) - 1),
    "uint32": (0, (1 << 32) - 1),
    "uint64": (0, (1 << 64) - 1),
}

# Spark's string -> integer cast (UTF8String.toLong): ASCII whitespace
# and control bytes trimmed, an optional sign, ASCII digits only — no
# "_" separators, no "1.0", no other scripts' digits
_INT_LITERAL = r"[\x00-\x20\x7f]*([+-]?[0-9]+)[\x00-\x20\x7f]*"
_INT_RE = re.compile(_INT_LITERAL)
# Spark's string -> float cast: Java's Double.parseDouble after
# String.trim (chars <= U+0020) — decimal with an optional [fFdD]
# suffix, hex with a binary exponent, signed NaN/Infinity — and, when
# that fails, the words below in any case
_FLOAT_RE = re.compile(
    r"[+-]?(?:NaN|Infinity"
    r"|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?[fFdD]?"
    r"|0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)[pP][+-]?[0-9]+[fFdD]?)"
)
_FLOAT_WORDS = frozenset({"inf", "+inf", "infinity", "+infinity", "-inf", "-infinity", "nan"})
_JAVA_TRIM = "".join(map(chr, range(0x21)))

# Spark's JSON reader (Jackson, allowNonNumericNumbers on): the bare
# tokens NaN, Infinity, +Infinity, -Infinity, +INF and -INF, and for a
# float leaf the same spellings as strings. Python's json knows only
# NaN, Infinity and -Infinity, so the others are respelled outside
# string literals before the parse.
_JACKSON_TOKENS = re.compile(r'("(?:[^"\\]|\\.)*")|\+Infinity|\+INF|-INF', re.DOTALL)
_JACKSON_FLOAT_STRINGS = frozenset({"NaN", "Infinity", "+Infinity", "-Infinity", "+INF", "-INF"})
# Jackson's base64 (MIME, padding required): quads, whitespace allowed
# only between them, decoding goes on after padding
_JACKSON_BASE64 = re.compile(
    r"(?:[\x00-\x20]*[A-Za-z0-9+/]{2}(?:[A-Za-z0-9+/]{2}|[A-Za-z0-9+/]=|==))*[\x00-\x20]*")
_JSON_DIGITS = re.compile(r"-?[0-9]+")
_JSON = json.JSONDecoder(object_pairs_hook=tuple)  # objects keep duplicate keys, in order
_INVALID = object()


def conforms(value: str, schema: FossilSchema) -> bool:
    """Driver-side single-datum conformance check: accepts exactly the
    datum validate() accepts (tests/test_schema.py checks the two
    against each other). The server's APPEND and every flush
    (EventStore.append_rows) gate on it, where a Spark job per datum or
    per topic would cost more than the write; validate() stays the path
    for data that is already distributed."""
    return _datum(value, schema) is not _INVALID


def datum_value(value: str, schema: FossilSchema):
    """The Python value validate() parses a stored datum into: int,
    float, bool, str (string), bytes (binary composite members), and
    lists and dicts of those. Raises SchemaError where validate()
    rejects the datum."""
    out = _datum(value, schema)
    if out is _INVALID:
        raise SchemaError(f"datum {value!r} does not conform to schema {schema.text!r}")
    return out


def _datum(value: str, schema: FossilSchema):
    if value is None:
        return _INVALID
    if schema.entries or schema.element is not None:
        return _json_value(_json_root(value), schema)
    name = schema.text
    if name in ("string", "binary"):
        return value
    if name == "boolean":
        low = value.lower()
        return low == "true" if low in ("true", "false") else _INVALID
    if name in _INT_RANGES:
        m = _INT_RE.fullmatch(value)
        lo, hi = _INT_RANGES[name]
        n = int(m.group(1)) if m else None
        return n if n is not None and lo <= n <= hi else _INVALID
    s = value.strip(_JAVA_TRIM)
    if _FLOAT_RE.fullmatch(s):
        return _as_float(_java_double(s), name)
    return _as_float(s, name) if s.lower() in _FLOAT_WORDS else _INVALID


def _java_double(s: str) -> float:
    """Value of a _FLOAT_RE literal."""
    if s[-1] in "fFdD":
        s = s[:-1]
    try:
        return float.fromhex(s) if "x" in s or "X" in s else float(s)
    except OverflowError:  # a hex exponent past the double range
        return -math.inf if s.startswith("-") else math.inf


def _as_float(x, name: str) -> float:
    """A float literal's value or a JSON number as the declared float
    type holds it (float32 rounds, and overflows to infinity)."""
    try:
        v = float(x)
    except OverflowError:  # an integer token past the double range
        return math.copysign(math.inf, x)
    if name == "float32":
        try:
            v = struct.unpack("<f", struct.pack("<f", v))[0]
        except OverflowError:
            v = math.copysign(math.inf, v)
    return math.nan if v != v else v  # Java has one NaN; "-NaN" reads as it


def _json_root(value: str):
    """Parse like from_json: JSON whitespace before the value, and any
    text after it is ignored."""
    text = _JACKSON_TOKENS.sub(
        lambda m: m.group(1) or ("-Infinity" if m.group(0) == "-INF" else "Infinity"), value)
    try:
        return _JSON.raw_decode(text.lstrip(" \t\n\r"))[0]
    except (ValueError, RecursionError):
        return _INVALID


def _json_value(x, schema: FossilSchema, checked: bool = True):
    """The value Spark reads from the parsed JSON value `x` with the
    type _json_read_type(schema) (checked=False) or, checked, once it
    also passes _json_checked; _INVALID where there is none."""
    if x is None or x is _INVALID:
        return _INVALID
    if schema.entries:
        if type(x) is not tuple:
            return _INVALID
        fields: dict = {}
        for k, v in x:
            sub = schema.entries.get(k)
            # a repeated key: null resets the member, a value Spark
            # cannot read leaves it as it was
            if sub is not None and (v is None or _json_value(v, sub, checked=False) is not _INVALID):
                fields[k] = v
        out = {k: _json_value(fields.get(k), sub) for k, sub in schema.entries.items()}
        return _INVALID if any(v is _INVALID for v in out.values()) else out
    if schema.element is not None:
        if type(x) is not list or (checked and len(x) != schema.array_len):
            return _INVALID
        out = [None if e is None and not checked else _json_value(e, schema.element, checked)
               for e in x]
        return _INVALID if any(v is _INVALID for v in out) else out
    name = schema.text
    if name == "string":  # any token; a non-string one as its JSON text
        return x if type(x) is str else _json_text(x)
    if name == "binary":
        if type(x) is str and _JACKSON_BASE64.fullmatch(x):
            return b"".join(base64.b64decode(q) for q in re.findall(r"[^\x00-\x20]{4}", x))
        return _INVALID
    if name == "boolean":
        return x if type(x) is bool else _INVALID
    if name == "uint64":
        # read as text: an integer token or a string, then the grammar
        if not checked:
            return x
        if type(x) is str and _JSON_DIGITS.fullmatch(x):
            x = int(x)
    if name in _INT_RANGES:
        lo, hi = _INT_RANGES[name if checked else "int64"]
        return x if type(x) is int and lo <= x <= hi else _INVALID
    if type(x) in (int, float) or (type(x) is str and x in _JACKSON_FLOAT_STRINGS):
        return _as_float(x, name)
    return _INVALID


def _json_text(x) -> str:
    """A parsed JSON value as Spark's reader copies it into a string
    member: compact, doubles in Java's Double.toString form, NaN and
    the infinities quoted."""
    if type(x) is tuple:
        return "{" + ",".join(json.dumps(k, ensure_ascii=False) + ":" + _json_text(v)
                              for k, v in x) + "}"
    if type(x) is list:
        return "[" + ",".join(_json_text(v) for v in x) + "]"
    if type(x) is not float:
        return json.dumps(x, ensure_ascii=False)
    if x != x or x in (math.inf, -math.inf):
        return '"NaN"' if x != x else ('"Infinity"' if x > 0 else '"-Infinity"')
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = Decimal(repr(x)).as_tuple()
    text = "".join(map(str, digits))
    mantissa = text.rstrip("0")
    return (f"{'-' if sign else ''}{mantissa[0]}.{mantissa[1:] or '0'}"
            f"E{exp + len(text) - 1}")


class TopicRegistry:
    """Topic → schema map with hierarchical inheritance and conflict
    rejection (reference: docs/schema.md 'Schemas in the topic
    hierarchy', db.go parentSchema)."""

    DEFAULT = "string"

    def __init__(self) -> None:
        self._schemas: dict[str, FossilSchema] = {}

    def set(self, topic: str, schema_text: str) -> FossilSchema:
        schema = parse_schema(schema_text)
        parent = self._nearest_ancestor(topic)
        if parent is not None and parent.text != schema.text:
            raise SchemaError(
                f"topic {topic!r} inherits schema {parent.text!r} from an "
                "ancestor; conflicting sub-topic schemas are not allowed"
            )
        self._schemas[self._norm(topic)] = schema
        return schema

    def get(self, topic: str) -> FossilSchema:
        found = self._nearest_ancestor(topic, include_self=True)
        return found if found is not None else parse_schema(self.DEFAULT)

    def items(self) -> list[tuple[str, str]]:
        """Declared (topic, schema_text) pairs (LIST schemas parity)."""
        return sorted((t, s.text) for t, s in self._schemas.items())

    def _norm(self, topic: str) -> str:
        t = topic.rstrip("/")
        return t if t.startswith("/") else "/" + t

    def _nearest_ancestor(self, topic: str, include_self: bool = False) -> FossilSchema | None:
        t = self._norm(topic)
        parts = t.split("/")
        # range down to 0 so the root "/" is the final ancestor — a
        # schema declared on "/" governs every topic (db.go parentSchema
        # walks to root)
        candidates = ["/".join(parts[:i]) or "/" for i in range(len(parts), 0, -1)]
        if not include_self:
            candidates = candidates[1:]
        for cand in candidates:
            if cand in self._schemas:
                return self._schemas[cand]
        return None

"""Typed binary datum codec — wire parity with the reference's
schema-directed encoding (/root/reference/pkg/schema/encoding.go,
objects.go Size/Validate).

A real fossil client does NOT send text: its REPL encodes the typed
literal the user wrote into bytes per the topic schema before APPEND
(/root/reference/pkg/repl/parser.go:55), and QUERY responses carry the
raw stored bytes (base64 on the line protocol) which the client decodes
back to text for display (/root/reference/pkg/proto/message.go:481).
This module implements both directions so a byte-level fossil client
round-trips against our server.

Layout (little-endian, per encoding.go):
- string / binary  -> raw bytes (top level)
- boolean          -> 1 byte, 0/1
- int8/uint8       -> 1 byte   (reference gap: EncodeStringForSchema
                     omits the 8-bit cases and silently emits zero
                     bytes; Decode handles uint8 only. We encode both
                     as the 1 byte objects.go Size() declares.)
- int16..64 / uint16..64 -> fixed-width two's-complement
- float32/float64  -> IEEE-754 bits
- [N]fixed         -> N fixed-width encodings concatenated
- composite        -> members in the schema's declared key order;
                     string/binary members carry a u32 length prefix,
                     fixed members are bare. (The reference encoder
                     sorts literal keys but indexes member schemas by
                     declaration position — consistent only when the
                     declaration is already sorted, as every reference
                     test and doc example is. We use declaration order
                     for both encode and decode, which is what the
                     reference's decoder authoritatively reads.)

Literal syntax parity: array literals are comma-separated; composite
literals are `key: value, ...` where keys may be quoted, values may
contain commas inside quotes/brackets (encoding.go splitTopLevel), and
an array member consumes exactly its declared element count.
"""

from __future__ import annotations

import json
import re
import struct

from fossil_spark.schema import FossilSchema, SchemaError, datum_value, parse_schema

_FIXED_FMT = {
    # struct format chars, little-endian
    "boolean": "B",
    "int8": "b",
    "uint8": "B",
    "int16": "h",
    "uint16": "H",
    "int32": "i",
    "uint32": "I",
    "int64": "q",
    "uint64": "Q",
    "float32": "f",
    "float64": "d",
    "float": "d",
}

_SIZES = {k: struct.calcsize(v) for k, v in _FIXED_FMT.items()}


def type_size(name: str) -> int:
    """Fixed-type width in bytes (objects.go Type.Size; string/binary
    report their 4-byte length-prefix size as the reference does)."""
    if name in ("string", "binary"):
        return 4
    return _SIZES.get(name, 0)


# --------------------------------------------------------------------------
# literal parsing (encoding.go splitTopLevel / findTopLevelColon parity)
# --------------------------------------------------------------------------


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` ignoring separators inside quotes or nested
    ()/[]/{} — so composite members may themselves hold commas."""
    parts: list[str] = []
    cur: list[str] = []
    in_quote = escaped = False
    depth = {"(": 0, "[": 0, "{": 0}
    closer = {")": "(", "]": "[", "}": "{"}
    for ch in text:
        if escaped:
            cur.append(ch)
            escaped = False
            continue
        if ch == "\\" and in_quote:
            escaped = True
        elif ch == '"':
            in_quote = not in_quote
        elif ch in depth and not in_quote:
            depth[ch] += 1
        elif ch in closer and not in_quote:
            if depth[closer[ch]] == 0:
                raise SchemaError(f"unmatched closing {ch!r} in literal")
            depth[closer[ch]] -= 1
        elif ch == sep and not in_quote and not any(depth.values()):
            parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if escaped:
        raise SchemaError("dangling escape character in literal")
    if in_quote or any(depth.values()):
        raise SchemaError("unterminated literal")
    parts.append("".join(cur).strip())
    return parts


def _find_top_level_colon(text: str) -> int:
    in_quote = escaped = False
    depth = {"(": 0, "[": 0, "{": 0}
    closer = {")": "(", "]": "[", "}": "{"}
    for idx, ch in enumerate(text):
        if escaped:
            escaped = False
            continue
        if ch == "\\" and in_quote:
            escaped = True
        elif ch == '"':
            in_quote = not in_quote
        elif ch in depth and not in_quote:
            depth[ch] += 1
        elif ch in closer and not in_quote:
            depth[closer[ch]] -= 1
        elif ch == ":" and not in_quote and not any(depth.values()):
            return idx
    raise SchemaError("malformed composite literal")


def _parse_composite_literal(text: str, schema: FossilSchema) -> dict[str, str]:
    """`key: value, ...` -> {key: value-literal}; keys in any order, an
    array member consumes its declared element count of comma tokens
    (encoding.go consumeValueForObject)."""
    remainder = text.strip()
    if not remainder:
        raise SchemaError("malformed composite literal")
    out: dict[str, str] = {}
    while remainder:
        colon = _find_top_level_colon(remainder)
        raw_key = remainder[:colon].strip()
        key = json.loads(raw_key) if raw_key.startswith('"') else raw_key
        sub = schema.entries.get(key)
        if sub is None:
            raise SchemaError(f"unknown key {key!r} in composite literal")
        tokens = split_top_level(remainder[colon + 1:].strip())
        n = sub.array_len if sub.array_len is not None else 1
        if len(tokens) < n or any(t == "" for t in tokens[:n]):
            raise SchemaError(
                f"schema expects {n} elements for {key!r}, got {len(tokens)}"
            )
        rest = tokens[n:]
        if any(t == "" for t in rest):
            raise SchemaError("malformed composite literal")
        out[key] = ", ".join(tokens[:n])
        remainder = ", ".join(rest)
    missing = set(schema.entries) - set(out)
    if missing:
        raise SchemaError(f"composite literal missing keys {sorted(missing)}")
    return out


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------


def _encode_scalar(literal: str, name: str) -> bytes:
    if name == "string":
        return literal.encode()
    if name == "binary":
        return literal.encode()
    if name == "boolean":
        return b"\x00" if literal == "false" else b"\x01"
    fmt = _FIXED_FMT.get(name)
    if fmt is None:
        raise SchemaError(f"cannot encode type {name!r}")
    try:
        value = float(literal) if name.startswith("float") else int(literal)
        return struct.pack("<" + fmt, value)
    except ValueError as ex:
        raise SchemaError(f"{literal!r} is not a valid {name}") from ex
    except struct.error as ex:
        raise SchemaError(f"{literal!r} out of range for {name}: {ex}") from ex


def encode_literal(literal: str, schema: FossilSchema | str) -> bytes:
    """Fossil text literal -> wire bytes (EncodeStringForSchema parity:
    the client-side path a REPL user's input takes before APPEND)."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    text = schema.text
    if schema.entries:  # composite
        members = _parse_composite_literal(literal, schema)
        return b"".join(
            _encode_member(members[k], sub) for k, sub in schema.entries.items()
        )
    if schema.array_len is not None:
        elems = split_top_level(literal)
        if len(elems) != schema.array_len:
            raise SchemaError(
                f"schema expects {schema.array_len} elements, you provided {len(elems)}"
            )
        name = _elem_name(text)
        return b"".join(_encode_scalar(e.strip(), name) for e in elems)
    return _encode_scalar(literal, text)


def _encode_member(literal: str, sub: FossilSchema) -> bytes:
    """Composite member: string/binary get a u32le length prefix."""
    body = encode_literal(literal, sub)
    if sub.text in ("string", "binary"):
        return struct.pack("<I", len(body)) + body
    return body


def encode_python(value, schema: FossilSchema | str) -> bytes:
    """Typed Python value (as stored: str/bool/int/float/list/dict) ->
    wire bytes. The server's QUERY path re-encodes stored values for
    byte-parity with the reference's raw-data responses."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    if isinstance(value, str):  # stored text: read it as Spark does
        value = datum_value(value, schema)
    if schema.entries:
        if hasattr(value, "asDict"):  # pyspark Row
            value = value.asDict()
        out = []
        for key, sub in schema.entries.items():
            member = _py_scalar_bytes_seq(value[key], sub)
            if sub.text in ("string", "binary"):
                out.append(struct.pack("<I", len(member)))
            out.append(member)
        return b"".join(out)
    if schema.array_len is not None:
        name = _elem_name(schema.text)
        return b"".join(_py_scalar(v, name) for v in value)
    return _py_scalar(value, schema.text)


def _py_scalar_bytes_seq(value, sub: FossilSchema) -> bytes:
    if sub.array_len is not None:
        name = _elem_name(sub.text)
        return b"".join(_py_scalar(v, name) for v in value)
    return _py_scalar(value, sub.text)


def _py_scalar(value, name: str) -> bytes:
    if name == "string":
        return str(value).encode()
    if name == "binary":
        return value if isinstance(value, (bytes, bytearray)) else str(value).encode()
    if name == "boolean":
        truthy = value if isinstance(value, bool) else str(value).lower() == "true"
        return b"\x01" if truthy else b"\x00"
    fmt = _FIXED_FMT.get(name)
    if fmt is None:
        raise SchemaError(f"cannot encode type {name!r}")
    v = float(value) if name.startswith("float") else int(value)
    return struct.pack("<" + fmt, v)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------


def _elem_name(array_text: str) -> str:
    # "[N]type" -> "type"
    return array_text.split("]", 1)[1].strip()


def _decode_scalar(data: bytes, name: str):
    if name == "string":
        return data.decode()
    if name == "binary":
        return bytes(data)
    if name == "boolean":
        return data[0] != 0
    fmt = _FIXED_FMT.get(name)
    if fmt is None:
        raise SchemaError(f"cannot decode type {name!r}")
    return struct.unpack("<" + fmt, data)[0]


def decode_python(data: bytes, schema: FossilSchema | str):
    """Wire bytes -> typed Python value (bool/int/float/str/list/dict).
    The server's APPEND path runs this to turn a client's binary datum
    into the store's typed representation."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    if schema.entries:
        out = {}
        off = 0
        for key, sub in schema.entries.items():
            if sub.text in ("string", "binary"):
                if off + 4 > len(data):
                    raise SchemaError("short composite datum")
                (n,) = struct.unpack_from("<I", data, off)
                off += 4
                if off + n > len(data):
                    raise SchemaError("short composite datum")
                out[key] = _decode_scalar(data[off:off + n], sub.text)
                off += n
            elif sub.array_len is not None:
                name = _elem_name(sub.text)
                w = _SIZES.get(name)
                if w is None:
                    raise SchemaError(
                        f"array member element type {name!r} has no fixed width"
                    )
                need = w * sub.array_len
                if off + need > len(data):
                    raise SchemaError("short composite datum")
                out[key] = [
                    _decode_scalar(data[off + i * w:off + (i + 1) * w], name)
                    for i in range(sub.array_len)
                ]
                off += need
            else:
                w = _SIZES.get(sub.text)
                if w is None or off + w > len(data):
                    raise SchemaError("short composite datum")
                out[key] = _decode_scalar(data[off:off + w], sub.text)
                off += w
        if off != len(data):
            raise SchemaError(f"{len(data) - off} trailing bytes in composite datum")
        return out
    if schema.array_len is not None:
        name = _elem_name(schema.text)
        w = _SIZES.get(name)
        if w is None:
            raise SchemaError(
                f"array element type {name!r} has no fixed width"
            )
        if len(data) != w * schema.array_len:
            raise SchemaError(
                f"array datum is {len(data)} bytes, schema needs {w * schema.array_len}"
            )
        return [
            _decode_scalar(data[i * w:(i + 1) * w], name)
            for i in range(schema.array_len)
        ]
    if schema.text not in ("string", "binary"):
        w = _SIZES.get(schema.text)
        if w is not None and len(data) != w:
            raise SchemaError(
                f"datum is {len(data)} bytes, schema {schema.text!r} needs {w}"
            )
    return _decode_scalar(data, schema.text)


def decode_to_display(data: bytes, schema: FossilSchema | str) -> str:
    """Wire bytes -> display string (DecodeStringForSchema parity:
    floats as %f, arrays/composites comma-joined, binary summarized)."""
    if isinstance(schema, str):
        schema = parse_schema(schema)

    def disp(v, name: str) -> str:
        if name == "binary":
            return f"...{len(v)} bytes..."
        if name == "boolean":
            return "true" if v else "false"
        if name.startswith("float") or name == "float":
            return f"{v:f}"
        return str(v)

    value = decode_python(data, schema)
    if schema.entries:
        return ", ".join(
            f"{k}: "
            + (", ".join(disp(x, _elem_name(sub.text)) for x in value[k])
               if sub.array_len is not None else disp(value[k], sub.text))
            for k, sub in schema.entries.items()
        )
    if schema.array_len is not None:
        name = _elem_name(schema.text)
        return ", ".join(disp(v, name) for v in value)
    return disp(value, schema.text)


def validate_bytes(data: bytes, schema: FossilSchema | str) -> bool:
    """Length-based conformance (objects.go Validate parity: fixed
    types must be exactly their width; composites with string members
    need at least the fixed footprint)."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    try:
        decode_python(data, schema)
        return True
    except (SchemaError, UnicodeDecodeError, struct.error, KeyError):
        # KeyError: malformed schemas can still reach _SIZES/_FIXED_FMT
        # lookups; a bad schema is non-conforming data, not a 500
        return False


def to_storage_text(value) -> str:
    """Typed Python value -> the store's canonical text form (JSON for
    arrays/composites — what schema.validate()'s from_json reads back;
    'true'/'false' for booleans, bare repr for numerics)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (list, dict)):
        return json.dumps(value, separators=(", ", ": "))
    if isinstance(value, bytes):
        return value.decode("utf-8", "replace")
    return str(value)


# C0 controls other than whitespace mark a datum as binary: Spark's
# casts trim them, so a little-endian integer with zero high bytes
# would otherwise read as a short conforming literal
_BINARY_MARK = re.compile(r"[\x00-\x08\x0e-\x1f\x7f]")


def storage_text(data: bytes, schema: FossilSchema) -> str | None:
    """A typed topic's APPEND datum as the store keeps it, or None if
    it conforms neither as text nor as binary.

    Textual first: our text/JSON clients send the literal itself, and a
    text datum whose UTF-8 length happens to equal the schema's fixed
    width (e.g. "1234" to an int32 topic) must not be reinterpreted as
    binary — that's silent corruption. Binary decode is the fallback
    for reference-parity clients (append_literal, reference
    pkg/repl/parser.go:55 → pkg/schema/encoding.go); their encodings
    almost never also read as a conforming literal free of control
    characters."""
    from fossil_spark.schema import conforms  # per call, so a wrapper on it applies

    try:
        text = data.decode("utf-8")
    except UnicodeDecodeError:
        text = None
    if text is not None and not _BINARY_MARK.search(text) and conforms(text, schema):
        return text
    if validate_bytes(data, schema):
        return to_storage_text(decode_python(data, schema))
    return None

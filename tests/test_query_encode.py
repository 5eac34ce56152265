"""The server's QUERY path in-process (FossilServer._run_query, no
socket): entries pinned byte for byte over a small store, the Spark
job count of a QUERY, and stored instants on a non-UTC host."""

import base64
import os
import shutil
import time
import uuid
from datetime import datetime, timedelta, timezone

import pytest

from fossil_spark.server import FossilServer

NOW = datetime(2024, 1, 31, 13, 30, tzinfo=timezone.utc)
BASE = datetime(2024, 1, 31, 12, 0, tzinfo=timezone.utc)
MICROS = (0, 120000, 5, 999999)  # RFC3339Nano drops trailing zeros

SCHEMAS = {
    "/t/int8": "int8", "/t/int16": "int16", "/t/int32": "int32",
    "/t/int64": "int64", "/t/uint8": "uint8", "/t/uint16": "uint16",
    "/t/uint32": "uint32", "/t/uint64": "uint64", "/t/float32": "float32",
    "/t/float64": "float64", "/t/boolean": "boolean", "/t/binary": "binary",
    "/t/ints": "[3]int32", "/t/floats": "[2]float64",
    "/t/point": '{"x": int32, "tag": string}',
    "/t/pair": '{"a": [2]uint8, "b": float32, "raw": binary}',
}
DATA = {
    "/t/int8": ["-7", "12", "127"],
    "/t/int16": ["300", "-32768"],
    "/t/int32": ["70000", "-1", "5"],
    "/t/int64": ["-9000000000", "42"],
    "/t/uint8": ["255", "0"],
    "/t/uint16": ["65535"],
    "/t/uint32": ["4294967295"],
    "/t/uint64": ["18446744073709551615", "7"],
    "/t/float32": ["1.5", "0.1", "-2.75"],
    "/t/float64": ["-2.25e3", "0.1", "1e-300", "NaN", "-0.0", "Infinity"],
    "/t/boolean": ["true", "FALSE"],
    "/t/binary": ["raw bytes", ""],
    "/t/ints": ["[1, 2, 3]", "[-5, 0, 2147483647]"],
    "/t/floats": ["[0.5, NaN]"],
    "/t/point": ['{"x": 4, "tag": "a"}', '{"x": -1, "tag": "h\\u00e9llo"}'],
    "/t/pair": ['{"a": [1, 2], "b": 3.5, "raw": "cmF3"}'],
    "/s/log": ["hello world", "tab\there", "ünï", ""],
    "/s/n": ["12.5", "-3"],
}


def _rows():
    rows = []
    for j, (topic, values) in enumerate(DATA.items()):
        for i, value in enumerate(values):
            t = BASE + timedelta(minutes=10 * i + j, microseconds=MICROS[(i + j) % 4])
            rows.append((t, topic, value))
    return rows


# query -> entries, each "RFC3339Nano \t topic \t base64(data) \t schema",
# as the Row-per-entry encoder that the Arrow one replaced wrote them
EXPECTED = {
    'all': [
        '2024-01-31T12:00:00Z\t/t/int8\t+Q==\tint8',
        '2024-01-31T12:01:00.12Z\t/t/int16\tLAE=\tint16',
        '2024-01-31T12:02:00.000005Z\t/t/int32\tcBEBAA==\tint32',
        '2024-01-31T12:03:00.999999Z\t/t/int64\tAOaO5/3///8=\tint64',
        '2024-01-31T12:04:00Z\t/t/uint8\t/w==\tuint8',
        '2024-01-31T12:05:00.12Z\t/t/uint16\t//8=\tuint16',
        '2024-01-31T12:06:00.000005Z\t/t/uint32\t/////w==\tuint32',
        '2024-01-31T12:07:00.999999Z\t/t/uint64\t//////////8=\tuint64',
        '2024-01-31T12:08:00Z\t/t/float32\tAADAPw==\tfloat32',
        '2024-01-31T12:09:00.12Z\t/t/float64\tAAAAAACUocA=\tfloat64',
        '2024-01-31T12:10:00.000005Z\t/t/boolean\tAQ==\tboolean',
        '2024-01-31T12:10:00.12Z\t/t/int8\tDA==\tint8',
        '2024-01-31T12:11:00.000005Z\t/t/int16\tAIA=\tint16',
        '2024-01-31T12:11:00.999999Z\t/t/binary\tcmF3IGJ5dGVz\tbinary',
        '2024-01-31T12:12:00Z\t/t/ints\tAQAAAAIAAAADAAAA\t[3]int32',
        '2024-01-31T12:12:00.999999Z\t/t/int32\t/////w==\tint32',
        '2024-01-31T12:13:00Z\t/t/int64\tKgAAAAAAAAA=\tint64',
        '2024-01-31T12:13:00.12Z\t/t/floats\tAAAAAAAA4D8AAAAAAAD4fw==\t[2]float64',
        '2024-01-31T12:14:00.000005Z\t/t/point\tBAAAAAEAAABh\t{"x": int32, "tag": string}',
        '2024-01-31T12:14:00.12Z\t/t/uint8\tAA==\tuint8',
        '2024-01-31T12:15:00.999999Z\t/t/pair\tAQIAAGBAAwAAAHJhdw==\t{"a": [2]uint8, "b": float32, "raw": binary}',
        '2024-01-31T12:16:00Z\t/s/log\taGVsbG8gd29ybGQ=\tstring',
        '2024-01-31T12:17:00Z\t/t/uint64\tBwAAAAAAAAA=\tuint64',
        '2024-01-31T12:17:00.12Z\t/s/n\tMTIuNQ==\tstring',
        '2024-01-31T12:18:00.12Z\t/t/float32\tzczMPQ==\tfloat32',
        '2024-01-31T12:19:00.000005Z\t/t/float64\tmpmZmZmZuT8=\tfloat64',
        '2024-01-31T12:20:00.000005Z\t/t/int8\tfw==\tint8',
        '2024-01-31T12:20:00.999999Z\t/t/boolean\tAA==\tboolean',
        '2024-01-31T12:21:00Z\t/t/binary\t\tbinary',
        '2024-01-31T12:22:00Z\t/t/int32\tBQAAAA==\tint32',
        '2024-01-31T12:22:00.12Z\t/t/ints\t+////wAAAAD///9/\t[3]int32',
        '2024-01-31T12:24:00.999999Z\t/t/point\t/////wYAAABow6lsbG8=\t{"x": int32, "tag": string}',
        '2024-01-31T12:26:00.12Z\t/s/log\tdGFiCWhlcmU=\tstring',
        '2024-01-31T12:27:00.000005Z\t/s/n\tLTM=\tstring',
        '2024-01-31T12:28:00.000005Z\t/t/float32\tAAAwwA==\tfloat32',
        '2024-01-31T12:29:00.999999Z\t/t/float64\tWfP4wh9upQE=\tfloat64',
        '2024-01-31T12:36:00.000005Z\t/s/log\tw7xuw68=\tstring',
        '2024-01-31T12:39:00Z\t/t/float64\tAAAAAAAA+H8=\tfloat64',
        '2024-01-31T12:46:00.999999Z\t/s/log\t\tstring',
        '2024-01-31T12:49:00.12Z\t/t/float64\tAAAAAAAAAIA=\tfloat64',
        '2024-01-31T12:59:00.000005Z\t/t/float64\tAAAAAAAA8H8=\tfloat64',
    ],
    'all in /s': [
        '2024-01-31T12:16:00Z\t/s/log\taGVsbG8gd29ybGQ=\tstring',
        '2024-01-31T12:17:00.12Z\t/s/n\tMTIuNQ==\tstring',
        '2024-01-31T12:26:00.12Z\t/s/log\tdGFiCWhlcmU=\tstring',
        '2024-01-31T12:27:00.000005Z\t/s/n\tLTM=\tstring',
        '2024-01-31T12:36:00.000005Z\t/s/log\tw7xuw68=\tstring',
        '2024-01-31T12:46:00.999999Z\t/s/log\t\tstring',
    ],
    'all since ~now - @hour': [
        '2024-01-31T12:36:00.000005Z\t/s/log\tw7xuw68=\tstring',
        '2024-01-31T12:39:00Z\t/t/float64\tAAAAAAAA+H8=\tfloat64',
        '2024-01-31T12:46:00.999999Z\t/s/log\t\tstring',
        '2024-01-31T12:49:00.12Z\t/t/float64\tAAAAAAAAAIA=\tfloat64',
        '2024-01-31T12:59:00.000005Z\t/t/float64\tAAAAAAAA8H8=\tfloat64',
    ],
    'all in /t/int8': [
        '2024-01-31T12:00:00Z\t/t/int8\t+Q==\tint8',
        '2024-01-31T12:10:00.12Z\t/t/int8\tDA==\tint8',
        '2024-01-31T12:20:00.000005Z\t/t/int8\tfw==\tint8',
    ],
    'all in /t/int16': [
        '2024-01-31T12:01:00.12Z\t/t/int16\tLAE=\tint16',
        '2024-01-31T12:11:00.000005Z\t/t/int16\tAIA=\tint16',
    ],
    'all in /t/int32': [
        '2024-01-31T12:02:00.000005Z\t/t/int32\tcBEBAA==\tint32',
        '2024-01-31T12:12:00.999999Z\t/t/int32\t/////w==\tint32',
        '2024-01-31T12:22:00Z\t/t/int32\tBQAAAA==\tint32',
    ],
    'all in /t/int64': [
        '2024-01-31T12:03:00.999999Z\t/t/int64\tAOaO5/3///8=\tint64',
        '2024-01-31T12:13:00Z\t/t/int64\tKgAAAAAAAAA=\tint64',
    ],
    'all in /t/uint8': [
        '2024-01-31T12:04:00Z\t/t/uint8\t/w==\tuint8',
        '2024-01-31T12:14:00.12Z\t/t/uint8\tAA==\tuint8',
    ],
    'all in /t/uint16': [
        '2024-01-31T12:05:00.12Z\t/t/uint16\t//8=\tuint16',
    ],
    'all in /t/uint32': [
        '2024-01-31T12:06:00.000005Z\t/t/uint32\t/////w==\tuint32',
    ],
    'all in /t/uint64': [
        '2024-01-31T12:07:00.999999Z\t/t/uint64\t//////////8=\tuint64',
        '2024-01-31T12:17:00Z\t/t/uint64\tBwAAAAAAAAA=\tuint64',
    ],
    'all in /t/float32': [
        '2024-01-31T12:08:00Z\t/t/float32\tAADAPw==\tfloat32',
        '2024-01-31T12:18:00.12Z\t/t/float32\tzczMPQ==\tfloat32',
        '2024-01-31T12:28:00.000005Z\t/t/float32\tAAAwwA==\tfloat32',
    ],
    'all in /t/float64': [
        '2024-01-31T12:09:00.12Z\t/t/float64\tAAAAAACUocA=\tfloat64',
        '2024-01-31T12:19:00.000005Z\t/t/float64\tmpmZmZmZuT8=\tfloat64',
        '2024-01-31T12:29:00.999999Z\t/t/float64\tWfP4wh9upQE=\tfloat64',
        '2024-01-31T12:39:00Z\t/t/float64\tAAAAAAAA+H8=\tfloat64',
        '2024-01-31T12:49:00.12Z\t/t/float64\tAAAAAAAAAIA=\tfloat64',
        '2024-01-31T12:59:00.000005Z\t/t/float64\tAAAAAAAA8H8=\tfloat64',
    ],
    'all in /t/boolean': [
        '2024-01-31T12:10:00.000005Z\t/t/boolean\tAQ==\tboolean',
        '2024-01-31T12:20:00.999999Z\t/t/boolean\tAA==\tboolean',
    ],
    'all in /t/binary': [
        '2024-01-31T12:11:00.999999Z\t/t/binary\tcmF3IGJ5dGVz\tbinary',
        '2024-01-31T12:21:00Z\t/t/binary\t\tbinary',
    ],
    'all in /t/ints': [
        '2024-01-31T12:12:00Z\t/t/ints\tAQAAAAIAAAADAAAA\t[3]int32',
        '2024-01-31T12:22:00.12Z\t/t/ints\t+////wAAAAD///9/\t[3]int32',
    ],
    'all in /t/floats': [
        '2024-01-31T12:13:00.12Z\t/t/floats\tAAAAAAAA4D8AAAAAAAD4fw==\t[2]float64',
    ],
    'all in /t/point': [
        '2024-01-31T12:14:00.000005Z\t/t/point\tBAAAAAEAAABh\t{"x": int32, "tag": string}',
        '2024-01-31T12:24:00.999999Z\t/t/point\t/////wYAAABow6lsbG8=\t{"x": int32, "tag": string}',
    ],
    'all in /t/pair': [
        '2024-01-31T12:15:00.999999Z\t/t/pair\tAQIAAGBAAwAAAHJhdw==\t{"a": [2]uint8, "b": float32, "raw": binary}',
    ],
    'all in /t/float64 | map x -> x * 2': [
        '2024-01-31T12:09:00.12Z\t/t/float64\tLTQ1MDAuMA==\tstring',
        '2024-01-31T12:19:00.000005Z\t/t/float64\tMC4y\tstring',
        '2024-01-31T12:29:00.999999Z\t/t/float64\tMmUtMzAw\tstring',
        '2024-01-31T12:39:00Z\t/t/float64\tbmFu\tstring',
        '2024-01-31T12:49:00.12Z\t/t/float64\tLTAuMA==\tstring',
        '2024-01-31T12:59:00.000005Z\t/t/float64\taW5m\tstring',
    ],
    'all in /s/n | map x -> x * 2': [
        '2024-01-31T12:17:00.12Z\t/s/n\tMjUuMA==\tstring',
        '2024-01-31T12:27:00.000005Z\t/s/n\tLTYuMA==\tstring',
    ],
    'all in /t/int32 | map x -> x, x * 2': [
        '2024-01-31T12:02:00.000005Z\t/t/int32\tKDcwMDAwLCAxNDAwMDAp\tstring',
        '2024-01-31T12:12:00.999999Z\t/t/int32\tKC0xLCAtMik=\tstring',
        '2024-01-31T12:22:00Z\t/t/int32\tKDUsIDEwKQ==\tstring',
    ],
    'all in /t/float32 | map x -> "d": x * 2, "o": x': [
        '2024-01-31T12:08:00Z\t/t/float32\tKDMuMCwgMS41KQ==\tstring',
        '2024-01-31T12:18:00.12Z\t/t/float32\tKDAuMjAwMDAwMDAyOTgwMjMyMjQsIDAuMTAwMDAwMDAxNDkwMTE2MTIp\tstring',
        '2024-01-31T12:28:00.000005Z\t/t/float32\tKC01LjUsIC0yLjc1KQ==\tstring',
    ],
    'all in /t/point | map x -> x': [
        '2024-01-31T12:14:00.000005Z\t/t/point\tUm93KHg9NCwgdGFnPSdhJyk=\tstring',
        '2024-01-31T12:24:00.999999Z\t/t/point\tUm93KHg9LTEsIHRhZz0naMOpbGxvJyk=\tstring',
    ],
    'all in /t/pair | map x -> x': [
        '2024-01-31T12:15:00.999999Z\t/t/pair\tUm93KGE9WzEsIDJdLCBiPTMuNSwgcmF3PWIncmF3Jyk=\tstring',
    ],
    'all in /t/binary | map x -> x': [
        '2024-01-31T12:11:00.999999Z\t/t/binary\tYidyYXcgYnl0ZXMn\tstring',
        '2024-01-31T12:21:00Z\t/t/binary\tYicn\tstring',
    ],
    'all in /t/ints | map x -> x': [
        '2024-01-31T12:12:00Z\t/t/ints\tWzEsIDIsIDNd\tstring',
        '2024-01-31T12:22:00.12Z\t/t/ints\tWy01LCAwLCAyMTQ3NDgzNjQ3XQ==\tstring',
    ],
    'all in /t/uint64 | map x -> x': [
        '2024-01-31T12:07:00.999999Z\t/t/uint64\tMTg0NDY3NDQwNzM3MDk1NTE2MTU=\tstring',
        '2024-01-31T12:17:00Z\t/t/uint64\tNw==\tstring',
    ],
    'all in /t/boolean | map x -> x': [
        '2024-01-31T12:10:00.000005Z\t/t/boolean\tVHJ1ZQ==\tstring',
        '2024-01-31T12:20:00.999999Z\t/t/boolean\tRmFsc2U=\tstring',
    ],
    'all in /t/float64 | filter x -> x > 0': [
        '2024-01-31T12:19:00.000005Z\t/t/float64\tMC4x\tstring',
        '2024-01-31T12:29:00.999999Z\t/t/float64\tMWUtMzAw\tstring',
        '2024-01-31T12:39:00Z\t/t/float64\tbmFu\tstring',
        '2024-01-31T12:59:00.000005Z\t/t/float64\taW5m\tstring',
    ],
    'all in /t/int64 | reduce a, b -> a + b': [
        '1970-01-01T00:00:00Z\t/\tLTg5OTk5OTk5NTg=\tstring',
    ],
    'all in /t/float64 | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1]': [
        '1970-01-01T00:00:00Z\t/\tKDYsIC0yMjQ5Ljkp\tstring',
    ],
    'all in /t/int32 | reduce a, b -> a - b': [
        '1970-01-01T00:00:00Z\t/\tNjk5OTY=\tstring',
    ],
    'sample(@hour)': [
        '2024-01-31T12:00:00Z\t/t/int8\t+Q==\tint8',
    ],
    'sample(@hour) in /t/float64 | map x -> x, 1': [
        '2024-01-31T12:09:00.12Z\t/t/float64\tKC0yMjUwLjAsIDEp\tstring',
    ],
}

CAP_QUERY = "all"
CAP_ROWS = 3
CAP_EXPECTED = [
    '2024-01-31T12:00:00Z\t/t/int8\t+Q==\tint8',
    '2024-01-31T12:01:00.12Z\t/t/int16\tLAE=\tint16',
    '2024-01-31T12:02:00.000005Z\t/t/int32\tcBEBAA==\tint32',
]


@pytest.fixture(scope="module")
def served(spark):
    root = os.path.join("build", f"query_encode_{uuid.uuid4().hex[:8]}")
    server = FossilServer(spark, {"db": root}, now=NOW)
    db = server.dbs["db"]
    for topic, schema in SCHEMAS.items():
        db.store.set_schema(topic, schema)
    db.store.append_rows(_rows())
    try:
        yield server, db
    finally:
        server._server.server_close()
        db._wal_fh.close()
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("query", list(EXPECTED))
def test_entries_are_pinned(served, query):
    server, db = served
    assert server._run_query(db, query) == EXPECTED[query]


def test_row_cap(served):
    server, db = served
    server.max_query_rows = CAP_ROWS
    try:
        assert server._run_query(db, CAP_QUERY) == CAP_EXPECTED
    finally:
        server.max_query_rows = 100_000


def _jobs_in_groups(spark, groups) -> dict[str, list[int]]:
    """Spark job ids per job group. Job-start events reach the status
    tracker in order, so once a later marker job shows, every earlier
    job has."""
    sc = spark.sparkContext
    marker = f"marker-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(marker, "marker", False)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(500):
        if tracker.getJobIdsForGroup(marker):
            break
        time.sleep(0.01)
    return {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}


@pytest.mark.parametrize("query", [
    "all in /t/float64 since ~now - @hour",  # typed: query_typed
    "all in /s",  # untyped: query
])
def test_query_is_one_job_and_its_build_none(spark, served, monkeypatch, query):
    server, db = served
    server._run_query(db, query)  # the store has been read before
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    query_group, build_group = f"query-{tag}", f"build-{tag}"
    store_cls = type(db.store)
    for name in ("query", "query_typed"):
        real = getattr(store_cls, name)

        def build(self, *args, _real=real, **kwargs):
            sc.setJobGroup(build_group, "plan build", False)
            try:
                return _real(self, *args, **kwargs)
            finally:
                sc.setJobGroup(query_group, "query", False)

        monkeypatch.setattr(store_cls, name, build)
    sc.setJobGroup(query_group, "query", False)
    try:
        entries = server._run_query(db, query)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert entries
    jobs = _jobs_in_groups(spark, [query_group, build_group])
    assert jobs[build_group] == []
    assert len(jobs[query_group]) == 1


def test_entries_format_values_as_collect_returns_them(spark):
    """Pipeline values travel as str() of the value collect() returns;
    the Arrow result converts where its Python value differs."""
    from fossil_spark.schema import TopicRegistry
    from fossil_spark.server import _query_entries

    df = spark.sql("""
        SELECT TIMESTAMP'2024-01-31 12:00:00.5' AS time, '/x' AS topic,
               named_struct('a', 1, 'b', X'6162', 'c', array(1.5D, 2D), 'd', 'x') AS s,
               X'00ff' AS bin, array(1, 2) AS arr, CAST(1.25 AS DECIMAL(10, 4)) AS dec,
               DATE'2024-01-31' AS d, CAST(NULL AS STRING) AS n, 0.1F AS f
        UNION ALL
        SELECT NULL, '', named_struct('a', NULL, 'b', NULL, 'c', NULL, 'd', NULL),
               NULL, NULL, NULL, NULL, NULL, NULL
        UNION ALL
        SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    """)
    want = []
    for r in df.collect():
        d = r.asDict()
        t = d.pop("time") or datetime(1970, 1, 1)
        topic = d.pop("topic") or "/"
        datum = "(" + ", ".join(str(v) for v in d.values()) + ")"
        stamp = t.strftime("%Y-%m-%dT%H:%M:%S")
        if t.microsecond:
            stamp += "." + f"{t.microsecond:06d}".rstrip("0")
        want.append(f"{stamp}Z\t{topic}\t{base64.b64encode(datum.encode()).decode()}\tstring")
    assert _query_entries(df.toArrow(), TopicRegistry(), raw_dump=False) == want


def test_non_utc_host_stores_the_utc_instant(spark, monkeypatch):
    """append_rows takes naive UTC datetimes (the server's APPEND, WAL
    replay and the CLI); createDataFrame would read them as host-local
    time."""
    from pyspark.sql import functions as F

    root = os.path.join("build", f"query_tz_{uuid.uuid4().hex[:8]}")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    server = FossilServer(spark, {"db": root}, now=datetime(2024, 1, 31, 12, 30, tzinfo=timezone.utc))
    db = server.dbs["db"]
    try:
        stamp = datetime(2024, 1, 31, 12, 0, 0, 250000)  # naive UTC
        db.store.append_rows([(stamp, "/tz/a", "x")])
        before = datetime.now(timezone.utc)
        db.append("/tz/b", b"y", flush_every=1)
        after = datetime.now(timezone.utc)
        micros = dict(
            db.store.read().select("topic", F.unix_micros("time")).collect())
        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)

        def us(t):
            return (t - epoch) // timedelta(microseconds=1)

        assert micros["/tz/a"] == us(stamp.replace(tzinfo=timezone.utc))
        assert us(before) <= micros["/tz/b"] <= us(after)
        assert server._run_query(db, "all in /tz/a") == [
            "2024-01-31T12:00:00.25Z\t/tz/a\teA==\tstring"]
        assert server._run_query(db, "all in /tz since ~now - @hour") == [
            "2024-01-31T12:00:00.25Z\t/tz/a\teA==\tstring"]
    finally:
        server._server.server_close()
        db._wal_fh.close()
        shutil.rmtree(root, ignore_errors=True)
        monkeypatch.undo()
        time.tzset()

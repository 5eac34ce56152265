"""The driver-side schema gate on the server's write path: an APPEND and
every flush check typed datum with schema.conforms(), so a flush runs
one Spark job (the parquet write) however many typed topics it holds."""

import json
import os
import shutil
import struct
import time
import uuid
from datetime import datetime

import pytest

from fossil_spark.schema import SchemaError
from fossil_spark.server import _Database

# 16 typed topics, one per schema shape, and a conforming datum for each
TYPED = {
    "/t/int8": ("int8", "-7"), "/t/int16": ("int16", "300"),
    "/t/int32": ("int32", "70000"), "/t/int64": ("int64", "-9000000000"),
    "/t/uint8": ("uint8", "255"), "/t/uint16": ("uint16", "65535"),
    "/t/uint32": ("uint32", "4294967295"), "/t/uint64": ("uint64", "18446744073709551615"),
    "/t/float32": ("float32", "1.5"), "/t/float64": ("float64", "-2.25e3"),
    "/t/boolean": ("boolean", "true"), "/t/binary": ("binary", "raw"),
    "/t/ints": ("[3]int32", "[1, 2, 3]"), "/t/floats": ("[2]float64", "[0.5, NaN]"),
    "/t/point": ('{"x": int32, "tag": string}', '{"x": 4, "tag": "a"}'),
    "/t/pair": ('{"a": [2]uint8, "b": float32}', '{"a": [1, 2], "b": 3.5}'),
}


@pytest.fixture
def db(spark):
    root = os.path.join("build", f"flush_gate_{uuid.uuid4().hex[:8]}")
    database = _Database(spark, "db", root)
    for topic, (schema, _) in TYPED.items():
        database.store.set_schema(topic, schema)
    try:
        yield database
    finally:
        database._wal_fh.close()
        shutil.rmtree(root, ignore_errors=True)


def _jobs_of_flush(spark, db) -> list[int]:
    sc = spark.sparkContext
    group = f"flush-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "flush under test", False)
    try:
        db.flush()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker in order, through an
    # asynchronous bus: once the write (the last job) shows, all have
    tracker = sc.statusTracker()
    for _ in range(200):
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            return sorted(jobs)
        time.sleep(0.01)
    return []


def test_flush_of_typed_batch_runs_one_job(spark, db):
    topics = list(TYPED) + [f"/s/{i}" for i in range(16)]
    for i in range(1000):
        topic = topics[i % len(topics)]
        datum = TYPED[topic][1] if topic in TYPED else f"line {i}"
        db.append(topic, datum.encode(), flush_every=10**9)
    assert len(db.pending) == 1000
    assert len(_jobs_of_flush(spark, db)) == 1  # the parquet write
    assert db.pending == []
    assert db.store.read().count() == 1000


def test_rejected_append_leaves_flush_working(spark, db):
    # "1_000" is an int to Python but not to Spark: an ack here would
    # fail every later flush of the database
    with pytest.raises(SchemaError):
        db.append("/t/int64", b"1_000", flush_every=10**9)
    db.append("/t/int64", b"1000", flush_every=10**9)
    db.flush()
    assert [r["value"] for r in db.store.read().collect()] == ["1000"]


def test_binary_datum_with_control_bytes_stays_binary(db):
    # Spark's int cast trims control bytes, so these 8 bytes would read
    # as the text "8"; they are the int64 145422, little-endian
    data = struct.pack("<q", 145422)
    assert data.decode("utf-8").strip("\x00\x02\x0e") == "8"
    db.append("/t/int64", data, flush_every=10**9)
    assert db.pending[-1][2] == "145422"


def test_replayed_nonconforming_row_commits_nothing(spark, db):
    # WAL replay refills pending without the APPEND gate; the flush
    # still checks every typed row and writes none of the batch
    db.append("/t/int32", b"5", flush_every=10**9)
    db._wal_fh.close()
    with open(db._wal_active, "a", encoding="utf-8") as f:
        f.write(json.dumps([datetime(2024, 1, 1).isoformat(), "/t/int32", "5.5"]) + "\n")
    replayed = _Database(spark, "db", db.store.root)
    try:
        assert [v for _, _, v in replayed.pending] == ["5", "5.5"]
        with pytest.raises(SchemaError, match="5.5"):
            replayed.flush()
        assert replayed.is_empty()
        assert [v for _, _, v in replayed.pending] == ["5", "5.5"]
    finally:
        replayed._wal_fh.close()

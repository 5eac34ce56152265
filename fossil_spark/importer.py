"""Import a reference fossil database directory into the Spark store.

The reference persists a database (pkg/database/db.go
serializeInternal / deserializeInternal) as:

  metadata    little-endian uint32 Version, uint32 segment count,
              uint32 current-segment index, then an RFC3339 string
  segments/N  one gob-encoded Segment per file:
              { HeadTime time.Time, Series [10000]Datum, Size int }
              with Datum { Delta time.Duration, TopicID int, Data []byte }
  topics      zlib-compressed JSON array of topic names (index = TopicID)
  schemas     zlib-compressed JSON array of schema text (parallel)
  wal.log     text lines "action;base64(gob value)" replayed on load
              (log.go ApplyToDB: 1=AddEvent Datum, 2=AddSegment
              head-time, 4=AddTopic "topic[:schema]")

This module reads that layout with the spec-derived gob decoder
(fossil_spark/gob.py) and lands the entries in a parquet EventStore —
the migration path for a reference user switching engines: topics,
declared schemas, flushed segments AND unflushed WAL entries all come
across in one call.

All three on-disk generations the reference accepts are handled,
mirroring pkg/database/migration.go detectVersion:

  v2           metadata + segments/ + topics/schemas sidecars (above)
  v1           ONE gob `database` file (databaseV1: Segments inline,
               TopicLookup, no schemas — they default to "string" on
               migration, migration.go:95)
  version-less no metadata at all — the database never spilled to
               disk; topics, segments and events replay from wal.log
               alone (db.go NewDatabase second branch)
"""

from __future__ import annotations

import base64
import json
import os
import struct
import zlib
from datetime import datetime, timedelta

from fossil_spark.gob import Decoder, go_time


def detect_version(path: str) -> int:
    """On-disk version sniff, mirroring the reference's detection
    rules (pkg/database/migration.go:115 detectVersion): no
    `metadata` + a `database` file = v1 (the legacy one-file gob
    format); no `metadata` at all = 0, a "version-less" database that
    has never spilled to disk and holds data ONLY in wal.log; else
    the version is the metadata file's first little-endian uint32."""
    if not os.path.exists(os.path.join(path, "metadata")):
        if os.path.exists(os.path.join(path, "database")):
            return 1
        return 0
    with open(os.path.join(path, "metadata"), "rb") as f:
        head = f.read(4)
    if len(head) < 4:
        return 0
    return struct.unpack("<I", head)[0]


def _segments_from_gob(raw_segments: list) -> list:
    """Decoded gob Segment dicts -> [(head datetime, live datums)]."""
    out: list[tuple[datetime, list]] = []
    for seg in raw_segments:
        head = go_time(seg["HeadTime"]).replace(tzinfo=None)
        size = seg.get("Size", 0)
        out.append((head, seg.get("Series", [])[:size]))
    return out


def _load_v1(path: str) -> tuple[list, list, list]:
    """The v1 layout (migration.go:48 databaseV1 / :59 deserializeV1):
    ONE gob-encoded struct in a `database` file — Segments inline,
    TopicLookup, no schema sidecar. The reference's v1->v2 migration
    (migration.go:78) assigns every topic the default "string"
    schema; we do the same."""
    with open(os.path.join(path, "database"), "rb") as f:
        db = Decoder(f.read()).decode()
    topics = list(db.get("TopicLookup", []))
    schemas = ["string"] * len(topics)
    return topics, schemas, _segments_from_gob(db.get("Segments", []))


def load_reference_db(path: str) -> dict:
    """Parse a reference database directory into plain Python data:
    {"topics": [...], "schemas": [...], "entries": [(utc-naive
    datetime, topic, data bytes), ...]} with WAL entries applied in
    log order after the serialized segments (db.go NewDatabase).

    Handles all three on-disk generations the reference accepts:
    v2 (metadata + segments/ + sidecars), v1 (single gob `database`
    file — migrated on the fly, default schemas), and version-less
    (db.go:685 — only wal.log exists; topics, segments and events all
    come from the replay)."""
    version = detect_version(path)
    if version > 2:
        raise ValueError(f"unsupported reference db version {version}")

    def _zjson(name: str) -> list:
        p = os.path.join(path, name)
        if not os.path.exists(p):
            return []
        with open(p, "rb") as f:
            return json.loads(zlib.decompress(f.read()))

    if version == 1:
        topics, schemas, segments = _load_v1(path)
    elif version == 0:
        # never spilled: everything replays out of the WAL
        topics, schemas, segments = [], [], []
    else:
        with open(os.path.join(path, "metadata"), "rb") as f:
            raw = f.read()
        _version, seg_count, _current = struct.unpack_from("<III", raw, 0)
        topics = _zjson("topics")
        schemas = _zjson("schemas")
        segments = []
        for i in range(seg_count):
            with open(os.path.join(path, "segments", str(i)), "rb") as f:
                seg = Decoder(f.read()).decode()
            head = go_time(seg["HeadTime"]).replace(tzinfo=None)
            size = seg.get("Size", 0)
            segments.append((head, seg.get("Series", [])[:size]))

    _replay_wal(os.path.join(path, "wal.log"), topics, schemas, segments)

    entries: list[tuple[datetime, str, bytes]] = []
    for head, series in segments:
        for d in series:
            delta_ns = d.get("Delta", 0)
            tid = d.get("TopicID", 0)
            topic = topics[tid] if 0 <= tid < len(topics) else "/"
            entries.append((
                head + timedelta(microseconds=delta_ns // 1000),
                topic,
                d.get("Data", b""),
            ))
    return {"topics": topics, "schemas": schemas, "entries": entries}


def _replay_wal(
    wal_path: str, topics: list, schemas: list, segments: list
) -> None:
    """Apply wal.log actions in order (log.go ApplyToDB): events
    append to the last segment, AddSegment opens a new one, AddTopic
    extends the lookup; corrupt sections are skipped."""
    if not os.path.exists(wal_path):
        return
    with open(wal_path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.strip()
            if not line or ";" not in line:
                continue
            action_s, _, b64 = line.partition(";")
            try:
                action = int(action_s)
                payload = base64.b64decode(b64)
                value = Decoder(payload).decode()
            except (ValueError, KeyError):
                continue  # corrupt WAL section: skip, like ApplyToDB
            if action == 1 and segments:        # AddEvent (Datum)
                segments[-1][1].append(value)
            elif action == 2:                   # AddSegment (head time)
                segments.append(
                    (go_time(value).replace(tzinfo=None), [])
                )
            elif action == 4 and isinstance(value, str):  # AddTopic
                topic, _, schema = value.partition(":")
                if topic not in topics:
                    topics.append(topic)
                    schemas.append(schema or "string")


def _storage_text(data: bytes, schema) -> str:
    """Binary datum -> store text, as the server's APPEND stores it
    (encoding.storage_text); a non-conforming datum keeps its text."""
    from fossil_spark.encoding import storage_text

    if schema.text == "string":
        return data.decode("utf-8", "replace")
    value = storage_text(data, schema)
    return data.decode("utf-8", "replace") if value is None else value


def import_reference_db(
    spark, src_path: str, store_root: str, distributed: bool = False
) -> int:
    """Land a reference database into a parquet EventStore at
    `store_root`: declared topic schemas become the store's schema
    sidecar, every segment/WAL entry becomes a (time, topic, value)
    row (binary datum decoded through its topic schema, exactly like
    wire appends). Returns the number of imported entries.

    distributed=True is the scale path for big reference databases
    (segments cap at 10k entries, so a large DB is MANY segment
    files): the segment directory loads through Spark's binaryFile
    source and each file gob-decodes inside one Arrow mapInPandas
    pass — executors do the decoding, the driver only reads the tiny
    metadata/topics/schemas sidecars and the WAL tail (bounded by
    design: it only covers the unflushed window)."""
    from fossil_spark.schema import TopicRegistry
    from fossil_spark.store import EventStore

    store = EventStore(spark, store_root)

    # v1 is ONE gob file and version-less is ONLY a WAL tail — both
    # are driver-sized by construction (the reference would have
    # spilled v2 segments otherwise), so the distributed fan-out
    # only applies to v2 segment directories
    if detect_version(src_path) < 2:
        distributed = False

    if not distributed:
        db = load_reference_db(src_path)
        reg = TopicRegistry()
        for topic, schema_text in zip(db["topics"], db["schemas"]):
            if schema_text and schema_text != "string" and topic:
                store.set_schema(topic, schema_text)
                reg.set(topic, schema_text)
        rows = [
            (t, topic, _storage_text(data, reg.get(topic)))
            for t, topic, data in db["entries"]
        ]
        if not rows:
            return 0
        df = spark.createDataFrame(
            rows, "time timestamp, topic string, value string"
        )
        store.append(df)
        return len(rows)

    # --- distributed path ---------------------------------------------------
    with open(os.path.join(src_path, "metadata"), "rb") as f:
        raw = f.read()
    version, seg_count, _current = struct.unpack_from("<III", raw, 0)
    if version > 2:
        raise ValueError(f"unsupported reference db version {version}")

    def _zjson(name: str) -> list:
        p = os.path.join(src_path, name)
        if not os.path.exists(p):
            return []
        with open(p, "rb") as f:
            return json.loads(zlib.decompress(f.read()))

    topics = _zjson("topics")
    schemas = _zjson("schemas")
    for topic, schema_text in zip(topics, schemas):
        if schema_text and schema_text != "string" and topic:
            store.set_schema(topic, schema_text)

    # small closure state: topic names + schema texts (not objects)
    schema_texts = dict(zip(topics, schemas))

    def decode_files(batches):
        import pandas as pd

        from fossil_spark.schema import TopicRegistry as _TR

        reg = _TR()
        for t, s in schema_texts.items():
            if s and s != "string" and t:
                reg.set(t, s)
        for pdf in batches:
            out = []
            for content in pdf["content"]:
                seg = Decoder(bytes(content)).decode()
                head = go_time(seg["HeadTime"]).replace(tzinfo=None)
                for d in seg.get("Series", [])[:seg.get("Size", 0)]:
                    tid = d.get("TopicID", 0)
                    topic = topics[tid] if 0 <= tid < len(topics) else "/"
                    out.append((
                        head + timedelta(
                            microseconds=d.get("Delta", 0) // 1000
                        ),
                        topic,
                        _storage_text(d.get("Data", b""), reg.get(topic)),
                    ))
            if out:
                yield pd.DataFrame(out, columns=["time", "topic", "value"])

    n_total = 0
    seg_dir = os.path.join(src_path, "segments")
    if seg_count and os.path.isdir(seg_dir):
        files = (
            spark.read.format("binaryFile")
            .load(seg_dir)
            .select("content")
        )
        decoded = files.mapInPandas(
            decode_files, "time timestamp, topic string, value string"
        )
        # one distributed pass: count and append from the same scan
        decoded = decoded.cache()
        try:
            n_total += decoded.count()
            store.append(decoded)
        finally:
            decoded.unpersist()

    # WAL tail (bounded by design — it only covers the unflushed
    # window): replay it driver-side against the LAST segment's head
    # time, which is the only segment file the driver must touch
    wal_segments: list[tuple[datetime, list]] = []
    if seg_count:
        with open(os.path.join(seg_dir, str(seg_count - 1)), "rb") as f:
            last = Decoder(f.read()).decode()
        wal_segments.append(
            (go_time(last["HeadTime"]).replace(tzinfo=None), [])
        )
    _replay_wal(
        os.path.join(src_path, "wal.log"), topics, schemas, wal_segments
    )
    reg = TopicRegistry()
    for topic, schema_text in zip(topics, schemas):
        if schema_text and schema_text != "string" and topic:
            store.set_schema(topic, schema_text)
            reg.set(topic, schema_text)
    wal_rows = []
    for head, series in wal_segments:
        for d in series:
            tid = d.get("TopicID", 0)
            topic = topics[tid] if 0 <= tid < len(topics) else "/"
            wal_rows.append((
                head + timedelta(microseconds=d.get("Delta", 0) // 1000),
                topic,
                _storage_text(d.get("Data", b""), reg.get(topic)),
            ))
    if wal_rows:
        store.append(spark.createDataFrame(
            wal_rows, "time timestamp, topic string, value string"
        ))
        n_total += len(wal_rows)
    return n_total

"""EventStore — the fossil data model on distributed storage.

The reference stores datum as fixed-width segments with per-segment
head times and an in-memory topic map (/root/reference/pkg/database/
segment.go, db.go). That design is single-node; the Spark-native
equivalent is a date-partitioned parquet layout:

    <root>/date=YYYY-MM-DD/part-*.parquet     columns: time, topic, value

- `since/before/between` become partition pruning on `date` plus a
  row-group min/max skip on `time` — the same binary-search effect as
  the reference's segment index, but across thousands of files.
- `topic` is a column with parquet dictionary encoding + min/max
  stats; topic-prefix filters push down into the scan.
- Appends are atomic new files (Spark append mode); no WAL needed
  because parquet commits are all-or-nothing per job.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STORE_COLUMNS = ("time", "topic", "value")


class EventStore:
    """A fossil-style topic/time event store backed by partitioned parquet.

    Command parity with the reference CLI (docs/cli.md):
      APPEND -> append()       QUERY -> query() via FQL
      LIST topics -> topics()  STATS -> stats()
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- topic schemas (CREATE <topic> <schema> — docs/schema.md) ----------
    @property
    def _schema_path(self) -> str:
        return os.path.join(self.root, "_schemas.json")

    def _load_registry(self):
        import json

        from fossil_spark.schema import TopicRegistry

        reg = TopicRegistry()
        if os.path.exists(self._schema_path):
            with open(self._schema_path) as f:
                for topic, text in json.load(f).items():
                    reg.set(topic, text)
        return reg

    def set_schema(self, topic: str, schema_text: str) -> None:
        """Declare a topic schema (validated against the hierarchy
        rules — conflicting sub-topic schemas are rejected, mirroring
        db.go AddTopic + parentSchema). Persisted as a store sidecar."""
        import json

        reg = self._load_registry()
        reg.set(topic, schema_text)  # raises on conflict
        os.makedirs(self.root, exist_ok=True)
        existing = {}
        if os.path.exists(self._schema_path):
            with open(self._schema_path) as f:
                existing = json.load(f)
        existing[topic] = schema_text
        with open(self._schema_path, "w") as f:
            json.dump(existing, f, indent=1)

    def schema_for_topic(self, topic: str):
        """Effective schema for a topic (nearest ancestor, default
        string — db.go:414 SchemaForTopic)."""
        return self._load_registry().get(topic)

    # -- APPEND ------------------------------------------------------------
    def append(self, df: DataFrame, topic_col: str = "topic",
               time_col: str = "time", value_col: str = "value") -> None:
        out = df.select(
            F.col(time_col).alias("time"),
            F.col(topic_col).alias("topic"),
            F.col(value_col).alias("value"),
        ).withColumn("date", F.to_date("time"))
        # zstd: ~30-50% smaller than snappy at similar decode speed —
        # at 100 TB the scan is bandwidth-bound, so ratio wins.
        # sortWithinPartitions keeps each written file's (topic, time)
        # min/max stats tight so topic/time scans skip row groups;
        # compact() preserves the property for merged files.
        out.sortWithinPartitions("date", "topic", "time") \
            .write.mode("append").option("compression", "zstd") \
            .partitionBy("date").parquet(self.root)

    def append_rows(self, rows: list[tuple[datetime, str, str]]) -> None:
        """Small-batch append (the CLI `append <topic> <data>` path and
        the server's flush). Datum not conforming to the topic's
        declared schema are rejected (db.go:486: append-time
        validation) and nothing is written. The batch is a list on the
        driver, so every typed datum — WAL-replayed ones too — is
        checked there with conforms(), one pass and no Spark job; the
        parquet write is the batch's only job."""
        from fossil_spark.schema import SchemaError, conforms

        if os.path.exists(self._schema_path):
            reg = self._load_registry()
            schemas = {t: reg.get(t) for t in {t for _, t, _ in rows}}
            for _, t, value in rows:
                schema = schemas[t]
                if schema.text != "string" and not conforms(value, schema):
                    raise SchemaError(
                        f"datum {value!r} does not conform to topic "
                        f"{t!r} schema {schema.text!r}"
                    )
        self.append(self.spark.createDataFrame(rows, "time timestamp, topic string, value string"))

    def query_typed(self, text: str, topic: str, now: datetime | None = None) -> DataFrame:
        """Query a topic subtree with its declared schema applied: the
        raw string datum parses into the schema's Spark type before the
        FQL pipeline runs, so arithmetic is properly typed (the
        reference's MakeFromEntry path, types/value.go:98)."""
        from fossil_spark.fql import fql
        from fossil_spark.schema import validate

        schema = self.schema_for_topic(topic)
        src = self._read_pruned(text, now).filter(F.col("topic").startswith(topic))
        if schema.text != "string":
            src = (
                validate(src, schema)
                .filter(F.col("valid"))
                .select("time", "topic", F.col("parsed").alias("value"))
            )
        return fql(src, text, now=now)

    # -- read / QUERY --------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.root).select("time", "topic", "value")

    def _read_pruned(self, query, now: datetime | None) -> DataFrame:
        """Store scan with partition pruning derived from the query's
        time predicate. Spark can't infer `date = to_date(time)` from a
        filter on `time` alone, so every date directory would be listed
        and every footer opened; deriving the redundant `date` bounds
        here turns since/before/between into PartitionFilters — the
        distributed analogue of the reference's per-segment head-time
        binary search (db.go:554 Retrieve)."""
        from fossil_spark.fql.compiler import time_bounds

        src = self.spark.read.parquet(self.root)
        lo, hi = time_bounds(query, now=now)
        if lo is not None:
            src = src.filter(F.col("date") >= F.lit(lo.date()))
        if hi is not None:
            src = src.filter(F.col("date") <= F.lit(hi.date()))
        return src.select("time", "topic", "value")

    def query(self, text: str, now: datetime | None = None) -> DataFrame:
        from fossil_spark.fql import compile_query, parse

        q = parse(text)  # parse once: pruning and compilation share the AST
        return compile_query(q, self._read_pruned(q, now), now=now)

    def save_bucketed(
        self,
        table: str,
        path: str,
        key: str = "topic",
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Materialize the store as a Hive-bucketed catalog table so
        entity-keyed joins and aggregations plan WITHOUT an Exchange
        (fossil_spark.bucketing — pay the shuffle once at write time).

        The date-partitioned layout serves the time axis (partition
        pruning); this serves the other recurring 100 TB cost: every
        topic/entity-keyed join re-shuffling the fact table. Read it
        back with bucketing.read_bucketed (THROUGH the catalog — a
        path read silently drops the bucket spec). Within each bucket
        file rows sort by (key, time) by default, keeping the
        co-located join's sort a no-op and time row-group stats
        tight."""
        from fossil_spark.bucketing import save_bucketed as _save

        _save(
            self.read(), table, path, key, n_buckets,
            sort_cols=sort_cols if sort_cols is not None else [key, "time"],
        )

    def sql(self, statement: str, view_name: str = "store") -> DataFrame:
        """Full ANSI SQL over the store (the engine is Spark, so SQL
        comes for free alongside FQL): the store is exposed as a temp
        view named `view_name`."""
        self.read().createOrReplaceTempView(view_name)
        return self.spark.sql(statement)

    # -- LIST topics ---------------------------------------------------------
    def topics(self) -> DataFrame:
        return self.read().select("topic").distinct().orderBy("topic")

    # -- STATS ---------------------------------------------------------------
    def stats(self) -> DataFrame:
        return (
            self.read()
            .groupBy("topic")
            .agg(
                F.count("*").alias("n"),
                F.min("time").alias("first_time"),
                F.max("time").alias("last_time"),
            )
            .orderBy("topic")
        )


def events_store_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's `events` table to the store contract:
    (time, topic, value) with hierarchical topics /events/<type>."""
    from fossil_spark.session import read_table

    return (
        read_table(spark, sf_dir, "events")
        .select(
            F.col("ts").alias("time"),
            F.concat(F.lit("/events/"), F.col("event_type")).alias("topic"),
            F.col("value").alias("value"),
        )
    )


# Deterministic "now" used by the registered queries so Spark and the
# DuckDB oracle resolve ~now identically (test data spans Jan 2024).
FIXED_NOW = datetime(2024, 2, 1, tzinfo=timezone.utc)

"""Input generators. Everything is a function of the seed, and nothing
here touches Spark: inputs are written with pyarrow, so generating them
is not part of the program's measured set-up."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# wire_query: a sensor store in EventStore's on-disk layout

SENSOR_NOW = datetime(2024, 2, 1, tzinfo=timezone.utc)
SENSOR_DAYS = 30
SITES = 8
KINDS = 8
PER_TOPIC_DAY = 2604  # 30 days x 64 topics x 2604 = 5.0M datums


def sensor_topics() -> list[str]:
    return [f"/sensors/site{s}/k{k}" for s in range(SITES) for k in range(KINDS)]


def write_sensor_store(root: str, seed: int) -> int:
    """EventStore layout: <root>/date=YYYY-MM-DD/part-0.parquet with
    (time, topic, value) sorted by topic then time inside each file, the
    values float64 text, and `/sensors` declared float64. Returns the
    number of datums."""
    rng = np.random.default_rng([seed, 1])
    topics = sensor_topics()
    level = rng.uniform(-20.0, 80.0, len(topics))
    os.makedirs(root, exist_ok=True)
    total = 0
    start = SENSOR_NOW - timedelta(days=SENSOR_DAYS)
    for d in range(SENSOR_DAYS):
        day = start + timedelta(days=d)
        day_us = int(day.timestamp() * 1_000_000)
        counts = rng.integers(PER_TOPIC_DAY - 40, PER_TOPIC_DAY + 41, len(topics))
        n = int(counts.sum())
        times = np.concatenate([
            np.sort(rng.integers(0, 86_400_000_000, c)) for c in counts
        ]) + day_us
        steps = rng.normal(0.0, 0.05, n)
        topic_idx = np.repeat(np.arange(len(topics)), counts)
        # a random walk per topic, continuing from the previous day
        values = np.empty(n)
        off = 0
        for i, c in enumerate(counts):
            walk = level[i] + np.cumsum(steps[off:off + c])
            level[i] = walk[-1]
            values[off:off + c] = walk
            off += c
        table = pa.table({
            "time": pa.array(times, pa.timestamp("us", tz="UTC")),
            "topic": pa.array(np.asarray(topics, dtype=object)[topic_idx], pa.string()),
            "value": pc.cast(pa.array(np.round(values, 3)), pa.string()),
        })
        part = os.path.join(root, f"date={day:%Y-%m-%d}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(table, os.path.join(part, "part-00000.zstd.parquet"),
                       compression="zstd")
        total += n
    with open(os.path.join(root, "_schemas.json"), "w") as f:
        json.dump({"/sensors": "float64"}, f)
    return total


def sensor_query(rng: np.random.Generator, cls: str) -> str:
    """One FQL request of a wire QUERY class."""
    if cls == "narrow":
        # Zipf-popular leaf topic over the last 1-6 hours
        rank = min(int(rng.zipf(1.3)), SITES * KINDS) - 1
        topic = sensor_topics()[rank]
        return f"all in {topic} since ~now - @hour * {int(rng.integers(1, 7))}"
    if cls == "dump":
        # a site subtree over the last day: about 21k entries
        return f"all in /sensors/site{int(rng.integers(0, SITES))} since ~now - @day"
    if cls == "scan":
        return "all in /sensors | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1]"
    raise ValueError(cls)


CLASSES = ("narrow", "dump", "scan")
# One block of ten requests: 70% narrow, 20% dump and 10% scan.
CLASS_BLOCK = (("narrow", 7), ("dump", 2), ("scan", 1))


def class_blocks(rng: np.random.Generator):
    """Endless blocks of request classes, each block in a fresh seeded
    order, so every whole block has the same mix and only the order
    varies."""
    block = [c for c, k in CLASS_BLOCK for _ in range(k)]
    while True:
        yield [block[i] for i in rng.permutation(len(block))]


# --------------------------------------------------------------------------
# wire_ingest: a fixed sequence of operations per connection

INGEST_TYPED = [(f"/ingest/f{i}", "float64") for i in range(8)] + [
    (f"/ingest/i{i}", "int64") for i in range(8)
]
INGEST_STRINGS = [f"/ingest/s{i}" for i in range(16)]
_WORDS = ("ok", "warn", "slow", "retry", "cache", "disk", "net", "gc", "user",
          "login", "timeout", "flush", "scan", "open", "close", "write")


def _datum(rng, typed=INGEST_TYPED, strings=INGEST_STRINGS):
    """(topic, payload bytes, literal) of one APPEND: half to typed
    topics, of which half are binary-encoded on the client (the
    reference REPL path, schema passed explicitly) and half sent as
    text literals; the other half to string topics."""
    from fossil_spark.encoding import encode_literal

    if rng.random() < 0.5:
        topic, schema = typed[int(rng.integers(len(typed)))]
        if schema == "float64":
            literal = f"{rng.normal(50.0, 20.0):.3f}"
        else:
            literal = str(int(rng.integers(-1_000_000, 1_000_000)))
        if rng.random() < 0.5:
            return topic, encode_literal(literal, schema), literal
        return topic, literal.encode(), literal
    topic = strings[int(rng.integers(len(strings)))]
    n = int(rng.integers(3, 9))
    literal = " ".join(_WORDS[int(w)] for w in rng.integers(0, len(_WORDS), n))
    return topic, literal.encode(), literal


def ingest_plan(seed: int, connections: int, burst: int, queries: int,
                between: int, tail: int):
    """The fixed operation sequence, as phases that run one after the
    other; in each phase every connection runs its own list:
      1. `burst` APPENDs over all topics, spread over the connections;
         with burst = the flush threshold, the last one flushes inline;
      2. on connection 0, `queries` times: `between` APPENDs then one
         QUERY over the ingested subtree, whose read-your-writes flush
         commits those APPENDs;
      3. `tail` APPENDs, left unflushed for the durability check.
    Phases 2 and 3 write to the string topics and one typed topic.
    An operation is ("append", topic, payload, literal) or ("query", text)."""
    rng = np.random.default_rng([seed, 2])
    one_typed = [INGEST_TYPED[int(rng.integers(len(INGEST_TYPED)))]]

    def appends(total, typed=INGEST_TYPED):
        lists = [[] for _ in range(connections)]
        for i in range(total):
            lists[i % connections].append(("append", *_datum(rng, typed)))
        return lists

    phase2 = []
    for _ in range(queries):
        phase2 += appends(between, one_typed)[0] + [("query", "all in /ingest")]
    return [appends(burst), [phase2], appends(tail, one_typed)]


# --------------------------------------------------------------------------
# batch: sf0.1-shaped tables for the registered query keys

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _ts(days_from, n_days, rng, n, unit_days=True):
    base = np.datetime64(days_from, "us")
    if unit_days:
        off = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, n_days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def batch_tables(seed: int) -> dict[str, pa.Table]:
    """Ten tables with the columns, key ranges and value distributions
    of the TPC-H-like sf0.1 test set: region, nation, customer,
    supplier, part, orders (150k), lineitem (600k), events (100k),
    documents (5k, 5% near-duplicates) and embeddings (2k x 64)."""
    rng = np.random.default_rng([seed, 3])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = 15000
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], dtype=object)[rng.integers(0, 5, n)],
    })
    n = 1000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    })
    n = 20000
    adj = np.array("large hot blue old cold small red new".split(), dtype=object)
    noun = np.array("ring bolt plate nut gear pipe wire lamp".split(), dtype=object)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": adj[rng.integers(0, 8, n)] + " " + noun[rng.integers(0, 8, n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array("LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split(),
                           dtype=object)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n = 150000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, n), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"], dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], dtype=object)[rng.integers(0, 5, n)],
    })
    n = 600000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n),
    })
    n = 100000
    ts = np.sort(_ts("2024-01-01", 30, rng, n, unit_days=False).to_numpy(zero_copy_only=False))
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"],
                               dtype=object)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng, 5000)
    t["embeddings"] = _embeddings(rng, 2000, 64, 10)
    return t


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 100 and rng.random() < 0.05:
            # near-duplicate of an earlier document: last word dropped
            # or a marker word appended
            words = texts[int(rng.integers(0, i))].split()
            words = words[:-1] if rng.random() < 0.5 else words + ["dup"]
        elif i >= 100 and rng.random() < 0.002:
            words = texts[int(rng.integers(0, i))].split()  # exact duplicate
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int, labels: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


# table -> (sort column or None, files). Big tables are range-split on
# their natural order, so each file's min/max statistics stay tight and
# a scan gets one task per file, as in a store written by many tasks.
BATCH_LAYOUT = {
    "lineitem": ("l_shipdate", 32),
    "orders": ("o_orderdate", 16),
    "events": ("ts", 32),
    "documents": ("doc_id", 8),
    "embeddings": ("vec_id", 8),
    "customer": (None, 4),
    "part": (None, 4),
    "supplier": (None, 1),
    "nation": (None, 1),
    "region": (None, 1),
}


def write_batch_tables(out_dir: str, seed: int, fraction: float = 1.0) -> None:
    """Each table as a directory <name>.parquet/ of part files. With
    fraction < 1, only the leading share of each table with more than
    a thousand rows is kept."""
    for name, table in batch_tables(seed).items():
        if fraction < 1.0 and table.num_rows > 1000:
            table = table.slice(0, int(table.num_rows * fraction))
        order_col, files = BATCH_LAYOUT[name]
        if order_col:
            table = table.sort_by(order_col)
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"))

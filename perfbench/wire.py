"""The wire workload: FQL QUERY and APPEND against FossilServer over
fossil's wire protocol, with the server in its own process."""

from __future__ import annotations

import json
import os
import struct
import sys
import threading
import time
import urllib.request
from collections import Counter

import numpy as np

import gen
from common import (
    CheckFailed, add_totals, kill_tree, log, median, metric, op_layers, percentile,
    self_time, spawn, supported_tail, tree_peak_rss_mb,
)
from launch import child_env

HERE = os.path.dirname(os.path.abspath(__file__))


class ServerProcess:
    """server_main.py in its own session. `setup_s` is the time from
    launch until it accepts connections."""

    def __init__(self, workdir: str, dbs: dict[str, str], tag: str,
                 now: str | None = None, trace: bool = False, timeout: float = 150.0):
        self.ready = os.path.join(workdir, f"{tag}.ready.json")
        argv = [sys.executable, os.path.join(HERE, "server_main.py"),
                "--ready", self.ready, "--trace", str(int(trace))]
        for name, root in dbs.items():
            argv += ["--db", f"{name}={root}"]
        if now:
            argv += ["--now", now]
        t0 = time.perf_counter()
        self.proc = spawn(argv, child_env(workdir), workdir,
                          os.path.join(workdir, f"{tag}.log"))
        deadline = time.monotonic() + timeout
        while not os.path.exists(self.ready):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                kill_tree(self.proc)
                raise RuntimeError(f"server {tag} did not start; see {tag}.log")
            time.sleep(0.01)
        self.setup_s = time.perf_counter() - t0
        with open(self.ready) as f:
            info = json.load(f)
        self.port, self.metrics_port = info["port"], info["metrics_port"]

    def command(self, line: str) -> None:
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()

    def dump(self, path: str, timeout: float = 120.0) -> dict:
        self.command(f"dump {path}")
        deadline = time.monotonic() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("server trace dump failed")
            time.sleep(0.02)
        with open(path) as f:
            return json.load(f)

    def scrape(self) -> str:
        url = f"http://127.0.0.1:{self.metrics_port}/metrics"
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.read().decode()

    def peak_rss_mb(self) -> float:
        return tree_peak_rss_mb(self.proc.pid)

    def kill(self) -> None:
        kill_tree(self.proc)


def client(port: int):
    from fossil_spark.server import FossilClient

    return FossilClient("127.0.0.1", port, timeout=170.0)


def query_count(c, text: str) -> int:
    """Send one QUERY and read the whole response; the entry count."""
    _, payload = c._roundtrip("QUERY", text.encode())
    return struct.unpack_from(">I", payload, 0)[0]


def metrics_mean_ms(text: str, cmd: str) -> float:
    """Mean handler time of `cmd` from the server's /metrics text."""
    n = ns = 0.0
    for line in text.splitlines():
        if f'cmd="{cmd}"' not in line:
            continue
        if line.startswith("fossil_requests{"):
            n += float(line.rsplit(" ", 1)[1])
        elif line.startswith("fossil_response_ns_sum{"):
            ns += float(line.rsplit(" ", 1)[1])
    return ns / n / 1e6 if n else float("nan")


def spans_by_root(spans):
    roots, kids = {}, {}
    for s in spans:
        if s["id"] == s["root"]:
            roots[s["id"]] = s
        else:
            kids.setdefault(s["root"], []).append(s)
    return roots, kids


def _sum(kids, name):
    return sum(s["t1"] - s["t0"] for s in kids if s["name"] == name)


# --------------------------------------------------------------------------
# wire_query

BLOCK = sum(k for _, k in gen.CLASS_BLOCK)  # requests in one block of the mix
CLASS_MIX = {cls: k / BLOCK for cls, k in gen.CLASS_BLOCK}  # each class's share
MIN_BLOCKS = 2  # timed blocks in every run, however slow the box


def classify(text: str) -> str:
    if "reduce" in text:
        return "scan"
    return "narrow" if "/k" in text.split()[2] else "dump"


def duckdb_expect(con, root: str, text: str, now) -> tuple[int, float]:
    """(rows, value sum) the query must return, from DuckDB over the
    store's parquet."""
    words = text.split()
    topic = words[2]
    where = [f"starts_with(topic, '{topic}')"]
    if "since" in words:
        hours = int(words[words.index("@hour") + 2]) if "@hour" in words else 24
        where.append(f"time >= TIMESTAMPTZ '{now.isoformat()}' - INTERVAL {hours} HOUR")
        where.append(f"time <= TIMESTAMPTZ '{now.isoformat()}'")
    n, s = con.execute(
        f"SELECT count(*), sum(CAST(value AS DOUBLE)) FROM "
        f"read_parquet('{root}/*/*.parquet') WHERE {' AND '.join(where)}"
    ).fetchone()
    return int(n), float(s or 0.0)


def check_answer(c, con, root: str, text: str) -> None:
    want_n, want_sum = duckdb_expect(con, root, text, gen.SENSOR_NOW)
    entries = c.query(text)
    if classify(text) == "scan":
        count, total = (float(v) for v in entries[0]["value"].strip("()").split(","))
        got_n, got_sum = int(count), total
    else:
        got_n, got_sum = len(entries), float(sum(e["value"] for e in entries))
    if got_n != want_n or abs(got_sum - want_sum) > 1e-9 * max(1.0, abs(want_sum)):
        raise CheckFailed(
            f"{text!r}: got {got_n} rows, sum {got_sum!r}; DuckDB {want_n}, {want_sum!r}"
        )


SENSOR_SEED = 20240131
SENSOR_TAG = f"sensors-v1-{SENSOR_SEED}"


def _sensor_store(cache: str) -> str:
    """The store is the same in every run (generated once per
    checkout); the run's seed draws the requests."""
    root = os.path.join(cache, SENSOR_TAG)
    if not os.path.exists(root):
        tmp = root + f".tmp{os.getpid()}"
        log(f"sensor store: {gen.write_sensor_store(tmp, SENSOR_SEED)} datums")
        os.makedirs(cache, exist_ok=True)
        os.rename(tmp, root)
    return root


def _read_files(root: str) -> None:
    for d, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def run_wire(workdir: str, seed: int, seconds: float, trace: bool) -> dict:
    """Two phases against one server process: the QUERY mix on the
    sensor store for `seconds`, then the APPEND sequence on a fresh
    ingest database. Then SIGKILL, restart on the same roots, and read
    every acked datum back."""
    import duckdb

    sensors = _sensor_store(os.path.join(os.path.dirname(workdir), "cache"))
    ingest = os.path.join(workdir, "ingest")
    dbs = {"sensors": sensors, "ingest": ingest}
    now = gen.SENSOR_NOW.isoformat()
    con = duckdb.connect()
    rng = np.random.default_rng([seed, 10])
    plan = gen.ingest_plan(seed, INGEST_CONNECTIONS, FLUSH_EVERY, INGEST_QUERIES,
                           BETWEEN_QUERIES, TAIL)

    _read_files(sensors)  # page cache, as on a server that has been up a while
    server = ServerProcess(workdir, dbs, "server1", now=now, trace=trace)
    setups = [server.setup_s]
    try:
        with client(server.port) as c:
            t_warm = time.perf_counter()
            checked = _warm_block(c, con, sensors, rng)
            t_warm = time.perf_counter() - t_warm
            samples = _closed_loop(server.port, seed, seconds)
            c.use("ingest")
            for topic, schema in gen.INGEST_TYPED:
                c.create(topic, schema)
        seq = _run_sequence(server.port, plan)
        if trace:
            mtext, rss = server.scrape(), server.peak_rss_mb()
            d = server.dump(os.path.join(workdir, "trace.json"))
    finally:
        server.kill()  # acked datums not yet flushed survive only in the WAL
    server = ServerProcess(workdir, dbs, "server2", now=now)
    setups.append(server.setup_s)
    try:
        with client(server.port) as c:
            c.use("ingest")
            t_back = time.perf_counter()
            back = c.query("all in /ingest")
            t_back = time.perf_counter() - t_back
    finally:
        server.kill()  # the query flushed everything: nothing is pending
    log("server set-up: " + ", ".join(f"{v:.2f} s" for v in setups)
        + f"; warm-up block {t_warm:.1f} s; APPEND sequence {seq['wall_s']:.1f} s"
        + f"; read-back after restart {t_back:.1f} s")

    acked = Counter(_datum_key(t, lit) for t, lit, _ in seq["acked"])
    read = Counter(_datum_key(e["topic"], e["value"]) for e in back)
    lost = acked - read
    if lost:
        raise CheckFailed(f"{sum(lost.values())} acked datums missing after restart, "
                          f"e.g. {next(iter(lost))}")
    unknown = set(read) - set(acked)
    if unknown:
        raise CheckFailed(f"{len(unknown)} datums read back that were never acked")
    stored = sum(os.path.getsize(os.path.join(d_, f))
                 for d_, _, fs in os.walk(ingest) for f in fs)
    payload = sum(n for _, _, n in seq["acked"])
    files = sum(1 for _, _, fs in os.walk(ingest) for f in fs if f.endswith(".parquet"))
    log(f"{len(seq['acked'])} acked, {len(back)} read back, {files} parquet files, "
        f"{stored} bytes stored for {payload} payload bytes")

    lat = {cls: [s["ms"] for s in samples if s["ok"] and s["cls"] == cls]
           for cls in gen.CLASSES}
    log("QUERY samples, median ms: " + ", ".join(
        f"{k} n={len(v)} {median(v):.1f}" if v else f"{k} n=0" for k, v in lat.items()))
    for cls, v in lat.items():
        if not v:
            raise CheckFailed(f"no {cls} request completed in {seconds} s")
    app = [s["ms"] for s in seq["appends"] if s["ok"]]
    log("APPEND ms p10/p50/p90/p99: " + " / ".join(
        f"{percentile(app, q):.3f}" for q in (10, 50, 90, 99)))
    ops = samples + seq["appends"] + seq["queries"]
    failed = sum(1 for s in ops if not s["ok"])
    attempted = len(ops) + checked + 1
    log(f"store bytes per payload byte {stored / payload:.3f}; ingest QUERY ms "
        + ", ".join(f"{s['ms']:.0f}" for s in seq["queries"]))
    if trace:
        metrics = {
            **_query_layers(d, samples),
            "proc.peak_rss_mb": metric(rss, "MB"),
            "trace.overhead_frac": metric(
                d["overhead_s"] / sum(r["t1"] - r["t0"] for r in spans_by_root(d["spans"])[0].values()),
                "ratio"),
        }
        _print_ingest_table(d, seq, mtext, files)
    else:
        metrics = {
            "setup_s": metric(median(setups), "s"),
            "op_mean_ms": metric(sum(CLASS_MIX[c] * median(v) for c, v in lat.items()), "ms"),
            "sequence_s": metric(seq["wall_s"], "s"),
        }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def _warm_block(c, con, root: str, rng) -> int:
    """One untimed block of the class mix on a fresh server, so the
    timed blocks run warm. The first request of each class is checked
    against DuckDB. Returns the number of requests sent."""
    block = next(gen.class_blocks(rng))
    unchecked = set(gen.CLASSES)
    for cls in block:
        text = gen.sensor_query(rng, cls)
        if cls in unchecked:
            check_answer(c, con, root, text)
            unchecked.discard(cls)
        else:
            query_count(c, text)
    return len(block)


def _closed_loop(port: int, seed: int, seconds: float) -> list[dict]:
    """One client sending its next request only after the previous
    reply, in whole blocks of the class mix, until `seconds` have
    passed and at least MIN_BLOCKS blocks are done. One connection, so
    that no request waits for the tasks of another: on four cores a
    scan beside a narrow QUERY set the narrow QUERY's latency."""
    samples: list[dict] = []
    deadline = time.perf_counter() + seconds
    rng = np.random.default_rng([seed, 20])
    blocks = gen.class_blocks(rng)
    with client(port) as c:
        while len(samples) < MIN_BLOCKS * BLOCK or time.perf_counter() < deadline:
            for cls in next(blocks):
                text = gen.sensor_query(rng, cls)
                t0 = time.perf_counter()
                try:
                    n = query_count(c, text)
                    ok = True
                except RuntimeError:
                    n, ok = 0, False
                t1 = time.perf_counter()
                samples.append({"cls": cls, "text": text, "t0": t0, "t1": t1,
                                "ms": (t1 - t0) * 1e3, "rows": n, "ok": ok})
    return samples


def _query_layers(d: dict, samples) -> dict:
    """Per-operation layer metrics of the QUERY phase from the server's
    spans; the server-only detail goes to the printed table."""
    roots, kids = spans_by_root(d["spans"])
    lo = min(s["t0"] for s in samples)
    hi = max(s["t1"] for s in samples)
    rows = []
    for rid, r in roots.items():
        if r["attrs"].get("cmd") != "QUERY" or not (lo <= r["t0"] <= hi):
            continue
        k = kids.get(rid, [])
        builds = [s for s in k if s["name"] == "store.build"]
        build_groups = [d["groups"].get(s["attrs"].get("group"), {}) for s in builds]
        g = add_totals([d["groups"].get(r["attrs"]["group"], {}), *build_groups])
        inner = [(s["t0"], s["t1"]) for s in k
                 if s["name"] in ("fql.parse", "store.build", "spark.collect")]
        rows.append({
            "cls": classify(r["attrs"]["desc"][len("QUERY "):]),
            "handler": r["t1"] - r["t0"],
            "parse": _sum(k, "fql.parse"),
            "compile": _sum(k, "fql.compile"),
            "build": _sum(k, "store.build"),
            "exec": _sum(k, "spark.collect"),
            "encode": self_time((r["t0"], r["t1"]), inner),
            "returned": sum(s["attrs"].get("n", 0) for s in k if s["name"] == "server.marshal"),
            "build_jobs": sum(bg.get("jobs", 0.0) for bg in build_groups),
            **g,
        })
    _print_query_table(rows, samples)
    return op_layers(rows)


def _print_query_table(rows, samples) -> None:
    """Where the seconds go, per class (medians, ms)."""
    cols = ("client", "handler", "parse", "compile", "build", "exec", "encode")
    print("| class | n | " + " | ".join(cols) + " | jobs | tasks | files | rows scanned/returned |")
    print("|---" * (len(cols) + 6) + "|")
    for cls in gen.CLASSES:
        rs = [r for r in rows if r["cls"] == cls]
        cs = [s["ms"] for s in samples if s["ok"] and s["cls"] == cls]
        if not rs or not cs:
            continue
        vals = [median(cs)] + [1e3 * median([r[k] for r in rs]) for k in cols[1:]]
        scanned = sum(r["rows_scanned"] for r in rs)
        returned = max(1, sum(r["returned"] for r in rs))
        print(f"| {cls} | {len(rs)} | " + " | ".join(f"{v:.1f}" for v in vals)
              + f" | {median([r['jobs'] for r in rs]):g} | {median([r['tasks'] for r in rs]):g}"
              + f" | {median([r['files_read'] for r in rs]):g} | {scanned / returned:.1f} |")


# --------------------------------------------------------------------------
# wire_ingest

INGEST_CONNECTIONS = 4
FLUSH_EVERY = 1000  # the server default: the burst's last APPEND flushes
INGEST_QUERIES = 4
BETWEEN_QUERIES = 10
TAIL = 100


def _datum_key(topic: str, value):
    """Acked literal and read-back value in one comparable form."""
    if topic.startswith("/ingest/f"):
        return topic, float(value)
    if topic.startswith("/ingest/i"):
        return topic, int(value)
    return topic, value


def _run_sequence(port: int, plan) -> dict:
    """Run the plan's phases in order over one connection per list;
    each connection is a closed loop."""
    appends, queries, acked = [], [], []
    lock = threading.Lock()

    def worker(c, ops) -> None:
        for op in ops:
            t0 = time.perf_counter()
            ok = True
            try:
                if op[0] == "append":
                    c.append(op[1], op[2])
                else:
                    query_count(c, op[1])
            except RuntimeError:
                ok = False
            t1 = time.perf_counter()
            rec = {"t0": t0, "t1": t1, "ms": (t1 - t0) * 1e3, "ok": ok}
            with lock:
                if op[0] == "append":
                    appends.append(rec)
                    if ok:
                        acked.append((op[1], op[3], len(op[2])))
                else:
                    queries.append(rec)

    clients = [client(port) for _ in range(INGEST_CONNECTIONS)]
    try:
        for c in clients:
            c.use("ingest")
        t0 = time.perf_counter()
        for phase in plan:
            threads = [threading.Thread(target=worker, args=(c, ops))
                       for c, ops in zip(clients, phase)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        t1 = time.perf_counter()
    finally:
        for c in clients:
            c.close()
    return {"appends": appends, "queries": queries, "acked": acked,
            "t0": t0, "t1": t1, "wall_s": t1 - t0}


def _print_ingest_table(d: dict, seq, mtext: str, files: int) -> None:
    """Where the seconds of the APPEND sequence go, from the server's
    spans: APPEND medians, each flush, and write-path totals (ms)."""
    spans = [s for s in d["spans"] if seq["t0"] <= s["t0"] <= seq["t1"]]
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    roots, kids = spans_by_root(spans)

    def dur(s):
        return s["t1"] - s["t0"]

    flushes = []
    for s in spans:
        if s["name"] != "store.flush":
            continue
        rows = [c for c in by_parent.get(s["id"], []) if c["name"] == "store.append_rows"]
        if not rows:
            continue
        inner = by_parent.get(rows[0]["id"], [])
        flushes.append({
            "ms": 1e3 * dur(s),
            "validate_ms": 1e3 * sum(dur(c) for c in inner
                                     if c["name"] in ("schema.validate", "spark.collect")),
            "write_ms": 1e3 * sum(dur(c) for c in inner if c["name"] == "store.write"),
            "jobs": d["groups"].get(s["attrs"]["group"], {}).get("jobs", 0.0),
            "in_append": roots.get(s["root"], {}).get("attrs", {}).get("cmd") == "APPEND",
        })
    appends = [r for r in roots.values() if r["attrs"].get("cmd") == "APPEND"]
    stalled = [r for r in appends if any(k["name"] == "store.flush" for k in kids.get(r["id"], []))]
    query_files = [d["groups"][r["attrs"]["group"]]["files_read"] for r in roots.values()
                   if r["attrs"].get("cmd") == "QUERY" and r["attrs"]["group"] in d["groups"]]
    wal = [1e3 * dur(s) for s in spans if s["name"] == "wal.write"]

    def per_call(name):
        vals = [k["t1"] - k["t0"] for r in appends for k in kids.get(r["id"], [])
                if k["name"] == name]
        return f"{1e3 * median(vals):.3f} (n={len(vals)})" if vals else "-"

    client_ms = median([s["ms"] for s in seq["appends"] if s["ok"]])
    handler_ms = 1e3 * median([r["t1"] - r["t0"] for r in appends])
    print("| APPEND, median ms | client | handler | conforms | validate_bytes | decode | WAL write |")
    print("|---|---|---|---|---|---|---|")
    print(f"| n={len(appends)} | {client_ms:.3f} | {handler_ms:.3f} | {per_call('schema.conforms')} | "
          f"{per_call('encoding.validate_bytes')} | {per_call('encoding.decode')} | "
          f"{per_call('wal.write')} |")
    print("| flush, ms | total | validate | write | jobs |")
    print("|---|---|---|---|---|")
    for f in flushes:
        print(f"| {'threshold' if f['in_append'] else 'query'} | {f['ms']:.0f} | "
              f"{f['validate_ms']:.0f} | {f['write_ms']:.0f} | {f['jobs']:g} |")
    print("| write path | value |")
    print("|---|---|")
    print(f"| WAL write p99, ms | {supported_tail(wal, 99):.3f} |")
    print(f"| APPENDs that ran a flush inline | {len(stalled)} of {len(appends)} |")
    print(f"| files read by an ingest QUERY, median | {median(query_files):g} |")
    print(f"| parquet files after the final flush | {files} |")
    print(f"| QUERY handler mean from /metrics, ms | {metrics_mean_ms(mtext, 'QUERY'):.1f} |")

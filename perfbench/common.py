"""Helpers shared by the benchmark's workloads: order statistics, span
self time, Spark REST metric parsing, job-group accounting, the box
facts recorded with every result, and child-process lifetime.

Nothing here imports pyspark or fossil_spark, so the helpers can be
unit-tested without a Spark session."""

from __future__ import annotations

import json
import math
import os
import platform
import re
import signal
import statistics
import subprocess
import sys
import time
import urllib.request

# --------------------------------------------------------------------------
# order statistics


def percentile(values, q: float) -> float:
    """q-th percentile (0 < q < 100) by linear interpolation between
    closest ranks, the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CHOICES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10, choices=TAIL_CHOICES) -> float | None:
    """Highest percentile in `choices` with at least `beyond` of `n`
    samples strictly above its rank, or None when even the lowest
    choice is unsupported."""
    for q in choices:
        if n * (100.0 - q) / 100.0 >= beyond - 1e-9:  # 100 - 99.9 is inexact
            return q
    return None


def supported_tail(values, q: float, beyond: int = 10) -> float:
    """The q-th percentile of `values`, refusing a tail that fewer than
    `beyond` samples lie past: such a number is noise, not a tail."""
    t = tail_percentile(len(values), beyond, choices=(q,))
    if t is None:
        raise ValueError(
            f"p{q:g} needs {math.ceil(beyond * 100 / (100 - q))} samples, got {len(values)}"
        )
    return percentile(values, q)


# --------------------------------------------------------------------------
# spans


def self_time(span: tuple[float, float], children) -> float:
    """Duration of `span` = (start, end) minus the part of it that the
    child intervals cover. Overlapping children count once; the parts
    of a child outside the span are ignored."""
    start, end = span
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


# --------------------------------------------------------------------------
# Spark REST metrics

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)\s*$")


def parse_sql_metric(value: str) -> float:
    """Numeric value of one SQL-UI metric string. Plain counts read
    "1,234". Size and timing metrics read "total (min, med, max ...)"
    followed by a line such as "9.5 MiB (1.0 KiB, ...)"; the total is
    the first number of that line, returned in bytes or milliseconds."""
    text = value.strip()
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split("(", 1)[0]
    m = _NUM_UNIT.match(text)
    if not m:
        raise ValueError(f"unparsable SQL metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {value!r}")


SQL_METRICS = {
    "number of files read": "files_read",
    "number of partitions read": "partitions_read",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
SCAN_NODE = re.compile(r"^Scan ")


def sql_execution_totals(execution: dict) -> dict[str, float]:
    """Sum the metrics this benchmark reads from one /sql?details=true
    execution: files and partitions read and rows out of its scans,
    and bytes across the Python-worker boundary."""
    out = {"files_read": 0.0, "partitions_read": 0.0, "rows_scanned": 0.0,
           "python_bytes": 0.0}
    for node in execution.get("nodes", []):
        scan = bool(SCAN_NODE.match(node.get("nodeName", "")))
        for m in node.get("metrics", []):
            name = m.get("name")
            if name in SQL_METRICS:
                out[SQL_METRICS[name]] += parse_sql_metric(m["value"])
            elif scan and name == "number of output rows":
                out["rows_scanned"] += parse_sql_metric(m["value"])
    return out


def execution_job_ids(execution: dict) -> list[int]:
    return [
        *execution.get("successJobIds", []),
        *execution.get("failedJobIds", []),
        *execution.get("runningJobIds", []),
    ]


STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_bytes",
    "shuffleWriteBytes": "shuffle_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numTasks": "tasks",
}


def stage_totals(stages) -> dict[str, float]:
    """Sum executor time, input, shuffle and spill over /stages entries
    (every attempt counts: a retried stage did its work twice)."""
    out = {v: 0.0 for v in STAGE_FIELDS.values()}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        for field, key in STAGE_FIELDS.items():
            out[key] += float(st.get(field, 0) or 0)
    return out


class SparkRest:
    """Reads one application's metrics from the local Spark UI."""

    def __init__(self, ui_url: str, timeout: float = 30.0):
        self.base = ui_url.rstrip("/") + "/api/v1"
        self.timeout = timeout
        self.app = self._get("/applications")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout) as r:
            return json.load(r)

    def jobs(self) -> dict[int, dict]:
        return {j["jobId"]: j for j in self._get(f"/applications/{self.app}/jobs")}

    def stages(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for st in self._get(f"/applications/{self.app}/stages"):
            out.setdefault(st["stageId"], []).append(st)
        return out

    def sql(self) -> list[dict]:
        out, offset, page = [], 0, 500
        while True:
            batch = self._get(
                f"/applications/{self.app}/sql?details=true&planDescription=false"
                f"&offset={offset}&length={page}"
            )
            out.extend(batch)
            if len(batch) < page:
                return out
            offset += page


def jobs_in_group(tracker, group: str) -> list[int]:
    """Job ids Spark ran under `group`. The group must be named: with
    None, getJobIdsForGroup returns only jobs that ran with no group
    set, so a caller that forgot to set one reads 0 jobs for a build
    that launched many."""
    if not group:
        raise ValueError("a job group name is required")
    return sorted(tracker.getJobIdsForGroup(group))


def group_totals(job_ids, jobs: dict[int, dict], stages: dict[int, list[dict]],
                 executions: list[dict]) -> dict[str, float]:
    """Stage and SQL totals over the given jobs."""
    ids = set(job_ids)
    stage_ids = {s for j in ids if j in jobs for s in jobs[j].get("stageIds", [])}
    out = stage_totals(st for s in sorted(stage_ids) for st in stages.get(s, []))
    out["jobs"] = float(len(ids))
    sql = {"files_read": 0.0, "partitions_read": 0.0, "rows_scanned": 0.0,
           "python_bytes": 0.0}
    for ex in executions:
        if ids.intersection(execution_job_ids(ex)):
            for k, v in sql_execution_totals(ex).items():
                sql[k] += v
    out.update(sql)
    return out


def add_totals(totals) -> dict[str, float]:
    """Key-by-key sum of group_totals() results."""
    out: dict[str, float] = {}
    for t in totals:
        for k, v in t.items():
            out[k] = out.get(k, 0.0) + v
    return out


def op_layers(rows) -> dict[str, dict]:
    """The per-layer metrics, one set for every workload, from one row
    per timed operation (a wire QUERY or a batch key): `build` and
    `exec` in seconds, `build_jobs`, and the group_totals() fields of
    the operation's Spark jobs. Counts, times and input are medians
    over the operations; shuffle and Python bytes, which most
    operations do not have, are means."""
    def med(key, scale=1.0):
        return median([scale * r.get(key, 0.0) for r in rows])

    def mean(key):
        return sum(r.get(key, 0.0) for r in rows) / len(rows)

    return {
        "op.build_ms": metric(med("build", 1e3), "ms"),
        "op.exec_ms": metric(med("exec", 1e3), "ms"),
        "op.build_jobs": metric(mean("build_jobs"), "count"),
        "op.jobs": metric(med("jobs"), "count"),
        "op.tasks": metric(med("tasks"), "count"),
        "op.executor_run_ms": metric(med("executor_run_ms"), "ms"),
        "op.input_bytes": metric(med("input_bytes"), "B"),
        "op.files_read": metric(med("files_read"), "count"),
        "op.shuffle_bytes": metric(mean("shuffle_bytes"), "B"),
        "op.python_bytes": metric(mean("python_bytes"), "B"),
    }


# --------------------------------------------------------------------------
# result hashing


def _canonical_value(v):
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
    if isinstance(v, list):
        return [_canonical_value(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


def canonical_hash(df) -> str:
    """Hash of a result frame under the rules of the repo's correctness
    gate (scripts/check_correctness.py):
    columns in name order, rows order-insensitive, timestamps as naive
    microseconds, Decimals as floats, floats exact, and integer against
    float columns kept apart."""
    import hashlib

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    kinds = {"i": "int", "u": "int", "f": "float"}
    parts = [
        (c, kinds.get(df[c].dtype.kind, "other"), [_canonical_value(v) for v in df[c].tolist()])
        for c in df.columns
    ]
    return hashlib.sha256(repr(parts).encode()).hexdigest()


# --------------------------------------------------------------------------
# box facts, results


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def box_facts(seed: int) -> dict:
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "nproc": nproc(),
        "spark": spark_version,
        "python": platform.python_version(),
        "seed": seed,
        "mem_total_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def median(values) -> float:
    return statistics.median(values)


class CheckFailed(RuntimeError):
    """A correctness or durability check failed: the run has no result."""


# --------------------------------------------------------------------------
# child processes


def spawn(argv, env, cwd, log_path, stdin=subprocess.PIPE) -> subprocess.Popen:
    """Start a child in its own session, so that it and everything it
    starts (the JVM, Python workers) can be stopped as a group."""
    log = open(log_path, "ab")
    try:
        return subprocess.Popen(
            argv, env=env, cwd=cwd, stdin=stdin, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    finally:
        log.close()


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of a process and its
    descendants."""
    total_kb = 0
    for p in {pid} | _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _session_members(sid: int) -> set[int]:
    out = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            if os.getsid(int(entry)) == sid:
                out.add(int(entry))
        except OSError:
            continue
    return out


def kill_tree(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """SIGKILL a child started by spawn() and everything in its session
    or below it, then wait until every one of those processes is gone."""
    victims = {proc.pid} | _descendants(proc.pid) | _session_members(proc.pid)
    for p in victims:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = {p for p in victims if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)}
        if not alive:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes did not exit: {sorted(alive)}")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)

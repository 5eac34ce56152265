"""The batch workload: cold registered query keys over sf0.1-shaped
tables, one warm-up pass (checked against the DuckDB oracle) and one
timed pass, in a Spark session of its own process."""

from __future__ import annotations

import json
import os
import sys
import time

import gen
from common import (
    CheckFailed, canonical_hash, kill_tree, log, metric, op_layers, spawn,
    tree_peak_rss_mb,
)
from launch import ROOT, child_env

HERE = os.path.dirname(os.path.abspath(__file__))

FAMILIES = {
    "curate": ["pipeline_curate"],
    "dedup": ["dedup_minhash"],
    "arrow_engines": ["ts_hampel", "ts_rolling_median", "ts_matrix_profile",
                      "ann_bruteforce", "embedding_knn_classify"],
    "eager_build": ["graph_label_prop", "cluster_kmeans_fixed", "bpe_encode"],
    "sql_control": ["tpch_q3", "fql_kitchen_sink"],
}
KEYS = [k for ks in FAMILIES.values() for k in ks]
# The tables and the key order are the same in every run, like a fixed
# scale-factor test set, so the seed does not change the batch inputs.
TABLE_SEED = 20240201
TABLE_TAG = f"tables-v3-{TABLE_SEED}"
# the warm-up pass runs every key once over this leading share of the
# tables: it loads the same code paths at a fraction of the cost
WARM_FRACTION = 0.1
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _tables_and_oracle(cache: str) -> tuple[str, dict]:
    """Generate the tables and the oracle's answer hashes once per
    checkout; later runs reuse both."""
    tables = os.path.join(cache, TABLE_TAG)
    oracle_path = os.path.join(tables, "_oracle.json")
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            return tables, json.load(f)
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    tmp = tables + f".tmp{os.getpid()}"
    gen.write_batch_tables(tmp, TABLE_SEED)
    gen.write_batch_tables(os.path.join(tmp, "_warm"), TABLE_SEED, WARM_FRACTION)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet/*.parquet')")
    sqls = entry.oracle_sql()
    oracle = {}
    for key in KEYS:
        df = con.execute(sqls[key]).df()
        oracle[key] = {"hash": canonical_hash(df), "rows": len(df)}
    with open(os.path.join(tmp, "_oracle.json"), "w") as f:
        json.dump(oracle, f)
    os.makedirs(cache, exist_ok=True)
    try:
        os.rename(tmp, tables)
    except OSError:  # another run got there first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return tables, oracle


def _run_runner(workdir: str, tables: str, trace: bool):
    """Run batch_main.py to the end; (its result, the time from launch
    until its Spark session was up, its peak RSS when traced)."""
    out_path = os.path.join(workdir, "batch.json")
    log_path = os.path.join(workdir, "batch.log")
    argv = [sys.executable, os.path.join(HERE, "batch_main.py"), "--tables", tables,
            "--out", out_path, "--trace", str(int(trace))]
    t_spawn = time.perf_counter()
    proc = spawn(argv, child_env(workdir), workdir, log_path)
    rss = 0.0
    try:
        deadline = time.monotonic() + 170
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise RuntimeError("batch runner timed out")
            if trace:
                rss = max(rss, tree_peak_rss_mb(proc.pid))
            time.sleep(0.05)
    finally:
        kill_tree(proc)
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"batch runner failed with code {proc.returncode}")
    with open(out_path) as f:
        res = json.load(f)
    return res, res["t_ready"] - t_spawn, rss


def run_batch(workdir: str, seed: int, seconds: float, trace: bool) -> dict:
    cache = os.path.join(os.path.dirname(workdir), "cache")
    tables, oracle = _tables_and_oracle(cache)
    keys = KEYS
    res, setup, rss = _run_runner(workdir, tables, trace)

    bad = [k for k in keys if res["hashes"][k] != oracle[k]["hash"]]
    if bad:
        raise CheckFailed("rows differ from the DuckDB oracle: " + ", ".join(
            f"{k} ({res['rows'][k]} rows, oracle {oracle[k]['rows']})" for k in bad))
    t = res["timed"]
    key_s = {k: v["build_s"] + v["exec_s"] for k, v in t.items()}
    log(f"set-up {setup:.2f} s, warm-up pass {res['warm_s']:.1f} s, "
        f"timed pass {sum(key_s.values()):.1f} s; "
        + ", ".join(f"{f} {sum(key_s[k] for k in ks):.2f} s" for f, ks in FAMILIES.items()))
    if not trace:
        return {"attempted": 2 * len(keys), "failed": 0, "metrics": {
            "setup_s": metric(setup, "s"),
            "op_mean_ms": metric(1e3 * sum(key_s.values()) / len(key_s), "ms"),
            "sequence_s": metric(res["warm_s"], "s"),
        }}

    print("| key | build ms | jobs in build | exec ms | shuffle B | spill B | python B |")
    print("|---|---|---|---|---|---|---|")
    rows = []
    for k in KEYS:
        v, g = t[k], t[k]["totals"]
        rows.append({"build": v["build_s"], "exec": v["exec_s"], "build_jobs": v["build_jobs"], **g})
        print(f"| {k} | {1e3 * v['build_s']:.0f} | {v['build_jobs']} | {1e3 * v['exec_s']:.0f}"
              f" | {g['shuffle_bytes']:.0f} | {g['spill_bytes']:.0f} | {g['python_bytes']:.0f} |")
    return {"attempted": 2 * len(keys), "failed": 0, "metrics": {
        **op_layers(rows),
        "proc.peak_rss_mb": metric(rss, "MB"),
        "trace.overhead_frac": metric(res["overhead_s"] / sum(key_s.values()), "ratio"),
    }}

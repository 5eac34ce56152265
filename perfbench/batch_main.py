"""Run the batch keys in one Spark session.

    python3 batch_main.py --tables DIR --out FILE [--trace 0|1]

Runs one warm-up pass over the small copy of the tables in DIR/_warm,
timed as a whole, then one timed pass
that builds each key's DataFrame and collects its rows. Session memos
are cleared before every timed key. Writes FILE (JSON): set-up end,
warm-up wall time, per-key build and execution seconds, and a hash of
each key's rows.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import threading
import time

# Warm-up lanes run concurrently. Every key that fills a session memo
# (ann._MEMO_CACHE and the memos built on it) is in the first lane, so
# no two threads touch one memo.
WARM_LANES = (
    ("dedup_minhash", "graph_label_prop", "cluster_kmeans_fixed", "ann_bruteforce",
     "embedding_knn_classify"),
    ("pipeline_curate", "fql_kitchen_sink"),
    ("ts_hampel", "ts_rolling_median", "ts_matrix_profile"),
    ("bpe_encode", "tpch_q3"),
)


def clear_memos() -> None:
    """Drop every session memo so each key runs cold. Any failure here
    aborts the run: a silently kept memo would time a cache read."""
    from fossil_spark.operators.ann import ann_memo_invalidate
    from fossil_spark.operators.dedup import neardup_components_invalidate
    from fossil_spark.operators.text import bpe_chain_invalidate

    ann_memo_invalidate()
    neardup_components_invalidate()
    bpe_chain_invalidate()


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, queries, data: str, keys) -> None:
    """Every key once, lanes in parallel, results discarded. The first
    error in any lane is raised here."""
    errors: list[BaseException] = []

    def lane(lane_keys):
        try:
            for k in lane_keys:
                force(queries[k](spark, data))
        except BaseException as ex:  # handed to the main thread below
            errors.append(ex)

    lanes = [threading.Thread(target=lane, args=(ks,)) for ks in WARM_LANES]
    for t in lanes:
        t.start()
    for t in lanes:
        t.join()
    if errors:
        raise errors[0]
    missing = set(keys) - {k for ks in WARM_LANES for k in ks}
    if missing:
        raise ValueError(f"keys without a warm-up lane: {sorted(missing)}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from batch import KEYS as keys
    from common import canonical_hash
    from launch import start_spark

    spark = start_spark("perfbench-batch")
    sc = spark.sparkContext
    import __spark_entry__ as entry

    queries = entry.queries()
    t_ready = time.perf_counter()
    clear_memos()
    warm_up(spark, queries, os.path.join(args.tables, "_warm"), keys)
    t_warm = time.perf_counter()

    tracer = None
    if args.trace:
        from tracing import Tracer, group_setter

        tracer = Tracer()
        build_group, exec_group = group_setter(spark, "b"), group_setter(spark, "x")

    timed, hashes, rows = {}, {}, {}
    for key in keys:
        clear_memos()
        gc.collect()
        if tracer is None:
            t0 = time.perf_counter()
            df = queries[key](spark, args.tables)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
            timed[key] = {"build_s": t1 - t0, "exec_s": t2 - t1}
        else:
            df = tracer.call(f"build:{key}", queries[key], (spark, args.tables), {},
                             on_enter=build_group)
            pdf = tracer.call(f"exec:{key}", df.toPandas, (), {}, on_enter=exec_group)
            b, x = tracer.spans[-2], tracer.spans[-1]
            timed[key] = {"build_s": b["t1"] - b["t0"], "exec_s": x["t1"] - x["t0"],
                          "groups": [b["attrs"]["group"], x["attrs"]["group"]]}
        hashes[key], rows[key] = canonical_hash(pdf), len(pdf)
        del df, pdf

    out = {"t_ready": t_ready, "warm_s": t_warm - t_ready, "hashes": hashes,
           "rows": rows, "timed": timed}
    if tracer is not None:
        from common import SparkRest, group_totals, jobs_in_group

        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        rest = SparkRest(sc.uiWebUrl)
        jobs, stages, sql = rest.jobs(), rest.stages(), rest.sql()
        for t in timed.values():
            build_jobs = jobs_in_group(tracker, t["groups"][0])
            exec_jobs = jobs_in_group(tracker, t["groups"][1])
            t["build_jobs"] = len(build_jobs)
            t["totals"] = group_totals(build_jobs + exec_jobs, jobs, stages, sql)
        out["overhead_s"] = tracer.overhead_s
    with open(args.out + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(args.out + ".tmp", args.out)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

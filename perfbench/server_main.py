"""Launch FossilServer for a wire workload and take commands on stdin.

    python3 server_main.py --ready FILE --db NAME=ROOT [--db ...]
                           [--now ISO] [--trace 0|1]

When the server accepts connections it writes FILE (JSON: port,
metrics_port, ui). It then reads commands, one per line, from stdin,
and stops when stdin closes:

    dump PATH   write the traced spans and per-job-group Spark totals
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import datetime, timezone


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def dump(path: str, spark, tracer) -> None:
    from common import SparkRest, group_totals, jobs_in_group

    groups = sorted({s["attrs"]["group"] for s in tracer.spans if "group" in s["attrs"]})
    tracker = spark.sparkContext.statusTracker()
    group_jobs = {g: jobs_in_group(tracker, g) for g in groups}
    rest = SparkRest(spark.sparkContext.uiWebUrl)
    jobs, stages, sql = rest.jobs(), rest.stages(), rest.sql()
    write_json(path, {
        "spans": tracer.spans,
        "overhead_s": tracer.overhead_s,
        "groups": {g: group_totals(ids, jobs, stages, sql) for g, ids in group_jobs.items()},
    })


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ready", required=True)
    ap.add_argument("--db", action="append", required=True)
    ap.add_argument("--now")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from launch import start_spark

    spark = start_spark("perfbench-server")
    tracer = None
    if args.trace:
        from tracing import Tracer, install_server

        tracer = Tracer()
        install_server(tracer, spark)
    from fossil_spark.server import FossilServer

    now = None
    if args.now:
        now = datetime.fromisoformat(args.now).astimezone(timezone.utc)
    dbs = dict(d.split("=", 1) for d in args.db)
    server = FossilServer(spark, dbs, now=now).start()  # default flush and compaction
    metrics_port = server.start_metrics_http()
    write_json(args.ready, {"port": server.port, "metrics_port": metrics_port,
                            "ui": spark.sparkContext.uiWebUrl})
    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "dump":
            dump(arg, spark, tracer)
    server.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Spans recorded from outside the program, for the traced runs.

The package imports most of the names below inside function bodies at
call time, so replacing the attribute where the name is looked up
reaches every caller without editing the package. Spans stay in memory
until the benchmark asks for them.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ids = itertools.count(1)

    def _stack(self) -> list[dict]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def call(self, name, fn, args, kwargs, on_enter=None, on_exit=None):
        """Run fn(*args, **kwargs) inside a span. The time the wrapper
        itself spends is added to `overhead_s`."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else None,
            "name": name,
            "attrs": {},
        }
        if rec["root"] is None:
            rec["root"] = rec["id"]
        stack.append(rec)
        if on_enter is not None:
            on_enter(rec, args)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            stack.pop()
            rec["t0"], rec["t1"] = t1, t2
            if on_exit is not None:
                on_exit(rec, stack)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def patch(self, owner, attr: str, name: str, on_enter=None, on_exit=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            return tracer.call(name, original, args, kwargs, on_enter, on_exit)

        setattr(owner, attr, wrapper)


def group_setter(spark, prefix: str):
    """on_enter hook: run the span's Spark jobs under group
    `<prefix><span id>`, described by the span's argument text."""
    sc = spark.sparkContext

    def enter(rec, args):
        group = f"{prefix}{rec['id']}"
        rec["attrs"]["group"] = group
        sc.setJobGroup(group, rec["attrs"].get("desc", rec["name"]), False)

    return enter


def install_server(tracer: Tracer, spark) -> None:
    """Wrap every layer the wire server crosses. QUERY dispatches,
    store builds and flushes each get their own Spark job group; a
    build or flush inside a QUERY restores the query's group when it
    ends."""
    import fossil_spark.encoding as encoding
    import fossil_spark.fql as fql_pkg
    import fossil_spark.fql.compiler as compiler
    import fossil_spark.schema as schema
    import fossil_spark.server as server
    from fossil_spark.store import EventStore

    sc = spark.sparkContext
    set_query_group = group_setter(spark, "q")
    set_flush_group = group_setter(spark, "f")
    set_build_group = group_setter(spark, "b")

    def dispatch_enter(rec, args):
        _self, _sock, command, data, _current = args
        rec["attrs"]["cmd"] = command
        if command == "QUERY":
            text = bytes(data).decode("utf-8", "replace")
            rec["attrs"]["desc"] = f"QUERY {text}"[:200]
            set_query_group(rec, args)

    def restore_group(rec, stack):
        outer = next((s["attrs"]["group"] for s in reversed(stack)
                      if "group" in s["attrs"]), None)
        if outer is not None:
            sc.setJobGroup(outer, "", False)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    tracer.patch(server.FossilServer, "_dispatch", "server.dispatch", on_enter=dispatch_enter)
    tracer.patch(server, "marshal_strings", "server.marshal",
                 on_enter=lambda rec, args: rec["attrs"].update(n=len(args[0])))
    tracer.patch(server._Database, "_wal_write", "wal.write")
    tracer.patch(server._Database, "flush", "store.flush",
                 on_enter=set_flush_group, on_exit=restore_group)
    tracer.patch(fql_pkg, "parse", "fql.parse")
    tracer.patch(compiler, "parse", "fql.parse")
    tracer.patch(fql_pkg, "compile_query", "fql.compile")
    tracer.patch(compiler, "compile_query", "fql.compile")
    tracer.patch(EventStore, "query", "store.build",
                 on_enter=set_build_group, on_exit=restore_group)
    tracer.patch(EventStore, "query_typed", "store.build",
                 on_enter=set_build_group, on_exit=restore_group)
    tracer.patch(EventStore, "append_rows", "store.append_rows")
    tracer.patch(EventStore, "append", "store.write")
    tracer.patch(schema, "conforms", "schema.conforms")
    tracer.patch(schema, "validate", "schema.validate")
    tracer.patch(encoding, "validate_bytes", "encoding.validate_bytes")
    tracer.patch(encoding, "decode_python", "encoding.decode")
    tracer.patch(type(spark.range(0)), "collect", "spark.collect")

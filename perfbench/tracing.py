"""Span tracing from outside the program under test.

The worker process installs these wrappers around public entry points
of ``miso_spark`` (and of PySpark where the server hands off to it) only
in a traced run; an untimed run carries no wrapper at all. Each wrapper
records a span: name, start, end, parent span and request id. Spans stay
in memory until the run ends.

Counts that Spark keeps itself (jobs, stages, tasks, executor time,
shuffle and spill) are read back from the status store per job group,
after the traced operations ran, so the reading is not on their path.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

#: request header that carries the client's operation id
REQUEST_HEADER = "X-Perfbench-Id"


def build_group(rid: str) -> str:
    return f"perfbench-build-{rid}"


def server_exec_group(rid: str) -> str:
    # the job group miso_spark.server sets for a request's execution
    return f"miso-query-{rid}"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        #: job group -> Spark work it ran, filled by collect_groups()
        self.groups: dict[str, dict] = {}
        #: request id -> Catalyst phase durations (ms) of the execution
        self.phases: dict[str, dict[str, float]] = {}
        self._pending_groups: list[str] = []
        self._datasets: list[tuple[str, object]] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current_rid(self) -> str | None:
        stack = self._stack()
        return stack[-1]["rid"] if stack else None

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "rid": rid or (parent["rid"] if parent else None),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def job_group(self, group: str) -> None:
        """Run this thread's next Spark jobs under ``group``."""
        self.spark.sparkContext.setJobGroup(group, "perfbench trace")
        self._pending_groups.append(group)

    # -- Spark's own counters ---------------------------------------------
    def collect_groups(self) -> None:
        """Read the status store for every job group the traced
        operations ran since the last call, and the Catalyst phases of
        every execution they started."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
        for group in self._pending_groups:
            agg = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
                   "input_rows": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                agg["jobs"] += 1
                for sid in info.stageIds:
                    it = store.stageData(sid, *defaults).iterator()
                    while it.hasNext():
                        s = it.next()
                        if str(s.status()) == "SKIPPED":
                            continue
                        agg["stages"] += 1
                        agg["tasks"] += s.numTasks()
                        agg["executor_run_ms"] += s.executorRunTime()
                        agg["input_rows"] += s.inputRecords()
                        agg["shuffle_write_bytes"] += s.shuffleWriteBytes()
                        agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            self.groups[group] = agg
        self._pending_groups = []
        gw = sc._gateway
        for rid, jds in self._datasets:
            self.phases[rid] = _phases(gw, jds)
        self._datasets = []

    def dump(self) -> dict:
        self.collect_groups()
        return {"spans": self.spans, "groups": self.groups, "phases": self.phases}


def _phases(gw, jds) -> dict[str, float]:
    """Catalyst phase times of the execution a ``toJSON`` Dataset ran:
    ``Dataset.rdd`` plans a separate, private QueryExecution, read here
    by reflection."""
    m = jds.getClass().getDeclaredMethod(
        "rddQueryExecution", gw.new_array(gw.jvm.java.lang.Class, 0)
    )
    m.setAccessible(True)
    qe = m.invoke(jds, gw.new_array(gw.jvm.java.lang.Object, 0))
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def install_sources(tracer: Tracer) -> None:
    """Wrap connector resolution (``SourceRegistry.table`` and each
    ``Source.table``) and connector writes (each ``Source.write``)."""
    from miso_spark import sources

    sources.SourceRegistry.table = tracer.wrap(sources.SourceRegistry.table, "sources.table")
    for cls in vars(sources).values():
        if isinstance(cls, type) and issubclass(cls, sources.Source):
            if "table" in vars(cls):
                cls.table = tracer.wrap(cls.table, "sources.table")
            if "write" in vars(cls):
                cls.write = tracer.wrap(cls.write, "sources.write")


def install_server(tracer: Tracer, srv) -> None:
    """Wrap the layers a /query request passes through."""
    import miso_spark.server as server_mod
    from miso_spark.compiler import Compiler
    from pyspark.core.rdd import RDD
    from pyspark.serializers import UTF8Deserializer
    from pyspark.sql.classic.dataframe import DataFrame

    handler = srv.httpd.RequestHandlerClass
    query = handler._query

    def traced_query(self):
        rid = self.headers.get(REQUEST_HEADER)
        if not tracer.enabled or rid is None:
            return query(self)
        with tracer.span("server.request", rid=rid):
            tracer._pending_groups.append(server_exec_group(rid))
            return query(self)

    handler._query = traced_query
    server_mod.parse_kql = tracer.wrap(server_mod.parse_kql, "kql.parse")

    run_with_caches = Compiler.run_with_caches

    def traced_run(self, plan):
        rid = tracer.current_rid()
        if not tracer.enabled or rid is None:
            return run_with_caches(self, plan)
        with tracer.span("compiler.run"):
            tracer.job_group(build_group(rid))
            return run_with_caches(self, plan)

    Compiler.run_with_caches = traced_run
    install_sources(tracer)

    to_json = DataFrame.toJSON

    def traced_to_json(self, use_unicode: bool = True):
        rid = tracer.current_rid()
        if not tracer.enabled or rid is None:
            return to_json(self, use_unicode)
        # DataFrame.toJSON, with a handle on the Dataset kept for its
        # Catalyst phases; planning happens in toJavaRDD
        with tracer.span("catalyst.plan"):
            jds = self._jdf.toJSON()
            rdd = RDD(jds.toJavaRDD(), self._sc, UTF8Deserializer(use_unicode))
        tracer._datasets.append((rid, jds))
        return rdd

    DataFrame.toJSON = traced_to_json
    to_local = RDD.toLocalIterator

    def traced_to_local(self, prefetchPartitions: bool = False):
        it = to_local(self, prefetchPartitions)
        if not tracer.enabled or tracer.current_rid() is None:
            return it
        return _timed_iter(tracer, it)

    RDD.toLocalIterator = traced_to_local


def _timed_iter(tracer: Tracer, it):
    """Yield ``it``'s items, recording as span ``server.deliver`` the time
    spent inside the iterator (not in the consumer between items) and
    when the first item arrived."""
    with tracer.span("server.deliver") as rec:
        inside = 0.0
        rows = 0
        first = None
        while True:
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                inside += time.perf_counter() - t0
                break
            t1 = time.perf_counter()
            inside += t1 - t0
            if first is None:
                first = t1
            rows += 1
            yield item
        rec.update(inside_s=inside, rows=rows, first_item=first)

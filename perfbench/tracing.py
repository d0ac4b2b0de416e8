"""Traced-run instrumentation, installed from outside the program.

Spans (name, start, end, parent, job id) are kept in memory and written
out when the run ends.  They come from wrappers around the public calls
``cli.main`` makes into each layer:

- ``cli.load_domain_tables``            -> ``catalog.load``
- ``TrendsPipeline.all_variants``       -> ``plans.build``
- ``document_sink.write_highlights``    -> ``sources.document_sink.write``
- ``lake.write_partitioned``            -> ``sources.lake.write``

The two writers are also bracketed by ``MetricsCollector.measure`` for
the ``exec.*`` counts, completed by ``plan_counts`` for the sink's write
pass, which runs outside any SQL execution.  That bookkeeping is the
``tracing.measure`` span around each writer span.  ``write_highlights``
also gets a counting ``DocumentStore`` as its store factory.  The
counting store runs in the Python workers, so it appends its totals to a file in the trace
directory when closed; ``store_totals`` sums those files.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.exec: list[dict] = []  # one QueryMetrics dict per action
        self._stack: list[int] = []
        self.job_id: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "job": self.job_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time covered by
        direct children (children never overlap: calls are nested)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        return [
            {**s, "dur_s": s["end"] - s["start"],
             "self_s": s["end"] - s["start"] - child.get(s["id"], 0.0)}
            for s in self.spans
        ]

    def per_job(self, name: str) -> dict[int, float]:
        """Total duration of spans called ``name``, by job id."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                out[s["job"]] = out.get(s["job"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.self_times():
                f.write(json.dumps(s, sort_keys=True) + "\n")
            for e in self.exec:
                f.write(json.dumps({"exec": e}, sort_keys=True) + "\n")


class CountingStore:
    """``DocumentStore`` wrapper counting calls and busy time; flushes
    its totals to ``trace_dir`` on ``close``."""

    def __init__(self, inner, trace_dir: str, job_id):
        self.inner = inner
        self.trace_dir = trace_dir
        self.job_id = job_id
        self.lock = threading.Lock()
        self.n = {"updates": 0, "update_busy_s": 0.0,
                  "deletes": 0, "delete_s": 0.0}

    def _timed(self, count: str, busy: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            dt = time.perf_counter() - t0
            with self.lock:
                self.n[count] += 1
                self.n[busy] += dt

    def update(self, path: str, record: dict) -> None:
        self._timed("updates", "update_busy_s", self.inner.update, path,
                    record)

    def delete_subtree(self, path: str) -> None:
        self._timed("deletes", "delete_s", self.inner.delete_subtree, path)

    def close(self) -> None:
        try:
            self.inner.close()
        finally:
            name = f"store-{os.getpid()}-{uuid.uuid4().hex}.json"
            with open(os.path.join(self.trace_dir, name), "w") as f:
                json.dump({"job": self.job_id, **self.n}, f)


def counting_factory(inner_factory, trace_dir: str, job_id):
    def factory():
        return CountingStore(inner_factory(), trace_dir, job_id)

    return factory


def store_totals(trace_dir: str) -> dict[int, dict]:
    """Counting-store totals summed per job id."""
    out: dict[int, dict] = {}
    for name in os.listdir(trace_dir):
        if not name.startswith("store-"):
            continue
        with open(os.path.join(trace_dir, name)) as f:
            rec = json.load(f)
        tot = out.setdefault(rec.pop("job"), {})
        for k, v in rec.items():
            tot[k] = tot.get(k, 0) + v
    return out


# plan-node counter -> field of the ``MetricsCollector`` counts it adds to
PLAN_COUNTERS = {"numOutputRows": "sql_output_rows",
                 "filesSize": "bytes_read",
                 "shuffleBytesWritten": "shuffle_bytes_written",
                 "spillSize": "spill_bytes"}


def plan_counts(df) -> dict[str, int]:
    """Counters of ``df``'s executed plan, summed over its nodes
    (adaptive stages, reused exchanges and subqueries included, each
    counter once).

    ``MetricsCollector`` sums SQL metrics over SQL executions, but
    ``write_highlights`` writes through ``df.foreachPartition``, which
    runs outside any SQL execution; the counters of the plan that pass
    ran are read here instead."""
    todo = [df._jdf.queryExecution().executedPlan()]
    nodes: set[int] = set()
    seen: set[int] = set()
    out = dict.fromkeys(PLAN_COUNTERS.values(), 0)
    while todo:
        p = todo.pop()
        if p.id() in nodes:  # a subtree shared by reuse
            continue
        nodes.add(p.id())
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if kind == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        metrics = p.metrics()
        for key, field in PLAN_COUNTERS.items():
            if not metrics.contains(key):
                continue
            m = metrics.apply(key)
            if m.id() not in seen:
                seen.add(m.id())
                out[field] += m.value()
        for seq in (p.children(), p.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                todo.append(it.next())
    return out


def install(tracer: Tracer, spark, trace_dir: str):
    """Wrap the layer entry points; returns a function that restores
    the originals."""
    from org_revue_de_presse_trends_spark import cli
    from org_revue_de_presse_trends_spark.observability import (
        MetricsCollector,
    )
    from org_revue_de_presse_trends_spark.plans.trends import TrendsPipeline
    from org_revue_de_presse_trends_spark.sources import document_sink, lake

    collector = MetricsCollector(spark)
    orig_load = cli.load_domain_tables
    orig_build = TrendsPipeline.all_variants
    orig_sink = document_sink.write_highlights
    orig_lake = lake.write_partitioned

    def load(*a, **kw):
        with tracer.span("catalog.load"):
            return orig_load(*a, **kw)

    def build(self, *a, **kw):
        with tracer.span("plans.build"):
            return orig_build(self, *a, **kw)

    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()

    def measured(name, df, span, call):
        # the writer span covers the writer call only; the bus drain and
        # the status-store reads fall in ``tracing.measure`` around it
        def action(d):
            with tracer.span(span):
                call(d)
            # task and SQL metrics reach the status stores through the
            # asynchronous listener bus; drain it so the reads below see
            # final values
            listener_bus.waitUntilEmpty()

        with tracer.span("tracing.measure"):
            _, qm = collector.measure(name, df, action)
            counts = qm.to_dict()
            if name == "document_sink":
                # the write pass is no SQL execution
                for k, v in plan_counts(df).items():
                    counts[k] += v
            tracer.exec.append({"job": tracer.job_id, **counts})

    def sink(df, store_factory, *a, **kw):
        factory = counting_factory(store_factory, trace_dir, tracer.job_id)
        measured("document_sink", df, "sources.document_sink.write",
                 lambda d: orig_sink(d, factory, *a, **kw))

    def write_lake(df, *a, **kw):
        measured("lake", df, "sources.lake.write",
                 lambda d: orig_lake(d, *a, **kw))

    cli.load_domain_tables = load
    TrendsPipeline.all_variants = build
    document_sink.write_highlights = sink
    lake.write_partitioned = write_lake

    def uninstall():
        cli.load_domain_tables = orig_load
        TrendsPipeline.all_variants = orig_build
        document_sink.write_highlights = orig_sink
        lake.write_partitioned = orig_lake

    return uninstall

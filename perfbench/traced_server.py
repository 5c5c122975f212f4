"""Traced launcher: the same server as `python -m
clickhouse_observability_spark.server`, with timing shims.

Before the server is built, the public function of each layer is
wrapped so every call records a span (layer, start, end, parent) in
memory; a sampler thread reads `StreamingQuery.recentProgress` and the
Spark status tracker. When the server stops, everything is written to
the file named by --spans as one JSON document. Nothing else about the
server differs from the untimed run.

Usage: python3 perfbench/traced_server.py --spans FILE
(same environment as the server itself: DATA_DIR, HTTP_ADDR, ...).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SAMPLE_EVERY_S = 0.5


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [layer, start, end, parent, attrs]
        self._lock = threading.Lock()
        self._local = threading.local()
        self.overhead_s = 0.0

    def wrap(self, owner, name: str, layer: str, static: bool = False, probe=None):
        """Replace owner.name by a timing wrapper. `probe(args, result)`
        returns extra attributes, computed outside the timed interval.
        A call nested in a span of the same layer is not a new span."""
        raw = owner.__dict__[name]
        fn = raw.__func__ if static else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.monotonic()
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            if stack and tracer.spans[stack[-1]][0] == layer:
                return fn(*args, **kwargs)
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append([layer, 0.0, 0.0, stack[-1] if stack else -1, None])
            stack.append(idx)
            t0 = time.monotonic()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.monotonic()
                stack.pop()
                span = tracer.spans[idx]
                span[1], span[2] = t0, t1
            if probe is not None:
                span[4] = probe(args, result)
            tracer.add_overhead((time.monotonic() - t_in) - (t1 - t0))
            return result

        setattr(owner, name, staticmethod(traced) if static else traced)

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds


def _count_files(path: str) -> int:
    n = 0
    for month in os.scandir(path):
        if month.is_dir() and month.name.startswith("month="):
            n += sum(1 for f in os.scandir(month.path) if f.name.endswith(".parquet"))
    return n


class Sampler(threading.Thread):
    """Reads streaming progress and Spark job ids per job group every
    SAMPLE_EVERY_S; keeps the union of what it saw."""

    def __init__(self, tracer: Tracer):
        super().__init__(daemon=True, name="perfbench-sampler")
        self.tracer = tracer
        self.query = None  # the ingest StreamingQuery, once started
        self.spark = None
        self.api = None  # the LogsApi, for its result-cache counters
        self.progress: dict[int, dict] = {}
        self.jobs: dict[str, set] = {}
        self.stopping = threading.Event()

    def sample(self) -> None:
        t0 = time.monotonic()
        if self.query is not None:
            for p in self.query.recentProgress:
                if p.batchId not in self.progress:
                    self.progress[p.batchId] = {
                        "rows": p.numInputRows, "durationMs": dict(p.durationMs),
                        "timestamp": p.timestamp}
        if self.spark is not None:
            sc = self.spark.sparkContext
            tracker = sc.statusTracker()
            groups = {"api-query": "api-query"}
            if self.query is not None:
                groups["stream"] = str(self.query.runId)
            for key, group in groups.items():
                self.jobs.setdefault(key, set()).update(tracker.getJobIdsForGroup(group))
            self.jobs.setdefault("other", set()).update(tracker.getJobIdsForGroup(None))
        self.tracer.add_overhead(time.monotonic() - t0)

    def run(self) -> None:
        while not self.stopping.wait(SAMPLE_EVERY_S):
            self.sample()


def install(tracer: Tracer, sampler: Sampler) -> None:
    from clickhouse_observability_spark.api import grpc_transport as G
    from clickhouse_observability_spark.api import http as H
    from clickhouse_observability_spark.functions import ch_dialect as CD
    from clickhouse_observability_spark.sources import writer as W
    from clickhouse_observability_spark.streaming import batcher as B
    from clickhouse_observability_spark.streaming import rollup_view as RV

    tracer.wrap(G.LogServiceHandler, "batch_write", "http2_transport.batch_write")
    tracer.wrap(B.IngestStream, "submit_many", "batcher.submit")
    tracer.wrap(B.IngestStream, "_write_batch", "batcher.foreach_batch")
    tracer.wrap(B, "normalize_ingest", "writer.normalize")
    tracer.wrap(W.LogsTable, "insert", "writer.insert",
                probe=lambda a, r: {"files": _count_files(a[0].path)})
    tracer.wrap(W.LogsTable, "read", "writer.read",
                probe=lambda a, r: {"files": _count_files(a[0].path)})
    tracer.wrap(RV.RollupView, "apply", "rollup_view.apply")
    tracer.wrap(RV.RollupView, "query", "rollup_view.query",
                probe=lambda a, r: {"state_files": len(a[0]._manifest())})
    tracer.wrap(H, "query_logs", "query_logs.plan")
    tracer.wrap(CD, "ch_sql", "ch_dialect.translate")
    tracer.wrap(H.LogsApi, "_collect_with_timeout", "http.collect", static=True)
    tracer.wrap(H.LogsApi, "query_logs_handler", "http.logs_handler")
    tracer.wrap(H.LogsApi, "query_handler", "http.query_handler")
    tracer.wrap(H.LogsApi, "stats_handler", "http.stats_handler")

    api_init = H.LogsApi.__init__

    def init(self, *a, **kw):
        api_init(self, *a, **kw)
        sampler.api = self
        sampler.spark = self._provider().sparkSession

    H.LogsApi.__init__ = init

    stream_start = B.IngestStream.start

    def start(self):
        query = stream_start(self)
        sampler.query = query
        return query

    B.IngestStream.start = start


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()
    tracer = Tracer()
    sampler = Sampler(tracer)
    install(tracer, sampler)
    sampler.start()
    from clickhouse_observability_spark import server

    try:
        server.main()
    finally:
        sampler.stopping.set()
        sampler.join(timeout=10)
        sampler.sample()
        cache = getattr(sampler.api, "_cache", None)
        doc = {
            "spans": tracer.spans,
            "progress": {str(k): v for k, v in sorted(sampler.progress.items())},
            "jobs": {k: len(v) for k, v in sampler.jobs.items()},
            "cache": None if cache is None else {"hits": cache.hits, "misses": cache.misses},
            "overhead_s": tracer.overhead_s,
            "epoch_minus_mono": time.time() - time.monotonic(),
        }
        tmp = args.spans + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, args.spans)
    return 0


if __name__ == "__main__":
    sys.exit(main())

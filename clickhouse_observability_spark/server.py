"""Engine wiring & lifecycle — the cmd/server/main.go:23-97 parity.

The reference process boots: env config (main.go:25-29) -> DB open +
DDL bootstrap (db.Open/initSchema) -> batcher goroutine -> HTTP server
with /live /ready + api routes (main.go:53-71) -> gRPC server
(main.go:74-88) -> wait for SIGINT/SIGTERM -> 5 s HTTP drain +
grpc GracefulStop (main.go:91-97).

`EngineServer` is the Spark-native analog: the SparkSession stands in
for the DB pool, `LogsTable.init_schema` is the DDL bootstrap, the
Structured-Streaming `IngestStream` is the batcher, and the HTTP and
h2c gRPC servers front the same two entry points. Graceful stop drains
the stream (final flush, ST5) before stopping the transports.

Env config surface (names 1:1 with main.go; DATA_DIR replaces
DATABASE_URL since storage is a parquet path, not a DSN):

    HTTP_ADDR (:8080)   GRPC_ADDR (:8081)   DATA_DIR
    INGEST_BATCH_SIZE (500)   INGEST_MAX_DELAY_MS (100)
    RETENTION_DAYS (optional; arms the retention job like db.go:59-66)
"""

from __future__ import annotations

import os
import sys
import threading

from pyspark.sql import SparkSession

from clickhouse_observability_spark.api.grpc_transport import LogServiceHandler
from clickhouse_observability_spark.api.http import LogsApi
from clickhouse_observability_spark.api.http2_transport import serve_grpc_http2
from clickhouse_observability_spark.sources.retention import apply_retention
from clickhouse_observability_spark.sources.writer import LogsTable
from clickhouse_observability_spark.streaming.batcher import IngestStream


# Nice value of the Spark JVM that main() starts; the server's own
# threads stay at 0. BatchWrite acks and HTTP request handling are short
# bursts of Python in this process, while Spark's scans and
# micro-batches can keep every core busy. At equal priority an ack
# shares a core with Spark's task threads, so its latency follows
# whatever Spark is doing at that moment. At nice 10 a request thread
# gets about nine times a JVM thread's CPU share (CFS weights 1024 and
# 110), and the JVM still gets every cycle the request threads leave.
SPARK_NICE = 10


def renice_threads(pid: int, nice: int) -> None:
    """Set the nice value of every thread of process `pid`. Linux keeps
    it per thread, and a thread started later inherits its creator's."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # no /proc, or the process is gone
        return
    for tid in tids:
        try:
            os.setpriority(os.PRIO_PROCESS, int(tid), nice)
        except OSError:  # the thread has exited
            pass


def _addr(raw: str, default_port: int) -> tuple[str, int]:
    host, _, port = raw.rpartition(":")
    return host or "127.0.0.1", int(port) if port else default_port


class EngineServer:
    """One process wiring the whole engine, reference-shaped."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str | None = None,
        http_addr: str | None = None,
        grpc_addr: str | None = None,
    ):
        self.spark = spark
        self.data_dir = data_dir or os.environ.get("DATA_DIR") or "./chobs-data"
        self.http_addr = _addr(
            http_addr or os.environ.get("HTTP_ADDR", ":8080"), 8080
        )
        self.grpc_addr = _addr(
            grpc_addr or os.environ.get("GRPC_ADDR", ":8081"), 8081
        )
        self.table = LogsTable(spark, os.path.join(self.data_dir, "logs"))
        self.stream: IngestStream | None = None
        self._http_server = None
        self._grpc_stop = None
        self._grpc_port = None
        self._threads: list[threading.Thread] = []

    # -- lifecycle ------------------------------------------------------
    def start(self) -> "EngineServer":
        # DDL bootstrap (db.go:39-57 analog)
        self.table.init_schema()
        # retention armed only if RETENTION_DAYS is set (db.go:59-66);
        # one pass at boot — a real deployment also schedules it.
        apply_retention(self.spark, self.table.path)
        # batcher (main.go:46-51): micro-batched streaming ingest;
        # knobs come from INGEST_* env inside IngestStream.
        # materialized rollup view, continuously maintained by the
        # batcher (CH `CREATE MATERIALIZED VIEW` analogue) and served
        # by /v1/stats
        from clickhouse_observability_spark.streaming.rollup_view import (
            RollupView,
        )

        view = RollupView(os.path.join(self.data_dir, "mv", "logs_hourly"))
        self.stream = IngestStream(
            self.spark,
            self.table,
            inbox_dir=os.path.join(self.data_dir, "inbox"),
            checkpoint_dir=os.path.join(self.data_dir, "checkpoint"),
            views=[view],
        )
        self.stream.start()
        # HTTP: /live /ready (main.go:58-59) + api routes (api.go) +
        # /v1/query (CH HTTP interface analogue) + /v1/stats (MV-backed)
        api = LogsApi(self.table.read, logs_table=self.table,
                      rollup_view=view)
        self._api = api
        self._http_server = api.serve(*self.http_addr)
        # gRPC entry point: BatchWrite feeds the SAME batcher inbox
        # (service.go:21-47 enqueues; accepted-count reply), served as
        # native application/grpc over h2c (main.go:74-88).
        self._grpc_stop, self._grpc_port = serve_grpc_http2(
            LogServiceHandler(self.stream.submit_many), *self.grpc_addr
        )
        t = threading.Thread(target=self._http_server.serve_forever, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    @property
    def ports(self) -> tuple[int, int]:
        """(http_port, grpc_port) actually bound — for :0 ephemeral."""
        return (self._http_server.server_address[1], self._grpc_port)

    def stop(self) -> None:
        """Graceful stop (main.go:91-97): stop accepting, drain the
        batcher's final flush (ST5), then stop transports."""
        if self._grpc_stop is not None:
            self._grpc_stop()
        if self.stream is not None:
            self.stream.stop(drain=True)  # final flush before exit
        if self._http_server is not None:
            self._http_server.shutdown()
        # persist the request log (system.query_log analogue) next to
        # the data: meta-telemetry survives the process and becomes a
        # normal table for the retention/alerting operators
        if getattr(self, "_api", None) is not None:
            try:
                self._api.query_log.flush(
                    self.spark, os.path.join(self.data_dir, "query_log")
                )
            except Exception as exc:  # shutdown still completes
                print(f"EngineServer.stop: query_log flush failed: {exc!r}",
                      file=sys.stderr)
        for t in self._threads:
            t.join(timeout=5)  # the reference's 5 s drain budget

    # -- signal-driven run (main.go:33-34, 91-97) -----------------------
    def run_until_signal(self) -> None:  # pragma: no cover - manual entry
        import signal

        done = threading.Event()
        for sig in (signal.SIGINT, signal.SIGTERM):
            signal.signal(sig, lambda *_: done.set())
        done.wait()
        self.stop()


def main() -> None:  # pragma: no cover - manual entry point
    from clickhouse_observability_spark.session import get_spark

    spark = get_spark("chobs-server")
    server = EngineServer(spark).start()
    # after start-up, so the boot itself runs at full priority
    jvm = getattr(spark.sparkContext._gateway, "proc", None)  # pyspark's Popen
    if jvm is not None:
        renice_threads(jvm.pid, SPARK_NICE)
    server.run_until_signal()


if __name__ == "__main__":  # pragma: no cover
    main()

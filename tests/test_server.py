"""EngineServer lifecycle e2e (cmd/server/main.go:23-97 parity):
boot -> health -> gRPC BatchWrite -> streamed to parquet -> HTTP query
-> graceful stop drains the final flush."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from clickhouse_observability_spark.api import http2_transport as H
from clickhouse_observability_spark.api.grpc_reflection import (
    REFLECTION_METHOD_PATH,
    SERVICE_FULL,
)
from clickhouse_observability_spark.server import EngineServer


@pytest.fixture()
def engine(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "100")
    monkeypatch.delenv("RETENTION_DAYS", raising=False)
    srv = EngineServer(
        spark, data_dir=str(tmp_path), http_addr=":0", grpc_addr=":0"
    ).start()
    yield srv
    srv.stop()


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, r.read()


def test_full_lifecycle(engine):
    http_port, grpc_port = engine.ports
    # health endpoints (main.go:58-59) + ping (api.go:23-26)
    assert _get(http_port, "/live")[0] == 200
    assert _get(http_port, "/ready")[0] == 200
    assert _get(http_port, "/api/ping")[1] == b"pong"

    # native gRPC over h2c: reflection lists LogService, and the write
    # path feeds the streaming batcher
    resp, status, _ = H.grpc_http2_call(
        "127.0.0.1", grpc_port, REFLECTION_METHOD_PATH, b"\x3a\x00"
    )  # ServerReflectionRequest{list_services: ""}
    assert status == 0 and SERVICE_FULL.encode() in resp
    entries = [
        {"ts": "2025-09-01T20:05:00Z", "service": "orders", "level": "WARN",
         "msg": f"m{i}", "attrs": {"user": "jane.smith"},
         "trace_id": f"t{i}", "span_id": f"s{i}"}
        for i in range(10)
    ]
    assert H.batch_write_http2("127.0.0.1", grpc_port, entries) == 10

    # micro-batches land within a few trigger intervals
    deadline = time.time() + 30
    qs = "service=orders&from=2025-09-01T00:00:00Z&to=2025-09-02T00:00:00Z&level=WARN"
    body = None
    while time.time() < deadline:
        status, raw = _get(http_port, f"/v1/logs?{qs}")
        assert status == 200
        body = json.loads(raw)
        if body["count"] == 10:
            break
        time.sleep(0.3)
    assert body is not None and body["count"] == 10
    assert body["logs"][0]["Attrs"] == {"user": "jane.smith"}


def test_server_sockets_disable_nagle(engine, monkeypatch):
    """The LogsApi and h2c servers set TCP_NODELAY on every accepted
    socket: a reply is written as headers then body, and Nagle would
    hold the body until the client's delayed ACK (~40 ms)."""
    import socket

    seen = {}
    cls = engine._http_server.RequestHandlerClass
    setup, run = cls.setup, H._Conn.run

    def recording_setup(self):
        setup(self)
        seen["http"] = self.connection.getsockopt(
            socket.IPPROTO_TCP, socket.TCP_NODELAY)

    def recording_run(self):
        seen["h2c"] = self.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
        run(self)

    monkeypatch.setattr(cls, "setup", recording_setup)
    monkeypatch.setattr(H._Conn, "run", recording_run)
    http_port, grpc_port = engine.ports
    assert _get(http_port, "/live")[0] == 200
    assert H.batch_write_http2("127.0.0.1", grpc_port, []) == 0
    assert seen == {"http": 1, "h2c": 1}


def test_graceful_stop_drains(spark, tmp_path):
    srv = EngineServer(
        spark, data_dir=str(tmp_path / "d2"), http_addr=":0", grpc_addr=":0"
    ).start()
    _, grpc_port = srv.ports
    entries = [
        {"ts": "2025-09-01T10:00:00Z", "service": "s", "level": "INFO",
         "msg": f"m{i}", "attrs": {}, "trace_id": "", "span_id": ""}
        for i in range(7)
    ]
    assert H.batch_write_http2("127.0.0.1", grpc_port, entries) == 7
    srv.stop()  # ST5: final flush before exit (batcher.go:63-65)
    assert srv.table.read().count() == 7


def test_server_native_h2c_transport(spark, tmp_path):
    """With no transport setting, EngineServer serves application/grpc
    over real HTTP/2: bootstrap -> batcher -> h2c BatchWrite -> drain
    -> the row is stored as sent."""
    from clickhouse_observability_spark.api import grpc_transport as G

    srv = EngineServer(
        spark,
        data_dir=str(tmp_path / "data"),
        http_addr="127.0.0.1:0",
        grpc_addr="127.0.0.1:0",
    ).start()
    try:
        _, grpc_port = srv.ports
        entries, _ = G.canonical_example()
        assert H.batch_write_http2("127.0.0.1", grpc_port, entries) == 1
    finally:
        srv.stop()
    rows = srv.table.read().collect()
    assert len(rows) == 1 and rows[0]["msg"] == "order pending"


def test_stop_flushes_query_log_to_data_dir(spark, tmp_path):
    import json
    import os
    import urllib.request

    from clickhouse_observability_spark.server import EngineServer

    srv = EngineServer(
        spark, data_dir=str(tmp_path / "data"), http_addr=":0",
        grpc_addr=":0",
    ).start()
    try:
        http_port, _ = srv.ports
        url = (f"http://127.0.0.1:{http_port}/v1/logs?service=orders"
               "&from=2025-09-01T00:00:00Z&to=2025-09-02T00:00:00Z")
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
    finally:
        srv.stop()
    at_rest = spark.read.parquet(str(tmp_path / "data" / "query_log"))
    rows = at_rest.collect()
    assert any(r.route == "/v1/logs" and r.status == 200 for r in rows)


def test_stop_reports_failed_query_log_flush(spark, tmp_path, capsys,
                                            monkeypatch):
    srv = EngineServer(
        spark, data_dir=str(tmp_path / "data"), http_addr=":0",
        grpc_addr=":0",
    ).start()

    def broken_flush(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(srv._api.query_log, "flush", broken_flush)
    srv.stop()  # returns despite the failed flush
    assert not any(t.is_alive() for t in srv._threads)
    err = capsys.readouterr().err
    assert "query_log flush failed" in err and "disk full" in err


def test_renice_threads_sets_every_thread():
    """renice_threads reaches each thread of the target process, not
    only its main thread (Linux keeps the nice value per thread)."""
    import os
    import subprocess
    import sys

    from clickhouse_observability_spark.server import renice_threads

    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, threading, time\n"
         "for _ in range(3):\n"
         "    threading.Thread(target=time.sleep, args=(60,), daemon=True).start()\n"
         "print('up', flush=True)\n"
         "time.sleep(60)\n"],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline() == b"up\n"
        nice = min(19, os.nice(0) + 5)  # lowering priority needs no privilege
        renice_threads(child.pid, nice)
        tids = [int(t) for t in os.listdir(f"/proc/{child.pid}/task")]
        assert len(tids) == 4
        assert {os.getpriority(os.PRIO_PROCESS, t) for t in tids} == {nice}
    finally:
        child.kill()
        child.wait()
    renice_threads(child.pid, 5)  # a process that is gone is a no-op

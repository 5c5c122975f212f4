"""Self-tests of the service benchmark.

    python3 -m pytest perfbench -q

The wire and generator tests take a second. The run tests boot the
real server on a 20k-row preload (`--tiny`) for every workload and
check that the printed metric names are exactly the ones below and in
BENCHMARK.json, so a later change cannot drop or rename a metric
without changing this file; they take a few minutes.
"""

from __future__ import annotations

import http.server
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import wire  # noqa: E402

# printed in every run's table (the query workload has no ingest rows)
TABLE = ["setup_s", "ingest_rows_per_s", "batchwrite_p50_ms", "batchwrite_p90_ms",
         "visible_p50_ms", "visible_p90_ms", "queries_per_s", "query_p50_ms",
         "query_p90_ms", "logs_p50_ms", "sql_p50_ms", "stats_p50_ms", "error_ratio",
         "peak_rss_mb", "stored_bytes_per_row"]
# the JSON line of the workloads in BENCHMARK.json
GATED = ["setup_s", "ingest_rows_per_s", "batchwrite_p50_ms", "batchwrite_p90_ms",
         "stored_bytes_per_row"]
# the gated metrics of a run without ingest
INGEST = {"ingest_rows_per_s", "batchwrite_p50_ms", "batchwrite_p90_ms", "visible_p50_ms",
          "visible_p90_ms", "stored_bytes_per_row"}
PER_LAYER = [
    "http2_transport.batch_write_ms", "batcher.submit_ms", "batcher.trigger_ms",
    "batcher.latest_offset_ms", "batcher.plan_ms", "batcher.add_batch_ms",
    "batcher.commit_ms", "batcher.trigger_coverage", "batcher.foreach_batch_coverage",
    "batcher.rows_per_trigger", "batcher.triggers", "batcher.queue_wait_ms",
    "batcher.backlog_calls_max", "batcher.spark_jobs_per_batch", "writer.normalize_ms",
    "writer.insert_ms", "writer.files_per_batch", "rollup_view.apply_ms",
    "http.logs_handler_ms", "http.query_handler_ms",
    "http.stats_handler_ms", "http.handler_coverage", "http.transport_ms",
    "query_logs.plan_ms", "ch_dialect.translate_ms", "http.collect_ms",
    "http.spark_jobs_per_query", "writer.read_ms", "writer.table_files",
    "http.query_cache_hit_ratio", "rollup_view.query_ms", "rollup_view.state_files",
    "server.cpu_share", "loadgen.lag_max_ms", "trace.overhead_ratio",
]


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- wire and generator ----------------------------------------------------------

def test_protobuf_encoding_matches_the_proto3_wire_format():
    # LogEntry{ts:"a", service:"b", attrs:{"k":"v"}} inside BatchWriteRequest.entries
    entry = bytes([0x0A, 1]) + b"a" + bytes([0x12, 1]) + b"b" + bytes(
        [0x2A, 6, 0x0A, 1]) + b"k" + bytes([0x12, 1]) + b"v"
    assert wire.encode_batch_write([{"ts": "a", "service": "b", "attrs": {"k": "v"}}]) == (
        bytes([0x0A, len(entry)]) + entry)
    assert wire.decode_written(bytes([0x08, 0xF4, 0x03])) == 500
    assert wire.decode_written(b"") == 0


def test_hpack_decoder_reads_indexed_and_literal_fields():
    dec = wire.HpackDecoder()
    block = bytes([0x88]) + wire._hp_literal("grpc-status", "0")
    assert dec.decode(block) == [(":status", "200"), ("grpc-status", "0")]
    # literal with incremental indexing, then the same field by index 62
    block = bytes([0x40, 3]) + b"x-a" + bytes([1]) + b"1" + bytes([0xBE])
    assert dec.decode(block) == [("x-a", "1"), ("x-a", "1")]
    with pytest.raises(wire.WireError):
        dec.decode(bytes([0x00, 0x81, 0xFF, 1]) + b"v")  # Huffman name


def test_inputs_are_a_function_of_the_seed():
    a, b, c = gen.IngestGen(3, "r3"), gen.IngestGen(3, "r3"), gen.IngestGen(4, "r3")
    assert a.call(0, 50) == b.call(0, 50) != c.call(0, 50)
    assert a.call(1, 50)[-1]["service"] == gen.SENTINEL_SERVICE
    m1, m2 = gen.ReadMix(5, True), gen.ReadMix(5, True)
    urls = [m1.next().url for _ in range(30)]
    assert urls == [m2.next().url for _ in range(30)]


def test_read_mix_deals_every_kind_in_fixed_proportions():
    mix = gen.ReadMix(7, True)
    deck = dict(gen.ReadMix.DECK)
    kinds = [mix.next().kind for _ in range(2 * sum(deck.values()))]
    assert {k: kinds.count(k) for k in deck} == {k: 2 * w for k, w in deck.items()}


# -- accounting -------------------------------------------------------------------

class _Replies(http.server.BaseHTTPRequestHandler):
    """Answers every GET with the next (status, JSON body) of `replies`."""
    replies: list = []

    def do_GET(self):
        status, body = self.replies.pop(0) if self.replies else (503, {})
        raw = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def log_message(self, *args):
        pass


def test_sentinel_polls_are_checked_and_counted_as_reads():
    import run

    row = {"Ts": "2026-01-15T00:00:00.007Z", "Service": gen.SENTINEL_SERVICE, "Level": "INFO",
           "Msg": "sentinel r1 7", "Attrs": {}}
    bad = dict(row, Service="svc-00")
    _Replies.replies = [(500, {"error": "x"}), (200, {"count": 1, "logs": [bad]}),
                        (200, {"count": 1, "logs": [row]})]
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Replies)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        stats = run.Stats(srv.server_address[1], 0)
        stats.calls[7] = {"due": 1.0, "sent": 1.0, "rows": 1, "ack": 1.0}
        done = threading.Event()
        done.set()
        run.sentinel_poller(stats, gen.SENTINEL_SERVICE, done, [time.monotonic() + 30], "window")
    finally:
        srv.shutdown()
    # the 500 and the reply from another service fail; the third makes call 7 visible
    assert [p["ok"] for p in stats.polls] == [False, False, True]
    assert "visible" in stats.calls[7]


def test_a_failed_run_keeps_its_server_log(tmp_path, monkeypatch):
    import run

    monkeypatch.setattr(run, "WORK", str(tmp_path))
    dead = tmp_path / "run-backfill-1-99999"
    (dead / "data").mkdir(parents=True)
    (dead / "server-serve.log").write_text("boot failed")
    run.keep_logs(str(dead))
    assert not dead.exists()
    assert (tmp_path / "failed" / dead.name / "server-serve.log").read_text() == "boot failed"


# -- the benchmark contract -------------------------------------------------------

def test_benchmark_json_lists_the_metrics_run_py_prints():
    b = bench_json()
    assert [m["name"] for m in b["end_to_end"]] == GATED
    assert [m["name"] for m in b["per_layer"]] == PER_LAYER
    assert {w["name"] for w in b["workloads"]} == {"backfill", "mixed"}
    assert b["command"] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"]


def run_bench(workload: str, trace: int, cwd: str = ROOT, seconds: int = 3):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


@pytest.mark.parametrize("workload,gated,absent", [
    ("backfill", GATED, {"stats_p50_ms"}),
    ("mixed", GATED, set()),
    ("query", [m for m in GATED if m not in INGEST], INGEST | {"stats_p50_ms"})])
def test_tiny_run_prints_every_end_to_end_metric(workload, gated, absent):
    proc = run_bench(workload, 0)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert list(result["metrics"]) == gated
    for name in gated:
        assert isinstance(result["metrics"][name]["value"], (int, float)), name
    printed = [line.split()[0] for line in lines if line.startswith("  ") and
               len(line.split()) == 3]
    assert printed == [m for m in TABLE if m not in absent]


def test_tiny_traced_run_prints_every_per_layer_metric():
    proc = run_bench("mixed", 1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stdout
    assert list(result["metrics"]) == PER_LAYER
    assert result["metrics"]["batcher.triggers"]["value"] >= 1


def test_a_checkout_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("backfill", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())

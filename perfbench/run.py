"""Service benchmark: a live EngineServer driven over its public wire surface.

    python3 perfbench/run.py --workload {backfill,mixed,query} --seed N \
        --seconds S --trace {0,1} [--tiny]

Each run builds (once per checkout) the preloaded table, boots the
server (`python -m clickhouse_observability_spark.server`, h2c gRPC),
warms it, drives the workload for `--seconds` from this process,
drains, re-reads a seeded sample for the correctness checks, stops the
server and audits the table with DuckDB. `--trace 1` boots the server through `traced_server.py`
instead and reports the per-layer metrics. Everything is written
under `.bench_build/perfbench/` in the checkout. The last line of
stdout is one JSON object; the lines above it are the metric table.
See perfbench/README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

import gen
import wire

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HOST = "127.0.0.1"

PRELOAD_ROWS = 1_000_000
BACKFILL_CALL_ROWS = 500  # the reference INGEST_BATCH_SIZE
# closed loop: acked-but-invisible rows allowed. 24 calls: with 16, the
# writer, which learns of visibility one poll late, let the inbox run dry
# before some triggers (1804 instead of 2000 rows per trigger in one
# traced run, 1958 with 24)
BACKFILL_BACKLOG_ROWS = 12_000
# 500 rows/s offered as 1 call/s: below the call-count capacity that
# maxFilesPerTrigger sets, so the backlog stays flat
MIXED_CALLS_PER_S = 1.0
MIXED_CALL_ROWS = 500
WARMUP_CALLS = 3
POLL_SLEEP_S = 0.05
DRAIN_TIMEOUT_S = 60.0
BARRIER_CALL = 1_000_000  # call number of the post-drain barrier
# rounds of the three random-window SQL kinds in the check sample: one,
# or three on a workload without read clients (backfill), where they
# give sql_p50_ms
CHECK_SQL_ROUNDS = 3
BOOT_TIMEOUT_S = 120.0
STOP_TIMEOUT_S = 60.0

# the workload itself runs this long before the window opens. The JVM
# keeps getting faster for many micro-batches after the first; in one
# mixed run with 60 s of load, the 5 s medians of /v1/logs latency and
# visibility fell by about a fifth over the first 10 s and then stayed
# within about 10%
STEADY_S = 10.0

WORKLOADS = {
    # preload: copy the preloaded table in; writer: ingest shape;
    # clients: closed-loop read clients during the window (backfill's
    # only reader is the sentinel poller)
    "backfill": {"preload": False, "writer": "closed", "clients": 0, "stats": False},
    "mixed": {"preload": True, "writer": "open", "clients": 2, "stats": True},
    "query": {"preload": True, "writer": None, "clients": 3, "stats": False},
}

# every end-to-end metric, in print order: name -> unit
END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "batchwrite_p50_ms": "ms",
    "batchwrite_p90_ms": "ms",
    "visible_p50_ms": "ms",
    "visible_p90_ms": "ms",
    "queries_per_s": "req/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "logs_p50_ms": "ms",
    "sql_p50_ms": "ms",
    "stats_p50_ms": "ms",
    "error_ratio": "failed/attempted",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B/row",
}
# The JSON line carries the metrics BENCHMARK.json lists: the gated
# end-to-end ones with --trace 0, the per-layer ones with --trace 1.


class BenchError(Exception):
    """The run could not produce a result (no JSON line is printed)."""


# -- small helpers ------------------------------------------------------------

def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    if not values:
        return math.nan
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else math.nan


def mean0(values) -> float:
    """Mean per call of a layer; 0 for a layer the workload never calls."""
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def scratch_env(run_dir: str) -> dict:
    """Spark shuffle files, Python and JVM temp files under `run_dir`,
    so a run writes nothing outside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def free_ports(n: int) -> list[int]:
    """n distinct free ports (all bound at once, so none repeats)."""
    socks = [socket.socket() for _ in range(n)]
    try:
        for s in socks:
            s.bind((HOST, 0))
        return [s.getsockname()[1] for s in socks]
    finally:
        for s in socks:
            s.close()


def tree_usage(pgid: int) -> tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over the processes of one process
    group: the server's Python, its JVM and Spark's Python workers."""
    rss, cpu = 0, 0.0
    page, tick = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_CLK_TCK")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5: pgrp
            rss += int(fields[21]) * page  # field 24: rss pages
            cpu += (int(fields[11]) + int(fields[12])) / tick  # utime + stime
    return rss, cpu


def dir_files(path: str) -> dict[str, int]:
    """relative path -> size of every parquet file under `path`."""
    out = {}
    for base, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                full = os.path.join(base, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


# -- the server process ---------------------------------------------------------

class Server:
    """One server process in its own process group."""

    def __init__(self, data_dir: str, run_dir: str, traced: bool, tag: str):
        self.http_port, self.grpc_port = free_ports(2)
        self.traced = traced
        self.spans_path = os.path.join(run_dir, f"spans-{tag}.json")
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "SPARK_GRAFT_CPUS": str(os.cpu_count()),
            "GRPC_TRANSPORT": "h2c",
            "DATA_DIR": data_dir,
            "HTTP_ADDR": f"{HOST}:{self.http_port}",
            "GRPC_ADDR": f"{HOST}:{self.grpc_port}",
        })
        env.update(scratch_env(run_dir))
        if traced:
            cmd = [sys.executable, os.path.join(HERE, "traced_server.py"),
                   "--spans", self.spans_path]
        else:
            cmd = [sys.executable, "-m", "clickhouse_observability_spark.server"]
        self.log = open(os.path.join(run_dir, f"server-{tag}.log"), "wb")
        self.t_spawn = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                     stdout=self.log, stderr=subprocess.STDOUT,
                                     start_new_session=True)
        self.peak_rss = 0

    def wait_ready(self) -> float:
        """Seconds from spawn until /ready answers 200."""
        deadline = self.t_spawn + BOOT_TIMEOUT_S
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                self.log.flush()
                with open(self.log.name, errors="replace") as f:
                    tail = "".join(f.readlines()[-15:])
                raise BenchError(f"server exited during boot (code {self.proc.returncode}):\n"
                                 f"{tail}")
            try:
                status, _ = wire.http_get(HOST, self.http_port, "/ready", timeout=2)
                if status == 200:
                    return time.monotonic() - self.t_spawn
            except OSError:
                pass
            time.sleep(0.05)
        raise BenchError("server not ready within %.0f s" % BOOT_TIMEOUT_S)

    def sample(self) -> float:
        """Track peak RSS; return the process group's CPU seconds so far."""
        rss, cpu = tree_usage(self.proc.pid)
        self.peak_rss = max(self.peak_rss, rss)
        return cpu

    def stop(self) -> None:
        """End the whole process group (the JVM included) and wait for it.
        A traced server gets the graceful SIGTERM, because it writes its
        spans on the way out; an untraced one is killed, which saves the
        few seconds of a graceful Spark shutdown. Either way the checks
        are done and every acked row is committed by then."""
        try:
            if self.proc.poll() is None and self.traced:
                self.proc.send_signal(signal.SIGTERM)
                try:
                    self.proc.wait(timeout=STOP_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    pass
            elif self.proc.poll() is None:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait(timeout=10)
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline:
                try:
                    os.killpg(self.proc.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            else:
                os.killpg(self.proc.pid, signal.SIGKILL)
                time.sleep(0.5)
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait(timeout=10)
        finally:
            self.log.close()


# -- load generation --------------------------------------------------------------

class Stats:
    """Everything the load generator observed, shared by its threads."""

    def __init__(self, port: int, grpc_port: int):
        self.port, self.grpc_port = port, grpc_port  # the server's HTTP and h2c ports
        self.lock = threading.Lock()
        self.calls: dict[int, dict] = {}  # call_no -> due, sent, ack, rows, visible
        self.reads: list[dict] = []  # kind, route, start, end, status, ok, phase
        self.polls: list[dict] = []
        self.errors: list[str] = []
        self.lag_max_s = 0.0
        self.backlog_max = 0
        self.visible_cv = threading.Condition(self.lock)

    def error(self, msg: str) -> None:
        with self.lock:
            if len(self.errors) < 50:
                self.errors.append(msg)

    def outstanding(self) -> list[int]:
        return [n for n, c in self.calls.items() if c.get("ack") and "visible" not in c]


def parse_ts(text: str) -> dt.datetime:
    """An RFC3339 reply/parameter timestamp as a naive UTC datetime."""
    return dt.datetime.fromisoformat(text.rstrip("Z"))


def check_logs_reply(params: dict, body) -> str | None:
    """/v1/logs contract: filters, ts DESC, limit. None when it holds."""
    if not isinstance(body, dict) or "logs" not in body:
        return "reply has no logs"
    logs = body["logs"]
    if body.get("count") != len(logs) or len(logs) > int(params.get("limit", 100)):
        return "count/limit mismatch"
    frm, to = parse_ts(params["from"]), parse_ts(params["to"])
    prev = None
    for row in logs:
        ts = parse_ts(row["Ts"])
        if row["Service"] != params["service"]:
            return "service filter violated"
        if params.get("level") and row["Level"] != params["level"]:
            return "level filter violated"
        if params.get("user") and (row.get("Attrs") or {}).get("user") != params["user"]:
            return "user filter violated"
        if not (frm <= ts < to):
            return "time window violated"
        if prev is not None and ts > prev:
            return "not ts DESC"
        prev = ts
    return None


def check_stats_reply(params: dict, body) -> str | None:
    if not isinstance(body, dict) or "stats" not in body:
        return "reply has no stats"
    for row in body["stats"]:
        if row["Service"] != params["service"]:
            return "service filter violated"
        if not (params["from"] <= row["Bucket"] < params["to"]):
            return "time window violated"
    return None


def do_read(stats: Stats, read: gen.Read, phase: str, keep_body: bool = False) -> dict:
    rec = {"kind": read.kind, "route": read.route, "phase": phase, "ok": False}
    rec["start"] = time.monotonic()
    try:
        status, body = wire.http_get(HOST, stats.port, read.url)
    except (OSError, ValueError) as e:
        status, body = None, None
        stats.error(f"{read.kind}: {type(e).__name__}: {e}")
    rec["end"] = time.monotonic()
    rec["status"] = status
    if status == 200:
        problem = None
        if read.route == "/v1/logs":
            problem = check_logs_reply(read.params, body)
        elif read.route == "/v1/stats":
            problem = check_stats_reply(read.params, body)
        elif not isinstance(body, dict) or "data" not in body:
            problem = "reply has no data"
        if problem:
            stats.error(f"{read.kind}: {problem}: {read.url}")
        rec["ok"] = problem is None
    elif status is not None:
        stats.error(f"{read.kind}: HTTP {status}: {str(body)[:200]}")
    if keep_body:
        rec["body"] = body
        rec["read"] = read
    with stats.lock:
        stats.reads.append(rec)
    return rec


def read_client(stats: Stats, mix: gen.ReadMix, end: float, phase: str) -> None:
    while time.monotonic() < end:
        do_read(stats, mix.next(), phase)


def sentinel_poller(stats: Stats, service: str, done: threading.Event,
                    deadline_box: list, phase: str) -> None:
    """Poll /v1/logs for outstanding sentinels until `done` is set and
    none is outstanding, or deadline_box[0] passes."""
    while time.monotonic() < deadline_box[0]:
        with stats.lock:
            waiting = stats.outstanding()
        if not waiting:
            if done.is_set():
                return
            time.sleep(POLL_SLEEP_S)
            continue
        frm = gen.sentinel_ts(min(waiting)).strftime("%Y-%m-%dT%H:%M:%S") + "Z"
        to = (gen.T0 + dt.timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%SZ")
        params = {"service": service, "from": frm, "to": to, "limit": "1000"}
        url = "/v1/logs?" + "&".join(f"{k}={v}" for k, v in params.items())
        t0 = time.monotonic()
        try:
            status, body = wire.http_get(HOST, stats.port, url)
        except (OSError, ValueError) as e:
            status, body = None, None
            stats.error(f"poll: {type(e).__name__}: {e}")
        t1 = time.monotonic()
        # a poll is a read request like any other: its reply must keep
        # the /v1/logs contract, and a failed poll counts in error_ratio
        problem = None
        if status == 200:
            problem = check_logs_reply(params, body)
            if problem:
                stats.error(f"poll: {problem}: {url}")
        elif status is not None:
            stats.error(f"poll: HTTP {status}: {str(body)[:200]}")
        with stats.lock:
            stats.polls.append({"route": "/v1/logs", "start": t0, "end": t1,
                                "status": status, "phase": phase,
                                "ok": status == 200 and problem is None})
            if status == 200 and problem is None:
                for row in body["logs"]:
                    n = int(row["Msg"].rsplit(" ", 1)[1])
                    call = stats.calls.get(n)
                    if call is not None and call.get("ack") and "visible" not in call:
                        call["visible"] = t1
                stats.backlog_max = max(stats.backlog_max, len(stats.outstanding()))
                stats.visible_cv.notify_all()
        time.sleep(POLL_SLEEP_S)


def send_call(stats: Stats, channel: wire.H2Channel, ingest: gen.IngestGen,
              call_no: int, rows: int, due: float | None) -> None:
    """One BatchWrite. `due` is the open loop's schedule; a closed-loop
    call is due when it is sent. Lag is how late the generator sent,
    counted from the schedule or, in the closed loop, from the moment
    the call was allowed to go."""
    ready = time.monotonic() if due is None else due
    # the request is built and encoded before the clock starts: the ack
    # latency is the wire and the server, not this process's encoder
    request = wire.encode_batch_write(ingest.call(call_no, rows))
    sent = time.monotonic()
    due = sent if due is None else due
    with stats.lock:
        stats.calls[call_no] = {"due": due, "sent": sent, "rows": rows}
        stats.lag_max_s = max(stats.lag_max_s, sent - ready)
    try:
        accepted = wire.batch_write(channel, request)
    except (OSError, wire.WireError) as e:
        stats.error(f"BatchWrite {call_no}: {type(e).__name__}: {e}")
        return
    ack = time.monotonic()
    if accepted != rows:
        stats.error(f"BatchWrite {call_no}: accepted {accepted} of {rows}")
        return
    with stats.lock:
        stats.calls[call_no]["ack"] = ack
        stats.backlog_max = max(stats.backlog_max, len(stats.outstanding()))


def closed_writer(stats: Stats, ingest: gen.IngestGen, end: float, first: int) -> None:
    """Backfill: send the next call as soon as the previous one is acked,
    while no more than BACKFILL_BACKLOG_ROWS acked rows are invisible."""
    channel = wire.H2Channel(HOST, stats.grpc_port)
    try:
        n = first
        while time.monotonic() < end:
            with stats.lock:
                while (len(stats.outstanding()) + 1) * BACKFILL_CALL_ROWS > BACKFILL_BACKLOG_ROWS:
                    if not stats.visible_cv.wait(timeout=end - time.monotonic()):
                        return
            send_call(stats, channel, ingest, n, BACKFILL_CALL_ROWS, None)
            n += 1
    finally:
        channel.close()


def open_writer(stats: Stats, ingest: gen.IngestGen, start: float, end: float,
                first: int) -> None:
    """Mixed: calls due every 1/MIXED_CALLS_PER_S s whatever the replies do;
    latency is timed from the due time."""
    channel = wire.H2Channel(HOST, stats.grpc_port)
    try:
        k = 0
        while True:
            due = start + k / MIXED_CALLS_PER_S
            if due >= end:
                return
            time.sleep(max(0.0, due - time.monotonic()))
            send_call(stats, channel, ingest, first + k, MIXED_CALL_ROWS, due)
            k += 1
    finally:
        channel.close()


# -- the run ----------------------------------------------------------------------

def keep_logs(run_dir: str) -> None:
    """Remove a dead run's directory, keeping its server log
    under failed/ as the evidence of what went wrong."""
    if not os.path.isdir(run_dir):
        return
    dest = os.path.join(WORK, "failed", os.path.basename(run_dir))
    for name in os.listdir(run_dir):
        if name.endswith(".log"):
            os.makedirs(dest, exist_ok=True)
            shutil.move(os.path.join(run_dir, name), os.path.join(dest, name))
    shutil.rmtree(run_dir, ignore_errors=True)


def ensure_preload(rows: int) -> str:
    """Build the preloaded table once per checkout (per row count)."""
    path = os.path.join(WORK, f"preload-{rows}-f{gen.PRELOAD_FORMAT}")
    if os.path.exists(os.path.join(path, "preload.json")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({"PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
                "SPARK_GRAFT_CPUS": str(os.cpu_count())})
    env.update(scratch_env(tmp))
    with open(tmp + ".log", "wb") as log:
        code = subprocess.call(
            [sys.executable, os.path.join(HERE, "preload.py"), "--rows", str(rows),
             "--out", tmp], cwd=tmp, env=env, stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if code != 0:
        raise BenchError(f"preload build failed (code {code}); see {tmp}.log")
    for junk in ("spark-warehouse", "metastore_db", "derby.log", "tmp"):
        shutil.rmtree(os.path.join(tmp, junk), ignore_errors=True)
    os.replace(tmp, path)
    return path


def boot(run_dir: str, data_dir: str, traced: bool, tag: str) -> tuple[Server, float]:
    server = Server(data_dir, run_dir, traced, tag)
    try:
        return server, server.wait_ready()
    except BaseException:
        server.stop()
        raise


def warm_up(stats: Stats, spec: dict, run_tag: str, mix_seed: int) -> None:
    """Untimed: first micro-batches and one read of each kind, so JIT,
    codegen and the first file listings are paid before the window."""
    threads = []
    if spec["writer"]:
        warm = gen.IngestGen(mix_seed, run_tag + "w", gen.WARMUP_SERVICE)
        done = threading.Event()
        box = [time.monotonic() + DRAIN_TIMEOUT_S]

        def write():
            channel = wire.H2Channel(HOST, stats.grpc_port)
            try:
                for n in range(WARMUP_CALLS):
                    send_call(stats, channel, warm, -1 - n, 100, None)
            finally:
                channel.close()
            done.set()

        threads += [threading.Thread(daemon=True, target=write),
                    threading.Thread(daemon=True, target=sentinel_poller,
                                     args=(stats, gen.WARMUP_SERVICE, done, box, "warmup"))]
    mix = gen.ReadMix(mix_seed + 1, spec["stats"])
    kinds = ["logs", "sql_levels", "sql_top_users", "sql_hourly", "sql_dashboard"]
    kinds += ["stats"] if spec["stats"] else []
    threads.append(threading.Thread(
        daemon=True, target=lambda: [do_read(stats, mix.make(k), "warmup") for k in kinds]))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with stats.lock:
        missing = [n for n in stats.calls if n < 0 and "visible" not in stats.calls[n]]
        for n in [n for n in stats.calls if n < 0]:
            del stats.calls[n]  # warm-up calls are not part of the measurement
    if missing:
        raise BenchError(f"warm-up sentinels never became visible: {missing}")


def drive(stats: Stats, spec: dict, seed: int, run_tag: str, seconds: float,
          server: Server) -> dict:
    """STEADY_S of the workload, the timed window, then the drain.
    Returns the window's bounds; calls due and reads started before it
    are load, not samples."""
    ingest = gen.IngestGen(seed, run_tag)
    begin = time.monotonic()
    start = begin + STEADY_S
    end = start + seconds
    done = threading.Event()
    box = [math.inf]
    threads = []
    if spec["writer"] == "closed":
        threads.append(threading.Thread(daemon=True, target=closed_writer, args=(stats, ingest, end, 0)))
    elif spec["writer"] == "open":
        threads.append(threading.Thread(daemon=True, target=open_writer,
                                        args=(stats, ingest, begin, end, 0)))
    writers = list(threads)
    if spec["writer"]:
        threads.append(threading.Thread(daemon=True, target=sentinel_poller,
                                        args=(stats, gen.SENTINEL_SERVICE, done, box,
                                              "window")))
    for c in range(spec["clients"]):
        mix = gen.ReadMix(seed * 10 + c, spec["stats"])
        threads.append(threading.Thread(daemon=True, target=read_client, args=(stats, mix, end, "window")))
    for t in threads:
        t.start()
    cpu0 = server.sample()
    while any(t.is_alive() for t in writers) or time.monotonic() < end:
        server.sample()
        time.sleep(0.2)
    box[0] = time.monotonic() + DRAIN_TIMEOUT_S
    done.set()
    while any(t.is_alive() for t in threads):
        server.sample()
        time.sleep(0.2)
    phase_end = time.monotonic()
    # the server's CPU over the whole load phase, steady warm-up included
    cpu_share = (server.sample() - cpu0) / ((phase_end - begin) * (os.cpu_count() or 1))
    return {"start": start, "end": end, "phase_end": phase_end, "cpu_share": cpu_share}


def barrier(stats: Stats, seed: int, run_tag: str) -> None:
    """A 1-row call after the drain. Micro-batches run one at a time and
    a batch's rollup increment lands after its rows are visible, so once
    this sentinel is visible every earlier increment is in the view."""
    own = Stats(stats.port, stats.grpc_port)
    channel = wire.H2Channel(HOST, stats.grpc_port)
    try:
        send_call(own, channel, gen.IngestGen(seed, run_tag + "b"), BARRIER_CALL, 1, None)
    finally:
        channel.close()
    done = threading.Event()
    done.set()
    sentinel_poller(own, gen.SENTINEL_SERVICE, done, [time.monotonic() + DRAIN_TIMEOUT_S],
                    "barrier")
    with stats.lock:
        stats.polls.extend(own.polls)
    for err in own.errors:
        stats.error(err)
    if "visible" not in own.calls.get(BARRIER_CALL, {}):
        raise BenchError(f"barrier call not visible: {own.errors[:3]}")


def post_window_sample(stats: Stats, spec: dict, seed: int, run_tag: str) -> list[dict]:
    """Seeded replies to compare with DuckDB once the server is idle: the
    barrier first, so no micro-batch or rollup increment runs beside
    them, then one read after the other."""
    hours = gen.INGEST_HOURS if not spec["preload"] else gen.PRELOAD_HOURS
    mix = gen.ReadMix(seed * 10 + 9, True, hours=hours)
    kinds = ["stats", "logs", "sql_dashboard"]
    rounds = 1 if spec["clients"] else CHECK_SQL_ROUNDS
    kinds += rounds * ["sql_levels", "sql_top_users", "sql_hourly"]
    if spec["writer"]:
        barrier(stats, seed, run_tag)
    return [do_read(stats, mix.make(k), "check", keep_body=True) for k in kinds]


def audit(data_dir: str, run_tag: str, stats: Stats, checks: list[dict],
          preload_files: dict[str, int]) -> dict:
    """DuckDB over the table's parquet files once the server stopped."""
    import duckdb

    logs_dir = os.path.join(data_dir, "logs")
    files = dir_files(logs_dir)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        paths = ", ".join("'" + os.path.join(logs_dir, f).replace("'", "''") + "'"
                          for f in sorted(files))
        con.execute(
            "CREATE VIEW logs AS SELECT CAST(ts AS TIMESTAMP) AS ts, service, level, msg, "
            f"attrs, trace_id, span_id FROM read_parquet([{paths}])")
        # every acked row of the timed calls is in the table exactly once
        rows = con.execute(
            "SELECT split_part(trace_id, '-', 2) AS call, count(*) AS n, "
            "count(DISTINCT trace_id) AS d FROM logs WHERE trace_id LIKE ? GROUP BY call",
            [run_tag + "-%"]).fetchall()
        per_call = {int(c): (n, d) for c, n, d in rows}
        lost_calls, dup_rows, lost_rows = 0, 0, 0
        for n, call in stats.calls.items():
            if not call.get("ack"):
                continue
            got, distinct = per_call.get(n, (0, 0))
            dup_rows += got - distinct
            if distinct != call["rows"]:
                lost_calls += 1
                lost_rows += call["rows"] - distinct
        mismatches = []
        for rec in checks:
            if rec["status"] != 200:
                continue
            problem = compare(con, rec["read"], rec["body"])
            if problem:
                mismatches.append(problem)
                stats.error(f"check {rec['kind']}: {problem}")
        new = {f: s for f, s in files.items() if f not in preload_files}
        new_rows = 0
        if new:
            new_rows = con.execute(
                "SELECT count(*) FROM read_parquet(?)",
                [[os.path.join(logs_dir, f) for f in new]]).fetchone()[0]
    finally:
        con.close()
    return {"lost_calls": lost_calls, "lost_rows": lost_rows, "dup_rows": dup_rows,
            "mismatches": len(mismatches),
            "stored_bytes_per_row": sum(new.values()) / new_rows if new_rows else math.nan,
            "table_files": len(files)}


def _canon(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(v, str) and len(v) >= 19 and v[10:11] == "T":
        return v[:19]
    return v


def compare(con, read: gen.Read, body) -> str | None:
    """None when the server's reply equals DuckDB's answer."""
    p = read.params
    if read.route == "/v1/logs":
        where = ["service = ?", "ts >= ?", "ts < ?"]
        args = [p["service"], parse_ts(p["from"]), parse_ts(p["to"])]
        if p.get("level"):
            where.append("level = ?")
            args.append(p["level"])
        if p.get("user"):
            where.append("json_extract_string(attrs, '$.user') = ?")
            args.append(p["user"])
        want = [r[0] for r in con.execute(
            f"SELECT ts FROM logs WHERE {' AND '.join(where)} ORDER BY ts DESC LIMIT ?",
            args + [int(p["limit"])]).fetchall()]
        got = [parse_ts(r["Ts"]) for r in body["logs"]]
        return None if got == want else f"/v1/logs ts list differs ({len(got)} vs {len(want)})"
    if read.route == "/v1/stats":
        # the view answers by hour bucket: compare the hours the
        # window covers whole
        hour = dt.timedelta(hours=1)
        frm, to = parse_ts(p["from"]), parse_ts(p["to"])
        lo = frm.replace(minute=0, second=0) + (hour if frm.minute or frm.second else 0 * hour)
        hi = to.replace(minute=0, second=0)
        want = {(_canon(b), lv): n for b, lv, n in con.execute(
            "SELECT date_trunc('hour', ts) AS b, level, count(*) FROM logs "
            "WHERE service = ? AND ts >= ? AND ts < ? GROUP BY b, level",
            [p["service"], lo, hi]).fetchall()}
        got = {(_canon(r["Bucket"]), r["Level"]): r["Count"] for r in body["stats"]
               if lo <= parse_ts(r["Bucket"]) < hi}
        return None if got == want else "/v1/stats counts differ"
    want = [tuple(_canon(v) for v in r) for r in con.execute(read.duck).fetchall()]
    got = [tuple(_canon(v) for v in row.values()) for row in body["data"]]
    return None if got == want else f"{read.kind} rows differ"


def end_to_end(stats: Stats, phases: dict, spec: dict, setup_s: float,
               server: Server, audit_res: dict) -> dict:
    m = {"setup_s": setup_s,
         "peak_rss_mb": server.peak_rss / 2**20}
    timed = [c for c in stats.calls.values() if c.get("ack") and c["due"] >= phases["start"]]
    if spec["writer"]:
        visible = [c for c in timed if "visible" in c]
        acks = [1000 * (c["ack"] - c["due"]) for c in timed]
        vis = [1000 * (c["visible"] - c["due"]) for c in visible]
        # steady-state rate: rows that became visible after the first
        # visibility event, over the time from it to the last one
        first = min(c["visible"] for c in visible)
        last = max(c["visible"] for c in visible)
        later = sum(c["rows"] for c in visible if c["visible"] > first)
        m["n"] = {"calls": len(timed), "visible": len(visible)}
        m.update({
            "ingest_rows_per_s": later / (last - first) if last > first else math.nan,
            "batchwrite_p50_ms": pct(acks, 50), "batchwrite_p90_ms": pct(acks, 90),
            "visible_p50_ms": pct(vis, 50), "visible_p90_ms": pct(vis, 90),
            "stored_bytes_per_row": audit_res["stored_bytes_per_row"],
        })
    # every read started in the window: the clients' and the sentinel poller's
    reads = [r for r in stats.reads + stats.polls if r["phase"] == "window"
             and r["status"] == 200 and phases["start"] <= r["start"] < phases["end"]]
    lat = {k: [1000 * (r["end"] - r["start"]) for r in reads if r["route"] == k]
           for k in ("/v1/logs", "/v1/query", "/v1/stats")}
    allv = [v for vs in lat.values() for v in vs]
    t0 = min(r["start"] for r in reads)
    t1 = max(r["end"] for r in reads)
    sql = lat["/v1/query"]
    if not spec["clients"]:
        # backfill's window has no SQL reads: its SQL latency is that of
        # the check sample's, one at a time on the idle server over the
        # freshly streamed table
        sql = [1000 * (r["end"] - r["start"]) for r in stats.reads
               if r["phase"] == "check" and r["route"] == "/v1/query" and r["status"] == 200]
    m.update({
        "queries_per_s": len(reads) / (t1 - t0),
        "query_p50_ms": pct(allv, 50), "query_p90_ms": pct(allv, 90),
        "logs_p50_ms": pct(lat["/v1/logs"], 50), "sql_p50_ms": pct(sql, 50),
    })
    if spec["stats"]:
        m["stats_p50_ms"] = pct(lat["/v1/stats"], 50)
    m.setdefault("n", {}).update({k: len(v) for k, v in lat.items()})
    if not spec["clients"]:
        m["n"]["check /v1/query"] = len(sql)
    return m


READ_LAYERS = {"http.logs_handler", "http.query_handler", "http.stats_handler",
               "query_logs.plan", "ch_dialect.translate", "http.collect", "writer.read",
               "rollup_view.query"}


def per_layer(doc: dict, stats: Stats, phases: dict) -> dict:
    """Per-layer metrics from the traced server's span dump. A span is
    [layer, start, end, parent index, attributes]; times are
    CLOCK_MONOTONIC, shared by both processes. Ingest layers count the
    spans of the window and the drain; read layers also count the check
    sample, so every read layer has calls on every workload."""
    lo, hi = phases["start"], phases["phase_end"]
    spans = doc["spans"]
    by: dict[str, list] = {}
    for i, s in enumerate(spans):
        last = phases["checks_end"] if s[0] in READ_LAYERS else hi
        if lo <= s[1] <= last:
            by.setdefault(s[0], []).append(i)
    children: dict[int, float] = {}
    for s in spans:
        if s[3] >= 0:
            children[s[3]] = children.get(s[3], 0.0) + s[2] - s[1]

    def dur(i):
        return spans[i][2] - spans[i][1]

    def ms(layer):
        return mean0(1000 * dur(i) for i in by.get(layer, []))

    def coverage(layers):
        ids = [i for layer in layers for i in by.get(layer, [])]
        total = sum(dur(i) for i in ids)
        return sum(children.get(i, 0.0) for i in ids) / total if total else math.nan

    def attr(layer, key):
        return [spans[i][4][key] for i in by.get(layer, []) if spans[i][4]]

    progress = [p for p in doc["progress"].values()
                if p["rows"] > 0 and lo <= _epoch_to_mono(p["timestamp"], doc) <= hi]
    durs = [p["durationMs"] for p in progress]

    def d(*keys):
        return [sum(x.get(k, 0) for k in keys) for x in durs]

    trig = d("triggerExecution")
    parts = d("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets")
    handlers = ("http.logs_handler", "http.query_handler", "http.stats_handler")
    # transport = what the client waited minus what the handlers took,
    # over every read request of the run (only this process sends any)
    client_reads = [r for r in stats.reads + stats.polls if r["status"] is not None]
    client_s = sum(r["end"] - r["start"] for r in client_reads)
    handler_s = sum(s[2] - s[1] for s in spans if s[0] in handlers)
    n_collect = sum(1 for s in spans if s[0] == "http.collect")
    n_batches = sum(1 for p in doc["progress"].values() if p["rows"] > 0)
    cache = doc.get("cache") or {}
    lookups = cache.get("hits", 0) + cache.get("misses", 0)
    vis_after_ack = [1000 * (c["visible"] - c["ack"]) for c in stats.calls.values()
                     if "visible" in c and c["due"] >= lo]
    poll_period_ms = mean(1000 * (p["end"] - p["start"] + POLL_SLEEP_S) for p in stats.polls)
    # files each insert added: the table's file count after it minus before
    inserts = [s for s in spans if s[0] == "writer.insert" and s[4]]
    added = [b[4]["files"] - a[4]["files"] for a, b in zip(inserts, inserts[1:])
             if b[1] >= lo]
    return {
        "http2_transport.batch_write_ms": ms("http2_transport.batch_write"),
        "batcher.submit_ms": ms("batcher.submit"),
        "batcher.trigger_ms": mean(trig),
        "batcher.latest_offset_ms": mean(d("latestOffset")),
        "batcher.plan_ms": mean(d("getBatch", "queryPlanning")),
        "batcher.add_batch_ms": mean(d("addBatch")),
        "batcher.commit_ms": mean(d("walCommit", "commitOffsets")),
        "batcher.trigger_coverage": sum(parts) / sum(trig) if sum(trig) else math.nan,
        "batcher.foreach_batch_coverage": coverage(["batcher.foreach_batch"]),
        "batcher.rows_per_trigger": sum(
            c["rows"] for c in stats.calls.values()
            if lo <= c.get("visible", -1.0) <= hi) / max(1, len(progress)),
        "batcher.triggers": len(progress),
        "batcher.queue_wait_ms": pct(vis_after_ack, 50) - mean(trig) - poll_period_ms / 2,
        "batcher.backlog_calls_max": stats.backlog_max,
        "batcher.spark_jobs_per_batch": doc["jobs"].get("stream", 0) / max(1, n_batches),
        "writer.normalize_ms": ms("writer.normalize"),
        "writer.insert_ms": ms("writer.insert"),
        "writer.files_per_batch": mean(added),
        "rollup_view.apply_ms": ms("rollup_view.apply"),
        "http.logs_handler_ms": ms("http.logs_handler"),
        "http.query_handler_ms": ms("http.query_handler"),
        "http.stats_handler_ms": ms("http.stats_handler"),
        "http.handler_coverage": coverage(handlers),
        "http.transport_ms": 1000 * (client_s - handler_s) / max(1, len(client_reads)),
        "query_logs.plan_ms": ms("query_logs.plan"),
        "ch_dialect.translate_ms": ms("ch_dialect.translate"),
        "http.collect_ms": ms("http.collect"),
        "http.spark_jobs_per_query": doc["jobs"].get("api-query", 0) / max(1, n_collect),
        "writer.read_ms": ms("writer.read"),
        "writer.table_files": mean0(attr("writer.read", "files")),
        "http.query_cache_hit_ratio": cache.get("hits", 0) / lookups if lookups else 0.0,
        "rollup_view.query_ms": ms("rollup_view.query"),
        "rollup_view.state_files": mean0(attr("rollup_view.query", "state_files")),
        "server.cpu_share": phases["cpu_share"],
        "loadgen.lag_max_ms": 1000 * stats.lag_max_s,
        # the tracer's own time (wrappers outside the wrapped calls, the
        # sampler) against the traced work it recorded
        "trace.overhead_ratio": 1 + doc["overhead_s"] / sum(
            s[2] - s[1] for s in spans if s[3] < 0),
    }


def _epoch_to_mono(iso: str, doc: dict) -> float:
    t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
    return t - doc["epoch_minus_mono"]


def fmt(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "n/a"
        return f"{v:.4g}" if abs(v) < 1e4 else f"{v:.0f}"
    return str(v)


def run(args) -> dict:
    if not os.path.exists(os.path.join(ROOT, "clickhouse_observability_spark", "server.py")):
        raise BenchError("the program (clickhouse_observability_spark) is not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    rows = 20_000 if args.tiny else PRELOAD_ROWS
    t_pre = time.monotonic()
    preload = ensure_preload(rows)
    preload_build_s = time.monotonic() - t_pre
    with open(os.path.join(preload, "preload.json")) as f:
        preload_meta = json.load(f)
    for old in os.listdir(WORK):  # left behind by an interrupted run
        if old.startswith("run-") and not pid_alive(int(old.rsplit("-", 1)[1])):
            keep_logs(os.path.join(WORK, old))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = measure(args, run_dir, preload)
    except BaseException as e:
        keep_logs(run_dir)
        if isinstance(e, BenchError):
            raise BenchError(f"{e}\n(server log kept under {WORK}/failed/)") from e
        raise
    shutil.rmtree(run_dir, ignore_errors=True)
    result.update({"preload_build_s": preload_build_s, "preload": preload_meta})
    return result


def measure(args, run_dir: str, preload: str) -> dict:
    spec = WORKLOADS[args.workload]
    run_tag = f"r{args.seed}"
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    preload_files: dict[str, int] = {}
    if spec["preload"]:
        for sub in ("logs", "mv"):
            shutil.copytree(os.path.join(preload, sub), os.path.join(data_dir, sub))
        preload_files = dir_files(os.path.join(data_dir, "logs"))
    server, setup_s = boot(run_dir, data_dir, bool(args.trace), "serve")
    stats = Stats(server.http_port, server.grpc_port)
    marks = [time.monotonic()]
    try:
        warm_up(stats, spec, run_tag, args.seed)
        marks.append(time.monotonic())
        stats.backlog_max = 0
        stats.lag_max_s = 0.0
        phases = drive(stats, spec, args.seed, run_tag, args.seconds, server)
        marks.append(time.monotonic())
        checks = post_window_sample(stats, spec, args.seed, run_tag)
        phases["checks_end"] = time.monotonic()
        marks.append(phases["checks_end"])
    finally:
        server.stop()
    marks.append(time.monotonic())
    audit_res = audit(data_dir, run_tag, stats, checks, preload_files)
    marks.append(time.monotonic())
    e2e = end_to_end(stats, phases, spec, setup_s, server, audit_res)
    calls = list(stats.calls.values())
    # one operation per call, per read request (sentinel polls included),
    # per call's row audit and per DuckDB comparison
    attempted = 2 * len(calls) + len(stats.reads) + len(stats.polls) + len(checks)
    failed = (sum(1 for c in calls if "visible" not in c)  # unacked or never visible
              + sum(1 for r in stats.reads + stats.polls if not r["ok"])
              + audit_res["lost_calls"] + audit_res["mismatches"])
    e2e["error_ratio"] = failed / attempted
    steps = ("warm-up", "load", "checks", "stop", "audit")
    result = {"e2e": e2e, "attempted": attempted, "failed": failed, "audit": audit_res,
              "errors": stats.errors,
              "phase_s": {"boot": setup_s, **{k: b - a for k, a, b in
                                              zip(steps, marks, marks[1:])}}}
    if args.trace:
        with open(server.spans_path) as f:
            doc = json.load(f)
        result["layers"] = per_layer(doc, stats, phases)
    return result


def listed_metrics() -> tuple[dict, dict]:
    """(gated end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    lists them."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        raise BenchError(f"cannot read BENCHMARK.json: {e}")
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser(description="Service benchmark on a live EngineServer.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="20k-row preload (self-tests)")
    args = ap.parse_args()
    # SIGTERM unwinds through the finally blocks that stop the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        gated, per_layer_units = listed_metrics()
        res = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(f"workload {args.workload}  seed {args.seed}  window {args.seconds:g} s  "
          f"trace {args.trace}  cores {os.cpu_count()}")
    for name, unit in END_TO_END.items():
        if name in res["e2e"]:
            print(f"  {name:<24} {fmt(res['e2e'][name]):>12} {unit}")
    print("  samples: " + "  ".join(f"{k} {v}" for k, v in res["e2e"]["n"].items()))
    print("  phases: " + "  ".join(f"{k} {v:.1f} s" for k, v in res["phase_s"].items()))
    a = res["audit"]
    print(f"  audit: lost_calls {a['lost_calls']} lost_rows {a['lost_rows']} "
          f"dup_rows {a['dup_rows']} check_mismatches {a['mismatches']} "
          f"table_files {a['table_files']}")
    pre = res["preload"]
    print(f"  preload: {pre['rows']} rows, writer.bulk_insert_s {pre['bulk_insert_s']:.3f} s "
          f"when built; ready in {res['preload_build_s']:.1f} s")
    for err in res["errors"][:10]:
        print(f"  error: {err}")
    if args.trace:
        print("  per-layer:")
        for name, unit in per_layer_units.items():
            print(f"    {name:<34} {fmt(res['layers'].get(name, math.nan)):>12} {unit}")
        units, values = per_layer_units, res["layers"]
    else:
        # a workload without ingest (query) has no ingest metrics
        units = {m: u for m, u in gated.items() if m in res["e2e"]}
        values = res["e2e"]
    metrics = {}
    for name, unit in units.items():
        v = values.get(name, math.nan)
        metrics[name] = {"value": None if isinstance(v, float) and math.isnan(v) else v,
                         "unit": unit}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Query API parity layer (SURVEY.md §2.11; reference internal/api/api.go).

Re-implements the reference HTTP surface's CONTRACT — parameter
validation rules, status codes, and the JSON response envelope — as a
transport-agnostic handler plus an optional stdlib HTTP server. The
heavy lifting is the same `query_logs` plan as everywhere else;
this layer only parses, validates, and encodes.

Validation rules mirrored 1:1 from api.go:
- service required, else 400                      (api.go:41-46)
- from/to required RFC3339, 400 on parse error    (api.go:48-63)
- UTC normalization of from/to                    (api.go:66-67)
- level/user optional                             (api.go:69-70)
- limit optional positive int, default 100        (api.go:72-82)
- 400 if from > to                                (api.go:85-89)
- 405 on non-GET                                  (api.go:32-36)
- 30 s query timeout                              (api.go:95-96)
- envelope {logs, count, query:{echo}}            (api.go:108-126)
- GET /api/ping -> "pong"                         (api.go:23-26)
- GET /live, /ready -> 200 empty                  (main.go:58-59)
"""

from __future__ import annotations

import datetime as dt
import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from clickhouse_observability_spark.operators.query_logs import query_logs

DEFAULT_LIMIT = 100  # api.go:73
QUERY_TIMEOUT_S = 30  # api.go:95
# Safety divergence from the reference (which accepts any positive
# limit and lets ClickHouse stream): Spark's top-k allocates O(limit)
# buffers per task, so an unbounded limit is a one-request OOM. Bound
# it at the boundary.
MAX_LIMIT = 100_000


@dataclass
class ApiError(Exception):
    status: int
    message: str


def _parse_rfc3339(name: str, raw: str | None) -> dt.datetime:
    if not raw:
        raise ApiError(400, f"missing required parameter: {name}")
    try:
        d = dt.datetime.fromisoformat(raw.replace("Z", "+00:00"))
    except ValueError:
        raise ApiError(400, f"invalid {name}: must be RFC3339") from None
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d.astimezone(dt.timezone.utc)  # api.go:66-67 .UTC()


MAX_QUERY_ROWS = 10_000  # /v1/query result cap (one-request OOM guard)
# /v1/query result cache (CH `use_query_cache` analogue): dashboards
# re-issue identical statements every refresh tick; serving repeats
# from memory keeps the cluster for real work. Entries are keyed by
# (statement, logs-table fingerprint), so ANY ingest invalidates —
# correctness first, hit rate second. QUERY_CACHE_TTL_S=0 disables.
QUERY_CACHE_TTL_S = 60
QUERY_CACHE_MAX_ENTRIES = 128


class _QueryCache:
    """Tiny LRU with TTL; keys carry the data fingerprint so stale
    results are unreachable, TTL just bounds memory residency.
    Thread-safe: ThreadingHTTPServer calls get/put concurrently."""

    def __init__(self, ttl_s: float, max_entries: int):
        import collections
        import threading

        self.ttl_s = ttl_s
        self.max_entries = max_entries
        self._d: "collections.OrderedDict[tuple, tuple[float, object]]" = (
            collections.OrderedDict())
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get(self, key):
        import time

        with self._lock:
            ent = self._d.get(key)
            if ent is None or time.monotonic() - ent[0] > self.ttl_s:
                self._d.pop(key, None)
                self.misses += 1
                return None
            self._d.move_to_end(key)
            self.hits += 1
            return ent[1]

    def put(self, key, value):
        import time

        with self._lock:
            self._d[key] = (time.monotonic(), value)
            self._d.move_to_end(key)
            while len(self._d) > self.max_entries:
                self._d.popitem(last=False)


# CH's use_query_cache refuses nondeterministic statements for the
# same reason we must: a cached now() freezes time for TTL seconds.
_NONDETERMINISTIC = ("now", "today", "yesterday", "rand",
                     "current_timestamp", "current_date", "uuid")
_NONDET_RE = None


def _is_cacheable(q: str) -> bool:
    global _NONDET_RE
    import re as _re

    if _NONDET_RE is None:
        _NONDET_RE = _re.compile(
            r"\b(" + "|".join(_NONDETERMINISTIC) + r")\s*\(",
            _re.IGNORECASE)
    # system views mutate outside the logs-file fingerprint the cache
    # keys on (query_log grows per request, tables changes on MV
    # attach) — never cache statements that read them
    if _re.search(r"\bsystem\s*[._]", q, _re.IGNORECASE):
        return False
    return _NONDET_RE.search(q) is None


def _json_safe(v):
    """Row values -> JSON-encodable, recursively (dates, Decimal,
    bytes, and datetimes nested in arrays/structs/maps)."""
    import base64
    import decimal

    if isinstance(v, dt.datetime):
        return v.isoformat() + "Z"
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v

# Spark -> ClickHouse type names for the /v1/query meta block (the
# public CH HTTP FORMAT JSON shape: {"meta", "data", "rows"}).
_CH_TYPE = {
    "string": "String", "bigint": "Int64", "int": "Int32",
    "double": "Float64", "float": "Float32", "boolean": "Bool",
    "timestamp": "DateTime64(6)", "date": "Date",
}


def _skip_prune_sets(table, exprs, value):
    """ClickHouse consults data-skipping indexes automatically inside
    its scan; the analog hook on the reference's own endpoint: a
    /v1/logs equality filter probes a MATERIALIZED set/minmax index
    whose expression matches the filter's column (`exprs` lists the
    acceptable spellings — e.g. the attrs-user predicate in either
    CH or Spark vocabulary). Returns the (keep, skip) file sets of
    the first matching index, or None (no usable index). The CALLER
    intersects multiple probes (level AND user both filter, so a
    file either index rules out is skipped — r8 took only the LAST
    probe's verdict) and assembles ONE pruned read. Conservative by
    construction — no index, an unbuilt one, or a set-overflow
    summary keeps everything; set/minmax probes are driver-side
    sidecar lookups under the fast-path threshold, zero extra Spark
    jobs on the request path (bloom types, which need a hash job,
    are deliberately not consulted here)."""
    from clickhouse_observability_spark.sources.skip_index import (
        SkipIndex,
    )

    want = {e.replace(" ", "").lower() for e in exprs}
    for idx in SkipIndex.load_all(table.path):
        if (idx.meta["expr"].replace(" ", "").lower() in want
                and idx.meta["type"] in ("set", "minmax")
                and idx.is_materialized()):
            return idx.prune(table.spark, value)
    return None


# the P5 predicate's expression (db.go:93-96) in the spellings an
# ADD INDEX statement produces: the dialect translates CH
# JSONExtractString to get_json_object
_USER_EXPRS = ("get_json_object(attrs, '$.user')",
               "get_json_object(attrs,'$.user')")


class LogsApi:
    """Transport-agnostic handler over a logs DataFrame provider."""

    def __init__(self, logs_df_provider, logs_table=None, rollup_view=None):
        """logs_df_provider: () -> DataFrame with the logs schema.
        logs_table: optional LogsTable — enables INSERT via /v1/query.
        rollup_view: optional streaming RollupView — enables /v1/stats.
        """
        self._provider = logs_df_provider
        self._table = logs_table
        self._view = rollup_view
        # skip-index pruning swaps the provider's frame for a pruned
        # RE-READ of the table, so it is only sound when the provider
        # IS the table's raw read (any injected transformation would
        # be silently bypassed — ADVICE r8)
        self._prunable = (
            logs_table is not None and logs_df_provider == logs_table.read
        )
        import os as _os

        try:
            ttl = float(_os.environ.get("QUERY_CACHE_TTL_S",
                                        QUERY_CACHE_TTL_S))
        except ValueError:
            ttl = QUERY_CACHE_TTL_S
        self._cache = (_QueryCache(ttl, QUERY_CACHE_MAX_ENTRIES)
                       if ttl > 0 else None)
        from clickhouse_observability_spark.api.query_log import QueryLog

        # the system.query_log analogue: every handler invocation is
        # recorded (route, detail, status, duration, rows) in a
        # bounded in-memory buffer — O(1) on the request path, flushed
        # to an at-rest parquet table by a periodic job
        self.query_log = QueryLog()

    def _table_fingerprint(self) -> tuple:
        """Cheap change detector for the logs table: one listdir of
        the table root + per-partition-dir mtimes (appends create
        part files, bumping their partition dir), PLUS every tier
        volume root (r12: a rewrite of a cold month bumps only its
        dir under `_tiers/<vol>/` — invisible to the base listing,
        so a tiered-month mutation must still invalidate the cache).
        O(#partitions) across volumes, never O(#files)."""
        import os as _os

        from clickhouse_observability_spark.sources.tiering import (
            tier_roots,
        )

        if self._table is None:
            return ("no-table",)
        out = []
        try:
            for vol, root in tier_roots(self._table.path):
                for e in sorted(_os.listdir(root)):
                    out.append(
                        (vol, e,
                         _os.stat(_os.path.join(root, e)).st_mtime_ns))
            return tuple(out)
        except OSError:
            return ("missing",)

    def _instrumented(self, route, detail, rows_key, impl, *args):
        """Record one handler invocation in the query log around
        `impl(*args)` — route, detail, status, duration, result rows
        (pulled from the envelope's `rows_key`), and error."""
        with self.query_log.timed(route, detail=detail) as t:
            status, body = impl(*args)
            t.status = status
            if isinstance(body, dict):
                t.result_rows = body.get(rows_key)
                t.error = body.get("error")
        return status, body

    # -- GET /v1/logs ---------------------------------------------------
    def query_logs_handler(self, params: dict, method: str = "GET") -> tuple[int, dict]:
        return self._instrumented(
            "/v1/logs", params.get("service") or "", "count",
            self._query_logs_impl, params, method,
        )

    def _query_logs_impl(self, params: dict, method: str = "GET") -> tuple[int, dict]:
        if method != "GET":
            return 405, {"error": "method not allowed"}  # api.go:32-36
        try:
            service = params.get("service")
            if not service:
                raise ApiError(400, "missing required parameter: service")
            frm = _parse_rfc3339("from", params.get("from"))
            to = _parse_rfc3339("to", params.get("to"))
            if frm > to:
                raise ApiError(400, "from must be <= to")  # api.go:85-89
            raw_limit = params.get("limit")
            limit = DEFAULT_LIMIT
            if raw_limit is not None:
                try:
                    limit = int(raw_limit)
                except (TypeError, ValueError):
                    raise ApiError(400, "limit must be a positive integer") from None
                if limit <= 0:
                    raise ApiError(400, "limit must be a positive integer")
                if limit > MAX_LIMIT:
                    raise ApiError(400, f"limit too large (max {MAX_LIMIT})")
            level = params.get("level") or None
            user = params.get("user") or None
            base = self._provider()
            if self._prunable:
                probes = []
                if level:
                    probes.append((("level",), level))
                if user:
                    probes.append((_USER_EXPRS, user))
                sets = [s for s in (
                    _skip_prune_sets(self._table, exprs, v)
                    for exprs, v in probes) if s is not None]
                if sets:
                    # both filters apply (AND): a file EITHER index
                    # rules out is skipped; kept = kept-by-some minus
                    # skipped-by-any; unreconciled files scan
                    from clickhouse_observability_spark.sources import (
                        skip_index as _six,
                    )

                    skip = set().union(*(s for _, s in sets))
                    keep = set().union(*(k for k, _ in sets)) - skip
                    base, _ = _six._assemble_pruned(
                        self._table.spark, self._table.path, keep, skip)
            df = query_logs(
                base,
                service,
                frm.replace(tzinfo=None),
                to.replace(tzinfo=None),
                level=level,
                user=user,
                limit=limit,
            )
            rows = self._collect_with_timeout(df)
        except ApiError as e:
            # covers validation 400s AND the 504 query timeout raised
            # by _collect_with_timeout (api.go:95-96 behavior)
            return e.status, {"error": e.message}
        except Exception:
            # execution failure -> 500 envelope, never a crashed request
            return 500, {"error": "internal error"}
        logs = [
            {
                "Ts": r["ts"].isoformat() + "Z",
                "Service": r["service"],
                "Level": r["level"],
                "Msg": r["msg"],
                "Attrs": json.loads(r["attrs"]) if r["attrs"] else {},
                "TraceID": r["trace_id"],
                "SpanID": r["span_id"],
            }
            for r in (row.asDict() for row in rows)
        ]
        envelope = {
            "logs": logs,
            "count": len(logs),  # count of the LIMITED result (api.go:110)
            "query": {
                "service": service,
                "from": frm.strftime("%Y-%m-%dT%H:%M:%S%z").replace("+0000", "Z"),
                "to": to.strftime("%Y-%m-%dT%H:%M:%S%z").replace("+0000", "Z"),
                "level": level or "",
                "user": user or "",
                "limit": limit,
            },
        }
        return 200, envelope

    @staticmethod
    def _collect_with_timeout(df: DataFrame, timeout_s: int = QUERY_TIMEOUT_S):
        """30 s query budget (api.go:95-96) via an interruptible
        collect on a tagged job group."""
        import threading

        result, error = [], []

        sc = df.sparkSession.sparkContext

        def run():
            try:
                sc.setLocalProperty("spark.jobGroup.id", "api-query")
                result.extend(df.collect())
            except Exception as e:  # pragma: no cover
                error.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            sc.cancelJobGroup("api-query")
            raise ApiError(504, "query timeout")
        if error:
            raise error[0]
        return result

    # -- GET/POST /v1/query (ClickHouse HTTP interface analogue) -------
    def query_handler(self, q: str | None) -> tuple[int, dict]:
        return self._instrumented(
            "/v1/query", (q or "")[:500], "rows", self._query_impl, q,
        )

    def _query_impl(self, q: str | None) -> tuple[int, dict]:
        """Execute one ClickHouse-dialect SQL statement — the engine's
        analogue of CH's HTTP interface (`:8123/?query=`), which the
        reference's docker-exec client commands (README.md:86-107)
        ultimately hit. SELECT/DESCRIBE return the public CH
        FORMAT JSON envelope {meta, data, rows}; INSERT routes through
        the write path and returns {inserted}."""
        from clickhouse_observability_spark.functions.ch_dialect import (
            ChDialectError,
            ch_sql,
            split_format_clause,
        )

        if not q or not q.strip():
            return 400, {"error": "missing query"}
        # CH parity AND a server hygiene line: INTO OUTFILE is a
        # CLIENT-side statement; clickhouse-server refuses it on the
        # HTTP interface (a remote caller must not write files into
        # the server's filesystem through SQL)
        if re.search(r"\bINTO\s+OUTFILE\b", q, re.IGNORECASE):
            return 400, {"error": "INTO OUTFILE is not allowed over "
                         "the HTTP interface (ClickHouse refuses it "
                         "there too); it is a client-side statement"}
        # CH clients suffix `FORMAT <name>`: honor the common output
        # shapes (translate() strips the clause for execution either
        # way; the envelope is rendered per format below)
        _, fmt = split_format_clause(q)
        fmt_l = (fmt or "json").lower()
        if fmt_l not in ("json", "jsoneachrow", "tsv", "tabseparated",
                        "csv"):
            return 400, {"error": f"unsupported FORMAT {fmt}"}
        cache_key = None
        # cacheable only when invalidation is possible (a table to
        # fingerprint) and the statement is deterministic
        if (self._cache is not None and self._table is not None
                and _is_cacheable(q)
                # MV stores mutate on refresh/compact/drop+recreate
                # without touching the logs files the key fingerprints
                and not any(mv.name in q
                            for mv in self._table.materialized_views)):
            cache_key = (q.strip(), self._table_fingerprint())
            cached = self._cache.get(cache_key)
            if cached is not None:
                return 200, cached
        try:
            df = self._provider()
            views = {"logs": df}
            # legacy dot-free spelling kept working; the CH-spelled
            # `system.parts` / `system.columns` / `system.tables` /
            # `system.query_log` are rewritten+registered inside
            # ch_sql itself
            if self._table is not None and "system_parts" in q:
                views["system_parts"] = self._table.parts_df()
            res = ch_sql(df.sparkSession, q, logs=self._table,
                         views=views, query_log=self.query_log)
            if isinstance(res, int):
                return 200, {"inserted": res}
            limited = res.limit(MAX_QUERY_ROWS)
            rows = self._collect_with_timeout(limited)
        except ChDialectError as e:
            return 400, {"error": str(e)}
        except ApiError as e:
            return e.status, {"error": e.message}
        except Exception as e:
            # analysis errors (unknown column/table) are client errors
            name = type(e).__name__
            if "Analysis" in name or "Parse" in name:
                return 400, {"error": str(e).split("\n")[0][:500]}
            return 500, {"error": "internal error"}
        meta = [
            {"name": f.name,
             "type": _CH_TYPE.get(f.dataType.simpleString(),
                                  f.dataType.simpleString())}
            for f in limited.schema
        ]
        data = [
            {k: _json_safe(v)
             for k, v in row.asDict(recursive=True).items()}
            for row in rows
        ]
        if fmt_l == "jsoneachrow":
            envelope = "\n".join(json.dumps(d) for d in data) + (
                "\n" if data else "")
        elif fmt_l in ("tsv", "tabseparated", "csv"):
            sep = "\t" if fmt_l != "csv" else ","
            envelope = "".join(
                sep.join("" if d[m["name"]] is None else str(d[m["name"]])
                         for m in meta) + "\n"
                for d in data)
        else:
            envelope = {"meta": meta, "data": data, "rows": len(data)}
        if cache_key is not None:
            self._cache.put(cache_key, envelope)
        return 200, envelope

    # -- GET /v1/stats (served from the streaming rollup view) ---------
    def stats_handler(self, params: dict) -> tuple[int, dict]:
        return self._instrumented(
            "/v1/stats", params.get("granularity", "hour"), "count",
            self._stats_impl, params,
        )

    def _stats_impl(self, params: dict) -> tuple[int, dict]:
        """Dashboard aggregates answered from MERGEABLE STATES — the
        at-scale read path: touches |buckets| x |dims| state rows,
        never the raw logs table."""
        if self._view is None:
            return 404, {"error": "stats view not configured"}
        try:
            gran = params.get("granularity", "hour")
            if gran not in ("hour", "day"):
                raise ApiError(400, "granularity must be hour or day")
            spark = self._provider().sparkSession
            df = self._view.query(spark, granularity=gran)
            service = params.get("service")
            level = params.get("level")
            if service:
                df = df.filter(df["service"] == service)
            if level:
                df = df.filter(df["level"] == level)
            if params.get("from"):
                df = df.filter(
                    df["bucket_ts"]
                    >= _parse_rfc3339("from", params["from"]).replace(tzinfo=None))
            if params.get("to"):
                df = df.filter(
                    df["bucket_ts"]
                    < _parse_rfc3339("to", params["to"]).replace(tzinfo=None))
            rows = self._collect_with_timeout(df.orderBy("bucket_ts"))
        except ApiError as e:
            return e.status, {"error": e.message}
        except Exception:
            return 500, {"error": "internal error"}
        stats = [
            {
                "Bucket": r["bucket_ts"].isoformat() + "Z",
                "Service": r["service"],
                "Level": r["level"],
                "Count": r["cnt"],
                "UniqTraces": r["uniq_users_est"],
                "MsgLenP50": r["p50"],
                "MsgLenP95": r["p95"],
                "MsgLenP99": r["p99"],
            }
            for r in (row.asDict() for row in rows)
        ]
        return 200, {"stats": stats, "count": len(stats),
                     "granularity": gran}

    # -- GET /v1/alerts (SLO burn rate over the view's states) ---------
    def alerts_handler(self, params: dict) -> tuple[int, dict]:
        return self._instrumented(
            "/v1/alerts", params.get("service") or "", "count",
            self._alerts_impl, params,
        )

    def _alerts_impl(self, params: dict) -> tuple[int, dict]:
        """Per-service error-budget burn panel answered from the
        MATERIALIZED VIEW's hour-grain states (never the raw logs):
        n_total/n_errors per (hour, service) come from the merged
        (service, level) state rows, then the multi-window burn-rate
        scorer runs per service. `?all=1` returns every scored
        bucket; default returns only paging rows (the alert feed)."""
        if self._view is None:
            return 404, {"error": "alerts view not configured"}
        try:
            try:
                target = float(params.get("target", "0.05"))
                threshold = float(params.get("threshold", "6"))
                window = int(params.get("window", "6"))
            except ValueError:
                raise ApiError(400, "target/threshold/window malformed")
            if not (0 < target <= 1) or threshold <= 0 or window < 1:
                raise ApiError(
                    400, "need 0 < target <= 1, threshold > 0, window >= 1")
            from clickhouse_observability_spark.operators import (
                anomaly as AN,
            )

            spark = self._provider().sparkSession
            states = self._view.query(spark, granularity="hour")
            rates = states.groupBy(
                F.col("bucket_ts").alias("bucket"), "service"
            ).agg(
                F.sum("cnt").alias("n_total"),
                F.sum(
                    F.when(F.col("level") == "ERROR", F.col("cnt"))
                    .otherwise(F.lit(0))
                ).alias("n_errors"),
            )
            if params.get("service"):
                rates = rates.filter(
                    F.col("service") == params["service"])
            scored = AN.slo_burn_rates(
                rates, target=target, long_window_buckets=window,
                threshold=threshold, dims=("service",),
            )
            if params.get("all") != "1":
                scored = scored.filter(F.col("page"))
            rows = self._collect_with_timeout(
                scored.orderBy("bucket", "service"))
        except ApiError as e:
            return e.status, {"error": e.message}
        except Exception:
            return 500, {"error": "internal error"}
        alerts = [
            {
                "Bucket": r["bucket"].isoformat() + "Z",
                "Service": r["service"],
                "Total": r["n_total"],
                "Errors": r["n_errors"],
                "BurnShort": r["burn_short"],
                "BurnLong": r["burn_long"],
                "Page": r["page"],
            }
            for r in (row.asDict() for row in rows)
        ]
        return 200, {
            "alerts": alerts, "count": len(alerts),
            "target": target, "threshold": threshold,
            "window_hours": window,
        }

    # -- GET /v1/query_log (system.query_log analogue) -----------------
    def query_log_handler(self, params: dict) -> tuple[int, dict]:
        """Recent API requests with timing and outcome — the engine
        observing itself. Served from the in-memory buffer (never a
        Spark job); this meta-route is deliberately NOT self-recorded
        so polling the log doesn't fill the log."""
        try:
            limit = int(params.get("limit", "100"))
        except (TypeError, ValueError):
            return 400, {"error": "limit must be an integer"}
        if limit <= 0:
            return 400, {"error": "limit must be a positive integer"}
        rows = self.query_log.snapshot()[-limit:]
        recs = [
            {
                "Ts": ts.isoformat() + "Z",
                "Route": route,
                "Detail": detail,
                "Status": status,
                "DurationMs": round(duration_ms, 3),
                "ResultRows": result_rows,
                "Error": error,
            }
            for (ts, route, detail, status, duration_ms,
                 result_rows, error) in rows
        ]
        return 200, {"queries": recs, "count": len(recs)}

    # -- ops endpoints --------------------------------------------------
    @staticmethod
    def ping_handler() -> tuple[int, str]:
        return 200, "pong"  # api.go:23-26

    @staticmethod
    def live_handler() -> tuple[int, str]:
        return 200, ""  # main.go:58

    @staticmethod
    def ready_handler() -> tuple[int, str]:
        return 200, ""  # main.go:59

    # -- optional stdlib HTTP transport --------------------------------
    def serve(self, host: str = "127.0.0.1", port: int = 8080):
        """Start a blocking stdlib HTTP server exposing the reference
        routes. Returns the server (call .shutdown() from another
        thread to stop)."""
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import parse_qsl, urlparse

        api = self

        class Handler(BaseHTTPRequestHandler):
            # TCP_NODELAY: a reply must not wait for the client's
            # delayed ACK
            disable_nagle_algorithm = True

            def log_message(self, *a):  # silence
                pass

            def _send(self, status: int, body, content_type="application/json"):
                raw = (
                    json.dumps(body).encode()
                    if not isinstance(body, str)
                    else body.encode()
                )
                self.send_response(status)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def do_GET(self):
                u = urlparse(self.path)
                if u.path == "/v1/logs":
                    status, body = api.query_logs_handler(dict(parse_qsl(u.query)))
                    self._send(status, body)
                elif u.path == "/v1/query":
                    q = dict(parse_qsl(u.query)).get("q")
                    status, body = api.query_handler(q)
                    self._send(status, body,
                               content_type="text/plain; charset=utf-8"
                               if isinstance(body, str)
                               else "application/json")
                elif u.path == "/v1/stats":
                    self._send(*api.stats_handler(dict(parse_qsl(u.query))))
                elif u.path == "/v1/alerts":
                    self._send(*api.alerts_handler(dict(parse_qsl(u.query))))
                elif u.path == "/v1/query_log":
                    self._send(*api.query_log_handler(dict(parse_qsl(u.query))))
                elif u.path == "/api/ping":
                    self._send(*api.ping_handler(), content_type="text/plain")
                elif u.path == "/live":
                    self._send(*api.live_handler(), content_type="text/plain")
                elif u.path == "/ready":
                    self._send(*api.ready_handler(), content_type="text/plain")
                else:
                    self._send(404, {"error": "not found"})

            def do_POST(self):
                u = urlparse(self.path)
                if u.path == "/v1/logs":
                    self._send(405, {"error": "method not allowed"})
                elif u.path == "/v1/query":
                    # CH HTTP interface also accepts the query as the
                    # POST body
                    n = int(self.headers.get("Content-Length") or 0)
                    q = self.rfile.read(n).decode("utf-8", "replace")
                    status, body = api.query_handler(q)
                    self._send(status, body,
                               content_type="text/plain; charset=utf-8"
                               if isinstance(body, str)
                               else "application/json")
                else:
                    self._send(404, {"error": "not found"})

        server = ThreadingHTTPServer((host, port), Handler)
        return server

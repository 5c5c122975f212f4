"""Seeded inputs for the service benchmark: ingest rows and the read mix.

Everything a run sends is a function of its `--seed`; the preloaded
table is a function of DATASET_SEED alone, so it can be built once per
checkout and copied into each run. This module imports nothing from
the program, so a change to the program cannot change the load.

Time layout (all UTC): the preload spans the PRELOAD_HOURS before T0;
ingested rows fall in the last INGEST_HOURS before T0, so reads over
recent windows see fresh rows; sentinel rows sit at T0 + call number
in ms under their own service, so the poller reads only them.
"""

from __future__ import annotations

import datetime as dt
import random
import urllib.parse

DATASET_SEED = 20260115
PRELOAD_FORMAT = 1  # bump when the preload's rows or layout change
T0 = dt.datetime(2026, 1, 15, tzinfo=dt.timezone.utc)
PRELOAD_HOURS = 7 * 24
INGEST_HOURS = 24

SERVICES = tuple(f"svc-{i:02d}" for i in range(16))
SERVICE_WEIGHTS = (20, 14, 11, 9, 8, 7, 6, 5, 4, 4, 3, 3, 2, 2, 1, 1)
LEVELS = ("DEBUG", "INFO", "WARN", "ERROR")
LEVEL_WEIGHTS = (20, 60, 15, 5)
METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
RESOURCES = ("items", "orders", "users", "carts", "search", "auth")
REGIONS = ("eu-1", "us-1", "us-2", "ap-1")
STATUSES = ("200", "200", "200", "200", "201", "404", "500")
N_USERS = 2000
SENTINEL_SERVICE = "perfbench-sentinel"
WARMUP_SERVICE = "perfbench-warmup"


def weighted(values, weights) -> list:
    """Values repeated by weight: a uniform pick over the result is a
    weighted pick (the preload's hash expressions use it)."""
    return [v for v, w in zip(values, weights) for _ in range(w)]


def preload_start_us() -> int:
    start = T0 - dt.timedelta(hours=PRELOAD_HOURS)
    return int(start.timestamp()) * 1_000_000


def rfc3339_ms(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def sql_ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def sentinel_ts(call_no: int) -> dt.datetime:
    return T0 + dt.timedelta(milliseconds=call_no)


class IngestGen:
    """Wire rows for BatchWrite calls. Call `n` carries `rows - 1`
    log rows plus one sentinel row; every row's trace_id embeds the
    run tag and call number, so the table can be audited per call."""

    def __init__(self, seed: int, run_tag: str, service: str = SENTINEL_SERVICE):
        self.rng = random.Random(seed * 7919 + 1)
        self.run_tag = run_tag
        self.sentinel_service = service
        self._services = weighted(SERVICES, SERVICE_WEIGHTS)
        self._levels = weighted(LEVELS, LEVEL_WEIGHTS)
        self._span_ms = INGEST_HOURS * 3600 * 1000

    def call(self, call_no: int, rows: int) -> list[dict]:
        rng = self.rng
        out = []
        for i in range(rows - 1):
            status = rng.choice(STATUSES)
            t = T0 - dt.timedelta(milliseconds=rng.randrange(1, self._span_ms))
            out.append({
                "ts": rfc3339_ms(t),
                "service": rng.choice(self._services),
                "level": rng.choice(self._levels),
                "msg": f"{rng.choice(METHODS)} /api/v1/{rng.choice(RESOURCES)}/"
                       f"{rng.randrange(100000)} {status} in {rng.randrange(2000)}ms",
                "attrs": {"user": f"u{rng.randrange(N_USERS)}",
                          "region": rng.choice(REGIONS), "status": status},
                "trace_id": f"{self.run_tag}-{call_no:06d}-{i:04d}",
                "span_id": f"{rng.getrandbits(32):08x}",
            })
        out.append(self.sentinel(call_no))
        return out

    def sentinel(self, call_no: int) -> dict:
        return {
            "ts": rfc3339_ms(sentinel_ts(call_no)),
            "service": self.sentinel_service,
            "level": "INFO",
            "msg": f"sentinel {self.run_tag} {call_no}",
            "attrs": {"call": str(call_no)},
            "trace_id": f"{self.run_tag}-{call_no:06d}-s",
            "span_id": "00000000",
        }


class Read:
    """One read request: its route, its URL path+query, and (for SQL)
    the DuckDB statement that must give the same rows."""

    __slots__ = ("kind", "route", "url", "params", "sql", "duck")

    def __init__(self, kind, route, params, sql=None, duck=None):
        self.kind = kind
        self.route = route
        self.params = params
        self.sql = sql
        self.duck = duck
        query = {"q": sql} if sql is not None else params
        self.url = route + "?" + urllib.parse.urlencode(query)


# the repeated "dashboard" statements: few enough to fit the server's
# result cache, so an idle table serves them from memory
N_DASHBOARD = 8


class ReadMix:
    """Seeded read requests over the preloaded time range. Kinds are
    dealt from a shuffled deck, so every run has the same mix; windows
    start at a random second, so apart from the dashboard statements
    no two requests repeat and the result cache cannot serve them.
    Window lengths are fixed per kind, and services and /v1/logs filter
    variants are dealt from decks too, so the rows a run's reads touch
    do not depend on luck."""

    # /v1/stats is under 10% of the mix, so p90 over all reads is the
    # tail of the other kinds rather than the edge between two modes
    DECK = (("logs", 8), ("sql_levels", 2), ("sql_top_users", 2),
            ("sql_hourly", 2), ("sql_dashboard", 4), ("stats", 1))

    def __init__(self, seed: int, with_stats: bool, hours: int = PRELOAD_HOURS):
        self.rng = random.Random(seed * 104729 + 2)
        self.hours = hours
        deck = [(k, w) for k, w in self.DECK if with_stats or k != "stats"]
        self._deck = weighted([k for k, _ in deck], [w for _, w in deck])
        self._decks: dict[str, list] = {}

    def _deal(self, name: str, cards) -> object:
        deck = self._decks.get(name)
        if not deck:
            deck = self._decks[name] = list(cards)
            self.rng.shuffle(deck)
        return deck.pop()

    def _window(self, hours: int) -> tuple[dt.datetime, dt.datetime]:
        length = min(hours, self.hours // 2) * 3600
        lo = T0 - dt.timedelta(hours=self.hours)
        start = lo + dt.timedelta(seconds=self.rng.randrange(0, self.hours * 3600 - length))
        return start, start + dt.timedelta(seconds=length)

    def _service(self) -> str:
        return self._deal("service", SERVICES)

    def next(self) -> Read:
        return self.make(self._deal("kind", self._deck))

    def make(self, kind: str) -> Read:
        rng = self.rng
        if kind == "logs":
            frm, to = self._window(6)
            params = {"service": self._service(),
                      "from": frm.strftime("%Y-%m-%dT%H:%M:%SZ"),
                      "to": to.strftime("%Y-%m-%dT%H:%M:%SZ"),
                      "limit": "100"}
            variant = self._deal("logs", ("plain", "plain", "level", "user"))
            if variant == "level":
                params["level"] = rng.choice(LEVELS[1:])
            elif variant == "user":
                params["user"] = f"u{rng.randrange(N_USERS)}"
            return Read(kind, "/v1/logs", params)
        if kind == "stats":
            frm, to = self._window(24)
            params = {"service": self._service(),
                      "from": frm.strftime("%Y-%m-%dT%H:%M:%SZ"),
                      "to": to.strftime("%Y-%m-%dT%H:%M:%SZ")}
            return Read(kind, "/v1/stats", params)
        if kind == "sql_dashboard":
            day = T0 - dt.timedelta(days=1 + rng.randrange(N_DASHBOARD))
            frm, to = day, day + dt.timedelta(days=1)
            where = f"ts >= '{sql_ts(frm)}' AND ts < '{sql_ts(to)}'"
            sql = (f"SELECT service, count() AS c FROM logs WHERE {where} "
                   f"GROUP BY service ORDER BY service")
            duck = (f"SELECT service, count(*) AS c FROM logs WHERE {where} "
                    f"GROUP BY service ORDER BY service")
            return Read(kind, "/v1/query", {}, sql, duck)
        service = self._service()
        if kind == "sql_levels":
            frm, to = self._window(12)
            where = (f"service = '{service}' AND ts >= '{sql_ts(frm)}' "
                     f"AND ts < '{sql_ts(to)}'")
            sql = (f"SELECT level, count() AS c FROM logs WHERE {where} "
                   f"GROUP BY level ORDER BY level")
            duck = (f"SELECT level, count(*) AS c FROM logs WHERE {where} "
                    f"GROUP BY level ORDER BY level")
        elif kind == "sql_top_users":
            frm, to = self._window(24)
            where = (f"level = 'ERROR' AND ts >= '{sql_ts(frm)}' "
                     f"AND ts < '{sql_ts(to)}'")
            sql = (f"SELECT JSONExtractString(attrs, 'user') AS u, count() AS c "
                   f"FROM logs WHERE {where} GROUP BY u ORDER BY c DESC, u LIMIT 10")
            duck = (f"SELECT json_extract_string(attrs, '$.user') AS u, count(*) AS c "
                    f"FROM logs WHERE {where} GROUP BY u ORDER BY c DESC, u LIMIT 10")
        elif kind == "sql_hourly":
            frm, to = self._window(12)
            where = (f"service = '{service}' AND ts >= '{sql_ts(frm)}' "
                     f"AND ts < '{sql_ts(to)}'")
            sql = (f"SELECT toStartOfHour(ts) AS h, countIf(level = 'ERROR') AS errors, "
                   f"count() AS total FROM logs WHERE {where} GROUP BY h ORDER BY h")
            duck = (f"SELECT date_trunc('hour', ts) AS h, "
                    f"count(*) FILTER (WHERE level = 'ERROR') AS errors, "
                    f"count(*) AS total FROM logs WHERE {where} GROUP BY h ORDER BY h")
        else:
            raise ValueError(f"unknown read kind {kind!r}")
        return Read(kind, "/v1/query", {}, sql, duck)

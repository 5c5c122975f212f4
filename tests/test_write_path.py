"""Write path: LogsTable (S2/S3), ingest normalization (F3/F4/ST6),
retention (S4), compaction — SURVEY.md §2.1, §4.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_observability_spark.sources.retention import (
    apply_retention,
    compact_partition,
)
from clickhouse_observability_spark.sources.writer import LogsTable


@pytest.fixture()
def table(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    return t


WIRE_ROWS = [
    {"ts": "2025-09-01T20:05:00.123456789Z", "service": "orders", "level": "INFO",
     "msg": "ok", "attrs": {"user": "jane.smith"}, "trace_id": "t1", "span_id": "s1"},
    {"ts": "not-a-timestamp", "service": "payments", "level": "ERROR",
     "msg": "fallback", "attrs": {}, "trace_id": "t2", "span_id": "s2"},
    {"ts": "2025-08-15T03:00:00Z", "service": "orders", "level": "WARN",
     "msg": "prev month", "attrs": {"b": "2", "a": "1"}, "trace_id": "t3", "span_id": "s3"},
]


def test_ingest_batch_returns_accepted_count(table):
    assert table.ingest_batch(WIRE_ROWS) == 3  # ST4: accepted, not persisted
    assert table.ingest_batch([]) == 0


def test_ingest_normalization(table):
    table.ingest_batch(WIRE_ROWS)
    rows = {r.msg: r for r in table.read().collect()}
    # RFC3339Nano parses, truncated to µs (FIXTURES.md §4)
    assert rows["ok"].ts == dt.datetime(2025, 9, 1, 20, 5, 0, 123456)
    # malformed ts falls back to ingest time (service.go:27-34)
    assert abs((rows["fallback"].ts - dt.datetime.utcnow()).total_seconds()) < 300
    # attrs map -> sorted-key JSON string (db.go:160-165)
    assert rows["prev month"].attrs == '{"a":"1","b":"2"}'
    assert rows["ok"].attrs == '{"user":"jane.smith"}'


def test_monthly_partition_layout(table):
    table.ingest_batch(WIRE_ROWS)
    dirs = {d for d in os.listdir(table.path) if d.startswith("month=")}
    # two real months + the fallback row's ingest-time month
    assert {"month=202509", "month=202508"} <= dirs
    assert len(dirs) == 3


def test_partition_pruning_in_plan(table):
    # The month predicate derived by query_logs must prune directories.
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table.ingest_batch(WIRE_ROWS)
    out = query_logs(
        table.read(), "orders", "2025-09-01 00:00:00", "2025-09-30 00:00:00"
    )
    assert [r.msg for r in out.collect()] == ["ok"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # partition filters present on the scan
    assert "month" in plan


def test_retention_drops_old_months(spark, table):
    table.ingest_batch(WIRE_ROWS)
    res = apply_retention(
        spark, table.path, retention_days=10,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc),
    )
    # cutoff 2025-09-10: month=202508 dropped wholesale; 202509 rewritten exactly
    assert res["dropped_months"] == [202508]
    assert res["rewritten"] == 202509
    msgs = {r.msg for r in table.read().collect()}
    assert "prev month" not in msgs  # old month gone
    assert "ok" not in msgs  # 09-01 is before the 09-10 cutoff
    assert "fallback" in msgs  # ingest-time ts is recent -> kept


def test_retention_exact_boundary(spark, table):
    table.ingest_batch(WIRE_ROWS)
    apply_retention(
        spark, table.path, retention_days=10,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc),
    )
    rows = table.read().collect()
    # 2025-09-01 20:05 < cutoff 2025-09-10 -> removed even within kept month
    assert all(r.ts >= dt.datetime(2025, 9, 10) for r in rows)


def test_retention_dry_run(spark, table):
    table.ingest_batch(WIRE_ROWS)
    before = table.read().count()
    res = apply_retention(
        spark, table.path, retention_days=10,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc), dry_run=True,
    )
    assert res["dry_run"] and res["dropped_months"] == [202508]
    assert res["rewritten"] == 202509
    assert table.read().count() == before  # nothing touched


def test_retention_env_var_parity(spark, table, monkeypatch):
    # db.go:59-66 / main.go:25-27: TTL armed only when $RETENTION_DAYS
    # is set; unset (or garbage) -> no-op, set -> same as the argument.
    table.ingest_batch(WIRE_ROWS)
    before = table.read().count()
    monkeypatch.delenv("RETENTION_DAYS", raising=False)
    res = apply_retention(
        spark, table.path,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc),
    )
    assert res.get("skipped") and table.read().count() == before
    monkeypatch.setenv("RETENTION_DAYS", "ten")
    res = apply_retention(
        spark, table.path,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc),
    )
    assert res.get("skipped")
    monkeypatch.setenv("RETENTION_DAYS", "10")
    res = apply_retention(
        spark, table.path,
        now=dt.datetime(2025, 9, 20, tzinfo=dt.timezone.utc),
    )
    assert res["dropped_months"] == [202508] and res["rewritten"] == 202509


def test_compaction_merges_files(spark, table):
    for _ in range(3):
        table.ingest_batch([WIRE_ROWS[0]])
    part = os.path.join(table.path, "month=202509")
    before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert before >= 3
    merged = compact_partition(spark, table.path, 202509)
    after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert merged == before and after == 1
    assert table.read().filter(F.col("msg") == "ok").count() == 3


def test_optimize_keeps_ingest_codec(spark, table, tmp_path):
    # OPTIMIZE rewrites a month at the codec ingest wrote it with, so a
    # merge of an already-merged month does not re-inflate it
    import glob

    from clickhouse_observability_spark.functions.ch_dialect import ch_sql
    from clickhouse_observability_spark.streaming.batcher import (
        IngestStream,
    )

    stream = IngestStream(spark, table, str(tmp_path / "inbox"),
                          str(tmp_path / "ckpt"))
    stream.submit_many(
        {"ts": f"2025-09-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00Z",
         "service": f"svc-{i % 5}", "level": ("INFO", "WARN")[i % 2],
         "msg": f"GET /api/v1/items/{i * 7919 % 100000} 200 in {i % 900}ms",
         "attrs": {"user": f"u{i % 97}"}, "trace_id": f"t{i:05d}",
         "span_id": f"{i * 2654435761 % 2**32:08x}"}
        for i in range(3000)
    )
    stream.start()
    stream.query.processAllAvailable()
    stream.stop(drain=False)

    def month_bytes():
        return sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(table.path, "month=202509", "*.parquet")))

    streamed = month_bytes()
    assert ch_sql(spark, "OPTIMIZE TABLE logs PARTITION 202509",
                  logs=table) == 1
    assert table.read().count() == 3000
    assert month_bytes() <= 1.02 * streamed


def test_sorted_within_partitions(spark, table):
    # DDL ORDER BY (service, ts): rows inside each file are sorted so
    # parquet row-group stats can skip granules (db.go:52-53 analog).
    table.ingest_batch(
        [
            {"ts": f"2025-09-0{d}T0{h}:00:00Z", "service": s, "level": "INFO",
             "msg": f"{s}{d}{h}", "attrs": {}, "trace_id": "", "span_id": ""}
            for d in (1, 2, 3) for h in (1, 2) for s in ("zeta", "alpha")
        ]
    )
    part = os.path.join(table.path, "month=202509")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(os.path.join(part, f), columns=["service", "ts"])
        pairs = list(zip(t.column("service").to_pylist(), t.column("ts").to_pylist()))
        assert pairs == sorted(pairs)

"""Streaming materialized rollup view (streaming/rollup_view.py +
the batcher's views hook): continuously-maintained states equal a
direct aggregation of the landed logs, retries never double-count
the view (even in the crash window that can duplicate log rows), and
compaction preserves answers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import clickhouse_observability_spark.operators.rollup as R
from clickhouse_observability_spark.sources.writer import LogsTable
from clickhouse_observability_spark.streaming.batcher import IngestStream
from clickhouse_observability_spark.streaming.rollup_view import RollupView


def _rows(n, start=0):
    return [
        {
            "ts": f"2025-07-15T{10 + (start + i) % 3}:{(start + i) % 60:02d}:00Z",
            "service": f"svc-{(start + i) % 3}",
            "level": ("INFO", "ERROR")[(start + i) % 2],
            "msg": "m" * (1 + (start + i) % 40),
            "attrs": {"user": f"u{(start + i) % 7}"},
            "trace_id": f"trace-{(start + i) % 11}",
            "span_id": f"span-{start + i}",
        }
        for i in range(n)
    ]


@pytest.fixture()
def stream(spark, tmp_path):
    table = LogsTable(spark, str(tmp_path / "logs"))
    view = RollupView(str(tmp_path / "mv"))
    s = IngestStream(
        spark,
        table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        flush_size=100,
        views=[view],
    )
    yield s, table, view
    s.stop(drain=False)


def _direct(table):
    """Ground truth: rollup built straight from the landed table."""
    logs = table.read().withColumn(
        "__value", F.length("msg").cast("double"))
    return R.finalize(R.build_rollup(
        logs, "hour", ("service", "level"),
        value_col="__value", user_col="trace_id"))


def _by_key(df):
    return {(r["bucket_ts"], r["service"], r["level"]): r
            for r in df.collect()}


def test_view_tracks_ingest(spark, stream):
    s, table, view = stream
    s.submit_many(_rows(300))
    s.submit_many(_rows(200, start=300))
    s.start()
    s.query.processAllAvailable()
    s.stop(drain=False)

    got = _by_key(view.query(spark))
    want = _by_key(_direct(table))
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert got[k]["cnt"] == want[k]["cnt"]
        assert got[k]["sum_value"] == pytest.approx(
            want[k]["sum_value"], rel=1e-12)
        assert got[k]["min_value"] == want[k]["min_value"]
        assert got[k]["max_value"] == want[k]["max_value"]
        assert got[k]["uniq_users_est"] == want[k]["uniq_users_est"]
        assert got[k]["p95"] == want[k]["p95"]

    # coarser merge-on-read: drop level, day grain
    day = view.query(spark, dims=("service",), granularity="day")
    base = table.read().withColumn("__v", F.length("msg").cast("double"))
    want_day = {
        (r["bucket_ts"], r["service"]): r["cnt"]
        for r in base.groupBy(
            F.date_trunc("day", "ts").alias("bucket_ts"), "service")
        .agg(F.count("*").alias("cnt")).collect()
    }
    got_day = {(r["bucket_ts"], r["service"]): r["cnt"]
               for r in day.collect()}
    assert got_day == want_day


def test_inbox_read_once_per_micro_batch(spark, stream):
    # Spark counts a source's rows once per action that reads it, so
    # the insert and the view sharing one materialized batch report
    # each row once; a second read of the inbox would double the sum
    s, table, view = stream
    n = 70
    s.max_files_per_trigger = 1  # one 70-row inbox file per micro-batch
    s.submit_many(_rows(n))
    s.submit_many(_rows(n, start=n))
    s.start()
    s.query.processAllAvailable()
    batches = [p for p in s.query.recentProgress if p.numInputRows > 0]
    s.stop(drain=False)
    assert len(batches) == 2
    assert sum(p.numInputRows for p in batches) == 2 * n
    assert table.read().count() == 2 * n
    assert sum(r["cnt"] for r in view.query(spark).collect()) == 2 * n


def test_retry_never_double_counts_view(spark, stream):
    s, table, view = stream
    s.submit_many(_rows(150))
    s.start()
    s.query.processAllAvailable()
    s.stop(drain=False)

    n_logs = table.read().count()
    before = _by_key(view.query(spark))
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in _rows(150)],
        "ts string, service string, level string, msg string, "
        "attrs map<string,string>, trace_id string, span_id string",
    )

    # marked-batch retry: nothing is admitted anywhere
    s._write_batch(batch, 0)
    assert table.read().count() == n_logs
    assert _by_key(view.query(spark)) == before

    # crash-window retry (marker lost after append): the raw table
    # re-admits (documented no-data-loss side, batcher.py:154-166);
    # the view OVERWRITES its inc dir — still exactly-once
    os.remove(os.path.join(s.committed_dir, "0"))
    s._write_batch(batch, 0)
    assert table.read().count() == 2 * n_logs
    after = _by_key(view.query(spark))
    assert {k: v["cnt"] for k, v in after.items()} == \
        {k: v["cnt"] for k, v in before.items()}


def test_compact_preserves_answers(spark, stream):
    s, table, view = stream
    s.submit_many(_rows(120))
    s.submit_many(_rows(120, start=120))
    s.submit_many(_rows(120, start=240))
    # 6 inbox files, at most 4 per trigger: at least two increments
    s.max_files_per_trigger = 4
    s.start()
    s.query.processAllAvailable()
    s.stop(drain=False)

    before = _by_key(view.query(spark))
    n_incs = len([d for d in os.listdir(view.path)
                  if d.startswith("inc=")])
    assert n_incs >= 2  # multiple increments actually landed
    # manifest governs reads: an unreferenced orphan dir (as left by
    # a crashed compaction) must be invisible...
    orphan = os.path.join(view.path, "inc=c0000deadbeef")
    os.makedirs(orphan)
    assert _by_key(view.query(spark)) == before
    view.compact(spark)
    incs = [d for d in os.listdir(view.path) if d.startswith("inc=")]
    # ...and swept by the next compact
    assert len(incs) == 1 and incs[0].startswith("inc=c")
    with open(os.path.join(view.path, "MANIFEST")) as f:
        assert f.read().strip() == incs[0]
    after = _by_key(view.query(spark))
    assert set(after) == set(before)
    for k in before:
        assert after[k]["cnt"] == before[k]["cnt"]
        assert after[k]["p99"] == before[k]["p99"]
        assert after[k]["uniq_users_est"] == before[k]["uniq_users_est"]


def test_compact_with_retention_drops_old_buckets(spark, stream):
    s, table, view = stream
    s.submit_many(_rows(120))
    s.start()
    s.query.processAllAvailable()
    s.stop(drain=False)
    buckets = sorted({k[0] for k in _by_key(view.query(spark))})
    assert len(buckets) >= 2
    cutoff = buckets[1]
    view.compact(spark, retain_from=str(cutoff))
    kept = sorted({k[0] for k in _by_key(view.query(spark))})
    assert kept == [b for b in buckets if b >= cutoff]


def test_view_with_topk_state_tracks_hot_traces(spark, tmp_path):
    from clickhouse_observability_spark.sources.writer import normalize_ingest

    view = RollupView(str(tmp_path / "mv_topk"), topk_col="trace_id")
    rows = _rows(120)
    wire = spark.createDataFrame(rows)
    norm = normalize_ingest(wire)
    # two increments through the maintenance hook, as foreachBatch would
    half = norm.limit(60).localCheckpoint(eager=True)
    rest = norm.exceptAll(half).localCheckpoint(eager=True)
    view.apply(half, batch_id=0)
    view.apply(rest, batch_id=1)
    out = view.query(spark)
    assert "top_items_est" in out.columns
    # per key: estimated top traces == exact top traces (11 distinct
    # trace ids — far under capacity, so the sketch is exact)
    exact = {}
    for r in (
        norm.groupBy(
            F.date_trunc("hour", "ts").alias("b"), "service", "level", "trace_id"
        ).count().collect()
    ):
        exact.setdefault((r.b, r.service, r.level), {})[r.trace_id] = r["count"]
    for r in out.collect():
        key = (r.bucket_ts, r.service, r.level)
        got = {(e["item"], e["count"]) for e in r.top_items_est}
        ref = sorted(exact[key].items(), key=lambda p: (-p[1], p[0]))
        cut = ref[min(4, len(ref) - 1)][1]
        allowed = {p for p in ref if p[1] >= cut}
        assert got <= allowed, (key, got, allowed)
        assert len(got) == min(5, len(ref))

"""Streaming ingest (ST1-ST6) — SURVEY.md §2.9."""

from __future__ import annotations

import datetime as dt
import time

import pytest

from clickhouse_observability_spark.sources.writer import LogsTable
from clickhouse_observability_spark.streaming.batcher import IngestStream


@pytest.fixture()
def stream(spark, tmp_path):
    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    s = IngestStream(
        spark,
        table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    yield s
    s.stop(drain=False)


def _wire(i, ts="2025-09-01T10:00:00Z"):
    return {
        "ts": ts, "service": "orders", "level": "INFO", "msg": f"m{i}",
        "attrs": {"user": "u"}, "trace_id": f"t{i}", "span_id": f"s{i}",
    }


def test_submit_returns_accepted_before_flush(stream):
    # ST4: accepted count returned with no stream running at all.
    assert stream.submit_many([_wire(i) for i in range(5)]) == 5


def test_env_config_parity(spark, tmp_path, monkeypatch):
    # cmd/server/main.go:25-29: knobs come from env vars; explicit
    # arguments win; malformed values fall back to code defaults.
    import os

    from clickhouse_observability_spark.streaming.batcher import (
        DEFAULT_FLUSH_EVERY_MS,
        DEFAULT_FLUSH_SIZE,
    )

    table = LogsTable(spark, str(tmp_path / "logs"))
    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "250")
    monkeypatch.setenv("INGEST_BATCH_SIZE", "3")
    s = IngestStream(spark, table, str(tmp_path / "in"), str(tmp_path / "ck"))
    assert s.flush_every_ms == 250 and s.flush_size == 3
    # batch-size chunking: 7 rows at size 3 -> 3 inbox files
    assert s.submit_many([_wire(i) for i in range(7)]) == 7
    files = [f for f in os.listdir(s.inbox_dir) if f.endswith(".jsonl")]
    assert len(files) == 3

    s2 = IngestStream(
        spark, table, str(tmp_path / "in2"), str(tmp_path / "ck2"),
        flush_every_ms=50, flush_size=10,
    )
    assert s2.flush_every_ms == 50 and s2.flush_size == 10

    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "not-a-number")
    monkeypatch.delenv("INGEST_BATCH_SIZE")
    s3 = IngestStream(spark, table, str(tmp_path / "in3"), str(tmp_path / "ck3"))
    assert s3.flush_every_ms == DEFAULT_FLUSH_EVERY_MS
    assert s3.flush_size == DEFAULT_FLUSH_SIZE

    # INGEST_BATCH_SIZE=0 parses fine but would break the chunking
    # step of every submit — clamp to 1, ingest path stays alive.
    monkeypatch.setenv("INGEST_BATCH_SIZE", "0")
    s4 = IngestStream(spark, table, str(tmp_path / "in4"), str(tmp_path / "ck4"))
    assert s4.flush_size == 1
    assert s4.submit_many([_wire(i) for i in range(3)]) == 3


def test_stream_flushes_by_time(stream):
    q = stream.start()
    accepted = stream.submit_many([_wire(i) for i in range(10)])
    assert accepted == 10
    q.processAllAvailable()  # drain (ST5 analog for tests)
    got = stream.table.read()
    assert got.count() == 10
    msgs = {r.msg for r in got.collect()}
    assert msgs == {f"m{i}" for i in range(10)}


def test_malformed_ts_falls_back_to_ingest_time(stream):
    q = stream.start()
    stream.submit_many([_wire(0, ts="garbage"), _wire(1)])
    q.processAllAvailable()
    rows = {r.msg: r for r in stream.table.read().collect()}
    assert rows["m1"].ts == dt.datetime(2025, 9, 1, 10, 0, 0)
    assert abs((rows["m0"].ts - dt.datetime.utcnow()).total_seconds()) < 300  # ST6


def test_flush_on_shutdown_then_resume(spark, tmp_path):
    # ST5: stop() drains; checkpoint makes restart not re-deliver.
    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    s = IngestStream(spark, table, str(tmp_path / "inbox"), str(tmp_path / "ckpt"))
    s.start()
    s.submit_many([_wire(i) for i in range(3)])
    s.stop()  # graceful: final flush
    assert table.read().count() == 3
    # restart from checkpoint; submit more — old files not re-ingested
    s2 = IngestStream(spark, table, str(tmp_path / "inbox"), str(tmp_path / "ckpt"))
    q = s2.start()
    s2.submit_many([_wire(i + 100) for i in range(2)])
    q.processAllAvailable()
    s2.stop(drain=False)
    assert table.read().count() == 5  # exactly once across restart here


def test_batch_retry_admits_no_duplicates(spark, tmp_path):
    # Effectively-once (VERDICT r3 item 5): a foreachBatch RETRY of an
    # already-committed batch_id — Spark replays the same id after a
    # crash-before-checkpoint — must admit zero duplicate rows.
    from clickhouse_observability_spark.schema import INGEST_SCHEMA

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    s = IngestStream(spark, table, str(tmp_path / "inbox"), str(tmp_path / "ckpt"))
    s.start()
    s.submit_many([_wire(i) for i in range(4)])
    s.stop()  # drains; every delivered batch has its committed marker
    assert table.read().count() == 4

    import os

    committed = sorted(int(x) for x in os.listdir(s.committed_dir))
    assert committed  # at least one batch landed a marker
    # simulate the retry: re-invoke the handler with a committed id
    replay = spark.createDataFrame([_wire(0)], INGEST_SCHEMA)
    s._write_batch(replay, committed[-1])
    assert table.read().count() == 4  # retried batch admitted nothing
    # a genuinely NEW batch id still appends
    s._write_batch(replay, max(committed) + 1000)
    assert table.read().count() == 5


def _data_batches(q, rows, timeout=30):
    """Progress of the micro-batches that read data, once their
    numInputRows add up to `rows` (progress lands after the commit)."""
    deadline = time.time() + timeout
    while True:
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        if sum(p.numInputRows for p in batches) >= rows or time.time() > deadline:
            return batches
        time.sleep(0.2)


def test_per_trigger_size_cap(spark, tmp_path):
    # ST1/ST2: maxFilesPerTrigger bounds each micro-batch (size cap);
    # many small files still all arrive, just over multiple triggers.
    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    s = IngestStream(spark, table, str(tmp_path / "inbox"),
                     str(tmp_path / "ckpt"), max_files_per_trigger=4)
    for i in range(6):
        s.submit_many([_wire(i * 10 + j) for j in range(2)])
    try:
        q = s.start()
        q.processAllAvailable()
        assert table.read().count() == 12
        # batches bounded by the cap: 4 files -> ≤8 rows each
        batches = _data_batches(q, 12)
        assert len(batches) >= 2
        assert all(p.numInputRows <= 4 * 2 for p in batches)
    finally:
        s.stop(drain=False)


def test_default_file_cap_drains_backlog_in_one_trigger(spark, stream):
    # the default cap is TRIGGER_MAX_ROWS // flush_size files, so a
    # 10-file backlog drains in ONE micro-batch, and that batch is one
    # INSERT block: one part per month, not one per inbox file or task
    import glob
    import os

    from clickhouse_observability_spark.streaming.batcher import (
        TRIGGER_MAX_ROWS,
    )

    assert stream.max_files_per_trigger == TRIGGER_MAX_ROWS // stream.flush_size
    for i in range(10):  # each file holds one row of each month
        stream.submit_many([_wire(i * 10, "2025-09-01T10:00:00Z"),
                            _wire(i * 10 + 1, "2025-10-01T10:00:00Z")])
    # one source partition per inbox file, as on a host with many
    # cores (on local[4] the source packs small files into 4 partitions)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        q = stream.start()
        q.processAllAvailable()
    finally:
        spark.conf.set(key, old)
    assert stream.table.read().count() == 20
    assert len(_data_batches(q, 20)) == 1
    months = glob.glob(os.path.join(stream.table.path, "month=*"))
    assert len(months) == 2
    for month in months:
        assert len(glob.glob(os.path.join(month, "*.parquet"))) == 1


def test_streamed_parts_keep_ts_stats(spark, stream):
    # a micro-batch runs in the stream's clone of the session, so the
    # insert must scope TIMESTAMP_MICROS on that session: INT96 parts
    # carry no ts footer stats (system.parts min_ts/max_ts, pruning)
    stream.submit_many([_wire(i) for i in range(5)])
    q = stream.start()
    q.processAllAvailable()
    parts = stream.table.parts()
    assert parts
    assert all(p["min_ts"] == p["max_ts"] == "2025-09-01 10:00:00+00:00"
               for p in parts)


# ---------------------------------------------------------------------------
# incremental corpus ingestion with full-history dedup
# ---------------------------------------------------------------------------

def test_corpus_ingest_dedups_across_batches(spark, tmp_path):
    from clickhouse_observability_spark.streaming.corpus_ingest import CorpusIngest

    ing = CorpusIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch_a = [
        {"doc_id": 1, "text": "the quick brown fox", "source": "web"},
        {"doc_id": 2, "text": "jumps over the lazy dog", "source": "web"},
        {"doc_id": 3, "text": "The  Quick   Brown Fox ", "source": "x"},  # dup of 1
    ]
    ing.submit_many(batch_a)
    ing.start()
    ing.query.processAllAvailable()
    got = {r.doc_id for r in ing.read().collect()}
    assert got == {1, 2}  # within-batch dup collapsed, keep-first

    # a LATER batch resubmitting old content (beyond any watermark
    # horizon) is still rejected by the at-rest index
    batch_b = [
        {"doc_id": 10, "text": "the quick brown fox", "source": "crawl"},  # dup of 1
        {"doc_id": 11, "text": "a genuinely new document", "source": "crawl"},
    ]
    ing.submit_many(batch_b)
    ing.query.processAllAvailable()
    ing.stop(drain=False)
    rows = ing.read().collect()
    assert {r.doc_id for r in rows} == {1, 2, 11}
    # fingerprint index matches corpus 1:1
    fps = spark.read.parquet(str(tmp_path / "corpus" / "_index" / "fingerprints"))
    assert fps.count() == 3 and fps.distinct().count() == 3


def test_corpus_ingest_restart_is_idempotent(spark, tmp_path):
    from clickhouse_observability_spark.streaming.corpus_ingest import CorpusIngest

    kw = dict(
        corpus_dir=str(tmp_path / "corpus"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ing = CorpusIngest(spark, **kw)
    ing.submit_many([{"doc_id": 1, "text": "alpha beta", "source": "s"}])
    ing.start(); ing.query.processAllAvailable(); ing.stop(drain=False)

    # restart from the same checkpoint; resubmit identical content
    ing2 = CorpusIngest(spark, **kw)
    ing2.submit_many([{"doc_id": 2, "text": "ALPHA  beta", "source": "s"}])
    ing2.start(); ing2.query.processAllAvailable(); ing2.stop(drain=False)
    rows = ing2.read().collect()
    assert [r.doc_id for r in rows] == [1]


def test_committed_marker_retention_prunes_old_ids(spark, tmp_path):
    # the marker sidecar must not grow forever: ids far behind the
    # head are unreachable for retry and get pruned on commit.
    import os

    from clickhouse_observability_spark.schema import INGEST_SCHEMA

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    s = IngestStream(spark, table, str(tmp_path / "inbox"), str(tmp_path / "ckpt"))
    df = spark.createDataFrame([_wire(0)], INGEST_SCHEMA)
    # plant stale markers an old run would have left behind
    for bid in (1, 2, 3):
        open(os.path.join(s.committed_dir, str(bid)), "w").close()
    head = 3 + s.MARKER_RETENTION + 5
    s._write_batch(df, head)
    names = {int(x) for x in os.listdir(s.committed_dir)}
    assert head in names
    assert names.isdisjoint({1, 2, 3})  # stale ids pruned
    # a replay of the still-retained head admits nothing
    before = table.read().count()
    s._write_batch(df, head)
    assert table.read().count() == before


def test_corpus_versions_time_travel_and_diff(spark, tmp_path):
    from clickhouse_observability_spark.streaming.corpus_ingest import CorpusIngest

    ing = CorpusIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    mk = lambda i: {"doc_id": i, "text": f"doc number {i}", "source": "s"}
    b1 = spark.createDataFrame([mk(1), mk(2)], "doc_id long, text string, source string")
    b2 = spark.createDataFrame([mk(3), mk(2)], "doc_id long, text string, source string")
    b3 = spark.createDataFrame([mk(4)], "doc_id long, text string, source string")
    ing._admit(b1, batch_id=0)
    ing._admit(b2, batch_id=1)  # doc 2 deduped away
    ing._admit(b3, batch_id=2)
    assert ing.versions() == [0, 1, 2]
    ids = lambda df: sorted(r.doc_id for r in df.collect())
    # each pinned version reproduces its exact prefix
    assert ids(ing.read_as_of(0)) == [1, 2]
    assert ids(ing.read_as_of(1)) == [1, 2, 3]
    assert ids(ing.read_as_of(2)) == [1, 2, 3, 4]
    assert ids(ing.read()) == [1, 2, 3, 4]
    assert "ingest_batch" not in ing.read().columns
    # catch-up delta between two pins
    assert ids(ing.diff(0, 2)) == [3, 4]
    # a fully-deduped retry commits no version directory
    ing._admit(b1, batch_id=3)
    assert ing.versions() == [0, 1, 2]
    # as-of read prunes newer partitions at the source (scan shows a
    # partition filter, not a post-scan filter over all files)
    plan = ing.read_as_of(0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ingest_batch" in plan


def test_corpus_legacy_flat_layout_migrates_to_version_zero(spark, tmp_path):
    # a store written by the pre-versioning code (flat part files under
    # docs/, no ingest_batch= dirs) must keep working after the layout
    # change: on first touch the legacy files are adopted as version 0,
    # so a partitioned append neither corrupts the store ('conflicting
    # directory structures') nor hides the pre-upgrade docs from
    # versions()/read_as_of().
    from clickhouse_observability_spark.streaming.corpus_ingest import CorpusIngest

    corpus = tmp_path / "corpus"
    legacy = [
        {"doc_id": 1, "text": "pre upgrade doc one", "source": "old"},
        {"doc_id": 2, "text": "pre upgrade doc two", "source": "old"},
    ]
    spark.createDataFrame(
        legacy, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(corpus / "docs"))
    # pre-versioning stores also had the fingerprint index
    from clickhouse_observability_spark.operators.text_analysis import fingerprint_md5

    spark.createDataFrame(legacy, "doc_id long, text string, source string").select(
        fingerprint_md5("text").alias("fp_md5")
    ).write.parquet(str(corpus / "_index" / "fingerprints"))

    ing = CorpusIngest(
        spark,
        corpus_dir=str(corpus),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    newb = spark.createDataFrame(
        [
            {"doc_id": 3, "text": "post upgrade doc", "source": "new"},
            {"doc_id": 4, "text": "pre upgrade doc one", "source": "new"},  # dup
        ],
        "doc_id long, text string, source string",
    )
    ing._admit(newb, batch_id=0)  # fresh checkpoint: first REAL batch is 0
    ids = lambda df: sorted(r.doc_id for r in df.collect())
    assert ids(ing.read()) == [1, 2, 3]  # nothing lost, dup still rejected
    # legacy corpus became the -1 SENTINEL version — batch 0 cannot
    # collide with it, so the pre-upgrade snapshot stays immutable
    assert ing.versions() == [-1, 0]
    assert ids(ing.read_as_of(-1)) == [1, 2]
    assert ids(ing.read_as_of(0)) == [1, 2, 3]
    assert ids(ing.diff(-1, 0)) == [3]
    # migration is a rename: no root-level part files remain
    import os as _os

    root = [
        n
        for n in _os.listdir(str(corpus / "docs"))
        if not n.startswith((".", "_"))
    ]
    assert all(n.startswith("ingest_batch=") for n in root)


def test_online_ttl_group_by_enforcement(spark, tmp_path):
    """enforce_ttl_every_s: the batcher runs the armed TTL between
    micro-batches (the CH background-TTL-merge analog) — aged rows
    COLLAPSE per the armed GROUP BY while fresh rows keep landing;
    with no armed spec the pass is skipped entirely (a streaming
    writer must not inherit env-var deletes)."""
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    set_table_ttl(
        table.path, 30,
        group_by=["service", "toStartOfHour(ts)"],
        set_exprs={"msg": "max(msg)"},
    )
    s = IngestStream(
        spark, table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        enforce_ttl_every_s=0.0,  # every micro-batch
    )
    try:
        q = s.start()
        # three aged rows in one (service, hour) group + one fresh row
        # fresh rows must be YOUNG relative to wall-clock now — the
        # TTL horizon is now-anchored like the reference's
        fresh = dt.datetime.now(dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        s.submit_many([
            _wire(0, ts="2020-01-05T03:10:00Z"),
            _wire(1, ts="2020-01-05T03:40:00Z"),
            _wire(2, ts="2020-01-05T04:10:00Z"), _wire(3, ts=fresh),
        ])
        q.processAllAvailable()
        # one more batch so the TTL pass definitely ran AFTER the
        # rows landed (the first pass may precede their append)
        s.submit_many([_wire(4, ts=fresh)])
        q.processAllAvailable()
        rows = {r.msg: r for r in table.read().collect()}
        # 03h group collapsed to one row (msg = max -> m1), 04h kept;
        # the two fresh rows share a (service, hour) group but stay
        # RAW — young rows never collapse
        assert "m0" not in rows and "m1" in rows and "m2" in rows
        assert "m3" in rows and "m4" in rows
        assert str(rows["m1"].ts) == "2020-01-05 03:10:00"  # min(ts)
    finally:
        s.stop(drain=False)


def test_online_column_ttl_enforcement(spark, tmp_path):
    """r11: the batcher's between-micro-batch TTL pass enforces
    COLUMN TTLs too — a column-only armed spec (no table horizon)
    still triggers apply_retention, which reverts aged cells to the
    type default while every row (and every fresh row) survives."""
    from clickhouse_observability_spark.sources.retention import (
        set_column_ttl,
    )

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    set_column_ttl(table.path, "msg", 30)  # NO table TTL armed
    s = IngestStream(
        spark, table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        enforce_ttl_every_s=0.0,  # every micro-batch
    )
    try:
        q = s.start()
        fresh = dt.datetime.now(dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        s.submit_many([
            _wire(0, ts="2020-01-05T03:10:00Z"),
            _wire(1, ts="2020-01-05T03:40:00Z"),
            _wire(2, ts=fresh),
        ])
        q.processAllAvailable()
        # one more batch so the TTL pass definitely ran AFTER the
        # rows landed
        s.submit_many([_wire(3, ts=fresh)])
        q.processAllAvailable()
        rows = sorted((str(r.ts), r.msg) for r in table.read().collect())
        assert len(rows) == 4  # column TTL never deletes rows
        aged = [m for t, m in rows if t.startswith("2020")]
        assert aged == ["", ""]  # aged msg reverted to the default
        fresh_msgs = {m for t, m in rows if not t.startswith("2020")}
        assert fresh_msgs == {"m2", "m3"}  # young cells intact
    finally:
        s.stop(drain=False)


def test_online_storage_tiering_enforcement(spark, tmp_path):
    """r12: the batcher's between-micro-batch TTL pass runs the
    storage-tiering MOVER too — a move-only armed spec (TO VOLUME,
    no delete horizon) triggers apply_retention, aged months RELOCATE
    under `_tiers/cold/` as metadata-only renames while ingest keeps
    landing on the default volume, and every row (cold and fresh)
    stays readable through the tier-transparent scan."""
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )
    from clickhouse_observability_spark.sources.tiering import (
        month_volume,
    )

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    set_table_ttl(
        table.path, None,
        tiers=[{"days": 30, "volume": "cold", "kind": "VOLUME"}],
    )
    s = IngestStream(
        spark, table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        enforce_ttl_every_s=0.0,  # every micro-batch
    )
    try:
        q = s.start()
        fresh_dt = dt.datetime.now(dt.timezone.utc)
        fresh = fresh_dt.strftime("%Y-%m-%dT%H:%M:%SZ")
        s.submit_many([
            _wire(0, ts="2020-01-05T03:10:00Z"),  # aged month
            _wire(1, ts="2020-02-07T04:10:00Z"),  # second aged month
            _wire(2, ts=fresh),
        ])
        q.processAllAvailable()
        # one more batch so the mover definitely ran AFTER the aged
        # rows landed (the first pass may precede their append)
        s.submit_many([_wire(3, ts=fresh)])
        q.processAllAvailable()
        assert month_volume(table.path, 202001) == "cold"
        assert month_volume(table.path, 202002) == "cold"
        fresh_month = int(fresh_dt.strftime("%Y%m"))
        assert month_volume(table.path, fresh_month) == "default"
        # read transparency under concurrent ingest: all rows present
        msgs = sorted(r.msg for r in table.read().collect())
        assert msgs == ["m0", "m1", "m2", "m3"]
    finally:
        s.stop(drain=False)


def test_online_conditional_ttl_enforcement(spark, tmp_path):
    """r13: the batcher's between-micro-batch TTL pass enforces
    conditional rules (DELETE WHERE) too — a conditional-only armed
    spec (no unconditional horizon) triggers apply_retention, aged
    rows MATCHING the predicate vanish while aged non-matching and
    fresh rows keep landing and reading back."""
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    set_table_ttl(
        table.path, None,
        delete_where=[{"days": 30, "where": "level = 'INFO'"}],
    )
    s = IngestStream(
        spark, table,
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        enforce_ttl_every_s=0.0,  # every micro-batch
    )
    try:
        q = s.start()
        fresh = dt.datetime.now(dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        aged_err = dict(_wire(1, ts="2020-01-05T03:40:00Z"),
                        level="ERROR")
        s.submit_many([
            _wire(0, ts="2020-01-05T03:10:00Z"),  # aged INFO: deleted
            aged_err,                             # aged ERROR: kept
            _wire(2, ts=fresh),                   # fresh INFO: kept
        ])
        q.processAllAvailable()
        # one more batch so the TTL pass definitely ran AFTER the
        # rows landed
        s.submit_many([_wire(3, ts=fresh)])
        q.processAllAvailable()
        msgs = sorted(r.msg for r in table.read().collect())
        assert msgs == ["m1", "m2", "m3"]  # m0 aged out by predicate
    finally:
        s.stop(drain=False)

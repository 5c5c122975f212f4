"""Write path: the `logs` table at rest (S2/S3 in SURVEY.md §2.1).

The reference's storage semantics come from its DDL
(internal/db/db.go:39-57): MergeTree, PARTITION BY toYYYYMM(ts),
ORDER BY (service, ts), LowCardinality dictionary encoding. The
Spark-native equivalents:

- monthly directory partitioning  -> `partitionBy("month")` + pruning;
- (service, ts) sparse index      -> `sortWithinPartitions` before the
  write, so Parquet row-group min/max stats give equivalent granule
  skipping under predicate pushdown;
- LowCardinality                  -> Parquet dictionary encoding (automatic);
- batch INSERT (db.go:147-173)    -> a single distributed append; the
  reference's row-at-a-time prepared statement and 50-connection pool
  have no Spark counterpart because executors write in parallel.

`ingest_batch` is the S1 ingestion entry point: it accepts wire-form
rows (proto/log.proto:6-14), normalizes them (ts fallback parse
service.go:27-34; attrs map->JSON db.go:160-165) and returns the
ACCEPTED count before the sink commit completes — the reference's
BatchWrite contract (service.go:45-46 replies before any DB write).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable, Mapping
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_observability_spark.functions.json_attrs import attrs_to_json
from clickhouse_observability_spark.functions.timeparse import (
    month_of,
    parse_ts_with_fallback,
)
from clickhouse_observability_spark.schema import (
    INGEST_SCHEMA,
    LOGS_COLUMNS,
    LOGS_SCHEMA,
    PARTITION_COLUMN,
    ingest_table,
)


# At-rest codec of the logs table. Every write path of the table
# (ingest, OPTIMIZE, TTL rewrites, mutations, z-order) passes these
# options, so a rewrite keeps the level ingest wrote at; only an armed
# RECOMPRESS TTL picks another codec. zstd beats snappy by ~30% at
# comparable scan speed, and at 100 TB the scan is IO-bound. Level 9
# is the knee: one 8k-row part of benchmark-shaped logs (4 vCPUs)
# takes 28.5 B/row at Spark's default level 3, 25.5 at 6 and 24.3 at
# 9 in the same write time, and 23.8 at 12 in 2.3x the write time.
# (The reference's ClickHouse uses LZ4 on the wire; the codec is an
# at-rest concern.)
LOGS_ZSTD_LEVEL = 9
LOGS_PARQUET_OPTIONS = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": str(LOGS_ZSTD_LEVEL),
}


# Unresolved-Column cache for the hot per-micro-batch projections
# (r14, guide §4-adjacent driver-side cost): building the normalize
# projection is ~15 py4j round-trips (~60-80ms measured inside each
# warm streaming trigger). The Column objects wrap UNRESOLVED
# expression trees, so the same objects can be re-selected against
# every micro-batch's DataFrame; they are plan fragments, not data —
# nothing is memoized across runs but the expression ASTs. Keyed on
# the live SparkContext: a restarted JVM invalidates the old py4j
# handles, so a stale cache entry must be rebuilt, never reused.
_COL_CACHE: dict[str, tuple[object, object]] = {}


def _cached_cols(key: str, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    hit = _COL_CACHE.get(key)
    if hit is None or hit[0] is not sc:
        _COL_CACHE[key] = (sc, build())
    return _COL_CACHE[key][1]


def normalize_ingest(df: DataFrame) -> DataFrame:
    """Wire-form -> at-rest form (F3/F4/F7, ST6).

    ts: RFC3339[Nano] string parsed with fallback to ingest time
    (service.go:27-34); attrs: map -> canonical JSON string
    (db.go:160-165; keys sorted like Go's json.Marshal so at-rest
    bytes are deterministic).
    """
    cols = _cached_cols(
        "normalize_ingest",
        lambda: [
            parse_ts_with_fallback("ts").alias("ts"),
            F.coalesce(F.col("service"), F.lit("")).alias("service"),
            F.coalesce(F.col("level"), F.lit("")).alias("level"),
            F.col("msg"),
            attrs_to_json(F.col("attrs")).alias("attrs"),
            F.col("trace_id"),
            F.col("span_id"),
        ],
    )
    return df.select(*cols)


# reentrant-counter state for parquet_ts_micros (see its docstring):
# id(session) -> [open scopes, the value the first scope replaced]
_TS_MICROS_LOCK = threading.Lock()
_TS_MICROS_SCOPES: dict[int, list] = {}


@contextmanager
def parquet_ts_micros(spark: SparkSession):
    """Scope `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`
    to a write.

    Spark's DEFAULT parquet timestamp physical type is INT96 (legacy),
    which carries NO column min/max statistics — that silently kills
    footer-level ts pruning (system.parts min_ts/max_ts, EXPLAIN
    ESTIMATE, and the reader's own row-group skipping on ts ranges).
    INT64 micros is the modern type every reader handles and it
    restores the stats. Scoped (set + restore) rather than pinned on
    the session: mutating shared session conf from a constructor
    changes the written physical type for every UNRELATED parquet
    write in the session (advice r7). Every ts-bearing write path in
    this package (insert, mutation/retention/z-order rewrites) wraps
    itself in this. Pass the session the write RUNS in: a streaming
    micro-batch runs in a clone of the session that started the
    stream, with its own conf.

    Session conf is shared process state, so overlapping scopes on one
    session from concurrent threads are serialized under a reentrant
    counter per session: the FIRST scope in saves the prior value and
    sets MICROS, the LAST scope out restores it — two interleaved
    scopes can no longer restore a stale value mid-write. (A parquet
    write outside any scope that races a scoped write still sees
    MICROS for its duration — unavoidable with session-scoped conf;
    that write is outside this package's write paths by
    construction.)"""
    key = "spark.sql.parquet.outputTimestampType"
    with _TS_MICROS_LOCK:
        scope = _TS_MICROS_SCOPES.get(id(spark))
        if scope is None:
            scope = [0, spark.conf.get(key, None)]
            _TS_MICROS_SCOPES[id(spark)] = scope
            spark.conf.set(key, "TIMESTAMP_MICROS")
        scope[0] += 1
    try:
        yield
    finally:
        with _TS_MICROS_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                del _TS_MICROS_SCOPES[id(spark)]
                if scope[1] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, scope[1])


class LogsTable:
    """The partitioned, sorted Parquet `logs` table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # re-attach persisted materialized views (insert triggers);
        # cheap listdir of <path>/_mv — absent on most tables
        from clickhouse_observability_spark.sources.matview import (
            MaterializedView,
        )

        self.materialized_views: list[MaterializedView] = (
            MaterializedView.load_all(spark, path)
        )
        # evolved columns (ALTER TABLE ADD/DROP/RENAME COLUMN):
        # metadata sidecar, absent on most tables (one stat call)
        from clickhouse_observability_spark.sources.schema_evolution import (
            SchemaExt,
        )

        self.schema_ext = SchemaExt(path)

    # -- S2: DDL bootstrap (db.go:39-57) --------------------------------
    def init_schema(self) -> None:
        """CREATE TABLE IF NOT EXISTS — metadata-only, like the DDL it
        mirrors (db.go:39-57). The at-rest state is exactly what the
        old empty-DataFrame write produced (the directory plus an
        empty `_SUCCESS`, zero part files — readers supply the
        declared schema, so nothing else was ever pinned), without
        spending a Spark job on writing zero rows (r14, guide §5:
        the driver does no data work)."""
        marker = os.path.join(self.path, "_SUCCESS")
        if not os.path.exists(marker):
            os.makedirs(self.path, exist_ok=True)
            with open(marker, "w"):
                pass

    # -- S3: batch insert (db.go:147-173) -------------------------------
    def insert(self, df: DataFrame, materialized: bool = False) -> None:
        """Append at-rest rows; adds the month partition column and
        sorts within partitions on (service, ts) per the DDL ORDER BY.

        Attached materialized views fire afterwards, CH-style insert
        triggers: each view aggregates ONLY this block (O(batch)) and
        appends its partial states. Like ClickHouse, the view update
        is not atomic with the insert — `MaterializedView.refresh()`
        repairs a crash between the two.

        ``materialized=True``: the caller already materialized `df`
        — checkpointed (INSERT ... SELECT, which must materialize
        before a self-referential append) or persisted (the ingest
        stream's micro-batch) — so skip the trigger-path checkpoint
        that would copy the rows twice, and leave unpersisting to the
        owner."""
        block = df.select(
            *LOGS_COLUMNS, *self.schema_ext.write_columns(df)
        )
        if not self.materialized_views:
            self._write(block, mode="append")
            return
        # the trigger re-reads the block; checkpoint so no expensive
        # upstream recomputes per view — and release the storage
        # blocks as soon as the last consumer is done (ContextCleaner
        # would get there eventually, but a steady ingest loop would
        # accumulate checkpointed blocks in the meantime)
        own = not materialized
        if own:
            block = block.localCheckpoint(eager=True)
        try:
            self._write(block, mode="append")
            for mv in self.materialized_views:
                mv.apply(block)
        finally:
            if own:
                block.unpersist()

    def create_materialized_view(self, spec: dict):
        """CREATE MATERIALIZED VIEW: persist + attach the trigger.
        With populate_from not None (CH's POPULATE), backfills from
        the given frame as the first increment."""
        from clickhouse_observability_spark.sources.matview import (
            MaterializedView,
        )

        if any(v.name == spec["name"] for v in self.materialized_views):
            raise ValueError(f"materialized view {spec['name']!r} "
                             f"already exists")
        mv = MaterializedView(self.spark, self.path, spec)
        mv.save()
        self.materialized_views.append(mv)
        return mv

    def drop_materialized_view(self, name: str) -> None:
        for v in list(self.materialized_views):
            if v.name == name:
                v.drop()
                self.materialized_views.remove(v)
                return
        raise ValueError(f"no materialized view {name!r}")

    def _write(self, df: DataFrame, mode: str) -> None:
        with parquet_ts_micros(df.sparkSession):
            self._write_unscoped(df, mode)

    def _write_unscoped(self, df: DataFrame, mode: str) -> None:
        month_col = _cached_cols(
            "write_month", lambda: month_of("ts")
        )
        (
            # Leading the sort with the partition column satisfies the
            # partitioned writer's required ordering, so Spark keeps OUR
            # (service, ts) order instead of inserting its own month-only
            # sort that would destroy it.
            df.withColumn(PARTITION_COLUMN, month_col)
            .sortWithinPartitions(PARTITION_COLUMN, "service", "ts")
            .write.mode(mode)
            .partitionBy(PARTITION_COLUMN)
            .options(**LOGS_PARQUET_OPTIONS)
            .parquet(self.path)
        )

    # -- read side ------------------------------------------------------
    def read(self) -> DataFrame:
        """Scan with the declared schema (the table has a fixed DDL,
        db.go:41-49) — no inference listing, and an empty table reads
        as zero rows instead of failing. Evolved columns (ALTER TABLE
        ADD COLUMN — metadata-only, CH-style) widen the scan schema
        by their stored physical names and materialize on read as
        `coalesce(stored, aliases..., default)`: files predating a
        column serve its DEFAULT, files predating a RENAME serve the
        old physical name (sources/schema_evolution.py).

        Storage tiering (r12): months aged onto colder volumes live
        under `_tiers/<vol>/` — invisible to the base listing
        (underscore rule), so the scan UNIONS one file-listing root
        per volume (CH's read transparency: a query never knows which
        volume serves a part). Month-predicate pruning and footer
        stats apply per root unchanged; the untiered common case is
        one stat call and the identical single-root plan."""
        from functools import reduce

        from pyspark.sql import types as T

        from clickhouse_observability_spark.sources.tiering import (
            tier_roots,
        )

        full = T.StructType(
            LOGS_SCHEMA.fields
            + self.schema_ext.read_fields()
            + [T.StructField(PARTITION_COLUMN, T.IntegerType())]
        )
        scans = [
            self.spark.read.schema(full).parquet(root)
            for _, root in tier_roots(self.path)
        ]
        return self.schema_ext.overlay(
            reduce(DataFrame.unionByName, scans)
        )

    def parts(self) -> list[dict]:
        """`system.parts` analogue: one row per at-rest parquet file
        with partition, row count, bytes, and the (service, ts)
        min/max the sort order gives it — the metadata an operator
        reads to judge layout health (file sizes, merge pressure,
        pruning potential). Footer-only: reads O(#files) metadata
        pages, never data — the same cost class as CH's parts table.
        """
        import glob as _glob

        import pyarrow.parquet as _pq

        from clickhouse_observability_spark.sources.tiering import (
            tier_roots,
        )

        out = []
        for vol, root in tier_roots(self.path):
            for f in sorted(
                _glob.glob(os.path.join(root, f"{PARTITION_COLUMN}=*",
                                        "*.parquet"))
            ):
                out.append(self._part_row(f, vol, _pq))
        return out

    @staticmethod
    def _part_row(f: str, vol: str, _pq) -> dict:
        md = _pq.ParquetFile(f).metadata
        lo: dict = {}
        hi: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                # INT96 ts columns (files written before the
                # TIMESTAMP_MICROS pin) carry no stats; their
                # min_ts/max_ts stay None honestly
                if (name in ("service", "ts") and col.statistics
                        and col.statistics.has_min_max):
                    st = col.statistics
                    lo[name] = (st.min if name not in lo
                                else min(lo[name], st.min))
                    hi[name] = (st.max if name not in hi
                                else max(hi[name], st.max))
        part = os.path.basename(os.path.dirname(f))
        return {
            "partition": int(part.split("=", 1)[1]),
            "file": os.path.basename(f),
            "rows": md.num_rows,
            "bytes": os.path.getsize(f),
            "min_service": lo.get("service"),
            "max_service": hi.get("service"),
            "min_ts": (str(lo["ts"]) if "ts" in lo else None),
            "max_ts": (str(hi["ts"]) if "ts" in hi else None),
            # serving volume (CH system.parts' disk_name analog):
            # 'default' for the base path, the tier name otherwise
            "volume": vol,
            # at-rest codec from the footer (CH system.parts'
            # default_compression_codec analog; r13 RECOMPRESS TTL
            # makes this operator-visible state): the first data
            # column's compression — one codec per file by
            # construction (every write path sets it file-wide)
            "codec": (md.row_group(0).column(0).compression
                      if md.num_row_groups else None),
        }

    def parts_df(self) -> DataFrame:
        rows = self.parts()
        schema = ("partition int, file string, rows bigint, bytes bigint, "
                  "min_service string, max_service string, "
                  "min_ts string, max_ts string, volume string, "
                  "codec string")
        return self.spark.createDataFrame(rows, schema)

    # -- S1: ingestion entry point (service.go:21-47) -------------------
    def ingest_batch(self, rows: pa.Table | Iterable[Mapping]) -> int:
        """BatchWrite: normalize + enqueue a batch, return the count
        of entries ACCEPTED (not persisted) — service.go:45-46 replies
        `written=len(out)` before the DB write happens. The write here
        is synchronous (Spark has no detached fire-and-forget write),
        which upgrades the reference's at-most-once to effectively
        at-least-once; SURVEY.md §2.9 ST3 documents the divergence.
        `rows` is an INGEST_ARROW_SCHEMA table or wire-form dicts that
        fit it (schema.ingest_table raises on one that does not).
        """
        table = ingest_table(rows)
        if not table.num_rows:
            return 0
        df = self.spark.createDataFrame(table, INGEST_SCHEMA)
        self.insert(normalize_ingest(df))
        return table.num_rows

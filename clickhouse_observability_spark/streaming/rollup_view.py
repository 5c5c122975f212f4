"""Continuously-maintained rollups on the ingest stream — the
ClickHouse MATERIALIZED VIEW analogue.

In the reference's deployment model, CH users hang
`CREATE MATERIALIZED VIEW ... ENGINE = AggregatingMergeTree` off the
`logs` MergeTree (`internal/db/db.go:39-57`): every INSERT also
produces partial-aggregate rows in the view. Here the same trigger
point is the ingest stream's foreachBatch (`streaming/batcher.py`):
after the micro-batch lands in the logs table, each attached
`RollupView` aggregates THAT BATCH ONLY into mergeable states
(`operators/rollup.py`) and appends them.

Idempotence, stronger than the logs append: each batch's states land
under an `inc=b<batch_id>` subdirectory written with OVERWRITE, so a
foreachBatch retry — including the crash window between table append
and committed-marker that can re-admit log rows — rewrites the SAME
directory instead of double-counting. The view is exactly-once per
batch id by construction; no marker needed.

Readers always `merge_states` first (AggregatingMergeTree's
invariant), so concurrent increments are invisible. `compact()`
collapses increments into one generation directory; run it like the
retention job, while the stream is quiesced.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_observability_spark.operators import rollup as R
from clickhouse_observability_spark.sources.writer import parquet_ts_micros


class RollupView:
    """One materialized rollup over the normalized logs stream.

    Defaults give the dashboard staple: per (hour, service, level) —
    row counts, message-size stats/quantiles, distinct traces.
    """

    def __init__(
        self,
        path: str,
        granularity: str = "hour",
        dims: tuple[str, ...] = ("service", "level"),
        value_expr: Column | None = None,
        user_col: str = "trace_id",
        topk_col: str | None = None,
    ):
        self.path = path
        self.granularity = granularity
        self.dims = dims
        self.value_expr = (
            value_expr if value_expr is not None
            else F.length("msg").cast("double")
        )
        self.user_col = user_col
        # opt-in mergeable top-k state (CH topKState on the view):
        # e.g. topk_col="trace_id" keeps the hottest traces per
        # (hour, service, level) live on the ingest path
        self.topk_col = topk_col

    # -- maintenance (called from foreachBatch) ------------------------
    def apply(self, normalized: DataFrame, batch_id: int) -> None:
        states = R.build_rollup(
            normalized.withColumn("__value", self.value_expr),
            self.granularity,
            self.dims,
            value_col="__value",
            user_col=self.user_col,
            topk_col=self.topk_col,
        )
        # write to a dot-dir (invisible to readers), ATOMICALLY
        # rename into place, then publish in the MANIFEST: a
        # concurrent /v1/stats read never sees a half-written
        # increment (Spark's _temporary phase), and a retry replaces
        # the old dir whole before the manifest union (idempotent).
        name = f"inc=b{int(batch_id)}"
        inc = os.path.join(self.path, name)
        tmp = os.path.join(self.path, f".inc-b{int(batch_id)}.tmp")
        # bucket_ts as INT64 with footer stats; scope the batch's own
        # session (a micro-batch runs in the stream's cloned session)
        with parquet_ts_micros(states.sparkSession):
            states.write.mode("overwrite").option(
                "compression", "zstd").parquet(tmp)
        if os.path.exists(inc):
            shutil.rmtree(inc)
        os.rename(tmp, inc)
        self._publish(sorted(set(self._manifest()) | {name}))

    # -- manifest: the snapshot pointer ---------------------------------
    # Readers resolve the active increment set through ONE atomically-
    # replaced file, so compaction can never double-count (a reader
    # sees either the old generation list or the new one, never both)
    # and a crashed compaction leaves only unreferenced orphan dirs.
    # Writers (the foreachBatch thread; compact under the documented
    # quiesce contract) are single at any moment.
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _manifest(self) -> list[str]:
        try:
            with open(self._manifest_path()) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except OSError:
            # pre-manifest layout (or first batch): every visible inc
            return sorted(
                os.path.basename(d)
                for d in glob.glob(os.path.join(self.path, "inc=*")))

    def _publish(self, names: list[str]) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(names) + "\n")
        os.replace(tmp, self._manifest_path())

    # -- read side -----------------------------------------------------
    def states(self, spark: SparkSession) -> DataFrame:
        names = [n for n in self._manifest()
                 if os.path.exists(os.path.join(self.path, n))]
        if not names:
            # view exists but nothing ingested yet: typed empty states
            # so merge/finalize/filters still analyze
            from pyspark.sql import types as T

            fields = [T.StructField("bucket_ts", T.TimestampType())]
            fields += [T.StructField(d, T.StringType()) for d in self.dims]
            fields += [
                T.StructField("cnt", T.LongType()),
                T.StructField("sum_value", T.DoubleType()),
                T.StructField("min_value", T.DoubleType()),
                T.StructField("max_value", T.DoubleType()),
                T.StructField("uniq_users", T.BinaryType()),
                T.StructField("value_hist", T.ArrayType(T.StructType([
                    T.StructField("b", T.IntegerType()),
                    T.StructField("c", T.LongType()),
                ]))),
            ]
            return spark.createDataFrame([], T.StructType(fields))
        return spark.read.parquet(
            *[os.path.join(self.path, n) for n in names]).drop("inc")

    def query(
        self,
        spark: SparkSession,
        dims: tuple[str, ...] | None = None,
        granularity: str | None = None,
    ) -> DataFrame:
        """Merge-on-read at any coarser grain, finalized."""
        merged = R.merge_states(
            self.states(spark),
            self.dims if dims is None else dims,
            granularity,
        )
        return R.finalize(merged)

    # -- background merge ----------------------------------------------
    def compact(self, spark: SparkSession,
                retain_from: str | None = None) -> None:
        """Collapse the current increment set into one generation
        dir, then swap the MANIFEST pointer atomically. Quiesce the
        STREAM first (manifest writers must not race); concurrent
        READERS are safe — each resolves one manifest generation, so
        no read ever mixes old increments with the merged copy. A
        crash at any point leaves a readable table: before the swap
        the old manifest still governs (the half-built generation is
        an unreferenced orphan, removed by the next compact); after
        it, the old dirs are the orphans."""
        snapshot = [n for n in self._manifest()
                    if os.path.exists(os.path.join(self.path, n))]
        if not snapshot:
            return
        states = self.states(spark)
        if retain_from is not None:
            # TTL at the view grain (the MergeTree `TTL ... DELETE`
            # analogue): old buckets leave the table at compaction,
            # same lifecycle as the raw-table retention job
            states = states.filter(F.col("bucket_ts") >= retain_from)
        merged = R.merge_states(states, self.dims)
        gen_name = f"inc=c{uuid.uuid4().hex[:12]}"
        gen = os.path.join(self.path, gen_name)
        tmp = os.path.join(self.path, f".{gen_name}.tmp")
        with parquet_ts_micros(merged.sparkSession):
            merged.write.mode("overwrite").option(
                "compression", "zstd").parquet(tmp)
        os.rename(tmp, gen)
        self._publish([gen_name])
        # drop everything unreferenced: the snapshot we merged plus
        # orphans from any crashed earlier compaction
        for d in glob.glob(os.path.join(self.path, "inc=*")):
            if os.path.basename(d) != gen_name:
                shutil.rmtree(d, ignore_errors=True)

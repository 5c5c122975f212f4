"""Materialized rollups with MERGEABLE partial aggregate states.

ClickHouse counterpart: `AggregatingMergeTree` + the `-State` /
`-Merge` combinator pair (the reference's storage engine family —
its `logs` table is a MergeTree, `internal/db/db.go:39-67`; CH users
layer materialized views with AggregateFunction columns on top for
dashboard-speed rollups). That is THE technique a 100 TB
observability store relies on: raw events are aggregated ONCE into
per-(time-bucket, dims) partial states that are

- **additive / mergeable**: two state rows for the same key can be
  combined without touching raw data, so ingestion appends state
  rows (no read-modify-write), background compaction collapses
  them, and queries at ANY coarser time grain or dim subset are
  answered by re-merging states;
- **tiny**: per key the state is O(1) scalars + an HLL sketch
  (Apache DataSketches via Spark's `hll_sketch_agg`, JVM-side) + a
  DDSketch-style log-bucket histogram for quantiles, whose size is
  O(log(dynamic range)/log gamma) ~ 1k entries worst-case —
  independent of row count.

Spark-first mapping:

| CH concept                       | here                               |
|----------------------------------|------------------------------------|
| AggregateFunction(uniq, ...)     | binary HLL sketch column           |
| AggregateFunction(quantile, ...) | array<struct<b,c>> log-histogram   |
| -State during INSERT             | `build_rollup`                     |
| background part merge            | `compact_rollup`                   |
| -Merge at SELECT                 | `merge_states` (merge-on-read)     |
| GROUP BY over the view           | `finalize`                         |

Append-only correctness: the query path ALWAYS applies
`merge_states` first, so duplicate state rows for one key (from
multiple increments) are semantically a non-issue — exactly how
AggregatingMergeTree parts behave before a background merge.

Quantile sketch: DDSketch (Masson, Rim, Lee — VLDB'19, public
paper) with gamma = 1.02: positive x maps to bucket
ceil(ln x / ln gamma); the bucket midpoint 2*gamma^b/(gamma+1)
is a relative-error <= (gamma-1)/(gamma+1) ~ 0.99% estimate.
Zero and negative values get a reserved index and a mirrored
negative range so the index order is the value order.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

GAMMA = 1.02
_LN_GAMMA = math.log(GAMMA)
# Reserved histogram indices: value==0 sits at ZERO_IDX; negative
# values map below it (idx = -NEG_OFF - bucket(|x|), monotone in x).
ZERO_IDX = -1_000_000
NEG_OFF = 2_000_000
# DataSketches HLL lgConfigK: 2^12 registers ~ 1.6% rel. std. error.
HLL_LGK = 12

STATE_COLS = ("cnt", "sum_value", "min_value", "max_value",
              "uniq_users", "value_hist", "top_items")
# approx_top_k state capacity: exact while a key's distinct items
# stay under this; the CH topK default K is 10 with ~100 tracked.
TOPK_MAX_TRACKED = 100


def value_bucket(x: Column) -> Column:
    """Order-preserving DDSketch bucket index for any double."""
    pos = F.ceil(F.log(x) / F.lit(_LN_GAMMA)).cast("int")
    neg = (-F.lit(NEG_OFF) - F.ceil(F.log(-x) / F.lit(_LN_GAMMA))).cast("int")
    return (
        F.when(x > 0, pos)
        .when(x < 0, neg)
        .otherwise(F.lit(ZERO_IDX))
    )


def bucket_midpoint(b: Column) -> Column:
    """Inverse of `value_bucket`: representative value for an index."""
    mid = F.lit(2.0 / (GAMMA + 1.0))
    pos = F.pow(F.lit(GAMMA), b.cast("double")) * mid
    neg = -F.pow(F.lit(GAMMA), (-b - F.lit(NEG_OFF)).cast("double")) * mid
    return (
        F.when(b == ZERO_IDX, F.lit(0.0))
        .when(b < ZERO_IDX, neg)
        .otherwise(pos)
    )


def build_rollup(
    events: DataFrame,
    granularity: str = "hour",
    dims: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    user_col: str = "user_id",
    topk_col: str | None = None,
    dec_value: bool = False,
    hist: bool = True,
    uniq: bool = True,
) -> DataFrame:
    """Raw events -> one partial-state row per (bucket_ts, dims).

    Two shuffles, both map-side combined and the second already
    rollup-sized: level 1 groups at (key, value-bucket) grain so the
    histogram is built by plain counts; level 2 collapses the
    value-bucket into a sorted array and unions the HLL sketches.

    `dec_value=True` holds the sum state in exact integer
    1e-4-dollar units (moneydec fast path — only for measures with
    <=4 decimal digits): BIGINT partial sums are primitive in
    Tungsten AND merge exactly and order-independently, so a rollup
    answered through ANY merge tree equals the direct aggregate
    bit-for-bit, at every scale. Readers convert with
    moneydec.units_money_sum semantics (sum_value is then UNITS, not
    dollars — the adjudicated panel is the reference consumer).
    Double states stay the default for full-precision measures.

    `topk_col` (opt-in, schema-preserving when absent) adds a
    MERGEABLE top-k state over that column — the CH `topKState`
    analogue, Spark's native `approx_top_k_accumulate`/`_combine`
    (DataSketches frequent-items): bounded-size state per key, exact
    while a key's distinct items stay under TOPK_MAX_TRACKED,
    approximate with counted error beyond. Finalize with
    `top_items_est` / `approx_top_k_estimate`.

    `hist=False` / `uniq=False` (r14, guide §2.3/§2.4) drop the
    quantile-histogram / HLL state columns for consumers that never
    read them: a CH operator materializes only the -State columns the
    view declares. The optimizer already pruned the unused AGGREGATES,
    but the histogram's downstream merge is a join whose whole second
    subtree (one more corpus scan + two exchanges) survives pruning —
    declaring the state away removes it structurally. The grouping
    SHAPE (two levels through the value-bucket grain) is kept
    bit-identical so every remaining state — including the order-
    sensitive top-k sketch — accumulates and combines exactly as with
    the full state set.
    """
    key = [F.date_trunc(granularity, F.col(ts_col)).alias("bucket_ts"),
           *[F.col(d) for d in dims]]
    topk1 = (
        [F.expr(
            f"approx_top_k_accumulate({topk_col}, {TOPK_MAX_TRACKED})"
         ).alias("top_items")]
        if topk_col else []
    )
    topk2 = (
        [F.expr(
            f"approx_top_k_combine(top_items, {TOPK_MAX_TRACKED})"
         ).alias("top_items")]
        if topk_col else []
    )
    from clickhouse_observability_spark.functions.moneydec import units4

    sum_in = units4(value_col) if dec_value else F.col(value_col)
    uniq1 = (
        [F.hll_sketch_agg(F.col(user_col), F.lit(HLL_LGK))
         .alias("uniq_users")] if uniq else []
    )
    uniq2 = [F.hll_union_agg("uniq_users").alias("uniq_users")] if uniq else []
    hist2 = (
        [F.sort_array(
            F.collect_list(F.struct(F.col("__vb").alias("b"),
                                    F.col("cnt").alias("c")))
         ).alias("value_hist")] if hist else []
    )
    lvl1 = events.groupBy(*key, value_bucket(F.col(value_col)).alias("__vb")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(sum_in).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        *uniq1,
        *topk1,
    )
    return lvl1.groupBy("bucket_ts", *dims).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        *uniq2,
        *hist2,
        *topk2,
    )


def merge_states(
    states: DataFrame,
    dims: tuple[str, ...],
    granularity: str | None = None,
) -> DataFrame:
    """Re-merge partial states to a coarser key (the -Merge step).

    `dims` must be a subset of the state's dim columns; passing a
    `granularity` coarsens the time bucket (hour -> day etc.).
    Scalars and sketches merge in one grouped pass; the histograms
    merge via explode + regroup (state-sized, never raw-sized), and
    the two rollup-sized frames join back on the key.
    """
    bucket = (F.date_trunc(granularity, F.col("bucket_ts"))
              if granularity else F.col("bucket_ts")).alias("bucket_ts")
    key = ["bucket_ts", *dims]
    topk = (
        [F.expr(
            f"approx_top_k_combine(top_items, {TOPK_MAX_TRACKED})"
         ).alias("top_items")]
        if "top_items" in states.columns else []
    )
    uniq = (
        [F.hll_union_agg("uniq_users").alias("uniq_users")]
        if "uniq_users" in states.columns else []
    )
    scalars = states.groupBy(bucket, *[F.col(d) for d in dims]).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        *uniq,
        *topk,
    )
    if "value_hist" not in states.columns:
        # state built with hist=False: nothing to merge and — because
        # both arms group the SAME frame by the SAME key — nothing the
        # dropped inner join could change (r14)
        return scalars
    hist = (
        states.select(bucket, *[F.col(d) for d in dims],
                      F.explode("value_hist").alias("e"))
        .groupBy(*key, F.col("e.b").alias("b"))
        .agg(F.sum("e.c").alias("c"))
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list(F.struct("b", "c")))
             .alias("value_hist"))
    )
    return scalars.join(hist, on=key, how="inner")


def _hist_quantile(q: float) -> Column:
    """Quantile from the per-row histogram array — pure JVM fold.

    Walks the sorted (bucket, count) array with `F.aggregate`,
    latching the first bucket whose cumulative count reaches
    ceil(q * cnt), then maps the bucket back to its midpoint.
    """
    rank = F.greatest(F.lit(1).cast("long"),
                      F.ceil(F.lit(q) * F.col("cnt")).cast("long"))
    found = F.aggregate(
        F.col("value_hist"),
        F.struct(F.lit(0).cast("long").alias("cum"),
                 F.lit(None).cast("int").alias("b")),
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(acc["b"].isNotNull(), acc["b"])
            .when(acc["cum"] + x["c"] >= rank, x["b"])
            .alias("b"),
        ),
        lambda acc: acc["b"],
    )
    return bucket_midpoint(found)


def finalize(
    states: DataFrame,
    quantiles: dict[str, float] | None = None,
    topk_k: int = 5,
) -> DataFrame:
    """Partial states -> human-readable answers (the SELECT step).

    Explicitly requested quantiles need the histogram state: asking
    for them over states built with `hist=False` raises instead of
    returning a frame without the requested columns. The default
    (`quantiles=None`) answers p50/p95/p99 when the histogram is there
    and no quantiles when it is not."""
    if quantiles and "value_hist" not in states.columns:
        raise ValueError(
            f"quantiles {sorted(quantiles)} requested but the states carry "
            "no value_hist (built with hist=False)"
        )
    qs = {"p50": 0.50, "p95": 0.95, "p99": 0.99} if quantiles is None else quantiles
    keep = [c for c in states.columns if c not in STATE_COLS]
    topk = (
        [F.expr(f"approx_top_k_estimate(top_items, {topk_k})")
         .alias("top_items_est")]
        if "top_items" in states.columns else []
    )
    uniq = (
        [F.round(F.hll_sketch_estimate("uniq_users")).cast("long")
         .alias("uniq_users_est")]
        if "uniq_users" in states.columns else []
    )
    quant = (
        [_hist_quantile(q).alias(n) for n, q in qs.items()]
        if "value_hist" in states.columns else []
    )
    return states.select(
        *keep,
        F.col("cnt"),
        F.col("sum_value"),
        (F.col("sum_value") / F.col("cnt")).alias("avg_value"),
        F.col("min_value"),
        F.col("max_value"),
        *uniq,
        *quant,
        *topk,
    )


# ---------------------------------------------------------------------------
# At-rest store: append-only increments + background compaction.
# ---------------------------------------------------------------------------

def write_rollup(states: DataFrame, path: str, mode: str = "append") -> None:
    """Append partial-state rows, partitioned by bucket month.

    Append-only is safe because every reader merges states first —
    AggregatingMergeTree's multiple-parts-per-key invariant.
    """
    from clickhouse_observability_spark.sources.writer import (
        parquet_ts_micros,
    )

    with parquet_ts_micros(states.sparkSession):  # bucket_ts keeps stats
        (states
         .withColumn("part_month", F.date_format("bucket_ts", "yyyyMM"))
         .repartition("part_month")
         .write.mode(mode)
         .option("compression", "zstd")
         .partitionBy("part_month")
         .parquet(path))


def append_increment(
    new_events: DataFrame,
    path: str,
    granularity: str = "hour",
    dims: tuple[str, ...] = ("event_type",),
    **kw,
) -> None:
    """Ingest-side maintenance: aggregate ONLY the new slice and
    append its states. No read-modify-write against history — the
    at-rest table grows by O(new keys) rows per increment."""
    write_rollup(build_rollup(new_events, granularity, dims, **kw), path)


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    # recover a compaction that crashed between its two renames (the
    # table dir momentarily absent, data intact under .compact.old)
    old = path.rstrip("/") + ".compact.old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    return spark.read.parquet(path).drop("part_month")


def compact_rollup(
    spark: SparkSession, path: str, dims: tuple[str, ...]
) -> None:
    """Background-merge analogue: collapse duplicate-key state rows
    to exactly one row per (bucket_ts, dims).

    OPERATIONAL CONTRACT (same as `sources/retention`): run while
    writers AND readers of this store are quiesced — POSIX cannot
    atomically swap directories, so there is a window between the
    two renames where the path is absent, and in-flight DataFrames
    that listed the old files would hit deleted parts. A crash
    inside the window is recoverable: `read_rollup` restores the
    intact `.compact.old` copy. (The streaming RollupView store
    avoids this entirely with its MANIFEST pointer; this batch-side
    tool keeps the simpler layout.)
    """
    merged = merge_states(read_rollup(spark, path), dims)
    tmp = path.rstrip("/") + ".compact.tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_rollup(merged, tmp, mode="overwrite")
    old = path.rstrip("/") + ".compact.old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)

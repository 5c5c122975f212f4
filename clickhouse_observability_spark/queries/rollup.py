"""Registry entries for the mergeable-state materialized rollup.

The adjudicated panel answers day-grain questions THROUGH the rollup
path — build hour x (event_type, user_bucket) partial states, then
merge-on-read to two coarser grains — and must equal DuckDB's direct
aggregation of the raw events. That makes the whole -State/-Merge
machinery (operators/rollup.py) oracle-verified end-to-end for every
additive measure; the approximate state columns (HLL uniques,
DDSketch quantiles) are accuracy-bounded in tests/test_rollup.py.

Registers AFTER the 50-slot adjudication window (registry.py order);
the oracle is executed in pytest by the CI registry gate
(tests/test_oracle_registry.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_observability_spark.operators import rollup as R
from clickhouse_observability_spark.registry import register, table


@register(
    "rollup_day_type_panel",
    oracle="""
    WITH base AS (SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
                         event_type, value
                  FROM events)
    SELECT bucket_ts, event_type, count(*) AS cnt,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value,
           floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*) * 10000.0) / 10000.0 AS avg_value,
           min(value) AS min_value, max(value) AS max_value
    FROM base GROUP BY 1, 2
    UNION ALL
    SELECT bucket_ts, '(all)' AS event_type, count(*) AS cnt,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value,
           floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*) * 10000.0) / 10000.0 AS avg_value,
           min(value) AS min_value, max(value) AS max_value
    FROM base GROUP BY 1
    """,
)
def rollup_day_type_panel(spark, sf_dir):
    """Day-grain per-type + all-types panel answered from partial
    states built at a STRICTLY finer grain (hour x type x
    user-bucket), so both the time coarsening and the dim-subset
    paths of `merge_states` are on the adjudicated path."""
    ev = table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("int"))
    # materialize the ROLLUP-SIZED states once (hours x 5 x 4 rows):
    # both merge arms re-read them instead of re-aggregating the raw
    # corpus (plan audit: 14 -> 6 exchanges, one corpus scan).
    # hist=False/uniq=False (r14): the panel reads only the additive
    # scalar states, so the checkpoint no longer materializes HLL
    # sketches + histograms it never reads, and each merge arm loses
    # its histogram-join subtree (grouping shape unchanged — the
    # scalar state math is bit-identical)
    fine = R.build_rollup(
        ev, "hour", ("event_type", "user_bucket"), dec_value=True,
        hist=False, uniq=False,
    ).localCheckpoint(eager=True)

    def panel(states):
        # integer-unit states (moneydec fast path) merge exactly AND
        # stay primitive; the quantized sum and the floor-quantized
        # avg are bit-identical to the oracle at ANY sf (this entry
        # was the r7 sf0.001 hash-exemption — closed in r9)
        from clickhouse_observability_spark.functions.moneydec import (
            floor_quantize,
            units_to_money,
        )

        return states.select(
            "bucket_ts", "event_type", "cnt",
            units_to_money(F.col("sum_value")).alias("sum_value"),
            floor_quantize(
                (F.col("sum_value") / F.lit(10000.0)) / F.col("cnt"), 4
            ).alias("avg_value"),
            "min_value", "max_value",
        )

    per_type = panel(R.merge_states(fine, ("event_type",), "day"))
    all_types = panel(
        R.merge_states(fine, (), "day")
        .withColumn("event_type", F.lit("(all)"))
    )
    return per_type.unionByName(all_types)


@register(
    "rollup_topk_counts",
    oracle="""
    WITH c AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
               event_type, user_id, count(*) AS n
        FROM events GROUP BY 1, 2, 3
    ), rk AS (
        SELECT bucket_ts, event_type, n,
               row_number() OVER (
                   PARTITION BY bucket_ts, event_type
                   ORDER BY n DESC, user_id) AS rank,
               CAST(sum(n) OVER (PARTITION BY bucket_ts, event_type)
                    AS BIGINT) AS cnt
        FROM c
    )
    SELECT bucket_ts, event_type, cnt, rank, n AS n_events
    FROM rk WHERE rank <= 3
    """,
)
def rollup_topk_counts(spark, sf_dir):
    """The TIE-INVARIANT projection of `rollup_topk_users`, oracle-
    adjudicated (r8, verdict #3): per (day, event_type), the count
    VALUES at ranks 1-3 from the mergeable top-k state (hour states
    -> day merge -> estimate) vs DuckDB's exact re-aggregation.

    user_id is deliberately DROPPED: testdata has 100+ groups with a
    count tie spanning the rank-3 boundary, where the frequent-items
    sketch's returned identity is legitimately engine-specific. The
    sorted count multiset is identical under every tie choice, so
    this entry hash-adjudicates the whole state path (capacity 100 >
    max 67 distinct users/group at sf0.01 -> counts exact) while the
    identity-bearing entry stays rows-only with its pytest pins."""
    ev = table(spark, sf_dir, "events")
    # hist=False/uniq=False (r14): only cnt + the top-k state feed the
    # output; dropping the never-read states removes the histogram
    # merge's join subtree (one fewer corpus scan chain) while the
    # two-level grouping keeps the top-k accumulate/combine order —
    # and hence the sketch state — bit-identical.
    fine = R.build_rollup(ev, "hour", ("event_type",), topk_col="user_id",
                          hist=False, uniq=False)
    day = R.merge_states(fine, ("event_type",), "day")
    fin = R.finalize(day, topk_k=3)
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("n_events").desc())
    return (
        fin.select(
            "bucket_ts", "event_type", "cnt",
            F.explode("top_items_est").alias("e"),
        )
        .select(
            "bucket_ts", "event_type", "cnt",
            F.col("e.count").alias("n_events"),
        )
        .withColumn("rank", F.row_number().over(w))
        .select("bucket_ts", "event_type", "cnt", "rank", "n_events")
    )


@register(
    "rollup_topk_users",
    oracle="""
    WITH c AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_ts,
               event_type, user_id, count(*) AS n_events
        FROM events GROUP BY 1, 2, 3
    ), rk AS (
        SELECT bucket_ts, event_type, user_id, n_events,
               row_number() OVER (
                   PARTITION BY bucket_ts, event_type
                   ORDER BY n_events DESC, user_id) AS rank,
               CAST(sum(n_events) OVER (
                   PARTITION BY bucket_ts, event_type) AS BIGINT) AS cnt
        FROM c
    )
    SELECT bucket_ts, event_type, cnt, rank, user_id, n_events
    FROM rk WHERE rank <= 3
    """,
)
def rollup_topk_users(spark, sf_dir):
    """Top-3 most active users per (day, event_type) WITH identities,
    answered from the MERGEABLE top-k state (CH `topKState`/`topKMerge`
    ≅ Spark's native approx_top_k accumulate/combine — DataSketches
    frequent-items): hour-grain states built once, merged on read to
    day grain.

    Oracle-backed (r9 verdict #4): instead of trusting the sketch's
    own rank order — whose tie order is engine-specific — the state
    is drained in FULL (estimate k = tracking capacity, so counts are
    exact while a group's distinct users stay under capacity; sf0.01
    max is 67 < 100) and re-ranked deterministically by
    (n_events DESC, user_id), the same total order DuckDB computes
    from the raw events. Over capacity the counts become estimates
    and the entry's guarantee degrades to the sketch's — that regime
    is covered by the tie-invariant projection `rollup_topk_counts`
    and the accuracy bounds in tests/test_rollup.py."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    # hist=False/uniq=False (r14): only cnt + the top-k state feed the
    # output; dropping the never-read states removes the histogram
    # merge's join subtree (one fewer corpus scan chain) while the
    # two-level grouping keeps the top-k accumulate/combine order —
    # and hence the sketch state — bit-identical.
    fine = R.build_rollup(ev, "hour", ("event_type",), topk_col="user_id",
                          hist=False, uniq=False)
    day = R.merge_states(fine, ("event_type",), "day")
    fin = R.finalize(day, topk_k=R.TOPK_MAX_TRACKED)  # full drain
    w = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id"))
    return (
        fin.select(
            "bucket_ts", "event_type", "cnt",
            F.explode("top_items_est").alias("e"),
        )
        .select(
            "bucket_ts", "event_type", "cnt",
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("n_events"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("bucket_ts", "event_type", "cnt", "rank", "user_id",
                "n_events")
    )

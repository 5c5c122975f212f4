"""EXT star-schema join queries with DuckDB oracles (SURVEY.md §2.3 EXT)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_observability_spark.operators import joins as J
from clickhouse_observability_spark.registry import register, table


@register(
    "join_orders_enriched",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate, c_name, n_name, r_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def join_orders_enriched(spark, sf_dir):
    return J.orders_enriched(
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
    )


@register(
    "join_semi_anti_customers",
    oracle="""
    SELECT 'with_orders' AS op, c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'without_orders', c_mktsegment, count(*)
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
)
def join_semi_anti_customers(spark, sf_dir):
    """LEFT SEMI + LEFT ANTI segment counts in one result, tagged by
    `op` — the two existence-join flavors share one registry slot so
    both stay inside the driver's 50-query oracle window."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    semi = J.customers_with_orders(customer, orders).select(
        F.lit("with_orders").alias("op"), "c_mktsegment", "n_customers"
    )
    anti = J.customers_without_orders(customer, orders).select(
        F.lit("without_orders").alias("op"), "c_mktsegment", "n_customers"
    )
    return semi.unionByName(anti)


@register(
    "join_interval_error_bursts",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    thr AS (SELECT quantile_cont(n_errors, 0.95) AS thr FROM hourly),
    bursts AS (
        SELECT hour_start - INTERVAL 30 MINUTE AS start_ts,
               hour_start + INTERVAL 90 MINUTE AS end_ts, n_errors
        FROM hourly, thr WHERE n_errors > thr
    )
    SELECT b.start_ts, b.end_ts, b.n_errors,
           count(*) AS n_clicks_during_burst
    FROM bursts b JOIN events e
      ON e.event_type = 'click' AND e.ts >= b.start_ts AND e.ts < b.end_ts
    GROUP BY 1, 2, 3
    """,
)
def join_interval_error_bursts(spark, sf_dir):
    """Range join, binned: count click traffic inside 'incident'
    intervals (hours whose error count exceeds the 95th percentile of
    hourly error counts — scale-free, so the query is meaningful at
    any sf — widened ±30 min). The interval side derives from the
    same events table so the query is self-contained; the operator
    (interval_join) bins the time axis and equi-joins on the bin —
    Catalyst would otherwise plan the pure-inequality join as a
    nested-loop cross product. The percentile runs over the HOURLY
    AGGREGATE (#hours rows, tiny at any scale), not raw events.
    Oracle-backed since r3 (DuckDB runs the plain theta-join — a fine
    oracle at sf0.01 even though it would be a cross-product disaster
    at scale); pytest additionally asserts exact parity against the
    unbinned theta-join plus the no-cross-product plan shape."""
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    thr = hourly.agg(
        F.expr("percentile(n_errors, 0.95)").alias("thr")
    )
    bursts = (
        hourly.join(F.broadcast(thr))
        .filter(F.col("n_errors") > F.col("thr"))
        .select(
            (F.col("hour_start") - F.expr("INTERVAL 30 MINUTES")).alias("start_ts"),
            (F.col("hour_start") + F.expr("INTERVAL 90 MINUTES")).alias("end_ts"),
            "n_errors",
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    joined = J.interval_join(clicks, bursts, bin_width_sec=3600)
    return (
        joined.groupBy("start_ts", "end_ts", "n_errors")
        .agg(F.count(F.lit(1)).alias("n_clicks_during_burst"))
    )

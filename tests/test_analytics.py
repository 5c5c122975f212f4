"""EXT aggregation/window/as-of operator tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_observability_spark.operators import analytics as A
from clickhouse_observability_spark.sources.parquet import load_table


def _ev(i, t, u, typ, v):
    return (i, dt.datetime.fromisoformat(t), u, typ, float(v), "{}")


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        _ev(1, "2024-01-01T10:00:00", 1, "click", 1.0),
        _ev(2, "2024-01-01T10:30:00", 1, "click", 2.0),
        _ev(3, "2024-01-01T11:00:00", 1, "purchase", 50.0),
        _ev(4, "2024-01-01T12:00:00", 2, "purchase", 30.0),  # no prior click
        _ev(5, "2024-01-01T09:00:00", 2, "click", 1.0),
        _ev(6, "2024-01-02T09:30:00", 2, "purchase", 10.0),
        _ev(7, "2024-01-01T11:00:00", 3, "click", 1.0),  # tie ts w/ purchase
        _ev(8, "2024-01-01T11:00:00", 3, "purchase", 5.0),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_asof_join_backward(events):
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    out = {
        r.event_id: r.last_click_id
        for r in A.asof_join_last_event(
            purchases, clicks, on="user_id", right_value="event_id",
            alias="last_click_id",
        ).collect()
    }
    assert out[3] == 2  # latest click before 11:00 for user 1
    assert out[4] == 5  # user 2: 09:00 click (12:00 purchase)
    assert out[6] == 5  # next-day purchase still sees old click
    assert out[8] == 7  # tie: click at exactly purchase ts counts (<=)


def test_top_n_per_type(events):
    out = A.top_n_per_type(events, n=1).collect()
    got = {r.event_type: r.event_id for r in out}
    assert got == {"click": 7, "purchase": 6}


def test_user_gaps(events):
    out = {r.event_id: r.gap_us for r in A.user_activity_gaps(events, "click").collect()}
    assert out[1] is None  # first click of user 1
    assert out[2] == 30 * 60 * 1_000_000


def test_hourly_counts(events):
    out = {r.bucket: r.n for r in A.hourly_counts(events).collect()}
    assert out[dt.datetime(2024, 1, 1, 10, 0)] == 2  # ids 1, 2
    assert out[dt.datetime(2024, 1, 1, 11, 0)] == 3  # ids 3, 7, 8


def test_approx_distinct_close_to_exact(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    exact = {r.event_type: r.users for r in A.distinct_users(ev).collect()}
    approx = {r.event_type: r.users_approx for r in A.approx_distinct_users(ev).collect()}
    for t, n in exact.items():
        assert abs(approx[t] - n) / n < 0.05


def test_approx_percentiles_close_to_exact(spark, sf_small):
    # The registered 100 TB percentile path (bounded GK sketch)
    # guarantees RANK error, not value error, and returns an actual
    # observation (no interpolation). Assert each approx quantile
    # lies within the exact value envelope q ± 2 rank-percent.
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events")
    qs = {"p50": 0.50, "p95": 0.95, "p99": 0.99}
    lo = ev.groupBy("event_type").agg(
        *[F.expr(f"percentile(value, {max(0.0, q - 0.02)})").alias(n)
          for n, q in qs.items()]
    )
    hi = ev.groupBy("event_type").agg(
        *[F.expr(f"percentile(value, {min(1.0, q + 0.02)})").alias(n)
          for n, q in qs.items()]
    )
    lo = {r.event_type: r.asDict() for r in lo.collect()}
    hi = {r.event_type: r.asDict() for r in hi.collect()}
    approx = {r.event_type: r.asDict()
              for r in A.latency_percentiles_approx(ev).collect()}
    for t, a in approx.items():
        for n in qs:
            assert lo[t][n] - 1e-9 <= a[n] <= hi[t][n] + 1e-9, (t, n, a[n])
    med = {r.event_type: r.median_value
           for r in A.median_value_approx(ev).collect()}
    for t, m in med.items():
        assert lo[t]["p50"] - 1e-9 <= m <= hi[t]["p50"] + 1e-9


def test_general_asof_join(spark):
    """The CH ASOF JOIN operator: closest right row per left row on
    the chosen side of the timestamp, one key shuffle, whole right
    row carried."""
    from clickhouse_observability_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2025-01-01 10:00:00", "L1"),
         (1, "2025-01-01 12:00:00", "L2"),
         (2, "2025-01-01 10:30:00", "L3"),
         (3, "2025-01-01 09:00:00", "L4")],
        "k long, ts string, lv string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "lv")
    right = spark.createDataFrame(
        [(1, "2025-01-01 09:00:00", "R1"),
         (1, "2025-01-01 12:00:00", "R2"),
         (2, "2025-01-01 11:00:00", "R3")],
        "k long, ts string, rv string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "rv")

    def got(**kw):
        return {
            r.lv: r.r_rv
            for r in asof_join(left, right, ["k"], "ts", "ts",
                               right_prefix="r_", **kw).collect()
        }

    # backward non-strict (CH l.ts >= r.ts): equal ts matches
    assert got() == {"L1": "R1", "L2": "R2"}
    # backward strict (l.ts > r.ts): L2's equal-ts R2 is excluded
    assert got(strict=True) == {"L1": "R1", "L2": "R1"}
    # forward non-strict (l.ts <= r.ts): earliest at-or-after
    assert got(direction="forward") == {
        "L1": "R2", "L2": "R2", "L3": "R3"}
    # ASOF LEFT JOIN keeps unmatched left rows with NULLs
    assert got(how="left") == {
        "L1": "R1", "L2": "R2", "L3": None, "L4": None}
    # exactly one shuffle on the key: a single Window, no join node
    plan = asof_join(left, right, ["k"], "ts", "ts", right_prefix="r_") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and plan.count("Exchange") <= 2


def test_asof_general_join_oracle_matches_duckdb(spark, sf_med):
    """The general asof_join vs DuckDB's NATIVE ASOF JOIN at the
    driver's adjudication scale — two independent implementations of
    the operator must agree row for row."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_med}/events.parquet'")
    sdf = qs["asof_general_join"](spark, sf_med)
    res = con.execute(oracles["asof_general_join"])
    dcols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(dcols)
    idx = [dcols.index(c) for c in sdf.columns]
    srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
    drows = sorted(tuple(str(r[i]) for i in idx) for r in res.fetchall())
    assert srows == drows

"""ClickHouse aggregate-function family (operators/ch_functions.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

import clickhouse_observability_spark.operators.ch_functions as CH


def test_argmax_argmin_deterministic_ties(spark):
    # two rows tie on by-value: argMax picks the larger arg, argMin
    # the smaller, regardless of input order
    df = spark.createDataFrame(
        [Row(g="a", u=1, v=9.0), Row(g="a", u=7, v=9.0),
         Row(g="a", u=3, v=1.0), Row(g="b", u=5, v=2.0),
         Row(g="b", u=2, v=2.0)]
    )
    out = {r["g"]: r for r in df.groupBy("g").agg(
        CH.arg_max("u", "v").alias("amax"),
        CH.arg_min("u", "v").alias("amin")).collect()}
    assert out["a"]["amax"] == 7 and out["b"]["amax"] == 5
    assert out["a"]["amin"] == 3 and out["b"]["amin"] == 2
    # single aggregation: no Window operator in the plan
    plan = df.groupBy("g").agg(CH.arg_max("u", "v"))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_topk_freq_order_and_ties(spark):
    rows = ([Row(g="x", u=1)] * 3 + [Row(g="x", u=2)] * 3
            + [Row(g="x", u=3)] * 5 + [Row(g="x", u=4)]
            + [Row(g="y", u=9)] * 2)
    df = spark.createDataFrame(rows)
    out = {r["g"]: r["top_k"]
           for r in CH.top_k_by_freq(df, "g", "u", 3).collect()}
    # count desc, then value asc on the 3-vs-3 tie
    assert out["x"] == [3, 1, 2]
    assert out["y"] == [9]


def test_histogram_densifies_empty_bins(spark):
    df = spark.createDataFrame(
        [Row(g="a", v=5.0), Row(g="a", v=455.0), Row(g="a", v=460.0),
         Row(g="a", v=-3.0), Row(g="a", v=999.0)])
    bucket, densify = CH.histogram_fixed("v", 0.0, 500.0, 10)
    out = (
        df.groupBy("g", bucket.alias("b")).agg(F.count("*").alias("c"))
        .groupBy("g")
        .agg(densify(F.collect_list(F.struct("b", "c"))).alias("h"))
    ).collect()[0]["h"]
    # bin1: 5.0 plus the clamped -3.0; bin10: 455/460 plus clamped 999
    assert out == [2, 0, 0, 0, 0, 0, 0, 0, 0, 3]


def test_summap_merges_keys(spark):
    df = spark.createDataFrame(
        [Row(g="a", m={"x": 1.0, "y": 2.0}),
         Row(g="a", m={"x": 10.0}),
         Row(g="b", m={"y": 5.0})])
    out = {(r["g"], r["map_key"]): r["map_sum"]
           for r in CH.sum_map(df, "g", F.col("m")).collect()}
    assert out == {("a", "x"): 11.0, ("a", "y"): 2.0, ("b", "y"): 5.0}


def test_chfuncs_oracles_match_duckdb(spark, sf_med):
    """Executes the agg_ch_* oracle strings against DuckDB at the
    driver's adjudication scale (post-window entries; the CI registry
    gate in tests/test_oracle_registry.py runs them too)."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    names = sorted(n for n in oracles
                   if n.startswith(("agg_ch_", "ch_dialect_", "agg_segment_")))
    assert len(names) == 8  # r13: + the wave-11 panel
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_med}/events.parquet'")
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_med}/documents.parquet'")
    for name in names:
        sdf = qs[name](spark, sf_med)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols), name
        idx = [dcols.index(c) for c in sdf.columns]
        srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
        drows = sorted(tuple(str(r[i]) for i in idx)
                       for r in res.fetchall())
        assert srows == drows, name


def test_segment_overlap_exact_matches_python(spark):
    rows = [("a", 1), ("a", 2), ("a", 3), ("a", 3),
            ("b", 2), ("b", 3), ("b", 9),
            ("c", 7)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    got = {(r.seg_a, r.seg_b): (r.n_a, r.n_b, r.n_inter, r.n_union, r.jaccard)
           for r in CH.segment_overlap_exact(df).collect()}
    # c shares no users: pairs with zero intersection are absent (the
    # inner join semantics the oracle mirrors)
    assert set(got) == {("a", "b")}
    assert got[("a", "b")] == (3, 3, 2, 4, 0.5)


def test_segment_overlap_theta_error_bounded(spark, sf_med):
    from clickhouse_observability_spark.sources.parquet import load_table

    ev = load_table(spark, sf_med, "events")
    exact = {(r.seg_a, r.seg_b): r for r in CH.segment_overlap_exact(ev).collect()}
    approx = {(r.seg_a, r.seg_b): r for r in CH.segment_overlap_theta(ev).collect()}
    assert set(approx) >= set(exact)
    # theta sketches at default lgNomEntries=12 are exact below ~4k
    # uniques and within a few percent far beyond; 5% is generous
    for k, e in exact.items():
        a = approx[k]
        for ef, af in ((e.n_a, a.est_a), (e.n_b, a.est_b),
                       (e.n_inter, a.est_inter), (e.n_union, a.est_union)):
            assert abs(af - ef) <= max(1.0, 0.05 * ef), (k, ef, af)


def test_segment_overlap_theta_plan_never_shuffles_ids(spark, sf_med):
    """The scale contract: ids fold into per-segment sketch states
    map-side; the only exchanges are the #segments-key aggregation
    and the broadcast pair join — no id-keyed Exchange."""
    from clickhouse_observability_spark.sources.parquet import load_table

    ev = load_table(spark, sf_med, "events")
    plan = CH.segment_overlap_theta(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(user_id" not in plan
    assert "hashpartitioning(id" not in plan


def test_entropy_hand_computed(spark):
    """Shannon entropy (log2) against hand values: uniform over 4
    values = 2 bits; single value = 0; the 1/2+1/4+1/4 split = 1.5."""
    import math

    from clickhouse_observability_spark.operators.ch_functions import (
        entropy,
    )

    rows = ([("u", i) for i in range(4)]
            + [("s", 7)] * 3
            + [("m", 1), ("m", 1), ("m", 2), ("m", 3)])
    df = spark.createDataFrame(rows, "g string, v int")
    got = {r.g: round(r.entropy, 10) for r in
           entropy(df, "g", "v").collect()}
    assert got["u"] == 2.0
    assert got["s"] == 0.0
    assert math.isclose(got["m"], 1.5)


def test_entropy_dialect_refusal(spark):
    from clickhouse_observability_spark.functions.ch_dialect import (
        ChDialectError,
        translate,
    )
    import pytest as _p

    with _p.raises(ChDialectError, match="two-level aggregation"):
        translate("SELECT entropy(user_id) FROM events GROUP BY 1")


def test_entropy_skips_nulls(spark):
    """CH/DuckDB aggregates skip NULLs; a groupBy-based entropy must
    not count NULL as one more value."""
    from clickhouse_observability_spark.operators.ch_functions import (
        entropy,
    )

    df = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", None), ("g", None)],
        "g string, v int")
    got = entropy(df, "g", "v").collect()[0].entropy
    assert got == 1.0  # two non-NULL values, uniform -> 1 bit


def test_weighted_quantile_hand_computed(spark):
    """Lower-bound weighted quantile against hand values: buckets
    1,2,3 with weights 5,4,1 (total 10): p50 -> cum 5 >= 5 at bucket
    1; p90 -> cum 9 >= 9 at bucket 2; p95 -> ceil(9.5)=10 at 3."""
    from clickhouse_observability_spark.operators.ch_functions import (
        weighted_quantile,
    )

    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 2, 4), ("g", 3, 1)],
        "g string, x int, w int")
    for q, want in ((0.5, 1.0), (0.9, 2.0), (0.95, 3.0), (1.0, 3.0)):
        got = weighted_quantile(df, "g", "x", "w", q).collect()[0][1]
        assert got == want, (q, got)

"""moneydec policy tests (r9): boundary-proof money aggregation.

The class being closed: ``round(sum(double), 2)`` flips the rounded
cent when a group sum lands exactly on the half-cent boundary,
because double summation is order-dependent (r8: 2 of one entry's
175 group sums sat on the boundary at sf0.01 and the driver hash
mismatched; CHANGELOG.md). The structural fix sums
in DECIMAL(18,4) — exact, order-independent — on BOTH engines.

These tests pin the policy from three sides:
1. a hypothesis property: the decimal pipeline is invariant under
   ANY permutation of the inputs (the float pipeline provably is
   not — witnessed);
2. a Spark-vs-DuckDB equality on adversarial boundary data with the
   exact helper expressions used by the registry;
3. partition-order invariance inside Spark itself (repartition
   changes the combine order; the decimal sum must not care).
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from clickhouse_observability_spark.functions.moneydec import (
    dec,
    floor_quantize,
    money_sum,
)


def _money(v_cents: int) -> Decimal:
    return Decimal(v_cents) / Decimal(100)


@given(
    st.lists(st.integers(min_value=-10**7, max_value=10**7), min_size=1,
             max_size=60),
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_decimal_sum_is_permutation_invariant(cents, rnd):
    """Exact-decimal sum + HALF_UP round(2) never depends on order."""
    vals = [_money(c) for c in cents]
    ref = sum(vals).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    for _ in range(5):
        rnd.shuffle(vals)
        assert sum(vals).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        ) == ref


def test_float_sum_order_dependence_witness():
    """The failure mode being closed actually exists: the same 2dp
    money values, summed as doubles in two orders, round to two
    different cents (so the old round(sum(double)) oracle class was
    a coin flip — this is a witness, not a property)."""
    witness = None
    rnd = random.Random(1)
    for _ in range(3000):
        # 4-decimal values (like l_extendedprice*(1-l_discount)):
        # 2dp inputs can never SUM onto a half-cent boundary, products
        # of two 2dp columns can — exactly the q9 failure shape
        units = [rnd.randint(1, 10**9) for _ in range(20)]  # 1e-4 units
        total = sum(units)
        units[-1] += (50 - total % 100) % 100  # park EXACT sum on x.xx50
        vals = [u / 10000.0 for u in units]
        a = round(sum(vals), 2)
        b = round(sum(sorted(vals)), 2)
        c = round(sum(sorted(vals, reverse=True)), 2)
        if len({a, b, c}) > 1:
            witness = (units, a, b, c)
            break
    assert witness is not None, (
        "expected at least one order-dependent rounding among 3000 "
        "half-cent-boundary cases"
    )


def test_spark_duckdb_agree_on_boundary_sums(spark):
    """The registry's exact helper expressions vs DuckDB's textual
    counterparts, over values engineered to land on half-cent
    boundaries — bit-for-bit equal, any partitioning."""
    rnd = random.Random(42)
    rows = []
    for g in range(40):
        units = [rnd.randint(1, 10**8) for _ in range(25)]  # 1e-4 units
        # park the exact group sum on the x.xx50 half-cent boundary
        units[-1] += (50 - sum(units) % 100) % 100
        for u in units:
            rows.append((g, u / 10000.0))
    sdf = spark.createDataFrame(rows, "g INT, v DOUBLE").repartition(7)
    got = {
        r["g"]: (r["s"], r["a"])
        for r in sdf.groupBy("g")
        .agg(
            money_sum("v").alias("s"),
            floor_quantize(
                F.sum(dec("v")).cast("double") / F.count(F.lit(1)), 4
            ).alias("a"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        g: (s, a)
        for g, s, a in con.execute(
            """
            SELECT g,
                   CAST(round(sum(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE),
                   floor(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*) * 10000.0) / 10000.0
            FROM t GROUP BY g
            """
        ).fetchall()
    }
    assert got == want  # exact float equality — the whole point


def test_partition_order_invariance(spark):
    """Same data, three different partitionings -> identical
    money_sum outputs (double sums would differ in ulps here)."""
    rnd = random.Random(9)
    rows = [(i % 5, rnd.randint(1, 10**6) / 100.0) for i in range(4000)]
    base = spark.createDataFrame(rows, "g INT, v DOUBLE")
    outs = []
    for parts in (1, 3, 17):
        df = base.repartition(parts)
        outs.append(
            sorted(
                (r["g"], r["s"])
                for r in df.groupBy("g").agg(money_sum("v").alias("s")).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("scale", [0, 2, 4])
def test_floor_quantize_matches_duckdb_floor(spark, scale):
    """floor(x*10^n)/10^n on the same double is the same double on
    both engines (each step is one IEEE op)."""
    xs = [0.005, 1.115, 2.675, 1964425.435, 0.1 + 0.2, 1 / 3, 7 / 11]
    sdf = spark.createDataFrame([(x,) for x in xs], "x DOUBLE")
    got = [
        r["q"]
        for r in sdf.select(floor_quantize(F.col("x"), scale).alias("q"))
        .collect()
    ]
    con = duckdb.connect()
    mul = 10.0**scale
    want = [
        con.execute(f"SELECT floor(CAST(? AS DOUBLE) * {mul}) / {mul}", [x])
        .fetchone()[0]
        for x in xs
    ]
    assert got == want


def test_units_fast_path_equals_decimal_path(spark):
    """The BIGINT-units fast path (units4/cents*pct/units_money_sum/
    units_avg) must be bit-identical to the DECIMAL(18,4) reference —
    including negative sums (HALF_UP = away from zero) and exact
    half-cent boundaries."""
    from clickhouse_observability_spark.functions.moneydec import (
        cents,
        dec,
        floor_quantize,
        money_sum,
        pct_units,
        units4,
        units_avg,
        units_money_sum,
    )

    rnd = random.Random(11)
    rows = []
    for g in range(30):
        for _ in range(20):
            price = rnd.randint(1, 10**7) / 100.0       # 2dp money
            disc = rnd.randint(0, 10) / 100.0            # 2dp fraction
            sign = -1.0 if g % 5 == 0 else 1.0           # negative groups
            rows.append((g, sign * price, disc))
    # park some groups exactly on the half-cent boundary of the
    # product sum: group 0's items are crafted via integer units
    sdf = spark.createDataFrame(rows, "g INT, price DOUBLE, d DOUBLE")
    got = (
        sdf.groupBy("g")
        .agg(
            units_money_sum(units4("price")).alias("s_fast"),
            money_sum("price").alias("s_dec"),
            units_money_sum(
                cents("price") * (100 - pct_units("d"))
            ).alias("p_fast"),
            money_sum(dec("price") * (1 - dec("d"))).alias("p_dec"),
            units_avg(units4("price"), F.count(F.lit(1)), ndigits=4)
            .alias("a_fast"),
            floor_quantize(
                F.sum(dec("price")).cast("double") / F.count(F.lit(1)), 4
            ).alias("a_dec"),
        )
        .collect()
    )
    for r in got:
        assert r["s_fast"] == r["s_dec"], r
        assert r["p_fast"] == r["p_dec"], r
        assert r["a_fast"] == r["a_dec"], r


def test_units_money_sum_half_boundary_and_negatives(spark):
    """Integer HALF_UP quantization: exactly +/-.xx5 rounds away
    from zero, like round() over exact decimals on both engines."""
    from clickhouse_observability_spark.functions.moneydec import (
        units_money_sum,
    )

    rows = [  # (group, units of 1e-4 dollars)
        (0, 1_964_425_4350),   # +x.435 -> .44
        (1, -1_964_425_4350),  # -x.435 -> -.44 (away from zero)
        (2, 50),               # 0.0050 -> 0.01
        (3, -50),              # -0.0050 -> -0.01
        (4, 49),               # 0.0049 -> 0.00
    ]
    sdf = spark.createDataFrame(rows, "g INT, u LONG")
    got = {
        r.g: r.s
        for r in sdf.groupBy("g")
        .agg(units_money_sum(F.col("u")).alias("s"))
        .collect()
    }
    # 19,644,254,350 u4 = 1,964,425.435 dollars — the exact q9
    # boundary value — away-from-zero to the .44 cent
    assert got[0] == 1964425.44
    assert got[1] == -1964425.44
    assert got[2] == 0.01 and got[3] == -0.01 and got[4] == 0.0


def test_units_d_guard_raises_at_exactness_bound(spark):
    """The double-carried units fast path must fail LOUDLY when a
    group sum reaches 2^53 (where integer-valued doubles stop being
    exact), never drift silently."""
    import pytest
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.functions.moneydec import (
        units_money_sum_d,
    )

    big = spark.range(4).select(
        (F.lit(2.0) ** 52).alias("u"))  # 4 * 2^52 = 2^54 > bound
    with pytest.raises(Exception, match="2\\^53|units_d"):
        big.agg(units_money_sum_d(F.col("u"))).collect()
    # under the bound: exact and quiet
    ok = spark.range(4).select(F.lit(1.0e9).alias("u"))
    val = ok.agg(
        units_money_sum_d(F.col("u")).alias("s")).collect()[0].s
    assert val == 400000.0  # 4e9 units4 = $400k

"""EXT join operators over the star schema (SURVEY.md §2.3 EXT).

The reference is single-table (zero joins: verified across db.go /
api.go / README). These exercise the full Spark join surface the
engine exposes — inner/left/semi/anti, dimension broadcast, multi-way
star joins — expressed so Catalyst picks the physical strategy:

- dimension tables (region 5, nation 25, supplier 100, customer 1.5k
  per sf0.01) sit far under the broadcast threshold -> BroadcastHashJoin,
  no shuffle of the fact side;
- fact⋈fact shuffles both sides on the join key; AQE handles skew
  splitting at runtime. At 100 TB co-locating both facts by bucketing
  on the join key (sources/bucketing.py) would eliminate that shuffle
  entirely — the write-side convention, not a query change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orders_enriched(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame,
    limit: int = 100,
) -> DataFrame:
    """Top orders by price, enriched through the dim chain
    customer->nation->region (all broadcast)."""
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "o_orderkey", "o_totalprice", "o_orderdate",
            "c_name", "n_name", "r_name",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(limit)
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT SEMI join: customers having >=1 order, counted per
    segment. Semi joins short-circuit (no fan-out on multi-matches)."""
    has = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    )
    return has.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI join: customers with no orders, per segment."""
    none = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    )
    return none.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    bin_width_sec: int = 3600,
    event_ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    on: list[str] | None = None,
) -> DataFrame:
    """Events ⋈ intervals containing them (closed-open [start, end))
    — the range-join problem, binned so it never degenerates to a
    cross product: each event hashes to ONE time bin, each interval
    explodes to the bins it overlaps, the join is an equi-join on the
    bin plus a residual containment filter. Work is
    |events| + Σ(interval span / bin_width) join rows — at 100 TB
    pick bin_width on the order of the typical interval length so
    intervals explode to O(1) bins each.

    Catalyst cannot plan this rewrite itself (an inequality-only join
    becomes BroadcastNestedLoop/Cartesian); the binning turns it into
    a plain shuffled hash join on (bin). Dedup is unnecessary: an
    event's single bin meets each overlapping interval exactly once.

    `on` adds equi-keys to the bin (per-service maintenance windows,
    per-host incidents): the shuffle key becomes (keys..., bin), which
    also spreads a globally-hot time bin across key partitions.

    Inner-join semantics only: the containment re-check runs after
    the bin join, so an outer variant would silently degenerate to
    inner — better not offered than offered wrong.
    """
    # Bin on MICROsecond precision: unix_timestamp() truncates to
    # whole seconds, which would place an interval ending at
    # 01:00:00.500 entirely in the previous bin and lose its last
    # sub-second of coverage (false negatives vs the theta-join).
    width_us = bin_width_sec * 1_000_000
    ev_bin = F.floor(F.unix_micros(F.col(event_ts)) / width_us)
    iv_bins = F.sequence(
        F.floor(F.unix_micros(F.col(start)) / width_us),
        F.floor((F.unix_micros(F.col(end)) - 1) / width_us),
    )
    e = events.withColumn("_bin", ev_bin)
    # sequence(a, b) with b < a is DESCENDING, not empty — degenerate
    # intervals (end <= start) must be dropped, not exploded.
    i = intervals.filter(F.col(end) > F.col(start)).withColumn(
        "_bin", F.explode(iv_bins)
    )
    out = e.join(i, (on or []) + ["_bin"]).filter(
        (F.col(event_ts) >= F.col(start)) & (F.col(event_ts) < F.col(end))
    )
    return out.drop("_bin")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | tuple[str, ...],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    strict: bool = False,
    how: str = "inner",
    right_prefix: str = "",
) -> DataFrame:
    """General AS-OF join — the ClickHouse `ASOF JOIN` operator: for
    each left row, the single right row with equal `on` keys and the
    CLOSEST `right_ts` on the given side of `left_ts`.

    direction 'backward' matches right_ts <= left_ts (CH's
    `l.ts >= r.ts`; the latest right row at or before), 'forward'
    matches right_ts >= left_ts (the earliest at or after);
    `strict` excludes equal timestamps (CH's > / < forms). `how` is
    'inner' (CH ASOF JOIN: unmatched left rows drop) or 'left' (CH
    ASOF LEFT JOIN: kept with NULL right columns). Non-key right
    columns come back `right_prefix`-prefixed; key columns and the
    right timestamp appear once (the right ts as
    `<right_prefix><right_ts>`).

    Spark has no native as-of join and the naive join-then-argmax is
    quadratic in per-key density. This is the scalable union-and-
    carry pattern (asof_join_last_event generalized to carry the
    WHOLE right row): tag both sides, union, ONE window pass
    `last(right_struct, ignorenulls)` partitioned by key and ordered
    by (ts, side) — exactly one shuffle on the key, O(n log n) sort,
    zero row amplification. At equal timestamps the side ordering
    encodes strictness: non-strict sorts the right row first (so it
    is visible to an equal-ts left row), strict sorts it after.
    'forward' is the same algebra on the negated time axis.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got "
                         f"{direction!r}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    on = list(on)
    if not on:
        raise ValueError("asof_join needs at least one equality key "
                         "(CH ASOF JOIN requires one too)")
    right_carry = [c for c in right.columns if c not in on]
    out_right = {c: f"{right_prefix}{c}" for c in right_carry}
    clash = [v for v in out_right.values() if v in left.columns]
    if clash:
        raise ValueError(
            f"right columns {clash} collide with left columns; pass "
            f"right_prefix to disambiguate")

    from pyspark.sql import Window

    sign = 1 if direction == "backward" else -1
    # numeric time axis so 'forward' can reuse the ascending algebra
    tnum = lambda c: F.unix_micros(F.col(c).cast("timestamp")) * sign  # noqa: E731
    left_side = 1 if not strict else 0
    right_side = 1 - left_side

    l_tag = left.select(
        *[F.col(k).alias(f"_k_{k}") for k in on],
        tnum(left_ts).alias("_t"),
        F.lit(left_side).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}"
                for c in right_carry) + ">"
        ).alias("_rrow"),
    )
    r_tag = right.select(
        *[F.col(k).alias(f"_k_{k}") for k in on],
        tnum(right_ts).alias("_t"),
        F.lit(right_side).alias("_side"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_carry]).alias("_rrow"),
        # a NULL asof key matches nothing — but NULLs sort FIRST under
        # the ascending window, where last(ignorenulls) would hand the
        # row to every early left row (review r6); drop them up front.
        # Left-side NULL ts needs no filter: it sorts first, sees no
        # carry, and lands unmatched (inner drops it, left NULL-pads).
    ).filter(F.col("_t").isNotNull())
    w = (
        Window.partitionBy(*[f"_k_{k}" for k in on])
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("_m", F.last("_rrow", ignorenulls=True).over(w))
        .filter(F.col("_lrow").isNotNull())
    )
    if how == "inner":
        carried = carried.filter(F.col("_m").isNotNull())
    return carried.select(
        "_lrow.*",
        *[F.col(f"_m.{c}").alias(out_right[c]) for c in right_carry],
    )

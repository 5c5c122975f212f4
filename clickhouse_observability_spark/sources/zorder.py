"""Z-order (Morton curve) data layout for multi-column pruning.

A sorted layout prunes on ONE leading column: parquet min/max stats
make files/row-groups skippable for `ts` predicates, but a second
predicate column (`user_id`, `service`, ...) spans its full range in
every file, so nothing prunes. At 100 TB that is the difference
between reading a few files and scanning the table for the
service-AND-time dashboards the reference serves (`db.go:81-99`
filters ts + service together).

Interleaving the bits of k bucketed sort keys (the Morton/Z curve —
public technique, used by Delta/Iceberg/ClickHouse `ORDER BY` tuning)
makes every file a small hyper-rectangle in ALL k dims: each file's
min/max span in each dim shrinks to ~range / files^(1/k), so each
per-column predicate prunes independently.

Everything is JVM expression code: per-column min/max come from ONE
tiny aggregate (k numbers through the driver as literals — the same
bounded pattern as the IVF centroid sidecar), bucketing + the
bit-spread are integer arithmetic inside whole-stage codegen, and the
write is `repartitionByRange` + `sortWithinPartitions` on the
z-value, which range-partitions by curve position WITHOUT a global
sort barrier beyond Spark's range sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16 bits per dimension: 2 dims -> 32-bit z-value, 3 dims -> 48-bit;
# always inside a BIGINT.
BITS = 16
_MAX_BUCKET = (1 << BITS) - 1


def _spread_bits(x: Column, stride: int) -> Column:
    """Place the low 16 bits of x at positions 0, stride, 2*stride...

    The classic mask-shift doubling network, expressed as Spark
    integer ops (whole-stage-codegen friendly). stride=2 gives the
    even bit positions of a 2-D Morton code; stride=3 the 3-D one.
    """
    x = x.cast("long")
    if stride == 2:
        steps = ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                 (2, 0x33333333), (1, 0x55555555))
    elif stride == 3:
        # 21-bit-capable 64-bit-signed-safe constants
        steps = ((32, 0x1F00000000FFFF), (16, 0x1F0000FF0000FF),
                 (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
                 (2, 0x1249249249249249))
    else:
        raise ValueError("stride must be 2 or 3")
    for shift, mask in steps:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def _bucketize(col: Column, lo: float, hi: float) -> Column:
    """Scale a numeric column to an integer in [0, 2^BITS)."""
    if hi <= lo:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(hi - lo)
    return F.least(
        F.lit(_MAX_BUCKET).cast("long"),
        F.greatest(F.lit(0).cast("long"),
                   F.floor(scaled * (_MAX_BUCKET + 1)).cast("long")),
    )


def _as_numeric(df: DataFrame, col: str) -> Column:
    """Numeric view of any z-order key: numerics pass through,
    timestamps/dates become epoch seconds/days (range locality
    preserved), strings/binary hash via xxhash64 (locality traded
    for spread — equality predicates still prune via the bucket)."""
    t = dict(df.dtypes)[col]
    c = F.col(col)
    if t in ("timestamp", "timestamp_ntz", "date"):
        return c.cast("double")
    if t in ("string", "binary"):
        return F.xxhash64(c).cast("double")
    return c.cast("double")


def zvalue(df: DataFrame, cols: list[str]) -> Column:
    """Morton z-value over 2 or 3 columns (numeric, timestamp/date,
    or string — see `_as_numeric`).

    Column ranges come from one min/max aggregate — 2k scalars
    through the driver, injected back as literals (bounded collect).
    """
    if len(cols) not in (2, 3):
        raise ValueError("zvalue supports 2 or 3 columns")
    nums = {c: _as_numeric(df, c) for c in cols}
    stats = df.agg(*[f(nums[c]).alias(f"{n}_{i}")
                     for i, c in enumerate(cols)
                     for n, f in (("lo", F.min), ("hi", F.max))]).collect()[0]
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        b = _bucketize(nums[c], float(stats[f"lo_{i}"]),
                       float(stats[f"hi_{i}"]))
        z = z.bitwiseOR(F.shiftleft(_spread_bits(b, len(cols)), i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered along the z-curve: range-partition by
    z-value (so files tile the curve) and sort within partitions (so
    ROW GROUPS inside each file tile it too — parquet keeps min/max
    stats at both granularities)."""
    from clickhouse_observability_spark.sources.writer import (
        LOGS_PARQUET_OPTIONS,
        parquet_ts_micros,
    )

    zc = zvalue(df, cols).alias("__z")
    with parquet_ts_micros(df.sparkSession):
        (
            df.withColumn("__z", zc)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode(mode)
            .options(**LOGS_PARQUET_OPTIONS)
            .parquet(path)
        )

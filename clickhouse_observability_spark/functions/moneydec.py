"""Boundary-proof money aggregation (r9 structural fix).

Cross-engine ``round(sum(double), 2)`` is a per-group coin flip
whenever a group sum lands exactly on the half-cent boundary: double
summation is order-dependent, the two engines (Spark, DuckDB) sum in
different orders, and the final ulp decides the rounded cent. In r8
a registry entry hit this live — 2 of its 175 group sums sat exactly
on the boundary at sf0.01 (1964425.435, distance 0.0) and the driver
hash flipped (CHANGELOG.md); the CI registry gate
(tests/test_oracle_registry.py) now runs every oracle against DuckDB.

Structural fix (applies to BOTH engines, Spark here and the textual
oracle SQL at each registry site): cast money columns to
DECIMAL(18,4) BEFORE any multiply/sum. The testdata money columns
(l_extendedprice, l_discount, l_quantity, c_acctbal, events.value,
o_totalprice) are exact 2-decimal values, so the double->decimal cast
is exact and engine-identical (the true binary value is within ~1e-11
of the 2dp decimal — nowhere near the 5e-5 cast-rounding boundary);
decimal multiply and sum are exact and order-independent; ``round()``
on the exact decimal agrees bit-for-bit; and the final
``CAST(... AS DOUBLE)`` is the same correctly-rounded conversion on
both engines, so the driver's stringified hash matches regardless of
its float normalization.

Division stays OUTSIDE decimal: Spark and DuckDB round decimal
division results to different engine-chosen scales. For
ratio-of-sums / sum-over-constant outputs, convert the EXACT decimal
sums to double first (bit-identical on both engines), do the IEEE
division (bit-identical), then quantize with ``floor(x * 10^N)``
(bit-identical) rather than ``round`` (Spark rounds the shortest
decimal string HALF_UP; DuckDB rounds the binary value — they diverge
on the same double near boundaries).

ONLY safe for columns whose doubles carry <= 4 decimal digits.
Casting a full-precision double (log-probs, tf-idf weights) to
decimal rounds at the 5th decimal where the two engines' cast
algorithms can disagree — those aggregates keep plain ``round()``
with the residual (documented) boundary risk.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Canonical money-decimal type: 14 integer digits / 4 fractional.
#: Products of two DEC columns widen to at most decimal(38,8) on
#: Spark (18+19+1 precision) and decimal(37,8) on DuckDB (w1+w2) —
#: both inside the 38-digit cap, so no internal rounding ever occurs.
DEC = "decimal(18,4)"


def dec(col: str | Column) -> Column:
    """Exact-cast a 2dp money/quantity double column to DECIMAL(18,4).

    Oracle-SQL counterpart: ``CAST(col AS DECIMAL(18,4))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def money_sum(expr: str | Column, ndigits: int = 2) -> Column:
    """Order-independent rounded sum of a money expression.

    A plain column name takes the integer-units FAST path
    (units4d -> exact double sum, guarded at 2^53 -> integer HALF_UP
    quantize; see units_d for why doubles beat BIGINT under ANSI) —
    mathematically identical to the decimal route. A prebuilt Column
    (decimal products etc.) sums in decimal; the trailing double cast
    keeps the published schema (and the driver's float
    canonicalization) identical either way. Oracle-SQL counterpart::

        CAST(round(sum(<dec expr>), n) AS DOUBLE)
    """
    if isinstance(expr, str):
        return units_money_sum_d(units4d(expr), 10000, ndigits)
    return F.round(F.sum(expr), ndigits).cast("double")


def _to_units(col: str | Column, scale: float) -> Column:
    """Exact integer units of a fixed-decimal double. The scaled
    value sits within ~1e-6 of an integer (never near .5), so
    half-away-from-zero nearest-int is computed with pure primitive
    arithmetic: add +/-0.5 and truncate toward zero via the long
    cast. F.round() would be semantically identical here but runs a
    per-row BigDecimal conversion — measured 2x+ on the hot
    aggregates, which defeats the point of the fast path."""
    c = F.col(col) if isinstance(col, str) else col
    x = c * F.lit(scale)
    return (x + F.when(x >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast(
        "bigint"
    )


def units4(col: str | Column) -> Column:
    """Exact integer 1e-4-dollar units of a <=4dp money double —
    the FAST path (BIGINT sums stay primitive in Tungsten; wide
    decimal sums measured ~2x the aggregate cost)."""
    return _to_units(col, 10000.0)


def cents(col: str | Column) -> Column:
    """Exact integer cents of a 2dp money double (see units4)."""
    return _to_units(col, 100.0)


def pct_units(col: str | Column) -> Column:
    """Exact integer 1e-2 units of a 2dp fraction (e.g. l_discount:
    0.07 -> 7), for product algebra like cents(price) *
    (100 - pct_units(discount)) == price*(1-discount) in exact
    1e-4-dollar units."""
    return _to_units(col, 100.0)


def units_to_money(s: Column, scale: int = 10000,
                   ndigits: int = 2) -> Column:
    """HALF_UP-quantize a BIGINT units value integerly (away from
    zero — matching Spark's and DuckDB's decimal round()) and
    convert to dollars. Both engines correctly round the same exact
    rational to double (exact below 2^53 quantized units — 9e11
    dollars at cents grain; far beyond any real group)."""
    q = scale // (10 ** ndigits)
    if q <= 0:
        raise ValueError(f"scale {scale} too small for {ndigits} digits")
    if q == 1:
        return (s / F.lit(float(scale))).cast("double")
    a = F.abs(s) + F.lit(q // 2)
    quant = (a - F.pmod(a, F.lit(q))) / F.lit(q)  # |rounded|, in 10^-nd
    sign = F.when(s < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return (sign * quant / F.lit(float(10 ** ndigits))).cast("double")


def units_d(col: str | Column, scale: float) -> Column:
    """Exact integer units of a fixed-decimal double, carried as an
    integer-valued DOUBLE — the ANSI-mode fast path (r10). Under
    Spark 4's default ANSI mode every BIGINT aggregate add and every
    double->long cast in the row loop is overflow-checked; summing
    the SAME exact integers as doubles removes all checked ops from
    the row loop while staying exact — a sum of integer-valued
    doubles is order-independent and exact while every partial stays
    below 2^53 (|dollars| < ~9e11 per group at 1e-4 grain).

    Measured on a Q1-shaped lineitem pricing summary @ sf0.1 (an
    entry since deleted; paired, interleaved — this host's
    frequency swings 2x between sessions, so only same-session pairs
    mean anything): raw double-unit sums track the plain double-sum
    plan within ~15-20% (the per-row conversion), where the BIGINT
    path paid ~1.5-2x; the exactness machinery on top is FLAT
    per-query-execution cost, not per-row — the post-agg integer
    quantize ~+0.08s and the 2^53 guard +0.065s (20/20 paired wins;
    codegen-size overhead on a 6-row result projection). Kept
    anyway: loud failure beats silent drift, and a flat ~0.1s
    vanishes on any at-scale query. units_money_sum_d raises at the
    bound; beyond it, use the BIGINT path (bound 9.2e18) or DEC."""
    c = F.col(col) if isinstance(col, str) else col
    x = c * F.lit(scale)
    return (
        (x + F.when(x >= 0, F.lit(0.5)).otherwise(F.lit(-0.5)))
        .cast("bigint").cast("double")
    )


def units4d(col: str | Column) -> Column:
    """Double-carried exact 1e-4-dollar units (see units_d)."""
    return units_d(col, 10000.0)


#: 2^53 — the largest double above which consecutive integers are no
#: longer representable; double-carried unit sums are exact strictly
#: below it.
_D_EXACT_BOUND = 9007199254740992.0


def _guard_exact_d(s: Column) -> Column:
    """Fail LOUDLY (one branch per output group, post-aggregation) if
    a double-carried unit sum reached the 2^53 exactness bound —
    never silently drift. Mixed-sign inputs whose intermediate
    partials exceed the bound but cancel back under it can evade the
    guard; money unit expressions here are sign-uniform."""
    return F.when(
        F.abs(s) >= F.lit(_D_EXACT_BOUND),
        F.expr("raise_error('units_d sum reached 2^53; use the "
               "BIGINT or DECIMAL money path')").cast("double"),
    ).otherwise(s)


def units_money_sum_d(units_expr: Column, scale: int = 10000,
                      ndigits: int = 2) -> Column:
    """round(sum(money), ndigits) over DOUBLE-carried exact units:
    the sum stays an unchecked primitive double add in whole-stage
    codegen (the ANSI fast path — see units_d), the exactness guard
    and the single checked bigint cast run once per output group,
    then the integer HALF_UP quantize matches the decimal oracle
    bit-for-bit exactly like units_money_sum."""
    s = _guard_exact_d(F.sum(units_expr))
    return units_to_money(s.cast("bigint"), scale, ndigits)


def units_avg_d(units_expr: Column, cnt: Column, scale: int = 10000,
                ndigits: int = 4) -> Column:
    """units_avg over DOUBLE-carried exact units (guarded)."""
    dollars = _guard_exact_d(F.sum(units_expr)) / F.lit(float(scale))
    return floor_quantize(dollars / cnt, ndigits)


def units_money_sum(units_expr: Column, scale: int = 10000,
                    ndigits: int = 2) -> Column:
    """round(sum(money), ndigits) computed entirely in BIGINT units:
    sum the integer units (primitive, exact, order-independent),
    then quantize once (units_to_money). Bit-identical to
    ``CAST(round(sum(CAST(col AS DECIMAL(18,4))), ndigits) AS
    DOUBLE)`` on the oracle side while the sum stays in whole-stage
    codegen.

    `scale` is the units-per-dollar of `units_expr` (10000 for
    units4 / cents*pct products, 100 for cents)."""
    return units_to_money(F.sum(units_expr), scale, ndigits)


def units_avg(units_expr: Column, cnt: Column, scale: int = 10000,
              ndigits: int = 4) -> Column:
    """floor-quantized average from integer units: (sum/scale) is
    the correctly-rounded double of the exact dollar sum — the SAME
    double the oracle's CAST(sum(DECIMAL) AS DOUBLE) produces — so
    the following /cnt, *10^n, floor, /10^n match the oracle's IEEE
    sequence op for op."""
    dollars = F.sum(units_expr) / F.lit(float(scale))
    return floor_quantize(dollars / cnt, ndigits)


def floor_quantize(x: Column, ndigits: int = 2) -> Column:
    """Quantize a bit-identical double with floor(x*10^n)/10^n.

    For division outputs whose INPUT doubles are already bit-identical
    across engines (e.g. exact decimal sums cast to double, then
    divided): multiply+floor+divide are each single IEEE ops, so the
    result is bit-identical too — unlike round(), whose algorithm
    differs between Spark and DuckDB. Oracle-SQL counterpart::

        floor(x * 1e<n>) / 1e<n>
    """
    scale = float(10**ndigits)
    return F.floor(x * F.lit(scale)) / F.lit(scale)

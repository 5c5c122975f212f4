"""Registry entries for the ClickHouse aggregate-function family.

Two oracle-backed panels over `events` (registered AFTER the 50-slot
adjudication window; oracles executed in pytest by the CI registry
gate, tests/test_oracle_registry.py):

- `agg_ch_functions_panel` — argMax/argMin (deterministic struct
  extremes), exact topK(3), sumIf/countIf/avgIf, fixed-bin histogram
  as a dense count array. One row per event_type.
- `agg_ch_summap` — sumMap over a per-row two-entry map
  (props.k and value), exploded to (event_type, map_key, map_sum).

DuckDB expresses argMax/argMin via row_number windows (same
deterministic tie order), topK via ordered list slicing, and the
histogram via a bin-range cross join so empty bins zero-fill on both
sides identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_observability_spark.functions.moneydec import (
    units4d,
    units_avg_d,
    units_money_sum_d,
)
from clickhouse_observability_spark.operators import ch_functions as CH
from clickhouse_observability_spark.registry import register, table


@register(
    "agg_ch_functions_panel",
    oracle="""
    WITH am AS (
      SELECT event_type, user_id AS argmax_user FROM (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, user_id DESC) AS rn
        FROM events) WHERE rn = 1),
    an AS (
      SELECT event_type, user_id AS argmin_user FROM (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value ASC, user_id ASC) AS rn
        FROM events) WHERE rn = 1),
    tk AS (
      -- serialized to a canonical CSV string: the driver's pandas
      -- canonicalizer sorts result cells and list cells are
      -- unhashable there (round-5 lesson: no array/map/struct
      -- columns in adjudicated output schemas)
      SELECT event_type,
             coalesce(array_to_string(
               (list(user_id ORDER BY c DESC, user_id))[1:3], ','), '')
               AS top3_users
      FROM (SELECT event_type, user_id, count(*) AS c
            FROM events GROUP BY 1, 2)
      GROUP BY 1),
    cond AS (
      SELECT event_type,
             CAST(round(sum(CAST(value AS DECIMAL(18,4)))
                        FILTER (value > 400), 2) AS DOUBLE) AS sum_if_high,
             count(*) FILTER (value < 1) AS count_if_low,
             floor(CAST(sum(CAST(value AS DECIMAL(18,4)))
                        FILTER (value >= 100) AS DOUBLE)
                   / count(*) FILTER (value >= 100) * 10000.0) / 10000.0
               AS avg_if_mid
      FROM events GROUP BY 1),
    hist AS (
      SELECT t.event_type,
             coalesce(array_to_string(
               list(coalesce(h.cnt, 0) ORDER BY g.b), ','), '')
               AS histogram10
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT b FROM range(1, 11) r(b)) g
      LEFT JOIN (SELECT event_type,
                        least(10, greatest(1,
                          (floor(value / 50) + 1)::INT)) AS b,
                        count(*) AS cnt
                 FROM events GROUP BY 1, 2) h
        ON h.event_type = t.event_type AND h.b = g.b
      GROUP BY 1)
    SELECT am.event_type, argmax_user, argmin_user, top3_users,
           sum_if_high, count_if_low, avg_if_mid, histogram10
    FROM am JOIN an USING (event_type) JOIN tk USING (event_type)
            JOIN cond USING (event_type) JOIN hist USING (event_type)
    """,
)
def agg_ch_functions_panel(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bucket, densify = CH.histogram_fixed("value", 0.0, 500.0, 10)
    base = ev.groupBy("event_type").agg(
        CH.arg_max("user_id", "value").alias("argmax_user"),
        CH.arg_min("user_id", "value").alias("argmin_user"),
        units_money_sum_d(
            F.when(F.col("value") > 400, units4d("value"))
        ).alias("sum_if_high"),
        F.count(F.when(F.col("value") < 1, F.lit(1))).alias("count_if_low"),
        units_avg_d(
            F.when(F.col("value") >= 100, units4d("value")),
            F.count(F.when(F.col("value") >= 100, F.lit(1))),
            ndigits=4,
        ).alias("avg_if_mid"),
    )
    topk = CH.top_k_by_freq(ev, "event_type", "user_id", 3) \
        .withColumnRenamed("top_k", "top3_users")
    hist = (
        ev.groupBy("event_type", bucket.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("event_type")
        .agg(densify(F.collect_list(F.struct("__b", "__c")))
             .alias("histogram10"))
    )
    return (
        base.join(topk, "event_type").join(hist, "event_type")
        # arrays serialized to canonical CSV strings: the driver's
        # pandas canonicalizer cannot hash list cells (r5 red row) —
        # same values, atomic type, identical on the DuckDB side
        .select(
            "event_type", "argmax_user", "argmin_user",
            F.concat_ws(",", F.col("top3_users").cast("array<string>"))
            .alias("top3_users"),
            "sum_if_high", "count_if_low", "avg_if_mid",
            F.concat_ws(",", F.col("histogram10").cast("array<string>"))
            .alias("histogram10"),
        )
    )


@register(
    "ch_dialect_hourly_panel",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) FILTER (value > 250) AS high,
           count(DISTINCT user_id) AS users,
           CAST(round(sum(CAST(value AS DECIMAL(18,4)))
                      FILTER (value <= 250), 2) AS DOUBLE) AS low_sum,
           least(count(DISTINCT user_id), 6) AS upto,
           CASE WHEN max(event_id) > min(event_id) THEN
             CAST(floor(((arg_max(value, event_id)
                          - arg_min(value, event_id))
                         / (max(event_id) - min(event_id)))
                        * 10000) AS BIGINT)
           END AS br
    FROM events GROUP BY 1, 2
    """,
)
def ch_dialect_hourly_panel(spark, sf_dir):
    """Runs VERBATIM ClickHouse SQL through the dialect shim
    (functions/ch_dialect.py) inside the adjudicated path — the
    translated text must be semantically identical to the ANSI
    oracle, not merely parseable. r8 adds uniqUpTo (saturating exact
    distinct) and boundingRatio over the UNIQUE event_id x-axis
    (unique x keeps arg_max/min deterministic on both engines;
    single-event groups are NULL on both — try_divide vs the
    oracle's CASE guard). The slope hashes as floor(x*1e4) BIGINT,
    not round(x, 4): both engines compute the same IEEE double but
    their round() algorithms differ at representation boundaries
    (~6 of 3385 groups flipped at 4dp in selfcheck); multiply+floor
    is the same bit-exact op on both."""
    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    ev = table(spark, sf_dir, "events")
    return ch_sql(
        spark,
        "SELECT toStartOfHour(ts) AS bucket, event_type, "
        "countIf(value > 250) AS high, "
        "uniqExact(user_id) AS users, "
        # exact-decimal money sum through the dialect's toDecimal64
        # (r9 moneydec policy — hourly groups are small, so a group
        # sum on the half-cent boundary is a real risk at any sf)
        "toFloat64(round(sumIf(toDecimal64(value, 4), value <= 250), 2)) "
        "AS low_sum, "
        "uniqUpTo(5)(user_id) AS upto, "
        "CAST(floor(boundingRatio(event_id, value) * 10000) "
        "AS BIGINT) AS br "
        "FROM events GROUP BY toStartOfHour(ts), event_type",
        views={"events": ev},
    )


@register(
    "agg_topk_weighted",
    # weights round to 4dp BEFORE ranking (value tie-break) so a
    # summation-order ulp can't flip a rank between engines
    oracle="""
    WITH s AS (
        SELECT event_type, user_id,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS w
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, w, rank FROM (
        SELECT event_type, user_id, w,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY w DESC, user_id ASC) AS rank
        FROM s)
    WHERE rank <= 3
    """,
)
def agg_topk_weighted(spark, sf_dir):
    """CH topKWeighted: per event type, the top-3 users by TOTAL
    value (exact grouped form — weights summed per (type, user),
    pre-rounded, ranked with a user tie-break;
    operators/ch_functions.top_k_by_weight)."""
    ev = table(spark, sf_dir, "events")
    return CH.top_k_by_weight(
        ev, "event_type", "user_id", "value", 3, dec_sum=True
    )


@register(
    "agg_weighted_quantiles",
    # integer-exact: cumulative INTEGER weights vs ceil(q*total) —
    # no interpolation, no float accumulation to diverge
    oracle="""
    WITH h AS (
        SELECT event_type, floor(value / 10)::BIGINT AS bucket,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, bucket,
               sum(n) OVER (PARTITION BY event_type
                            ORDER BY bucket) AS cum,
               sum(n) OVER (PARTITION BY event_type) AS tot
        FROM h
    )
    SELECT event_type,
           min(CASE WHEN cum >= ceil(0.5 * tot) THEN bucket END)::DOUBLE
               AS q05,
           min(CASE WHEN cum >= ceil(0.95 * tot) THEN bucket END)::DOUBLE
               AS q095
    FROM c GROUP BY 1
    """,
)
def agg_weighted_quantiles(spark, sf_dir):
    """CH quantileExactWeighted over the pre-aggregated-histogram
    shape it exists for: bucket the value column, count per bucket,
    then exact weighted p50/p95 from the histogram — quantiles over
    rollups without touching raw rows again
    (operators/ch_functions.weighted_quantile; lower-bound
    definition, integer-exact on both engines)."""
    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    p50 = CH.weighted_quantile(hist, "event_type", "bucket", "n", 0.5)
    p95 = CH.weighted_quantile(hist, "event_type", "bucket", "n", 0.95)
    return p50.join(p95, "event_type")


@register(
    "agg_entropy",
    # DuckDB's native entropy() is the oracle (same log2 Shannon
    # definition as CH); 6dp absorbs the engines' different
    # summation orders over per-value counts
    oracle="""
    SELECT event_type, round(entropy(user_id), 6) AS ent
    FROM events GROUP BY 1
    """,
)
def agg_entropy(spark, sf_dir):
    """CH entropy(x): Shannon entropy (log2) of each event type's
    user distribution — the cardinality-shape signal (an entropy
    collapse = one user flooding a type). Two map-side-combining
    aggregations, no per-group value list
    (operators/ch_functions.entropy)."""
    ev = table(spark, sf_dir, "events")
    return CH.entropy(ev, "event_type", "user_id").select(
        "event_type", F.round("entropy", 6).alias("ent"))


@register(
    "agg_ch_summap",
    oracle="""
    SELECT event_type, map_key,
           CAST(round(sum(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE) AS map_sum
    FROM (
      SELECT event_type, 'k' AS map_key,
             json_extract_string(props, '$.k')::DOUBLE AS v FROM events
      UNION ALL
      SELECT event_type, 'val' AS map_key, value AS v FROM events)
    GROUP BY 1, 2
    """,
)
def agg_ch_summap(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("k"),
        F.get_json_object("props", "$.k").cast("double"),
        F.lit("val"),
        F.col("value"),
    )
    return CH.sum_map(ev, "event_type", m, round_to=2, dec_sum=True)


@register(
    "agg_segment_overlap",
    # Registered after the 50-slot window; oracle executed against
    # DuckDB in tests/test_chfuncs.py (r4+ convention).
    oracle="""
    WITH d AS (
        SELECT DISTINCT event_type AS seg, user_id AS id FROM events
    ), t AS (
        SELECT seg, count(*) AS n FROM d GROUP BY seg
    ), i AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_inter
        FROM d a JOIN d b ON a.id = b.id AND a.seg < b.seg
        GROUP BY a.seg, b.seg
    )
    SELECT seg_a, seg_b, ta.n AS n_a, tb.n AS n_b, n_inter,
           ta.n + tb.n - n_inter AS n_union,
           floor(n_inter / (ta.n + tb.n - n_inter) * 1000000.0) / 1000000.0
             AS jaccard
    FROM i JOIN t ta ON ta.seg = i.seg_a JOIN t tb ON tb.seg = i.seg_b
    """,
)
def agg_segment_overlap(spark, sf_dir):
    """Exact pairwise audience overlap between event-type segments:
    distinct users per side, intersection, union, Jaccard — the
    which-audiences-share-users analysis. One distinct pass + an
    id-keyed self-join (the exact-answer cost; `agg_theta_overlap` is
    the sketch-based scale path whose cost is one scan)."""
    return CH.segment_overlap_exact(
        table(spark, sf_dir, "events")
    ).orderBy("seg_a", "seg_b")


@register("agg_theta_overlap")
def agg_theta_overlap(spark, sf_dir):
    """Approximate audience overlap via DataSketches theta sketches
    (the ClickHouse uniqTheta/intersect/union family): per-segment
    KB-sized mergeable sketch states — ids never shuffle — then pure
    sketch arithmetic on the broadcast #segments-row table. Rows-only:
    sketch estimates are engine-specific; pytest bounds relative
    error against the exact twin."""
    return CH.segment_overlap_theta(
        table(spark, sf_dir, "events")
    ).orderBy("seg_a", "seg_b")


@register(
    "ch_dialect_bitmap_panel",
    # per-(type, user) presence flags make every bitmap op a flag
    # aggregate: and = e*l, or = count(*), xor = e<>l — all integer,
    # BIGINT-cast per the int128 policy
    oracle="""
    WITH f AS (
        SELECT event_type, user_id,
               max(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS e,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS l
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(e) AS BIGINT) AS early_users,
           CAST(sum(l) AS BIGINT) AS late_users,
           CAST(sum(e * l) AS BIGINT) AS both_users,
           CAST(count(*) AS BIGINT) AS any_users,
           CAST(sum(CASE WHEN e <> l THEN 1 ELSE 0 END) AS BIGINT)
               AS churn_users,
           min(CASE WHEN e = 1 THEN user_id END) AS first_early,
           max(CASE WHEN l = 1 THEN user_id END) AS last_late
    FROM f GROUP BY 1
    """,
)
def ch_dialect_bitmap_panel(spark, sf_dir):
    """The wave-9 bitmap family end-to-end through the dialect shim:
    VERBATIM ClickHouse bitmap SQL (groupBitmapState per half of the
    month, then and/or/xor cardinalities + min/max — the classic
    segment-overlap / churn panel) lowered to sorted-distinct-array
    ops, adjudicated against an independent flag-aggregate DuckDB
    derivation (intersection = product of presence flags). The
    bitmap-state grouping is one map-side-combining shuffle; the set
    ops run on |users-per-type|-sized arrays — the same mergeable-
    state shape as the rollup sketches."""
    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    ev = table(spark, sf_dir, "events")
    return ch_sql(
        spark,
        "SELECT event_type, "
        "bitmapCardinality(a) AS early_users, "
        "bitmapCardinality(b) AS late_users, "
        "bitmapAndCardinality(a, b) AS both_users, "
        "bitmapOrCardinality(a, b) AS any_users, "
        "bitmapXorCardinality(a, b) AS churn_users, "
        "bitmapMin(a) AS first_early, "
        "bitmapMax(b) AS last_late "
        "FROM (SELECT event_type, "
        "groupBitmapState(if(ts < toDateTime('2024-01-16 00:00:00'), "
        "user_id, NULL)) AS a, "
        "groupBitmapState(if(ts >= toDateTime('2024-01-16 00:00:00'), "
        "user_id, NULL)) AS b "
        "FROM events GROUP BY event_type)",
        views={"events": ev},
    )


@register(
    "ch_dialect_text_panel",
    # DuckDB twins for the wave-9 names: format() shares CH's {}
    # syntax outright; javaHash replays as a list_reduce fold with
    # the same mod-2^32 wrap; extractGroups as regexp_extract +
    # match guard; the base64 roundtrip via encode/from_base64.
    oracle=r"""
    SELECT doc_id,
           CAST(CASE WHEN h >= 2147483648 THEN h - 4294967296
                     ELSE h END AS INTEGER) AS jh,
           format('{}#{}', lang, source) AS tag,
           CASE WHEN regexp_matches(source, '^([a-z]+)([0-9]+)$')
                THEN regexp_extract(source, '^([a-z]+)([0-9]+)$', 1)
                     || ',' ||
                     regexp_extract(source, '^([a-z]+)([0-9]+)$', 2)
                ELSE '' END AS eg,
           decode(from_base64(base64(encode(substring(text, 1, 8)))))
               AS rt,
           reverse(upper(lang)) AS rev
    FROM (
        SELECT *,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(regexp_extract_all(source, '.'),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 4294967296) AS h
        FROM documents
    )
    """,
)
def ch_dialect_text_panel(spark, sf_dir):
    """Wave-9 text/hash/format functions end-to-end through the
    dialect shim, per document: javaHash (exact String.hashCode),
    format with {} placeholders, extractGroups serialized to CSV
    (the driver's canonicalizer can't hash list cells — same
    concat_ws trick as the hourly panel's arrays), a
    base64Encode -> tryBase64Decode roundtrip over the first 8
    characters (multi-byte text exercises the UTF-8 byte path), and
    the UTF8-suffixed string twins. Map-only — zero shuffles."""
    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    docs = table(spark, sf_dir, "documents")
    return ch_sql(
        spark,
        "SELECT doc_id, "
        "javaHash(source) AS jh, "
        "format('{}#{}', lang, source) AS tag, "
        "arrayStringConcat("
        "extractGroups(source, '^([a-z]+)([0-9]+)$'), ',') AS eg, "
        "tryBase64Decode(base64Encode(substring(text, 1, 8))) AS rt, "
        "reverseUTF8(upperUTF8(lang)) AS rev "
        "FROM documents",
        views={"documents": docs},
    )


@register(
    "ch_dialect_wave10_panel",
    # DuckDB twins for the wave-10 names: substringIndex as a list
    # slice+join, regexpQuoteMeta as the same global escape rewrite,
    # bitHammingDistance as bit_count(xor), the snowflake family as
    # its epoch arithmetic replayed (second-precision DateTime =
    # floor-to-1000 ms), char as chr concat. soundex has no DuckDB
    # twin and is pytest-pinned instead (test_ch_dialect).
    oracle=r"""
    SELECT doc_id,
           array_to_string((string_split(text, ' '))[1:3], ' ') AS si3,
           regexp_replace(source || '[' || lang || '].*',
                          '([\\|()^$.[\]?*+{:-])', '\\\1', 'g') AS rq,
           CAST(bit_count(xor(doc_id, doc_id * 7)) AS BIGINT) AS bh,
           epoch_ms((1288834974657 + doc_id) // 1000 * 1000) AS sdt,
           epoch_ms(1288834974657 + doc_id) AS sdt64,
           CAST(((1288834974657 + doc_id) // 1000 * 1000
                 - 1288834974657) * 4194304 AS BIGINT) AS rtid,
           CAST(ascii(text) AS BIGINT) AS ac,
           chr(65 + CAST(doc_id % 26 AS INT))
               || chr(97 + CAST((doc_id + 3) % 26 AS INT)) AS chs,
           starts_with(lang, 'e') AS sw,
           ends_with(source, '1') AS ew
    FROM documents
    """,
)
def ch_dialect_wave10_panel(spark, sf_dir):
    """Dialect wave 10 end-to-end over `documents` (r12):
    substringIndex, regexpQuoteMeta (metacharacters injected so the
    arm is never vacuous on the prose corpus), bitHammingDistance,
    the snowflake-id family (second-precision DateTime + the
    DateTime64 variant + a dateTimeToSnowflake round-trip), ascii,
    multi-arg char, and the startsWith/endsWithUTF8 twins. Map-only
    JVM expressions — zero shuffles, zero UDFs."""
    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    docs = table(spark, sf_dir, "documents")
    return ch_sql(
        spark,
        "SELECT doc_id, "
        "substringIndex(text, ' ', 3) AS si3, "
        "regexpQuoteMeta(concat(source, '[', lang, '].*')) AS rq, "
        "CAST(bitHammingDistance(doc_id, doc_id * 7) AS BIGINT) AS bh, "
        "snowflakeToDateTime(doc_id * 4194304 + 12345) AS sdt, "
        "snowflakeToDateTime64(doc_id * 4194304 + 12345) AS sdt64, "
        "CAST(dateTimeToSnowflake("
        "snowflakeToDateTime(doc_id * 4194304)) AS BIGINT) AS rtid, "
        "CAST(ascii(text) AS BIGINT) AS ac, "
        "char(65 + doc_id % 26, 97 + (doc_id + 3) % 26) AS chs, "
        "startsWithUTF8(lang, 'e') AS sw, "
        "endsWithUTF8(source, '1') AS ew "
        "FROM documents",
        views={"documents": docs},
    )


@register(
    "ch_dialect_wave11_panel",
    # r13: FIRST ORACLE ADJUDICATION of the dialect's URL / IP /
    # readable-format / sub-hour-bucket tier (lowered in the r6/r9
    # vocabulary waves but pytest-only until now) plus the three
    # names those waves missed (port, left/rightPadUTF8). Built in
    # the lifecycle-panel style: both engines BUILD the same URLs /
    # byte counts / timestamps from `documents` columns, the Spark
    # side runs the dialect functions over them, the oracle FOLDS
    # each function algebraically from the construction (no URL
    # parser needed — an independent re-derivation, not a
    # reimplementation). The readable-format inputs are constructed
    # exact at two decimals (whole or half units), so the decimal
    # rendering never crosses a double-rounding boundary.
    # decode/encodeURLComponent have no DuckDB twin (no url_decode/
    # url_encode there) and stay pytest-pinned
    # (test_r9_wave5_url_and_ip). pathFull folds CH-divergently
    # fragment-less, matching the r9 lowering's documented shape.
    oracle=r"""
    WITH d AS (
        SELECT doc_id, text, lang, source,
               CAST(doc_id % 3 AS INTEGER) AS m3,
               doc_id % 900 + 1 AS kk,
               CASE WHEN doc_id % 2 = 1 AND doc_id % 3 > 0
                    THEN 0.5 ELSE 0 END AS halfb,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                    ELSE 'org' END AS tld3,
               CASE WHEN doc_id % 4 = 0 THEN ':8443' ELSE '' END
                   AS portpart,
               CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END
                   AS fragpart,
               epoch_ms((1700000000 + doc_id * 977) * 1000) AS t
        FROM documents
    )
    SELECT doc_id,
           '/p/' || doc_id || '?id=' || doc_id || '&tag=a+b' AS pf,
           'id=' || doc_id || '&tag=a+b' AS qs,
           'https://' || lang || '.' || source || '.example.' || tld3
               || portpart || '/p/' || doc_id || fragpart AS cqs,
           'https://' || lang || '.' || source || '.example.' || tld3
               || portpart || '/p/' || doc_id || '?id=' || doc_id
               || '&tag=a+b' AS cf,
           'a+b' AS ep,
           CASE m3 WHEN 0 THEN 'com' WHEN 1 THEN 'uk'
                ELSE 'org' END AS tld,
           source AS fsd,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 8443 ELSE 0 END
                AS BIGINT) AS prt,
           '10.' || ((doc_id // 65536) % 256) || '.'
               || ((doc_id // 256) % 256) || '.' || (doc_id % 256)
               AS ips,
           CAST(167772160 + doc_id AS BIGINT) AS ipn,
           CAST(CASE WHEN (doc_id % 300) <= 255 THEN 1 ELSE 0 END
                AS BIGINT) AS ipv,
           CAST(CAST(kk + halfb AS DECIMAL(38, 2)) AS VARCHAR)
               || CASE m3 WHEN 0 THEN ' B' WHEN 1 THEN ' KiB'
                       ELSE ' MiB' END AS frs,
           CAST(CAST(kk + halfb AS DECIMAL(38, 2)) AS VARCHAR)
               || CASE m3 WHEN 0 THEN '' WHEN 1 THEN ' thousand'
                       ELSE ' million' END AS frq,
           CAST(last_day(t) AS VARCHAR) AS ldm,
           CAST(week(t) AS BIGINT) AS iw,
           CAST(isoyear(t) AS BIGINT) AS iy,
           CAST(dayofyear(t) AS BIGINT) AS dy,
           monthname(t) AS mn,
           time_bucket(INTERVAL 15 MINUTE, t) AS m15,
           time_bucket(INTERVAL 30 MINUTE, t) AS ts30,
           CAST((length(text) - length(replace(text, 'the', '')))
                / 3 AS BIGINT) AS cs,
           CAST(strpos(lower(text), 'the') AS BIGINT) AS pci,
           len(list_filter(['the', 'and'],
                           x -> contains(text, x))) > 0 AS msa,
           lpad(source, 8, '_') AS lp,
           rpad(lang, 6, '.') AS rp,
           '/p/|/p/' || doc_id || '?|/p/' || doc_id || '?id='
               || doc_id || '&tag=a+b' AS uph,
           'https://' || lang || '.' || source || '.example.' || tld3
               || portpart || '/|'
               || 'https://' || lang || '.' || source || '.example.'
               || tld3 || portpart || '/p/|'
               || 'https://' || lang || '.' || source || '.example.'
               || tld3 || portpart || '/p/' || doc_id || '?|'
               || 'https://' || lang || '.' || source || '.example.'
               || tld3 || portpart || '/p/' || doc_id || '?id='
               || doc_id || '&tag=a+b' AS uhier,
           'id=' || doc_id || ',tag=a+b' AS eps,
           'id,tag' AS epn
    FROM d
    """,
)
def ch_dialect_wave11_panel(spark, sf_dir):
    """Dialect wave 11 (r13): the URL / IP / readable-format tier
    under the driver's cross-engine gate for the first time — the
    URL family (pathFull, queryString, cutQueryString, cutFragment,
    extractURLParameter, topLevelDomain, firstSignificantSubdomain
    — url2's host `<lang>.<source>.com.tr` varies the significant
    label per row — and the NEW port, with and without an explicit
    ':8443'), the IPv4 trio (NumToString/StringToNum round-trip +
    the octet-range validator across valid AND invalid dotted
    quads), the readable formatting ladders driven through three
    magnitude branches with whole- and half-unit values, the
    ISO-date helpers, 15/30-minute bucketing, the search helpers
    over the real document text, the NEW left/rightPadUTF8, and the
    NEW URL hierarchy/parameter arrays (URLHierarchy /
    URLPathHierarchy / extractURLParameters / Names — stringified
    with arrayStringConcat for the driver's atomic-schema hasher,
    the oracle folding every element from the construction).
    Map-only JVM expressions — zero shuffles, zero UDFs."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source",
        F.expr(
            "concat('https://', lang, '.', source, '.example.', "
            "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'com' "
            "WHEN 1 THEN 'co.uk' ELSE 'org' END, "
            "CASE WHEN doc_id % 4 = 0 THEN ':8443' ELSE '' END, "
            "'/p/', CAST(doc_id AS STRING), "
            "'?id=', CAST(doc_id AS STRING), '&tag=a+b', "
            "CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END)"
        ).alias("url"),
        F.expr(
            "concat('https://', lang, '.', source, '.com.tr/x')"
        ).alias("url2"),
        F.expr("timestamp_seconds(1700000000 + doc_id * 977)")
        .alias("t"),
        F.expr(
            "(doc_id % 900 + 1) * CASE CAST(doc_id % 3 AS INT) "
            "WHEN 0 THEN 1 WHEN 1 THEN 1024 ELSE 1048576 END + "
            "CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 1 THEN 512 "
            "WHEN doc_id % 2 = 1 AND doc_id % 3 = 2 THEN 524288 "
            "ELSE 0 END"
        ).alias("nbytes"),
        F.expr(
            "(doc_id % 900 + 1) * CASE CAST(doc_id % 3 AS INT) "
            "WHEN 0 THEN 1 WHEN 1 THEN 1000 ELSE 1000000 END + "
            "CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 1 THEN 500 "
            "WHEN doc_id % 2 = 1 AND doc_id % 3 = 2 THEN 500000 "
            "ELSE 0 END"
        ).alias("qty"),
    )
    return ch_sql(
        spark,
        "SELECT doc_id, "
        "pathFull(url) AS pf, "
        "queryString(url) AS qs, "
        "cutQueryString(url) AS cqs, "
        "cutFragment(url) AS cf, "
        "extractURLParameter(url, 'tag') AS ep, "
        "topLevelDomain(url) AS tld, "
        "firstSignificantSubdomain(url2) AS fsd, "
        "CAST(port(url) AS BIGINT) AS prt, "
        "IPv4NumToString(167772160 + doc_id) AS ips, "
        "CAST(IPv4StringToNum(IPv4NumToString(167772160 + doc_id)) "
        "AS BIGINT) AS ipn, "
        "CAST(isIPv4String(concat('10.0.0.', "
        "CAST(doc_id % 300 AS STRING))) AS BIGINT) AS ipv, "
        "formatReadableSize(nbytes) AS frs, "
        "formatReadableQuantity(qty) AS frq, "
        "CAST(toLastDayOfMonth(t) AS STRING) AS ldm, "
        "CAST(toISOWeek(t) AS BIGINT) AS iw, "
        "CAST(toISOYear(t) AS BIGINT) AS iy, "
        "CAST(toDayOfYear(t) AS BIGINT) AS dy, "
        "monthName(t) AS mn, "
        "toStartOfFifteenMinutes(t) AS m15, "
        "timeSlot(t) AS ts30, "
        "CAST(countSubstrings(text, 'the') AS BIGINT) AS cs, "
        "CAST(positionCaseInsensitive(text, 'THE') AS BIGINT) AS pci, "
        "multiSearchAny(text, ['the', 'and']) AS msa, "
        "leftPadUTF8(source, 8, '_') AS lp, "
        "rightPadUTF8(lang, 6, '.') AS rp, "
        "arrayStringConcat(URLPathHierarchy(url), '|') AS uph, "
        "arrayStringConcat(URLHierarchy(url), '|') AS uhier, "
        "arrayStringConcat(extractURLParameters(url), ',') AS eps, "
        "arrayStringConcat(extractURLParameterNames(url), ',') AS epn "
        "FROM documents",
        views={"documents": docs},
    )

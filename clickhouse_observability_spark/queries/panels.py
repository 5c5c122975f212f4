"""Slot-merge panels for the driver's 50-entry adjudication window.

The driver adjudicates only the first 50 oracle-backed registry
entries (CORRECTNESS cap). Each panel here UNIONS two or three
previously-adjudicated entries into one op-tagged result (the
`dedup_exact_groups` fp_mode pattern), freeing window slots for
flagship rotations — see registry._WINDOW_ORDER; the rotation
history is in CHANGELOG.md.

No adjudicated semantics are dropped: every panel arm IS the
original registered callable (imported and invoked, not re-derived),
and the original entries stay registered with their own oracles
(pytest executes those against DuckDB; the driver now gives them the
rows-only check). Reference context: the merged shapes all mirror
ClickHouse query templates the reference delegates to its backing
store (README.md:82-107).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_observability_spark.queries.analytics import (
    agg_cube_type_user_bucket,
    agg_error_rate_hourly,
    agg_hourly,
    agg_rollup_day_type,
)
from clickhouse_observability_spark.queries.dedup import (
    _NORM,
    _NTOKS,
    dedup_exact_groups,
    dedup_jaccard_pairs,
    dedup_keep_first,
    dedup_ngram_jaccard_pairs,
)
from clickhouse_observability_spark.queries.windows import (
    window_rank_suite,
    window_sessionize,
    window_topn_per_type,
    window_user_gaps,
)
from clickhouse_observability_spark.queries.text import (
    text_fingerprints,
    text_lang_id,
    text_quality,
    text_repetition,
    text_token_stats,
)

# imported for their @register side effects: the r6 second-wave
# panels wrap these modules' oracle texts at decoration time
import clickhouse_observability_spark.queries.similarity  # noqa: E402,F401

from clickhouse_observability_spark.registry import _ORACLES, register, table


@register(
    "agg_grouping_panel",
    oracle="""
    SELECT 'rollup_day_type' AS op, date_trunc('day', ts)::TIMESTAMP AS day,
           event_type, CAST(NULL AS BIGINT) AS user_bucket,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY ROLLUP (day, event_type)
    UNION ALL
    SELECT 'cube_type_user_bucket', CAST(NULL AS TIMESTAMP), event_type,
           user_bucket, count(*), CAST(NULL AS DOUBLE)
    FROM (SELECT event_type, user_id % 10 AS user_bucket FROM events)
    GROUP BY CUBE (event_type, user_bucket)
    """,
)
def agg_grouping_panel(spark, sf_dir):
    """ROLLUP(day, type) totals + CUBE(type, user_bucket) counts in
    one op-tagged result — both arms are the original adjudicated
    callables; each plans a single Expand + aggregate (no
    multi-scan), and the union adds no extra shuffle."""
    roll = agg_rollup_day_type(spark, sf_dir).select(
        F.lit("rollup_day_type").alias("op"),
        "day",
        "event_type",
        F.lit(None).cast("long").alias("user_bucket"),
        "n",
        "sum_value",
    )
    cube = agg_cube_type_user_bucket(spark, sf_dir).select(
        F.lit("cube_type_user_bucket").alias("op"),
        F.lit(None).cast("timestamp").alias("day"),
        "event_type",
        "user_bucket",
        "n",
        F.lit(None).cast("double").alias("sum_value"),
    )
    return roll.unionByName(cube)


@register(
    "window_rank_panel",
    oracle="""
    SELECT 'topn_per_type' AS op, event_type, event_id, rn, ts, user_id, value,
           CAST(NULL AS BIGINT) AS rnk, CAST(NULL AS BIGINT) AS drnk,
           CAST(NULL AS BIGINT) AS quartile, CAST(NULL AS DOUBLE) AS cdist,
           CAST(NULL AS DOUBLE) AS delta_from_mean
    FROM (
        SELECT event_type, event_id, ts, user_id, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'rank_suite_purchase', event_type, event_id, CAST(NULL AS BIGINT),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           rank() OVER w, dense_rank() OVER w, ntile(4) OVER w,
           round(cume_dist() OVER w, 6),
           round(value - avg(value) OVER (PARTITION BY event_type), 4)
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
    """,
)
def window_rank_panel(spark, sf_dir):
    """Top-5-per-type (row_number filter) + the full ranking-function
    suite over purchases, op-tagged — both arms are the original
    adjudicated callables, each one shuffle on its partition key."""
    nulls = {
        "rnk": "int",
        "drnk": "int",
        "quartile": "int",
        "cdist": "double",
        "delta_from_mean": "double",
    }
    topn = window_topn_per_type(spark, sf_dir).select(
        F.lit("topn_per_type").alias("op"),
        "event_type",
        "event_id",
        "rn",
        "ts",
        "user_id",
        "value",
        *[F.lit(None).cast(t).alias(c) for c, t in nulls.items()],
    )
    suite = window_rank_suite(spark, sf_dir).select(
        F.lit("rank_suite_purchase").alias("op"),
        "event_type",
        "event_id",
        F.lit(None).cast("int").alias("rn"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("double").alias("value"),
        "rnk",
        "drnk",
        "quartile",
        "cdist",
        "delta_from_mean",
    )
    return topn.unionByName(suite)


@register(
    "dedup_jaccard_panel",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, unnest(list_distinct({_NTOKS})) AS tok FROM documents
    ),
    kept AS (
        SELECT tok FROM (SELECT tok, count(*) AS df FROM raw GROUP BY tok)
        WHERE df <= (SELECT floor(0.8 * count(*))::BIGINT FROM documents)
    ),
    toks AS (SELECT doc_id, tok FROM raw JOIN kept USING (tok)),
    tsizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    tinter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    t AS (SELECT doc_id, {_NTOKS} AS toks FROM documents),
    wgrams AS (
        SELECT doc_id, list_distinct([
            array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))
        ]) AS gs FROM t WHERE len(toks) >= 2
    ),
    cgrams AS (
        SELECT doc_id,
               list_distinct([substring({_NORM}, i, 4)
                FOR i IN range(1, greatest(length({_NORM}) - 3, 0) + 1)]) AS gs
        FROM documents
    ),
    g AS (
        SELECT 'word_2gram' AS mode, doc_id, unnest(gs) AS gram FROM wgrams
        UNION ALL
        SELECT 'char_4gram', doc_id, unnest(gs) FROM cgrams
    ),
    gsizes AS (
        SELECT mode, doc_id, count(*) AS sz FROM g GROUP BY mode, doc_id
    ),
    ginter AS (
        SELECT a.mode, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM g a JOIN g b ON a.mode = b.mode AND a.gram = b.gram
                         AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT 'tokenset' AS mode, doc_a, doc_b,
           round(c * 1.0 / (sa.sz + sb.sz - c), 4) AS jaccard
    FROM tinter
    JOIN tsizes sa ON doc_a = sa.doc_id
    JOIN tsizes sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
    UNION ALL
    SELECT i.mode, doc_a, doc_b,
           round(c * 1.0 / (sa.sz + sb.sz - c), 4)
    FROM ginter i
    JOIN gsizes sa ON i.mode = sa.mode AND doc_a = sa.doc_id
    JOIN gsizes sb ON i.mode = sb.mode AND doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.sz + sb.sz - c)
          >= CASE i.mode WHEN 'word_2gram' THEN 0.8 ELSE 0.9 END
    """,
)
def dedup_jaccard_panel(spark, sf_dir):
    """The three Jaccard near-dup grains — df-capped token sets
    (threshold 0.95), word bigrams (0.8), character 4-grams (0.9) —
    mode-tagged in one result; arms are the original adjudicated
    callables (df-capped inverted index, never all-pairs)."""
    tok = dedup_jaccard_pairs(spark, sf_dir).select(
        F.lit("tokenset").alias("mode"), "doc_a", "doc_b", "jaccard"
    )
    grams = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("gram_mode").alias("mode"), "doc_a", "doc_b", "jaccard"
    )
    return tok.unionByName(grams)


@register(
    "dedup_exact_panel",
    oracle=f"""
    SELECT 'groups' AS op, fp_mode, fp, n_docs, keep_id,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS text,
           CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_chars
    FROM (
        SELECT 'norm_md5' AS fp_mode, md5({_NORM}) AS fp,
               count(*) AS n_docs, min(doc_id) AS keep_id
        FROM documents GROUP BY 2
        UNION ALL
        SELECT 'tokenset',
               md5(array_to_string(list_sort(list_distinct({_NTOKS})), ' ')),
               count(*), min(doc_id)
        FROM documents GROUP BY 2
    )
    UNION ALL
    SELECT 'keep_first', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           doc_id, text, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (
        SELECT min(doc_id) FROM documents GROUP BY md5({_NORM})
    )
    """,
)
def dedup_exact_panel(spark, sf_dir):
    """Exact-dedup family in one slot: the fingerprint GROUPS view
    (norm-md5 + token-set grains, already itself an op-tagged union)
    and the KEEP-FIRST representative rows it implies. Both arms are
    the original adjudicated callables; each is one shuffle on a
    16-byte fingerprint key."""
    groups = dedup_exact_groups(spark, sf_dir).select(
        F.lit("groups").alias("op"),
        "fp_mode",
        "fp",
        "n_docs",
        "keep_id",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    keep = dedup_keep_first(spark, sf_dir).select(
        F.lit("keep_first").alias("op"),
        F.lit(None).cast("string").alias("fp_mode"),
        F.lit(None).cast("string").alias("fp"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("keep_id"),
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return groups.unionByName(keep)


@register(
    "window_session_panel",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, ts,
               (sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ))::BIGINT AS session_no
        FROM flagged
    )
    SELECT 'user_gaps' AS op, user_id, event_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           )) AS gap_us,
           CAST(NULL AS BIGINT) AS session_no,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'sessionize', user_id, CAST(NULL AS BIGINT),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
           session_no, count(*), min(ts), max(ts)
    FROM sess GROUP BY user_id, session_no
    """,
)
def window_session_panel(spark, sf_dir):
    """Session-analytics family in one slot: per-user inter-click
    gaps (lag) and 30-minute-gap sessionization (lag + running sum +
    per-session aggregate). Arms are the original adjudicated
    callables; both shuffle once on user_id."""
    gaps = window_user_gaps(spark, sf_dir).select(
        F.lit("user_gaps").alias("op"),
        "user_id",
        "event_id",
        "ts",
        "gap_us",
        F.lit(None).cast("long").alias("session_no"),
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("timestamp").alias("session_start"),
        F.lit(None).cast("timestamp").alias("session_end"),
    )
    sess = window_sessionize(spark, sf_dir).select(
        F.lit("sessionize").alias("op"),
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("gap_us"),
        "session_no",
        "n_events",
        "session_start",
        "session_end",
    )
    return gaps.unionByName(sess)


# ---------------------------------------------------------------- r6
# Second rotation wave: three more slot-merges freeing four window
# slots for window_gap_fill_hourly (the WITH FILL densify proof),
# behavior_sequence_match (the hardest CH-signature pattern grammar),
# dedup_exact_spans (distributed ExactSubstr) and text_bm25_search
# (end-to-end lexical retrieval). Same contract as the r5 panels:
# every arm IS the original adjudicated callable, and the oracle is
# the original entry's oracle text wrapped as a subquery — no
# re-derivation on either engine side.


@register(
    "agg_hourly_panel",
    oracle=(
        "SELECT 'hourly' AS op, bucket, n, sum_value,\n"
        "       CAST(NULL AS BIGINT) AS n_total,\n"
        "       CAST(NULL AS BIGINT) AS n_errors,\n"
        "       CAST(NULL AS DOUBLE) AS error_rate\n"
        "FROM (" + _ORACLES["agg_hourly"] + ")\n"
        "UNION ALL\n"
        "SELECT 'error_rate_hourly', bucket, CAST(NULL AS BIGINT),\n"
        "       CAST(NULL AS DOUBLE), n_total, n_errors, error_rate\n"
        "FROM (" + _ORACLES["agg_error_rate_hourly"] + ")"
    ),
)
def agg_hourly_panel(spark, sf_dir):
    """The two hourly time-series shapes (count/sum panel + error
    rate) op-tagged in one slot — both arms group the same scan on
    the same hour bucket; each plans one partial-agg shuffle keyed by
    the bucket, and the union adds no exchange."""
    hourly = agg_hourly(spark, sf_dir).select(
        F.lit("hourly").alias("op"),
        "bucket",
        "n",
        "sum_value",
        F.lit(None).cast("long").alias("n_total"),
        F.lit(None).cast("long").alias("n_errors"),
        F.lit(None).cast("double").alias("error_rate"),
    )
    err = agg_error_rate_hourly(spark, sf_dir).select(
        F.lit("error_rate_hourly").alias("op"),
        "bucket",
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
        "n_total",
        "n_errors",
        "error_rate",
    )
    return hourly.unionByName(err)


_PERDOC_NULLS = (
    # (column, spark type, duckdb type) for every per-doc column, in
    # panel output order; each arm keeps its own columns and nulls the
    # rest so the three single-pass scans stay independent (no join).
    ("n_chars", "int", "BIGINT"),
    ("n_tokens", "int", "BIGINT"),
    ("n_distinct_tokens", "int", "BIGINT"),
    ("avg_token_len", "double", "DOUBLE"),
    ("bpe_tokens", "int", "BIGINT"),
    ("inflation", "double", "DOUBLE"),
    ("stopword_ratio", "double", "DOUBLE"),
    ("digit_ratio", "double", "DOUBLE"),
    # boolean serialized to 0/1: a NULLABLE boolean stringifies as
    # None on the Spark side but NaN on the DuckDB side (measured),
    # so the union's null-padding would hash-mismatch; as INT both
    # engines land in float64-with-NaN identically.
    ("passes_quality", "int", "INTEGER"),
    ("score_en", "int", "BIGINT"),
    ("score_de", "int", "BIGINT"),
    ("score_fr", "int", "BIGINT"),
    ("score_es", "int", "BIGINT"),
    ("lang_pred", "string", "VARCHAR"),
)

_PERDOC_ARMS = {
    "token_stats": ("n_chars", "n_tokens", "n_distinct_tokens",
                    "avg_token_len", "bpe_tokens", "inflation"),
    "quality": ("stopword_ratio", "digit_ratio", "passes_quality"),
    "lang_id": ("score_en", "score_de", "score_fr", "score_es",
                "lang_pred"),
}


def _perdoc_oracle_arm(op: str, inner: str) -> str:
    def sel(c: str, t: str) -> str:
        if c not in _PERDOC_ARMS[op]:
            return f"CAST(NULL AS {t}) AS {c}"
        if c == "passes_quality":
            return "passes_quality::INTEGER AS passes_quality"
        return c

    cols = ", ".join(sel(c, t) for c, _, t in _PERDOC_NULLS)
    return f"SELECT '{op}' AS op, doc_id, {cols}\nFROM ({inner})"


@register(
    "text_perdoc_panel",
    oracle="\nUNION ALL\n".join(
        _perdoc_oracle_arm(op, _ORACLES[f"text_{op}"])
        for op in ("token_stats", "quality", "lang_id")
    ),
)
def text_perdoc_panel(spark, sf_dir):
    """The three per-document map-only stat families — token budget,
    quality gates, n-gram lang-ID — op-tagged in one slot. Each arm
    is the original adjudicated callable and stays a single corpus
    scan of pure JVM expressions (no shuffle, no join: a union of
    map-only projections is itself map-only)."""
    arms = {
        "token_stats": text_token_stats(spark, sf_dir),
        "quality": text_quality(spark, sf_dir),
        "lang_id": text_lang_id(spark, sf_dir),
    }
    out = []
    for op, df in arms.items():
        out.append(df.select(
            F.lit(op).alias("op"),
            "doc_id",
            *[
                F.col(c).cast(t).alias(c) if c in _PERDOC_ARMS[op]
                else F.lit(None).cast(t).alias(c)
                for c, t, _ in _PERDOC_NULLS
            ],
        ))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@register(
    "text_signal_panel",
    oracle=(
        "SELECT 'fingerprints' AS op, doc_id, fp_md5, fp_tokenset,\n"
        "       n_fingerprints, min_fp,\n"
        "       CAST(NULL AS BIGINT) AS n_2grams,\n"
        "       CAST(NULL AS VARCHAR) AS top_2gram,\n"
        "       CAST(NULL AS BIGINT) AS top_2gram_n,\n"
        "       CAST(NULL AS DOUBLE) AS top_2gram_frac,\n"
        "       CAST(NULL AS BIGINT) AS n_distinct_2grams,\n"
        "       CAST(NULL AS DOUBLE) AS dup_2gram_frac\n"
        "FROM (" + _ORACLES["text_fingerprints"] + ")\n"
        "UNION ALL\n"
        "SELECT 'repetition', doc_id, CAST(NULL AS VARCHAR),\n"
        "       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),\n"
        "       CAST(NULL AS VARCHAR), n_2grams, top_2gram,\n"
        "       top_2gram_n, top_2gram_frac, n_distinct_2grams,\n"
        "       dup_2gram_frac\n"
        "FROM (" + _ORACLES["text_repetition"] + ")"
    ),
)
def text_signal_panel(spark, sf_dir):
    """Fingerprint family (md5/token-set/winnowing) + the Gopher
    repetition panel op-tagged in one slot. The fingerprint arm is
    map-only plus the winnowing window; the repetition arm's one
    shuffle is keyed by doc_id on pre-aggregated 2-gram counts."""
    fp = text_fingerprints(spark, sf_dir).select(
        F.lit("fingerprints").alias("op"),
        "doc_id",
        "fp_md5",
        "fp_tokenset",
        "n_fingerprints",
        "min_fp",
        F.lit(None).cast("long").alias("n_2grams"),
        F.lit(None).cast("string").alias("top_2gram"),
        F.lit(None).cast("long").alias("top_2gram_n"),
        F.lit(None).cast("double").alias("top_2gram_frac"),
        F.lit(None).cast("long").alias("n_distinct_2grams"),
        F.lit(None).cast("double").alias("dup_2gram_frac"),
    )
    rep = text_repetition(spark, sf_dir).select(
        F.lit("repetition").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("fp_md5"),
        F.lit(None).cast("string").alias("fp_tokenset"),
        F.lit(None).cast("long").alias("n_fingerprints"),
        F.lit(None).cast("string").alias("min_fp"),
        "n_2grams",
        "top_2gram",
        "top_2gram_n",
        "top_2gram_frac",
        "n_distinct_2grams",
        "dup_2gram_frac",
    )
    return fp.unionByName(rep)


# r6 second wave: two more merges freeing slots for asof_general_join
# (the general ASOF JOIN adjudicated against DuckDB's native
# implementation) and pipeline_hybrid_retrieval (end-to-end
# lexical+vector retrieval under the driver's gate).


@register(
    "text_select_panel",
    oracle=(
        "SELECT 'search_grep' AS op, doc_id, lang, source,\n"
        "       CAST(NULL AS VARCHAR) AS split\n"
        "FROM (" + _ORACLES["text_search_grep"] + ")\n"
        "UNION ALL\n"
        "SELECT 'train_val_split', doc_id, CAST(NULL AS VARCHAR),\n"
        "       CAST(NULL AS VARCHAR), split\n"
        "FROM (" + _ORACLES["text_train_val_split"] + ")"
    ),
)
def text_select_panel(spark, sf_dir):
    """Document SELECTION family in one slot: grep-style search
    (codegen LIKE/regexp filters) + the deterministic md5-bucket
    train/val split. Both arms are the original adjudicated
    callables; both are map-only scans, and their union stays
    map-only."""
    from clickhouse_observability_spark.queries.text import (
        text_search_grep,
        text_train_val_split,
    )

    grep = text_search_grep(spark, sf_dir).select(
        F.lit("search_grep").alias("op"),
        "doc_id",
        "lang",
        "source",
        F.lit(None).cast("string").alias("split"),
    )
    split = text_train_val_split(spark, sf_dir).select(
        F.lit("train_val_split").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        "split",
    )
    return grep.unionByName(split)


@register(
    "sim_topk_panel",
    oracle=(
        "SELECT * FROM (" + _ORACLES["sim_topk_exact_proofs"] + ")\n"
        "UNION ALL\n"
        "SELECT 'int8_quantized' AS method, query_id, rank, vec_id,"
        " cosine\n"
        "FROM (" + _ORACLES["sim_topk_quantized"] + ")"
    ),
)
def sim_topk_panel(spark, sf_dir):
    """The whole adjudicated ANN-correctness tier in one slot: the
    four exact-by-construction proofs (brute, exhaustive IVF,
    PQ-rerank-all, BQ-rerank-all — already method-tagged) plus the
    int8-quantized exact scan. Arms are the original adjudicated
    callables."""
    from clickhouse_observability_spark.queries.similarity import (
        sim_topk_exact_proofs,
        sim_topk_quantized,
    )

    proofs = sim_topk_exact_proofs(spark, sf_dir)
    int8 = sim_topk_quantized(spark, sf_dir).select(
        F.lit("int8_quantized").alias("method"),
        "query_id", "rank", "vec_id", "cosine",
    )
    return proofs.unionByName(int8)


# ---------------------------------------------------------------- r7
# Third rotation wave: five more slot-merges freeing window slots
# for projection_served_panel + mutation_post_read (the r6 storage
# layers, now driver-adjudicated end-to-end), sim_semantic_
# contamination, dedup_cluster_keeplist, and the in-place upgrade of
# the two asof slots to the full variant matrix (asof_variants_panel).
# Same contract as every prior wave: arms ARE the original adjudicated
# callables, merged-away entries keep their own oracles (pytest-DuckDB)
# directly after the window.

# imported for @register side effects so _ORACLES has the arm texts
# at decoration time (selection loads after panels in _load_all)
import clickhouse_observability_spark.queries.selection  # noqa: E402,F401

from clickhouse_observability_spark.queries.analytics import (  # noqa: E402
    agg_counts_by_type,
    agg_month_buckets,
    dedup_first_event_per_user_type,
    profile_events,
)
from clickhouse_observability_spark.queries.selection import (  # noqa: E402
    text_c4_filters,
)
from clickhouse_observability_spark.queries.setops import (  # noqa: E402
    setop_union_intersect_users,
)
from clickhouse_observability_spark.queries.text import (  # noqa: E402
    text_contamination,
    text_corpus_stats,
    text_domain_mix,
    text_pii_scrub,
)


@register(
    "agg_shapes_panel",
    oracle=(
        "SELECT 'type_profile' AS op, event_type, n, users, sum_value,"
        " avg_value, min_value, max_value,\n"
        "       CAST(NULL AS INT) AS month,\n"
        "       CAST(NULL AS VARCHAR) AS column_name,\n"
        "       CAST(NULL AS BIGINT) AS n_nulls,\n"
        "       CAST(NULL AS BIGINT) AS n_distinct,\n"
        "       CAST(NULL AS VARCHAR) AS min_str,\n"
        "       CAST(NULL AS VARCHAR) AS max_str,\n"
        "       CAST(NULL AS BIGINT) AS n_rows\n"
        "FROM (" + _ORACLES["agg_counts_by_type"] + ")\n"
        "UNION ALL\n"
        "SELECT 'month_buckets', CAST(NULL AS VARCHAR), n,"
        " CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),"
        " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
        " CAST(NULL AS DOUBLE), month, CAST(NULL AS VARCHAR),"
        " CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),"
        " CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),"
        " CAST(NULL AS BIGINT)\n"
        "FROM (" + _ORACLES["agg_month_buckets"] + ")\n"
        "UNION ALL\n"
        "SELECT 'profile', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),"
        " CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),"
        " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
        " CAST(NULL AS DOUBLE), CAST(NULL AS INT), column_name,"
        " n_nulls, n_distinct, min_value, max_value, n_rows\n"
        "FROM (" + _ORACLES["profile_events"] + ")"
    ),
)
def agg_shapes_panel(spark, sf_dir):
    """Three profiling-aggregate shapes op-tagged in one slot: the
    per-type numeric panel (count/distinct/sum/avg/min/max — one
    shuffle on event_type), the toYYYYMM month buckets, and the
    3-column table profile (one pass, grouping-set-free scalar
    aggregate fan-out). Arms are the original adjudicated callables;
    profile's VARCHAR min/max land in their own columns so the
    numeric arms keep DOUBLE types."""
    type_nulls = [
        F.lit(None).cast("int").alias("month"),
        F.lit(None).cast("string").alias("column_name"),
        F.lit(None).cast("long").alias("n_nulls"),
        F.lit(None).cast("long").alias("n_distinct"),
        F.lit(None).cast("string").alias("min_str"),
        F.lit(None).cast("string").alias("max_str"),
        F.lit(None).cast("long").alias("n_rows"),
    ]
    types = agg_counts_by_type(spark, sf_dir).select(
        F.lit("type_profile").alias("op"),
        "event_type", "n", "users", "sum_value", "avg_value",
        "min_value", "max_value", *type_nulls,
    )
    months = agg_month_buckets(spark, sf_dir).select(
        F.lit("month_buckets").alias("op"),
        F.lit(None).cast("string").alias("event_type"),
        "n",
        F.lit(None).cast("long").alias("users"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        "month",
        F.lit(None).cast("string").alias("column_name"),
        F.lit(None).cast("long").alias("n_nulls"),
        F.lit(None).cast("long").alias("n_distinct"),
        F.lit(None).cast("string").alias("min_str"),
        F.lit(None).cast("string").alias("max_str"),
        F.lit(None).cast("long").alias("n_rows"),
    )
    prof = profile_events(spark, sf_dir).select(
        F.lit("profile").alias("op"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("long").alias("users"),
        F.lit(None).cast("double").alias("sum_value"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        F.lit(None).cast("int").alias("month"),
        "column_name", "n_nulls", "n_distinct",
        F.col("min_value").alias("min_str"),
        F.col("max_value").alias("max_str"),
        "n_rows",
    )
    return types.unionByName(months).unionByName(prof)


@register(
    "setop_dedup_user_panel",
    oracle=(
        "SELECT op, user_id, day, CAST(NULL AS BIGINT) AS event_id,\n"
        "       CAST(NULL AS TIMESTAMP) AS ts,\n"
        "       CAST(NULL AS VARCHAR) AS event_type,\n"
        "       CAST(NULL AS DOUBLE) AS value\n"
        "FROM (" + _ORACLES["setop_union_intersect_users"] + ")\n"
        "UNION ALL\n"
        "SELECT 'first_event', user_id, CAST(NULL AS TIMESTAMP),"
        " event_id, ts, event_type, value\n"
        "FROM (" + _ORACLES["dedup_first_event_per_user_type"] + ")"
    ),
)
def setop_dedup_user_panel(spark, sf_dir):
    """The user-set algebra (UNION/INTERSECT/EXCEPT, already
    op-tagged) + the deterministic one-row-per-(user,type) dedup in
    one slot — all four arms are the original adjudicated callables;
    each keys its single shuffle on user_id(+type)."""
    sets = setop_union_intersect_users(spark, sf_dir).select(
        "op", "user_id", "day",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
    )
    first = dedup_first_event_per_user_type(spark, sf_dir).select(
        F.lit("first_event").alias("op"),
        "user_id",
        F.lit(None).cast("timestamp").alias("day"),
        "event_id", "ts", "event_type", "value",
    )
    return sets.unionByName(first)


@register(
    "text_guard_panel",
    oracle=(
        "SELECT 'contamination' AS op, train_id AS doc_id, n_shared,\n"
        "       CAST(NULL AS VARCHAR) AS clean_text,\n"
        "       CAST(NULL AS BIGINT) AS n_email,\n"
        "       CAST(NULL AS BIGINT) AS n_ipv4,\n"
        "       CAST(NULL AS BIGINT) AS n_phone,\n"
        "       CAST(NULL AS BIGINT) AS n_denylist,\n"
        "       CAST(NULL AS BIGINT) AS n_lines,\n"
        "       CAST(NULL AS BIGINT) AS n_kept_lines,\n"
        "       CAST(NULL AS BIGINT) AS n_sentences,\n"
        "       CAST(NULL AS BIGINT) AS clean_len,\n"
        "       CAST(NULL AS INTEGER) AS flag_no_lorem,\n"
        "       CAST(NULL AS INTEGER) AS flag_no_brace,\n"
        "       CAST(NULL AS INTEGER) AS flag_min_sentences,\n"
        "       CAST(NULL AS INTEGER) AS passes_c4\n"
        "FROM (" + _ORACLES["text_contamination"] + ")\n"
        "UNION ALL\n"
        "SELECT 'pii_scrub', doc_id, CAST(NULL AS BIGINT), clean_text,"
        " n_email, n_ipv4, n_phone, n_denylist, CAST(NULL AS BIGINT),"
        " CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),"
        " CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),"
        " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),"
        " CAST(NULL AS INTEGER)\n"
        "FROM (" + _ORACLES["text_pii_scrub"] + ")\n"
        "UNION ALL\n"
        "SELECT 'c4_filters', doc_id, CAST(NULL AS BIGINT),"
        " CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),"
        " CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),"
        " CAST(NULL AS BIGINT), n_lines, n_kept_lines, n_sentences,"
        " clean_len,\n"
        # booleans serialize as INT 0/1 on both sides (nullable
        # booleans stringify None vs NaN across engines — the r5 red
        # row's lesson, applied to the union padding here)
        "       flag_no_lorem::INTEGER, flag_no_brace::INTEGER,"
        " flag_min_sentences::INTEGER, passes_c4::INTEGER\n"
        "FROM (" + _ORACLES["text_c4_filters"] + ")"
    ),
)
def text_guard_panel(spark, sf_dir):
    """The corpus GUARD tier op-tagged in one slot: benchmark
    decontamination (8-gram overlap vs the val split — broadcast
    blocklist join), PII scrub (map-only regex redaction + counters),
    and the C4 cleaning rules (map-only line retention + page gates,
    first driver adjudication for this arm). All three arms are the
    original callables; the union stays one corpus scan per arm."""
    flags = ("flag_no_lorem", "flag_no_brace", "flag_min_sentences",
             "passes_c4")
    c4_cols = ("n_lines", "n_kept_lines", "n_sentences", "clean_len")
    pii_cols = ("clean_text", "n_email", "n_ipv4", "n_phone",
                "n_denylist")
    cont = text_contamination(spark, sf_dir).select(
        F.lit("contamination").alias("op"),
        F.col("train_id").alias("doc_id"),
        "n_shared",
        F.lit(None).cast("string").alias("clean_text"),
        *[F.lit(None).cast("long").alias(c) for c in pii_cols[1:]],
        *[F.lit(None).cast("long").alias(c) for c in c4_cols],
        *[F.lit(None).cast("int").alias(c) for c in flags],
    )
    pii = text_pii_scrub(spark, sf_dir).select(
        F.lit("pii_scrub").alias("op"),
        "doc_id",
        F.lit(None).cast("long").alias("n_shared"),
        *pii_cols,
        *[F.lit(None).cast("long").alias(c) for c in c4_cols],
        *[F.lit(None).cast("int").alias(c) for c in flags],
    )
    c4 = text_c4_filters(spark, sf_dir).select(
        F.lit("c4_filters").alias("op"),
        "doc_id",
        F.lit(None).cast("long").alias("n_shared"),
        F.lit(None).cast("string").alias("clean_text"),
        *[F.lit(None).cast("long").alias(c) for c in pii_cols[1:]],
        *c4_cols,
        *[F.col(c).cast("int").alias(c) for c in flags],
    )
    return cont.unionByName(pii).unionByName(c4)


@register(
    "text_mix_panel",
    oracle=(
        "SELECT 'domain_mix' AS op, source, CAST(NULL AS VARCHAR) AS"
        " lang, rate, n_docs, n_sampled,\n"
        "       CAST(NULL AS BIGINT) AS total_tokens,\n"
        "       CAST(NULL AS BIGINT) AS total_chars,\n"
        "       CAST(NULL AS DOUBLE) AS avg_chars,\n"
        "       CAST(NULL AS VARCHAR) AS term,\n"
        "       CAST(NULL AS BIGINT) AS term_n\n"
        "FROM (" + _ORACLES["text_domain_mix"] + ")\n"
        "UNION ALL\n"
        "SELECT section, source, lang, CAST(NULL AS DOUBLE), n_docs,"
        " CAST(NULL AS BIGINT), total_tokens, total_chars, avg_chars,"
        " term, term_n\n"
        "FROM (" + _ORACLES["text_corpus_stats"] + ")"
    ),
)
def text_mix_panel(spark, sf_dir):
    """Training-mixture planning in one slot: the md5-bucket domain
    reweighting report + the (source, lang) ROLLUP budget report with
    the top-20 corpus terms (the corpus_stats arm keeps its own
    section tags). Arms are the original adjudicated callables; each
    is one partial-aggregated shuffle on a tiny key space."""
    mix = text_domain_mix(spark, sf_dir).select(
        F.lit("domain_mix").alias("op"),
        "source",
        F.lit(None).cast("string").alias("lang"),
        "rate", "n_docs", "n_sampled",
        F.lit(None).cast("long").alias("total_tokens"),
        F.lit(None).cast("long").alias("total_chars"),
        F.lit(None).cast("double").alias("avg_chars"),
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("term_n"),
    )
    stats = text_corpus_stats(spark, sf_dir).select(
        F.col("section").alias("op"),
        "source", "lang",
        F.lit(None).cast("double").alias("rate"),
        "n_docs",
        F.lit(None).cast("long").alias("n_sampled"),
        "total_tokens", "total_chars", "avg_chars", "term", "term_n",
    )
    return mix.unionByName(stats)


# purchases x clicks, both strict arms on MINUTE-truncated timestamps
# so equal-ts ties actually occur in the data (at raw µs precision no
# purchase shares a click's timestamp and strict == non-strict — the
# truncation makes the strictness semantics adjudicable, measured:
# strict and non-strict backward joins differ on sf0.01).
_ASOF_VARIANT_ORACLE = """
    WITH p AS (
        SELECT event_id, ts, user_id, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    pm AS (
        SELECT event_id, date_trunc('minute', ts) AS ts, user_id
        FROM events WHERE event_type = 'purchase'
    ),
    cm AS (
        SELECT user_id, date_trunc('minute', ts) AS click_ts,
               max(event_id) AS click_event_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT 'forward_left' AS op, p.event_id, p.ts, p.user_id, p.value,
           c.click_event_id, c.click_ts
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts <= c.click_ts
    UNION ALL
    SELECT 'backward_strict_inner', pm.event_id, pm.ts, pm.user_id,
           CAST(NULL AS DOUBLE), cm.click_event_id, cm.click_ts
    FROM pm ASOF JOIN cm
      ON pm.user_id = cm.user_id AND pm.ts > cm.click_ts
    UNION ALL
    SELECT 'forward_strict_inner', pm.event_id, pm.ts, pm.user_id,
           CAST(NULL AS DOUBLE), cm.click_event_id, cm.click_ts
    FROM pm ASOF JOIN cm
      ON pm.user_id = cm.user_id AND pm.ts < cm.click_ts
"""


@register(
    "asof_variants_panel",
    oracle=(
        "SELECT 'last_event' AS op, event_id, ts, user_id, value,\n"
        "       CAST(NULL AS BIGINT) AS click_event_id,\n"
        "       CAST(NULL AS TIMESTAMP) AS click_ts, last_click_id\n"
        "FROM (" + _ORACLES["asof_click_before_purchase"] + ")\n"
        "UNION ALL\n"
        "SELECT op, event_id, ts, user_id, value, click_event_id,"
        " click_ts, CAST(NULL AS BIGINT) AS last_click_id\n"
        "FROM (\n"
        "SELECT 'backward_left' AS op, event_id, ts, user_id, value,"
        " click_event_id, click_ts\n"
        "FROM (" + _ORACLES["asof_general_join"] + ")\n"
        "UNION ALL\n"
        "SELECT * FROM (" + _ASOF_VARIANT_ORACLE + "))"
    ),
)
def asof_variants_panel(spark, sf_dir):
    """The FULL as-of matrix under one driver-adjudicated slot, every
    non-legacy arm checked against DuckDB's NATIVE ASOF JOIN:
    - last_event: the value-carry asof (asof_join_last_event — the r3
      operator, window-SQL oracle);
    - backward_left: the general full-row-carry ASOF LEFT JOIN (r6);
    - forward_left: earliest at-or-after, unmatched rows kept;
    - backward_strict_inner / forward_strict_inner: CH's > / < forms
      on minute-truncated timestamps so equal-ts ties exist and the
      strictness ordering (equal-ts right row hidden from the left
      row) is actually exercised.
    All arms are one union-and-carry window pass each — and since r14
    the five passes FUSE into a single arm-tagged union over ONE
    window exchange partitioned by (arm, user_id): the per-arm
    algebra (time-axis sign for direction, side ordering for
    strictness, left/inner filtering — operators/joins.py:asof_join)
    is encoded per row, so one shuffle + one sort replaces five
    (guide §2.4; plan: 9 exchanges/10 corpus scans -> 3/3). The
    purchase projection and the full-grain click aggregate are
    eagerly checkpointed once per invocation and feed every arm (the
    minute-grain click aggregate re-merges the full-grain one —
    max-of-max — instead of re-scanning the corpus). Proven
    row-identical to the five standalone passes (exceptAll both ways)
    and still adjudicated against DuckDB's native ASOF JOIN."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    ).localCheckpoint(eager=True)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    ).localCheckpoint(eager=True)
    clicks_raw = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    pm = purchases.select(
        "event_id", F.date_trunc("minute", "ts").alias("ts"), "user_id"
    )
    cm = (
        clicks
        .groupBy("user_id",
                 F.date_trunc("minute", "click_ts").alias("click_ts"))
        .agg(F.max("click_event_id").alias("click_event_id"))
    )

    _RROW = ("struct<click_event_id:bigint,click_ts:timestamp,"
             "lci:bigint>")

    def _t(ts_col, forward):
        sign = -1 if forward else 1
        return (F.unix_micros(F.col(ts_col).cast("timestamp"))
                * F.lit(sign)).alias("_t")

    def left_rows(arm, df, *, forward=False, strict=False,
                  with_value=True):
        value = (F.col("value") if with_value
                 else F.lit(None).cast("double")).alias("value")
        return df.select(
            F.lit(arm).alias("_arm"),
            F.col("user_id").alias("_k"),
            _t("ts", forward),
            F.lit(0 if strict else 1).alias("_side"),
            F.struct(
                F.col("event_id"), F.col("ts"),
                F.col("user_id"), value,
            ).alias("_lrow"),
            F.lit(None).cast(_RROW).alias("_rrow"),
        )

    def right_rows(arm, df, ts_col, rrow, *, forward=False,
                   strict=False):
        return df.select(
            F.lit(arm).alias("_arm"),
            F.col("user_id").alias("_k"),
            _t(ts_col, forward),
            F.lit(1 if strict else 0).alias("_side"),
            F.lit(None).cast(
                "struct<event_id:bigint,ts:timestamp,"
                "user_id:bigint,value:double>").alias("_lrow"),
            rrow.alias("_rrow"),
        ).filter(F.col("_t").isNotNull())

    carry_full = F.struct(
        F.col("click_event_id"), F.col("click_ts"),
        F.lit(None).cast("long").alias("lci"),
    )
    carry_lci = F.struct(
        F.lit(None).cast("long").alias("click_event_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("lci"),
    )
    arms = [
        # 1 last_event: purchases vs raw clicks, backward non-strict
        # left (asof_join_last_event's exact side/order algebra)
        left_rows(1, purchases),
        right_rows(1, clicks_raw, "ts", carry_lci),
        # 2 backward_left / 3 forward_left: full-row carry vs the
        # deduped full-grain click aggregate
        left_rows(2, purchases),
        right_rows(2, clicks, "click_ts", carry_full),
        left_rows(3, purchases, forward=True),
        right_rows(3, clicks, "click_ts", carry_full, forward=True),
        # 4/5: strict inner forms on minute-truncated timestamps
        left_rows(4, pm, strict=True, with_value=False),
        right_rows(4, cm, "click_ts", carry_full, strict=True),
        left_rows(5, pm, forward=True, strict=True, with_value=False),
        right_rows(5, cm, "click_ts", carry_full, forward=True,
                   strict=True),
    ]
    unioned = arms[0]
    for a in arms[1:]:
        unioned = unioned.unionByName(a)

    from pyspark.sql import Window

    w = (
        Window.partitionBy("_arm", "_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        unioned.withColumn("_m", F.last("_rrow", ignorenulls=True).over(w))
        .filter(F.col("_lrow").isNotNull())
        # inner arms (4, 5) drop unmatched left rows; left arms keep
        # them with a NULL carry
        .filter((~F.col("_arm").isin(4, 5)) | F.col("_m").isNotNull())
    )
    op = (
        F.when(F.col("_arm") == 1, "last_event")
        .when(F.col("_arm") == 2, "backward_left")
        .when(F.col("_arm") == 3, "forward_left")
        .when(F.col("_arm") == 4, "backward_strict_inner")
        .otherwise("forward_strict_inner")
    )
    # each arm's right rows populate only their own carry fields, so
    # the flat selects below are per-arm NULL-correct without CASEs
    return carried.select(
        op.alias("op"),
        F.col("_lrow.event_id").alias("event_id"),
        F.col("_lrow.ts").alias("ts"),
        F.col("_lrow.user_id").alias("user_id"),
        F.col("_lrow.value").alias("value"),
        F.col("_m.click_event_id").alias("click_event_id"),
        F.col("_m.click_ts").alias("click_ts"),
        F.col("_m.lci").alias("last_click_id"),
    )

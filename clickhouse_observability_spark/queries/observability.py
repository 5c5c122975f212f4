"""Registry entries for the alerting/triage tier: anomaly scoring
over bucket-grain aggregates and log template mining. Registers
AFTER the 50-slot adjudication window; oracles executed in pytest
(tests/test_observability.py and the CI registry gate,
tests/test_oracle_registry.py).
"""

from __future__ import annotations

from clickhouse_observability_spark.operators import anomaly as AN
from clickhouse_observability_spark.operators import templates as TP
from clickhouse_observability_spark.registry import register, table


@register(
    "agg_error_anomalies",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket,
               count(*) AS n_total,
               count(*) FILTER (event_type = 'error') AS n_errors,
               round(count(*) FILTER (event_type = 'error') * 1.0
                     / count(*), 6) AS error_rate
        FROM events GROUP BY 1
    ), scored AS (
        SELECT *,
               avg(error_rate) OVER w AS m,
               stddev_samp(error_rate) OVER w AS s,
               count(error_rate) OVER w AS k,
               sum(n_errors) OVER w AS we,
               sum(n_total) OVER w AS wt,
               lag(error_rate, 24) OVER (ORDER BY bucket) AS yday
        FROM hourly
        WINDOW w AS (ORDER BY bucket
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT bucket, n_total, n_errors, error_rate,
           round(we * 1.0 / wt, 6) AS baseline_mean,
           round(CASE WHEN k >= 3 AND s > 1e-9
                      THEN (error_rate - m) / s END, 4) AS zscore,
           round(error_rate - yday, 6) AS seasonal_delta,
           coalesce(round(CASE WHEN k >= 3 AND s > 1e-9
                               THEN (error_rate - m) / s END, 4) > 3.0,
                    FALSE) AS is_anomaly
    FROM scored
    """,
)
def agg_error_anomalies(spark, sf_dir):
    """Hourly error-rate anomaly panel: trailing-24h z-score
    (exclusive window — a spike must not dilute its own baseline)
    plus the same-hour-yesterday seasonal delta. Runs on bucket-grain
    rows (the rollup read path): O(hours), independent of raw event
    count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    scored = AN.trailing_zscores(
        AN.hourly_error_rates(ev), "error_rate", order_col="bucket")
    # pooled trailing baseline as an INTEGER-sum ratio: identical
    # bits on both engines (see operators/anomaly.py docstring)
    w = Window.orderBy("bucket").rowsBetween(-24, -1)
    return scored.select(
        "bucket", "n_total", "n_errors", "error_rate",
        F.round(F.sum("n_errors").over(w)
                / F.sum("n_total").over(w), 6).alias("baseline_mean"),
        "zscore", "seasonal_delta", "is_anomaly",
    )


@register(
    "sim_contrastive_mining",
    oracle="""
    WITH scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
               list_cosine_similarity(q.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]) AS cosine
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id IN (0, 1, 2, 3, 4)
    ), labeled AS (
        SELECT query_id, vec_id, cosine,
               CASE WHEN cosine >= 0.95 THEN 'positive'
                    ELSE 'hard_negative' END AS label
        FROM scored
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id, label
                   ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM labeled
    )
    SELECT query_id, label, rank, vec_id, round(cosine, 6) AS cosine
    FROM ranked
    WHERE rank <= CASE WHEN label = 'positive' THEN 3 ELSE 5 END
    """,
)
def sim_contrastive_mining(spark, sf_dir):
    """Contrastive-pair mining for retriever training: per anchor,
    positives (cosine >= 0.95 near-dups) and the top hard negatives
    (most similar NON-duplicates — where the gradient signal lives),
    labeled and ranked from ONE neighbor scan. This exact-path entry
    is the oracle anchor (anchors broadcast over one corpus pass);
    the LSH-candidate scale path is `sim_contrastive_mining_lsh`
    with recall pinned in pytest."""
    from clickhouse_observability_spark.operators import mining as M

    return M.mine_contrastive_exact(
        table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4])


@register(
    "pipeline_retrieval",
    oracle="""
    WITH topk AS (
        SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                   list_cosine_similarity(q.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]) AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                                    q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id IN (0, 1, 2, 3, 4)
        ) WHERE rank <= 5)
    SELECT t.query_id, t.rank, t.vec_id AS doc_id, t.cosine,
           d.source, substr(d.text, 1, 80) AS snippet
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    """,
)
def pipeline_retrieval(spark, sf_dir):
    """End-to-end retrieval composition: embedding top-k (the ANN
    tier) joined back to the document store for source + snippet —
    what a RAG serving path returns. The doc-side projection is two
    small columns (pruned at the scan); the join side is the top-k
    result (|anchors| x k rows), broadcast."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators import similarity as S

    topk = S.brute_force_topk(
        table(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 80).alias("snippet"))
    return (
        docs.join(F.broadcast(topk), docs["doc_id"] == topk["vec_id"])
        .select("query_id", "rank", "doc_id", "cosine", "source",
                "snippet")
    )


# Rows-only: seeded LSH internals (the 100 TB candidate generator).
@register("sim_contrastive_mining_lsh")
def sim_contrastive_mining_lsh(spark, sf_dir):
    from clickhouse_observability_spark.operators import mining as M
    from clickhouse_observability_spark.operators import similarity as S

    cands = S.knn_join_lsh(
        table(spark, sf_dir, "embeddings"), k=16, max_bucket_frac=0.25)
    return M.label_candidates(cands)


@register(
    "text_log_templates",
    oracle="""
    SELECT template, count(*) AS n_lines, min(text) AS example
    FROM (
        SELECT regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(text,
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                   '<IP>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 '\\b[0-9a-fA-F]{8,}\\b', '<HEX>', 'g'),
                 '\\b[0-9]+\\b', '<NUM>', 'g') AS template,
               text
        FROM documents)
    GROUP BY 1
    """,
)
def text_log_templates(spark, sf_dir):
    """LogReduce-style template mining over the documents corpus:
    mask variable fields (IP -> email -> hex -> number, in that
    order), then one map-side-combined groupBy on the skeleton."""
    return TP.mine_templates(table(spark, sf_dir, "documents"), "text")


@register(
    "agg_slo_burn_rate",
    # After the 50-slot window; oracle executed in
    # tests/test_observability.py like the anomaly panel.
    oracle="""
    WITH h AS (
        SELECT date_trunc('hour', ts) AS bucket,
               epoch(date_trunc('hour', ts))::BIGINT AS es,
               count(*) AS n_total,
               count(*) FILTER (event_type = 'error') AS n_errors
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT bucket, n_total, n_errors,
               sum(n_total) OVER win AS t_long,
               sum(n_errors) OVER win AS e_long
        FROM h
        WINDOW win AS (ORDER BY es RANGE BETWEEN 21599 PRECEDING
                       AND CURRENT ROW)
    )
    SELECT bucket, n_total, n_errors,
           round(n_errors * 1.0 / n_total / 0.2, 4) AS burn_short,
           round(e_long * 1.0 / t_long / 0.2, 4) AS burn_long,
           (round(n_errors * 1.0 / n_total / 0.2, 4) >= 6.0
            AND round(e_long * 1.0 / t_long / 0.2, 4) >= 6.0) AS page
    FROM w
    """,
)
def agg_slo_burn_rate(spark, sf_dir):
    """SLO error-budget burn-rate panel per hour: short-window (1 h)
    and long-window (6 h trailing, range-windowed over epoch seconds
    so gaps don't stretch the span) burn rates against a 20% error
    budget, paging only when BOTH exceed 6x — sustained burn that is
    still live. Bucket-grain all the way (the rollup read path)."""
    ev = table(spark, sf_dir, "events")
    return AN.slo_burn_rates(
        AN.hourly_error_rates(ev), target=0.2,
        long_window_buckets=6, threshold=6.0,
    )


@register(
    "text_new_templates",
    # After the 50-slot window; oracle executed in
    # tests/test_observability.py.
    oracle="""
    WITH m AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(text,
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                   '<IP>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 '\\b[0-9a-fA-F]{8,}\\b', '<HEX>', 'g'),
                 '\\b[0-9]+\\b', '<NUM>', 'g') AS template,
               text
        FROM documents
    ), cur AS (
        SELECT template, count(*) AS n_lines, min(text) AS example
        FROM m WHERE doc_id % 4 = 0 GROUP BY 1
    )
    SELECT c.template, c.n_lines, c.example
    FROM cur c
    WHERE NOT EXISTS (
        SELECT 1 FROM m b WHERE b.doc_id % 4 <> 0
          AND b.template = c.template
    )
    """,
)
def text_new_templates(spark, sf_dir):
    """Novel-template detection: content shapes present in the new
    snapshot (every 4th doc — the arriving slice stand-in) that the
    baseline corpus has never produced — the "new error shape just
    appeared" alert, and for training data the novelty report on an
    incoming crawl. Baseline collapses to its distinct template set
    before a left-anti join on the skeleton; the shuffle carries
    template-cardinality rows only."""
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    current = docs.filter(F.col("doc_id") % 4 == 0)
    baseline = docs.filter(F.col("doc_id") % 4 != 0)
    return TP.new_templates(current, baseline)


@register(
    "pipeline_hybrid_retrieval",
    # After the 50-slot window; oracle executed in
    # tests/test_observability.py.
    oracle="""
    WITH vec AS (
        SELECT vec_id AS doc_id, rank AS rank_vec FROM (
            SELECT e.vec_id,
                   row_number() OVER (
                       ORDER BY list_cosine_similarity(
                                    q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id = 0
        ) WHERE rank <= 20
    ), d AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                   '\\s+'), x -> x <> '') AS t
        FROM documents
    ), st AS (
        SELECT count(*) AS N, avg(len(t)) AS avgdl,
               sum(list_contains(t, 'vector')::BIGINT) AS df0,
               sum(list_contains(t, 'join')::BIGINT) AS df1,
               sum(list_contains(t, 'window')::BIGINT) AS df2
        FROM d
    ), sc AS (
        SELECT doc_id,
               ln(1 + (N - df0 + 0.5) / (df0 + 0.5))
                 * len(list_filter(t, x -> x = 'vector')) * 2.2
                 / (len(list_filter(t, x -> x = 'vector'))
                    + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
             + ln(1 + (N - df1 + 0.5) / (df1 + 0.5))
                 * len(list_filter(t, x -> x = 'join')) * 2.2
                 / (len(list_filter(t, x -> x = 'join'))
                    + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
             + ln(1 + (N - df2 + 0.5) / (df2 + 0.5))
                 * len(list_filter(t, x -> x = 'window')) * 2.2
                 / (len(list_filter(t, x -> x = 'window'))
                    + 1.2 * (0.25 + 0.75 * len(t) / avgdl)) AS s
        FROM d, st
    ), lex AS (
        SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                   AS rank_lex,
               doc_id
        FROM (SELECT doc_id, round(s, 6) AS bm25 FROM sc
              WHERE round(s, 6) > 0)
        ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    )
    SELECT row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank,
           doc_id, rrf, rank_vec, rank_lex
    FROM (
        SELECT coalesce(v.doc_id, l.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + rank_vec), 0)
                     + coalesce(1.0 / (60 + rank_lex), 0), 6) AS rrf,
               rank_vec, rank_lex
        FROM vec v FULL OUTER JOIN lex l ON v.doc_id = l.doc_id
    )
    ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def pipeline_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: the embedding
    arm (exact cosine top-20 for query vector 0) and the lexical arm
    (BM25 top-20 for {vector, join, window}) fuse as
    Σ 1/(60 + rank_arm) — the standard RRF that needs no score
    calibration between arms. Both arms are exact and deterministic,
    so the FUSED ranking is oracle-adjudicable end to end. Both
    inputs are top-k frames (tiny): the fusion join and final rank
    cost nothing at any corpus scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators import similarity as S
    from clickhouse_observability_spark.operators import text_analysis as TX2

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    vec = (
        S.brute_force_topk(emb, [0], k=20)
        .select(F.col("vec_id").alias("doc_id"),
                F.col("rank").alias("rank_vec"))
    )
    lex = (
        TX2.bm25_search(docs, ["vector", "join", "window"], top_n=20)
        .select("doc_id", F.col("rank").alias("rank_lex"))
    )
    fused = (
        vec.join(lex, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rank_vec")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rank_lex")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            "rank_vec",
            "rank_lex",
        )
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "rrf", "rank_vec", "rank_lex")
    )

# -- semantic decontamination (registered HERE, in a late-loaded
# module, so the ORACLE-backed exact arm sorts AFTER the driver's
# 50-slot window: queries/similarity loads before queries/text, and
# an oracle entry appended there displaces an adjudicated slot —
# found when text_quality_sample slipped to position 51) -------------

@register(
    "sim_semantic_contamination",
    # After the 50-slot window; oracle executed in
    # tests/test_similarity.py (r4+ convention).
    oracle="""
    SELECT b.vec_id AS left_id, c.vec_id AS right_id,
           round(list_cosine_similarity(b.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings b JOIN embeddings c ON c.vec_id % 20 <> 0
    WHERE b.vec_id % 20 = 0
      AND round(list_cosine_similarity(b.embedding::DOUBLE[],
                                       c.embedding::DOUBLE[]), 4) >= 0.45
    """,
)
def sim_semantic_contamination(spark, sf_dir):
    """SEMANTIC decontamination, exact arm: which training-corpus
    vectors are near-duplicates of a benchmark vector — catches the
    paraphrased leakage the 8-gram text decontamination
    (text_contamination) cannot see. Benchmark = every 20th vector
    (the held-out suite stand-in), corpus = the rest; the benchmark
    side broadcasts, the corpus streams once. The oracle-adjudicated
    exact anchor; `sim_semantic_contamination_lsh` is the registered
    scale path."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return S.cross_neardup_exact(bench, corpus, threshold=0.45)


@register("sim_semantic_contamination_lsh")
def sim_semantic_contamination_lsh(spark, sf_dir):
    """Scale path for semantic decontamination: both tables hash
    against SHARED hyperplanes (4 planes × 16 tables + 1-bit
    multiprobe on the small benchmark side), only bucket-mates
    compare, exact cosine confirms — candidates ∝ benchmark size ×
    bucket density instead of |bench| × |corpus|. Rows-only: seeded
    LSH internals; pytest pins recall vs the exact arm and the
    subset property."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return S.cross_neardup_lsh(
        bench, corpus, threshold=0.45, n_planes=4, n_tables=16,
        multiprobe=True,
    )


@register(
    "agg_lttb_downsample",
    # The DuckDB replay of the deterministic LTTB fold
    # (operators/downsample.lttb_downsample_exact): identical integer
    # bucket partition, identical struct-tie-broken candidates,
    # identical division-free triangle areas (two IEEE multiplies
    # over exact integers), and the same earliest-wins strict-> pick
    # — expressed as a recursive CTE stepping bucket by bucket.
    oracle="""
    WITH RECURSIVE pts AS (
        SELECT event_type, epoch_us(ts) AS xl, value AS y,
               CAST(round(value * 10000) AS BIGINT) AS yq
        FROM events
    ), st AS (
        SELECT event_type, count(*) AS n, min(xl) AS x0
        FROM pts GROUP BY 1
    ), jp AS (
        SELECT p.event_type, p.xl - s.x0 AS xr, p.y, p.yq, s.n, s.x0,
               row_number() OVER (PARTITION BY p.event_type
                                  ORDER BY p.xl - s.x0, p.yq, p.y
                                  ) AS rn
        FROM pts p JOIN st s USING (event_type)
    ), big AS (
        SELECT *, CASE WHEN rn = 1 THEN 0
                       WHEN rn = n THEN 199
                       ELSE CAST(((rn - 1) * 198 - 1) // (n - 2)
                                 AS INT) + 1 END AS b
        FROM jp WHERE n > 200
    ), summ AS (
        SELECT event_type, x0, b, count(*) AS nb,
               sum(xr) AS sx, sum(yq) AS sq,
               min(struct_pack(f1 := xr, f2 := yq, f3 := y)) AS s1,
               min(struct_pack(f1 := yq, f2 := xr, f3 := y)) AS s2,
               max(struct_pack(f1 := yq, f2 := xr, f3 := y)) AS s3,
               max(struct_pack(f1 := xr, f2 := yq, f3 := y)) AS s4
        FROM big GROUP BY 1, 2, 3
    ), flat AS (
        SELECT event_type, x0, b, nb, sx, sq,
               s1.f1 AS c1x, s1.f2 AS c1q, s1.f3 AS c1y,
               s2.f2 AS c2x, s2.f1 AS c2q, s2.f3 AS c2y,
               s3.f2 AS c3x, s3.f1 AS c3q, s3.f3 AS c3y,
               s4.f1 AS c4x, s4.f2 AS c4q, s4.f3 AS c4y
        FROM summ
    ), sel AS (
        SELECT event_type, x0, 0 AS step,
               c1x AS px, c1q AS pq, c1x AS ox, c1y AS oy
        FROM flat WHERE b = 0
        UNION ALL
        SELECT event_type, x0, step,
               CASE pick WHEN 1 THEN c1x WHEN 2 THEN c2x
                         WHEN 3 THEN c3x ELSE c4x END AS px,
               CASE pick WHEN 1 THEN c1q WHEN 2 THEN c2q
                         WHEN 3 THEN c3q ELSE c4q END AS pq,
               CASE pick WHEN 1 THEN c1x WHEN 2 THEN c2x
                         WHEN 3 THEN c3x ELSE c4x END AS ox,
               CASE pick WHEN 1 THEN c1y WHEN 2 THEN c2y
                         WHEN 3 THEN c3y ELSE c4y END AS oy
        FROM (
            SELECT q.*, CASE WHEN a4 > a3 AND a4 > a2 AND a4 > a1
                                 THEN 4
                             WHEN a3 > a2 AND a3 > a1 THEN 3
                             WHEN a2 > a1 THEN 2 ELSE 1 END AS pick
            FROM (
                SELECT s.event_type, s.x0, s.step + 1 AS step,
                       cur.c1x, cur.c1q, cur.c1y,
                       cur.c2x, cur.c2q, cur.c2y,
                       cur.c3x, cur.c3q, cur.c3y,
                       cur.c4x, cur.c4q, cur.c4y,
                       abs(CAST(s.px * nx.nb - nx.sx AS DOUBLE)
                           * CAST(cur.c1q - s.pq AS DOUBLE)
                           - CAST(s.px - cur.c1x AS DOUBLE)
                           * CAST(nx.sq - s.pq * nx.nb AS DOUBLE))
                           AS a1,
                       abs(CAST(s.px * nx.nb - nx.sx AS DOUBLE)
                           * CAST(cur.c2q - s.pq AS DOUBLE)
                           - CAST(s.px - cur.c2x AS DOUBLE)
                           * CAST(nx.sq - s.pq * nx.nb AS DOUBLE))
                           AS a2,
                       abs(CAST(s.px * nx.nb - nx.sx AS DOUBLE)
                           * CAST(cur.c3q - s.pq AS DOUBLE)
                           - CAST(s.px - cur.c3x AS DOUBLE)
                           * CAST(nx.sq - s.pq * nx.nb AS DOUBLE))
                           AS a3,
                       abs(CAST(s.px * nx.nb - nx.sx AS DOUBLE)
                           * CAST(cur.c4q - s.pq AS DOUBLE)
                           - CAST(s.px - cur.c4x AS DOUBLE)
                           * CAST(nx.sq - s.pq * nx.nb AS DOUBLE))
                           AS a4
                FROM sel s
                JOIN flat cur ON cur.event_type = s.event_type
                             AND cur.b = s.step + 1
                JOIN flat nx ON nx.event_type = s.event_type
                            AND nx.b = s.step + 2
            ) q
        ) z
    )
    SELECT event_type, make_timestamp(x0 + ox) AS ts, oy AS value
    FROM sel
    UNION ALL
    SELECT event_type, make_timestamp(x0 + c4x) AS ts, c4y AS value
    FROM flat WHERE b = 199
    UNION ALL
    SELECT event_type, make_timestamp(x0 + xr) AS ts, y AS value
    FROM jp WHERE n <= 200
    """,
)
def agg_lttb_downsample(spark, sf_dir):
    """LTTB downsampling of each event-type value series to 200
    render points — the dashboard-rendering reduction over the
    reference's hourly-panel surface. Oracle-backed (r9 verdict #4)
    via the DETERMINISTIC arm (operators/downsample.
    lttb_downsample_exact): series-re-based integer x, 1e-4-unit
    integer y, exact integer bucket sums, division-free triangle
    areas — every fold decision replays bit-for-bit in DuckDB's
    recursive CTE. The heavy pass is one JVM bucket reduction; the
    sequential fold runs over <=200-row groups (bounded
    applyInPandas)."""
    from clickhouse_observability_spark.operators.downsample import (
        lttb_downsample_exact,
    )

    ev = table(spark, sf_dir, "events")
    return lttb_downsample_exact(
        ev, "ts", "value", 200, partition_by=("event_type",)
    )

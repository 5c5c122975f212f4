"""End-to-end integration: wire batches -> streaming micro-batcher ->
partitioned logs table -> reference query template -> API envelope.
The full reference data path (SURVEY.md §3 entry points 1+2) in one
flow."""

from __future__ import annotations

import datetime as dt
import sys

import pytest

from clickhouse_observability_spark.api.http import LogsApi
from clickhouse_observability_spark.operators.query_logs import query_logs
from clickhouse_observability_spark.sources.writer import LogsTable
from clickhouse_observability_spark.streaming.batcher import IngestStream


def test_stream_to_query_to_api(spark, tmp_path):
    table = LogsTable(spark, str(tmp_path / "logs"))
    table.init_schema()
    stream = IngestStream(
        spark, table, str(tmp_path / "inbox"), str(tmp_path / "ckpt")
    )
    q = stream.start()
    try:
        accepted = stream.submit_many(
            [
                {"ts": f"2025-09-01T10:{m:02d}:00Z", "service": "orders",
                 "level": "WARN" if m % 2 else "INFO", "msg": f"m{m}",
                 "attrs": {"user": "jane.smith" if m < 5 else "bob"},
                 "trace_id": f"t{m}", "span_id": f"s{m}"}
                for m in range(10)
            ]
        )
        assert accepted == 10
        q.processAllAvailable()

        # reference read-path template over the streamed table
        out = query_logs(
            table.read(), "orders",
            "2025-09-01 00:00:00", "2025-09-02 00:00:00",
            level="WARN", user="jane.smith", limit=5,
        ).collect()
        assert [r.msg for r in out] == ["m3", "m1"]  # desc by ts

        # API layer over the same table
        status, body = LogsApi(table.read).query_logs_handler(
            {"service": "orders", "from": "2025-09-01T00:00:00Z",
             "to": "2025-09-02T00:00:00Z", "user": "bob"}
        )
        assert status == 200
        assert body["count"] == 5
        assert all(l["Attrs"]["user"] == "bob" for l in body["logs"])
        ts_list = [l["Ts"] for l in body["logs"]]
        assert ts_list == sorted(ts_list, reverse=True)
    finally:
        stream.stop(drain=False)


def test_interval_join_parity_and_plan(spark, sf_small):
    # Binned range join == the naive theta-join, with no
    # nested-loop/cartesian operator in the plan.
    from clickhouse_observability_spark.operators.joins import interval_join
    from clickhouse_observability_spark.plans.explain import executed_plan
    from clickhouse_observability_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    iv = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 1)
        .select(
            (F.col("h") - F.expr("INTERVAL 30 MINUTES")).alias("start_ts"),
            (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("end_ts"),
        )
    )
    binned = interval_join(clicks, iv, bin_width_sec=3600)
    naive = clicks.join(
        iv, (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    key = lambda r: (r.event_id, r.start_ts, r.end_ts)
    assert sorted(map(key, binned.collect())) == sorted(map(key, naive.collect()))
    assert binned.count() > 0  # fixture actually exercises overlap
    plan = executed_plan(binned)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_boundary_semantics(spark):
    from clickhouse_observability_spark.operators.joins import interval_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00"),
         (3, "2024-01-01 00:59:59"), (4, "2023-12-31 23:59:59")],
        "event_id long, ts string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts")
    iv = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00"),
         ("2024-01-01 02:00:00", "2024-01-01 02:00:00")],  # degenerate
        "start_ts string, end_ts string",
    ).selectExpr("cast(start_ts as timestamp) start_ts",
                 "cast(end_ts as timestamp) end_ts")
    got = {r.event_id for r in interval_join(ev, iv, 3600).collect()}
    assert got == {1, 3}  # closed-open: start in, end out; degenerate dropped


def test_interval_join_with_equi_keys(spark):
    # per-service incidents: events only join intervals of THEIR key
    from clickhouse_observability_spark.operators.joins import interval_join
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:30:00"), (2, "b", "2024-01-01 00:30:00")],
        "event_id long, service string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "service string, start_ts string, end_ts string",
    ).select("service", F.to_timestamp("start_ts").alias("start_ts"),
             F.to_timestamp("end_ts").alias("end_ts"))
    got = {r.event_id for r in
           interval_join(ev, iv, 3600, on=["service"]).collect()}
    assert got == {1}  # service b's event is in-window but wrong key


def test_interval_join_subsecond_boundaries(spark):
    # binning is microsecond-precise: an interval ending at
    # 01:00:00.500 covers events in the NEXT whole-second bin
    # (unix_timestamp()'s second-truncation lost them before)
    from clickhouse_observability_spark.operators.joins import interval_join
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00.200"), (2, "2024-01-01 01:00:00.600")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00.500")],
        "start_ts string, end_ts string",
    ).select(F.to_timestamp("start_ts").alias("start_ts"),
             F.to_timestamp("end_ts").alias("end_ts"))
    got = {r.event_id for r in interval_join(ev, iv, 3600).collect()}
    assert got == {1}  # 01:00:00.200 inside; .600 past the end


def test_registry_results_stable_under_hostile_session_tz(spark, sf_small):
    # A driver-built session may carry any session timezone; every
    # registry entry pins UTC via ensure_utc, so ts-bearing results
    # must hash identically before/after a hostile setting.
    from clickhouse_observability_spark.registry import queries

    qs = queries()
    # r11: lifecycle_column_ttl_panel added — it RETURNS ts columns
    # from a table it builds and retention-rewrites inside the call,
    # so both the build and read sides must pin UTC. r12:
    # lifecycle_tiering_panel (build + mover + tier-union read) and
    # ch_dialect_wave10_panel (snowflakeToDateTime emits timestamps
    # from epoch arithmetic) join the sweep.
    # r13: lifecycle_conditional_ttl_panel joins (build + two
    # retention passes + residency-tagged ts-bearing read).
    names = ("logs_basic", "agg_hourly", "window_sessionize",
             "lifecycle_column_ttl_panel", "lifecycle_tiering_panel",
             "ch_dialect_wave10_panel", "lifecycle_conditional_ttl_panel")

    def snapshot():
        out = {}
        for n in names:
            rows = qs[n](spark, sf_small).collect()
            out[n] = sorted(tuple(str(v) for v in r) for r in rows)
        return out

    baseline = snapshot()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        assert snapshot() == baseline
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_adjudication_window_composition():
    """The driver adjudicates exactly the first 50 oracle-backed
    registry entries; pin that window to _WINDOW_ORDER so a module
    rename or import-order change can't silently rotate an entry out
    of the correctness gate. Also pins the r5 slot-merge contract:
    the three panels are in, their source entries remain registered
    with oracles (pytest-adjudicated) right after the window."""
    from clickhouse_observability_spark import registry

    qs, oracles = registry.queries(), registry.oracle_sql()
    oracle_names = [n for n in qs if n in oracles]
    assert len(registry._WINDOW_ORDER) == 50
    assert len(set(registry._WINDOW_ORDER)) == 50
    assert oracle_names[:50] == registry._WINDOW_ORDER
    # r5 rotations: flagship entries now under the driver's gate.
    # r10 rotation: ten multi-round-green names left the window
    # (their oracles stay CI-gated — pinned in the merged/rotated
    # list below); in: the r9 flagships.
    for flagship in (
        "lifecycle_ttl_rollup_panel",
        "text_mixture_temperature",
        # TPC-H deletion: the log-path self-join takes the slot of
        # the deleted TPC-H entry
        "join_trace_correlation",
        # r13 second wave: the final six never-adjudicated entries +
        # the new fused-index digests projection — backlog burned to
        # zero (out: seven 3-round-green rows, CI-gated below)
        "text_shard_manifest",
        "text_weighted_sample_topk",
        "agg_segment_overlap",
        "agg_error_anomalies",
        "sim_contrastive_mining",
        "pipeline_retrieval",
        "dedup_corpus_index_digests",
        # r6 rotation: three more panel merges + four round-5 flagships
        # r6 second wave
        # r7 rotation: five merges + the storage-lifecycle layers,
        # semantic decontamination and the clustering keep-list
        # r8 rotation: the dialect's end-to-end path, the r7 operators'
        # first independent adjudication and partition lifecycle
        # r13 rotation: the conditional-TTL flagship + thirteen
        # never-adjudicated backlog entries (r12 verdict #1), led by
        # the r4-r8 dodgers
        "lifecycle_conditional_ttl_panel",
        "text_split_drift",
        "text_c4_filters",
        "text_gopher_rules",
        "text_log_templates",
        "text_new_templates",
        "text_perplexity_buckets",
        "behavior_window_funnel_strict",
        "behavior_sequence_count",
        "agg_slo_burn_rate",
        "agg_ch_summap",
        "ch_dialect_wave10_panel",
        "schema_describe_events",
        # r15: the r14 rotation shortlist takes the slot of the
        # removed media entry
        "ch_dialect_wave11_panel",
        # r11 rotation: the MergeTree engine family, the 100 TB
        # scoring hot path's oracle, exact LTTB, MMR, the embedding
        # audit, and the window-sweep-rewritten interval/delta
        # aggregates — all under the driver's independent gate
        "engine_replacing_latest",
        "engine_collapsing_sessions",
        "engine_collapsing_net",
        "engine_versioned_collapsing",
        "engine_summing_parts_merge",
        "text_quality_fixed_select",
        "agg_lttb_downsample",
        "sim_mmr_rerank",
        "sim_embedding_audit",
        "agg_interval_coverage",
        "agg_counter_delta_sum",
        # r12 rotation: the tiering flagship, the r11 flagships /
        # oracle-ifications, and the cast-fixed former int128 sites
        "lifecycle_tiering_panel",
        "lifecycle_column_ttl_panel",
        "ch_dialect_bitmap_panel",
        "ch_dialect_text_panel",
        "text_quality_pareto_select",
        "engine_replacing_merge_tree_schedule",
        "pipeline_chunked_bm25",
        "text_corpus_curation",
        "text_mixture_plan",
        "rollup_topk_counts",
        "rollup_topk_users",
        "dedup_cluster_report",
    ):
        assert flagship in registry._WINDOW_ORDER, flagship
    # merged-away entries keep their oracles (no semantics dropped)
    for merged in (
        "agg_rollup_day_type",
        "agg_cube_type_user_bucket",
        "window_topn_per_type",
        "window_rank_suite",
        "dedup_jaccard_pairs",
        "dedup_ngram_jaccard_pairs",
        "dedup_exact_groups",
        "dedup_keep_first",
        "window_user_gaps",
        "window_sessionize",
        # r6 merges
        "agg_hourly",
        "agg_error_rate_hourly",
        "text_token_stats",
        "text_quality",
        "text_lang_id",
        "text_fingerprints",
        "text_repetition",
        "text_search_grep",
        "text_train_val_split",
        "sim_topk_exact_proofs",
        "sim_topk_quantized",
        # r7 merges
        "agg_counts_by_type",
        "agg_month_buckets",
        "profile_events",
        "setop_union_intersect_users",
        "dedup_first_event_per_user_type",
        "asof_click_before_purchase",
        "asof_general_join",
        "text_contamination",
        "text_pii_scrub",
        "text_domain_mix",
        "text_corpus_stats",
        # r8 rotation-outs: multi-round driver-green, oracles retained
        # under the CI registry gate
        "logs_count",
        "agg_latency_percentiles",
        "join_semi_anti_customers",
        "window_rank_panel",
        "setop_dedup_user_panel",
        "text_quality_sample",
        "behavior_window_funnel",
        "text_epoch_shards",
        # r8 oracle restorations / additions (verdict #3)
        "agg_value_stats",
        "setop_except_user_days",
        "text_winnowing",
        "window_session_panel",
        # r9 rotation-outs: multi-round driver-green, oracles retained
        # under the CI registry gate
        "join_orders_enriched",
        "agg_hourly_panel",
        "join_interval_error_bursts",
        "asof_variants_panel",
        "dedup_embedding_pairs",
        "text_unigram_logprob",
        "mutation_post_read",
        # r11 rotation-outs: multi-round driver-green, oracles
        # retained under the CI registry gate
        "agg_shapes_panel",
        "text_signal_panel",
        "text_guard_panel",
        "text_mix_panel",
        "agg_ch_functions_panel",
        "dedup_exact_spans",
        "pipeline_hybrid_retrieval",
        "projection_served_panel",
        "sim_semantic_contamination",
        "dedup_cluster_keeplist",
        # r10 rotation-outs: multi-round driver-green, oracles
        # retained under the CI registry gate
        "agg_grouping_panel",
        "dedup_jaccard_panel",
        "dedup_exact_panel",
        "rollup_day_type_panel",
        "text_perdoc_panel",
        "behavior_sequence_match",
        "text_bm25_search",
        "text_select_panel",
        "sim_topk_panel",
        # r12 rotation-outs: multi-round driver-green, oracles
        # retained under the CI registry gate
        "ch_dialect_hourly_panel",
        "text_chunk_overlap",
        "text_stratified_sample",
        "behavior_retention",
        "dedup_span_removal",
        "lifecycle_schema_evolution_panel",
        "text_bloom_decontaminate",
        "text_bigram_logprob",
        # r13 rotation-outs: multi-round driver-green, oracles
        # retained under the CI registry gate
        "agg_entropy",
        "agg_topk_weighted",
        "agg_weighted_quantiles",
        "behavior_sequence_next_node",
        "sim_knn_join_exact",
        "lifecycle_index_evolution_panel",
        "lifecycle_partition_panel",
        "lifecycle_cross_table_panel",
        "lifecycle_skip_index_panel",
        # r13 second-wave rotation-outs: 3-round driver-green,
        # oracles retained under the CI registry gate
        "pipeline_retrieval_eval",
        "text_dataset_card",
        "text_corpus_audit",
    ):
        assert merged in oracles and merged not in registry._WINDOW_ORDER, merged


def test_registry_load_propagates_import_errors(monkeypatch):
    """A query module that fails to import must fail registry loading,
    not silently drop every entry it registers."""
    from clickhouse_observability_spark import registry

    broken = "clickhouse_observability_spark.queries.merge_engines"
    monkeypatch.setattr(registry, "_LOADED", False)
    monkeypatch.setitem(sys.modules, broken, None)  # import raises
    with pytest.raises(ImportError, match="merge_engines"):
        registry.queries()
    assert registry._LOADED is False


def test_window_schemas_are_atomic(spark, sf_small):
    """Driver-canonicalizer contract: the adjudicator sorts results
    as a pandas frame, where list/dict cells are unhashable — the r5
    `agg_ch_functions_panel` red row was exactly this. Every window
    entry's output schema must therefore contain only atomic types
    (serialize arrays to canonical strings instead)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from clickhouse_observability_spark import registry

    qs = registry.queries()
    bad = []
    for name in registry._WINDOW_ORDER:
        for f in qs[name](spark, sf_small).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"non-atomic columns in adjudicated schemas: {bad}"


def test_panel_arms_equal_source_entries(spark, sf_small):
    """Each r5 panel is an op-tagged union of its source entries:
    assert per-arm row counts equal the standalone entries' counts
    (the arms ARE the same callables; this pins the union wiring —
    a dropped arm or wrong tag fails here)."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark import registry

    qs = registry.queries()
    panel = qs["agg_grouping_panel"](spark, sf_small)
    assert (
        panel.filter(F.col("op") == "rollup_day_type").count()
        == qs["agg_rollup_day_type"](spark, sf_small).count()
    )
    assert (
        panel.filter(F.col("op") == "cube_type_user_bucket").count()
        == qs["agg_cube_type_user_bucket"](spark, sf_small).count()
    )
    rank = qs["window_rank_panel"](spark, sf_small)
    assert (
        rank.filter(F.col("op") == "topn_per_type").count()
        == qs["window_topn_per_type"](spark, sf_small).count()
    )
    assert (
        rank.filter(F.col("op") == "rank_suite_purchase").count()
        == qs["window_rank_suite"](spark, sf_small).count()
    )
    jac = qs["dedup_jaccard_panel"](spark, sf_small)
    assert (
        jac.filter(F.col("mode") == "tokenset").count()
        == qs["dedup_jaccard_pairs"](spark, sf_small).count()
    )
    assert (
        jac.filter(F.col("mode").isin("word_2gram", "char_4gram")).count()
        == qs["dedup_ngram_jaccard_pairs"](spark, sf_small).count()
    )


def test_r5_panel_arms_equal_source_entries(spark, sf_small):
    """Same contract for the second r5 rotation's panels: each arm's
    rows equal the standalone adjudicated entry's rows."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark import registry

    qs = registry.queries()

    dex = qs["dedup_exact_panel"](spark, sf_small)
    assert (
        dex.filter(F.col("op") == "groups").count()
        == qs["dedup_exact_groups"](spark, sf_small).count()
    )
    assert (
        dex.filter(F.col("op") == "keep_first").count()
        == qs["dedup_keep_first"](spark, sf_small).count()
    )

    ses = qs["window_session_panel"](spark, sf_small)
    assert (
        ses.filter(F.col("op") == "user_gaps").count()
        == qs["window_user_gaps"](spark, sf_small).count()
    )
    assert (
        ses.filter(F.col("op") == "sessionize").count()
        == qs["window_sessionize"](spark, sf_small).count()
    )


def test_r6_merged_away_oracles_match_duckdb(spark, sf_small):
    """The seven entries the r6 rotation merged out of the driver's
    window keep full oracle adjudication here (the r5 convention:
    pytest executes their SQL against DuckDB and hash-compares)."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    for name in (
        "agg_hourly",
        "agg_error_rate_hourly",
        "text_token_stats",
        "text_quality",
        "text_lang_id",
        "text_fingerprints",
        "text_repetition",
        "text_search_grep",
        "text_train_val_split",
    ):
        sdf = qs[name](spark, sf_small)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols), name
        idx = [dcols.index(c) for c in sdf.columns]
        srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
        drows = sorted(tuple(str(r[i]) for i in idx)
                       for r in res.fetchall())
        assert srows == drows, name


def test_r6_merged_away_sim_oracles_match_duckdb(spark, sf_small,
                                                 tmp_path, monkeypatch):
    """The two sim entries merged into sim_topk_panel keep full
    oracle adjudication (fresh warehouse so index artifacts build
    rather than read back)."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * "
        f"FROM '{sf_small}/embeddings.parquet'")
    for name in ("sim_topk_exact_proofs", "sim_topk_quantized"):
        sdf = qs[name](spark, sf_small)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols), name
        idx = [dcols.index(c) for c in sdf.columns]
        srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
        drows = sorted(tuple(str(r[i]) for i in idx)
                       for r in res.fetchall())
        assert srows == drows, name


def test_r7_merged_away_oracles_match_duckdb(spark, sf_small):
    """The eleven entries the r7 rotation merged out of the driver's
    window (into agg_shapes_panel, setop_dedup_user_panel,
    asof_variants_panel, text_guard_panel, text_mix_panel) keep full
    oracle adjudication here — pytest executes their SQL against
    DuckDB and compares sorted stringified rows, the same convention
    as the r5/r6 waves."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    for name in (
        "agg_counts_by_type",
        "agg_month_buckets",
        "profile_events",
        "setop_union_intersect_users",
        "dedup_first_event_per_user_type",
        "asof_click_before_purchase",
        "asof_general_join",
        "text_contamination",
        "text_pii_scrub",
        "text_domain_mix",
        "text_corpus_stats",
    ):
        sdf = qs[name](spark, sf_small)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols), name
        idx = [dcols.index(c) for c in sdf.columns]
        srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
        drows = sorted(tuple(str(r[i]) for i in idx)
                       for r in res.fetchall())
        assert srows == drows, name


def test_r6_panel_arms_equal_source_entries(spark, sf_small):
    """r6 panel contract: each arm's rows equal the standalone
    adjudicated entry's rows (the arms ARE the same callables)."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark import registry

    qs = registry.queries()

    hourly = qs["agg_hourly_panel"](spark, sf_small)
    assert (
        hourly.filter(F.col("op") == "hourly").count()
        == qs["agg_hourly"](spark, sf_small).count()
    )
    assert (
        hourly.filter(F.col("op") == "error_rate_hourly").count()
        == qs["agg_error_rate_hourly"](spark, sf_small).count()
    )

    perdoc = qs["text_perdoc_panel"](spark, sf_small)
    for op, src in (
        ("token_stats", "text_token_stats"),
        ("quality", "text_quality"),
        ("lang_id", "text_lang_id"),
    ):
        assert (
            perdoc.filter(F.col("op") == op).count()
            == qs[src](spark, sf_small).count()
        ), op

    sig = qs["text_signal_panel"](spark, sf_small)
    assert (
        sig.filter(F.col("op") == "fingerprints").count()
        == qs["text_fingerprints"](spark, sf_small).count()
    )
    assert (
        sig.filter(F.col("op") == "repetition").count()
        == qs["text_repetition"](spark, sf_small).count()
    )

    sel = qs["text_select_panel"](spark, sf_small)
    assert (
        sel.filter(F.col("op") == "search_grep").count()
        == qs["text_search_grep"](spark, sf_small).count()
    )
    assert (
        sel.filter(F.col("op") == "train_val_split").count()
        == qs["text_train_val_split"](spark, sf_small).count()
    )

    top = qs["sim_topk_panel"](spark, sf_small)
    assert (
        top.filter(F.col("method") == "int8_quantized").count()
        == qs["sim_topk_quantized"](spark, sf_small).count()
    )
    assert (
        top.filter(F.col("method") != "int8_quantized").count()
        == qs["sim_topk_exact_proofs"](spark, sf_small).count()
    )

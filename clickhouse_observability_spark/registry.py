"""Driver-contract registry: named queries + DuckDB oracle SQL.

Each entry pairs a Spark callable `(spark, sf_dir) -> DataFrame` with
an equivalent ANSI-SQL string DuckDB runs over the same parquet
(views: region nation customer supplier part orders lineitem events
documents embeddings). The driver hash-compares them order-insensitively
at sf=0.01 (BASELINE.md), so:

- every computed column is aliased IDENTICALLY on both sides;
- money/quantity sums (any stored column with <= 4 decimal digits)
  go through CAST(col AS DECIMAL(18,4)) BEFORE multiply/sum on BOTH
  engines (functions/moneydec.py): decimal arithmetic is exact and
  order-independent, so round() agrees bit-for-bit. Rounding a
  DOUBLE sum is NOT enough — summation order differs between
  engines, and a group sum landing exactly on the half-cent
  boundary flips the rounded digit (r8: tpch_q9_product_profit,
  2 of 175 groups);
- quotients (avg, ratio-of-sums, per-row division) quantize with
  floor(x * 10^N)/10^N over bit-identical inputs, never round():
  Spark rounds the shortest decimal string HALF_UP, DuckDB rounds
  the binary value — they diverge on the same double. Exact decimal
  sums cast to DOUBLE make the division inputs bit-identical first;
- full-precision float aggregates (log-probs etc., where the
  decimal cast is itself engine-divergent) keep round() with
  documented residual boundary risk;
- every LIMIT is preceded by a total deterministic ORDER BY (unique
  tie-break column) so both engines select the same rows;
- integer outputs must be BIGINT on BOTH engines: DuckDB widens
  integer sum() (plain, windowed, and via UNION type resolution) to
  HUGEINT (int128), which the driver's hash canonicalization renders
  differently from Spark's LONG even when every value is identical
  (r10: text_mixture_temperature, tpch_q12_priority_classes).
  Wrap integer aggregates as CAST(sum(...) AS BIGINT). fetchall()
  coerces HUGEINT to Python int, so ONLY the plan-level type audit
  in tests/test_oracle_registry.py can see this class — never
  weaken that gate.

Entries without oracle SQL (genuinely non-SQL-expressible: hash-seeded
LSH internals, streaming) get the driver's weaker rows-only check and
are verified in pytest instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from clickhouse_observability_spark.session import ensure_utc
from clickhouse_observability_spark.sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_utc(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


# The driver adjudicates registry entries in iteration order and caps
# how many get a full CORRECTNESS row (50). This list IS the window —
# exactly 50 oracle-backed names, ordered. The six `*_panel` entries
# each merge 2-3 previously-adjudicated entries (op-tagged unions of
# the SAME callables — see queries/panels.py); the freed slots rotated
# round-4/5 flagship work under the driver's gate: tpch_q21 (the
# hardest correlated-EXISTS TPC-H shape), behavior_window_funnel (the
# signature ClickHouse operator), text_epoch_shards (the cross-engine
# shard-layout proof), rollup_day_type_panel (merge-on-read over
# mergeable states — the AggregatingMergeTree analog),
# agg_ch_functions_panel (argMax/topK/sumIf/histogram tier) and
# text_dsir_weights (the DSIR importance-resampling weights). The
# merged-away entries stay registered with their own oracles and sort
# directly after the window (rows-only driver check + pytest-DuckDB).
_WINDOW_ORDER = [
    "logs_basic",
    "logs_filter_variants",
    "logs_json_attr",
    # r7: agg_counts_by_type + agg_month_buckets + profile_events
    # merged into agg_shapes_panel (2 slots freed)
    # r10 rotation wave: ten multi-round-green entries rotated out
    # (agg_grouping_panel, dedup_exact_panel, dedup_jaccard_panel,
    # tpch_q21_waiting_suppliers, rollup_day_type_panel,
    # sim_topk_panel, text_perdoc_panel, text_select_panel,
    # behavior_sequence_match, text_bm25_search — each 4-5 rounds
    # green; every oracle stays enforced by the CI registry gate each
    # run). In (r9 verdict #2): the r9 flagship downsample-on-age
    # panel, the temperature mixture planner, the retrieval-eval
    # tier, both corpus cards, and the last never-adjudicated TPC-H
    # batch (Q11 group-HAVING-scalar, Q12 priority classes, Q15
    # view-style max, Q16 anti-join distinct-count, Q22 substring-IN
    # dormant customers).
    # r13 second wave: the backlog is burned to ZERO — the last six
    # never-adjudicated entries (text_shard_manifest,
    # text_weighted_sample_topk, agg_segment_overlap,
    # agg_error_anomalies, sim_contrastive_mining, pipeline_retrieval)
    # plus the new dedup_corpus_index_digests rotate in; out: seven
    # 3-round-green rows (pipeline_retrieval_eval, text_dataset_card,
    # text_corpus_audit, tpch_q11/q15/q16/q22 — CI gate keeps every
    # oracle). lifecycle_ttl_rollup_panel (also 3-round-green) STAYS:
    # the retention finish() path it exercises changed this round
    # (conditional-delete arm + dry-run previews).
    "lifecycle_ttl_rollup_panel",
    "text_mixture_temperature",
    "text_shard_manifest",
    "text_weighted_sample_topk",
    "agg_segment_overlap",
    "agg_error_anomalies",
    "sim_contrastive_mining",
    "pipeline_retrieval",
    "dedup_corpus_index_digests",
    "tpch_q12_priority_classes",
    # r9 rotation wave: ten multi-round-green entries rotated out
    # (join_orders_enriched, tpch_q5, tpch_scalar_panel,
    # agg_hourly_panel, join_interval_error_bursts,
    # join_trace_correlation, asof_variants_panel,
    # dedup_embedding_pairs, text_unigram_logprob, mutation_post_read
    # — every oracle stays enforced by the CI registry gate each
    # run). In: the four TPC-H shapes that never faced the driver
    # (Q7 two-nation flow, Q10 top returned revenue, Q14 promo-share
    # ratio, Q19 disjunctive predicate — all four now on the r9
    # exact-decimal money path), the r8 aggregate tier's first
    # independent adjudication (entropy, topKWeighted,
    # quantileExactWeighted), the behavioral next-node distribution,
    # the exact k-NN join, and the skip-index x schema-evolution x
    # mutation seam panel (r9 verdict #6).
    # r13 rotation wave: fourteen multi-round-green entries rotated
    # out (tpch_q7_volume_shipping, tpch_q10_returned_items,
    # tpch_q14_promo_revenue, tpch_q19_disjunctive_revenue,
    # tpch_q9_product_profit, agg_entropy, agg_topk_weighted,
    # agg_weighted_quantiles, behavior_sequence_next_node,
    # sim_knn_join_exact, lifecycle_index_evolution_panel, and the
    # three 5-round-green lifecycle panels kept through r12's
    # tier-aware change — lifecycle_partition_panel,
    # lifecycle_cross_table_panel, lifecycle_skip_index_panel — whose
    # re-adjudication of the changed enumerations came back green;
    # every oracle stays enforced by the CI registry gate each run).
    # In (r12 verdict #1: burn the never-adjudicated backlog, lead
    # with the r4-r8 dodgers): text_split_drift, text_c4_filters,
    # text_gopher_rules, text_log_templates, text_new_templates,
    # text_perplexity_buckets, behavior_window_funnel_strict,
    # behavior_sequence_count, agg_slo_burn_rate, agg_ch_summap,
    # ch_dialect_wave10_panel, schema_describe_events,
    # multimodal_frame_plan — plus the r13 conditional-TTL flagship.
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
    # r7: setop_union_intersect_users + dedup_first_event_per_user_type
    # merged (1 slot freed)
    # r7: text_contamination + text_pii_scrub merged with the
    # first-time-adjudicated text_c4_filters arm (2 slots freed)
    # r7: text_domain_mix + text_corpus_stats merged (1 slot freed)
    # r6 rotation: three more panel merges (agg_hourly_panel,
    # text_perdoc_panel, text_signal_panel) freed four slots for the
    # round-5 flagships below; merged-away entries keep their own
    # oracles right after the window (pytest-DuckDB adjudicated).
    # r7 rotation: the six slots freed above adjudicate the r6
    # storage layers end-to-end (projections served from states,
    # mutations as pruned rewrites), the semantic-decontamination
    # exact arm, the clustering keep-list vs a recursive-CTE closure,
    # and the hardest remaining TPC-H join shape.
    # r8 rotation: ten slots freed by rotating out multi-round-green
    # entries (their oracles stay enforced by the CI registry gate
    # every run). In: the dialect's end-to-end SQL->plan path, the r7
    # operators' first independent adjudication, the partition
    # lifecycle metadata-move layer, and four fresh TPC-H join/agg
    # shapes (Q9 multi-join profit, Q13 left-join distribution,
    # Q18 group-HAVING-in, Q20 nested-subquery semi-join).
    "agg_ch_summap",
    "ch_dialect_wave10_panel",
    # r8 wave 3: schema evolution adjudicated end-to-end (ADD COLUMN
    # default-on-read, explicit write, mutation materialization,
    # RENAME alias continuity) — window_session_panel rotated out
    # (multi-round green, 11.5k-row result; CI gate keeps it).
    # r8 wave 4: cross-table partition movement (MOVE / hardlink
    # ATTACH FROM / replace-never-modify / REPLACE restore / EXCHANGE
    # routing) and the Bloom-prefiltered exact decontamination sweep.
    # Out: tpch_q1_pricing + window_gap_fill_hourly (multi-round
    # green; the CI registry gate keeps both oracles enforced).
    "schema_describe_events",
    # r8 wave 5: bigram Stupid-Backoff LM scoring (model half scores
    # the other half — backoff and OOV paths genuinely fire). Out:
    # text_pack_chunks (window since r4; CI gate keeps its oracle).
    # r8 wave 6: CH data-skipping indexes adjudicated end-to-end
    # (ADD/MATERIALIZE INDEX via the dialect, set(10) pruning a
    # service-local file layout, arm raises unless files were
    # actually skipped). Out: text_dsir_weights (window since r5;
    # CI gate keeps its oracle).
    "multimodal_frame_plan",
    # r11 rotation wave: eleven multi-round-green entries rotated out
    # (agg_shapes_panel, text_signal_panel, text_guard_panel,
    # text_mix_panel, agg_ch_functions_panel, dedup_exact_spans,
    # pipeline_hybrid_retrieval, projection_served_panel,
    # sim_semantic_contamination, dedup_cluster_keeplist,
    # tpch_q8_market_share — each 4-5 rounds green; every oracle
    # stays enforced by the CI registry gate each run). In (r10
    # verdict #3): the five MergeTree engine-family entries (the r10
    # flagship), the 100 TB scoring hot path's full oracle
    # (text_quality_fixed_select), the exact LTTB downsampler, the
    # MMR reranker, the integer-unit embedding audit, and — after
    # the verdict-#4 window-sweep rewrite — the interval-coverage
    # and counter-delta aggregates.
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
    # r12 rotation wave: twelve 4-5-round-green entries rotated out
    # (tpch_q2_min_cost_supplier, ch_dialect_hourly_panel,
    # text_chunk_overlap, text_stratified_sample, behavior_retention,
    # dedup_span_removal, tpch_q13_order_distribution,
    # tpch_q18_large_orders, tpch_q20_excess_shippers,
    # lifecycle_schema_evolution_panel, text_bloom_decontaminate,
    # text_bigram_logprob — every oracle stays enforced by the CI
    # registry gate each run). KEPT despite long streaks:
    # lifecycle_partition_panel / lifecycle_cross_table_panel /
    # lifecycle_skip_index_panel, whose underlying month/file
    # enumerations went tier-aware this round (sources/tiering.py) —
    # they re-adjudicate the changed code. In: the r12 tiering
    # flagship, the r11 flagships and oracle-ifications, and the four
    # cast-fixed former int128 landmines.
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
]
# r13: the carried never-adjudicated backlog is EMPTY — every
# oracle-backed entry registered before this round has faced the
# driver at least once. The fresh r14 rotation shortlist is this
# round's own new oracle entry: ch_dialect_wave11_panel (CI-gated +
# check_entries-green at sf0.01). Rotate out only multi-round-green
# rows; update test_adjudication_window_composition with every
# change.


def queries() -> dict[str, QueryFn]:
    """All registered queries: the 50-entry adjudication window first
    (in _WINDOW_ORDER), then the remaining oracle-backed entries
    (driver rows-only; their oracle SQL runs against DuckDB in
    pytest), then rows-only entries. Within each trailing class,
    registration order is preserved."""
    _load_all()
    missing = [n for n in _WINDOW_ORDER if n not in _QUERIES or n not in _ORACLES]
    if missing:  # a rename/regression must fail loudly, not reorder
        raise RuntimeError(f"window entries missing or oracle-less: {missing}")
    ordered = {n: _QUERIES[n] for n in _WINDOW_ORDER}
    ordered.update(
        {n: f for n, f in _QUERIES.items() if n in _ORACLES and n not in ordered}
    )
    ordered.update({n: f for n, f in _QUERIES.items() if n not in _ORACLES})
    return ordered


def oracle_sql() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent). An
    import error propagates: a broken module must fail loudly, not
    silently drop every entry it registers."""
    global _LOADED
    if _LOADED:
        return
    import clickhouse_observability_spark.queries.parity  # noqa: F401

    for mod in (
        "analytics",
        "joins",
        "windows",
        "setops",
        "dedup",
        "similarity",
        "text",
        "multimodal",
        "panels",
        # ordering within the window comes from _WINDOW_ORDER (not
        # module load order); non-window oracle entries from the
        # modules below sort after it in registration order
        "spans",
        "tpch_extra",
        "behavioral",
        "selection",
        "rollup",
        "chfuncs",
        "observability",
        "lifecycle",
        "merge_engines",
    ):
        __import__(f"clickhouse_observability_spark.queries.{mod}")
    _LOADED = True


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)

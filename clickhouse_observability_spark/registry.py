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
  boundary flips the rounded digit (r8: 2 of 175 groups of one
  entry; CHANGELOG.md);
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
  (r10: text_mixture_temperature and one more entry; CHANGELOG.md).
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
# exactly 50 oracle-backed names, ordered. The `*_panel` entries each
# merge 2-3 previously-adjudicated entries (op-tagged unions of the
# SAME callables — see queries/panels.py). Entries outside the window
# stay registered with their own oracles and sort directly after it
# (rows-only driver check; the CI registry gate in
# tests/test_oracle_registry.py runs every oracle against DuckDB).
# Rotation rule: rotate out only multi-round-green rows, and update
# tests/test_integration.py::test_adjudication_window_composition with
# every change. The rotation history is in CHANGELOG.md.
_WINDOW_ORDER = [
    "logs_basic",
    "logs_filter_variants",
    "logs_json_attr",
    "lifecycle_ttl_rollup_panel",
    "text_mixture_temperature",
    "text_shard_manifest",
    "text_weighted_sample_topk",
    "agg_segment_overlap",
    "agg_error_anomalies",
    "sim_contrastive_mining",
    "pipeline_retrieval",
    "dedup_corpus_index_digests",
    "join_trace_correlation",
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
    "ch_dialect_wave11_panel",
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
        "panels",
        # ordering within the window comes from _WINDOW_ORDER (not
        # module load order); non-window oracle entries from the
        # modules below sort after it in registration order
        "spans",
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

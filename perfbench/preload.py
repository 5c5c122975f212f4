"""Build the preloaded logs table the `mixed` and `query` workloads read.

Writes `<out>/logs` through the program's own `LogsTable.insert` and
`<out>/mv/logs_hourly` through the public `RollupView.apply`, the same
layout `EngineServer` keeps under its DATA_DIR, so `/v1/stats` serves
real states. Rows come from hash expressions over a fixed dataset
seed, so the table is the same on every build and does not depend on
the partitioning Spark picks. A manifest `preload.json` records the
row count and the time the bulk insert took.

Usage: python3 perfbench/preload.py --rows N --out DIR
(run with the repository root on PYTHONPATH; run.py does this).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import gen

# batch id of the preload's rollup increment: far above any id a
# benchmark-length stream reaches, so no micro-batch overwrites it
PRELOAD_BATCH_ID = 1_000_000_000
# partitions of the generated frame, and so the preload's file layout;
# a change here is a change of gen.PRELOAD_FORMAT
PARTITIONS = 8


def _build_frame(spark, rows: int):
    from pyspark.sql import functions as F

    def h(k: int):
        return F.xxhash64(F.col("id"), F.lit(gen.DATASET_SEED * 100 + k))

    def pick(values: list[str], k: int):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (F.pmod(h(k), F.lit(len(values))) + 1).cast("int"))

    span_ms = gen.PRELOAD_HOURS * 3600 * 1000
    start_us = gen.preload_start_us()
    user = F.concat(F.lit("u"), F.pmod(h(4), F.lit(gen.N_USERS)).cast("string"))
    region = pick(list(gen.REGIONS), 5)
    status = pick(list(gen.STATUSES), 6)
    return spark.range(0, rows, numPartitions=PARTITIONS).select(
        F.timestamp_micros(
            F.lit(start_us) + F.pmod(h(1), F.lit(span_ms)) * 1000
        ).alias("ts"),
        pick(gen.weighted(gen.SERVICES, gen.SERVICE_WEIGHTS), 2).alias("service"),
        pick(gen.weighted(gen.LEVELS, gen.LEVEL_WEIGHTS), 3).alias("level"),
        F.format_string(
            "%s /api/v1/%s/%d %s in %dms",
            pick(list(gen.METHODS), 7), pick(list(gen.RESOURCES), 8),
            F.pmod(h(9), F.lit(100000)), status,
            F.pmod(h(10), F.lit(2000)),
        ).alias("msg"),
        # canonical attrs JSON: keys sorted, no spaces (what the
        # ingest path's attrs_to_json writes)
        F.to_json(F.create_map(
            F.lit("region"), region, F.lit("status"), status,
            F.lit("user"), user,
        )).alias("attrs"),
        F.lower(F.hex(F.xxhash64(
            F.floor(F.col("id") / 4), F.lit(gen.DATASET_SEED)))).alias("trace_id"),
        F.substring(F.lower(F.hex(h(11))), 1, 8).alias("span_id"),
    )


def build(out: str, rows: int) -> dict:
    from clickhouse_observability_spark.session import get_spark
    from clickhouse_observability_spark.sources.writer import LogsTable
    from clickhouse_observability_spark.streaming.rollup_view import RollupView

    spark = get_spark("perfbench-preload")
    try:
        table = LogsTable(spark, os.path.join(out, "logs"))
        table.init_schema()
        frame = _build_frame(spark, rows).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        table.insert(frame)
        bulk_insert_s = time.perf_counter() - t0
        view = RollupView(os.path.join(out, "mv", "logs_hourly"))
        t0 = time.perf_counter()
        view.apply(frame, PRELOAD_BATCH_ID)
        rollup_apply_s = time.perf_counter() - t0
    finally:
        spark.stop()
    return {
        "rows": rows,
        "dataset_seed": gen.DATASET_SEED,
        "format": gen.PRELOAD_FORMAT,
        "bulk_insert_s": bulk_insert_s,
        "rollup_apply_s": rollup_apply_s,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    manifest = build(args.out, args.rows)
    with open(os.path.join(args.out, "preload.json"), "w") as f:
        json.dump(manifest, f)
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main())

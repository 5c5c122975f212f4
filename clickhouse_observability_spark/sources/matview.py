"""Materialized views: ClickHouse's insert-trigger incremental aggregation.

CH's signature pattern (`CREATE MATERIALIZED VIEW mv AS SELECT ...
FROM logs GROUP BY ...`) is an INSERT TRIGGER: every inserted block
is pushed through the view's SELECT and the aggregate result appended
to the view's own storage; reads merge the accumulated partial rows.
The reference's schema (internal/db/db.go:39-57) is exactly the kind
of raw-events table such views summarize.

Spark-first shape: the per-batch maintenance is ONE map-side-combined
aggregation over only the inserted slice (O(batch) work, never a
read-modify-write against history), appended as mergeable partial
states; the read path re-merges with plain groupBy — count/sum
partials add, min/max fold, avg is carried as (sum, count) and
finalized on read, uniq is an Apache DataSketches HLL state
(`hll_sketch_agg` / `hll_union_agg`, JVM-side) — the
AggregatingMergeTree contract on parquet. State rows live under
`<logs>/_mv/<name>/` (the `_`-prefix keeps them invisible to the
logs table's own partition discovery), the definition persists as
JSON beside them, and a fresh LogsTable re-attaches every view on
construction.

Consistency parity with CH, documented not hidden: the view update is
NOT atomic with the insert — a crash between the two can leave one
block in `logs` missing from the view (ClickHouse materialized views
have the same property), repaired by `refresh()` (full rebuild from
the base table, CH's manual re-POPULATE idiom).

Divergence, documented: reading the view returns FINALIZED values
(avg as a double, uniq as an estimate) — CH returns raw states
unless the query spells -Merge combinators; the finalized frame is
the friendlier contract and the raw states stay available via
`read_states()`.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["MaterializedView", "MV_AGG_KINDS"]

_HLL_LGK = 12

# alias -> (partial columns per batch, merge-on-read expression).
# Each kind's partial columns are themselves re-mergeable, so
# compaction can collapse increments at the STATE level.
MV_AGG_KINDS = ("count", "sum", "min", "max", "avg", "uniq")


class MaterializedView:
    """One view: dims + aggregate spec + an at-rest increment store.

    spec = {"name": str,
            "dims":  [{"sql": spark_expr, "alias": str}, ...],
            "aggs":  [{"kind": kind, "arg_sql": spark_expr|None,
                       "alias": str}, ...],
            "where_sql": spark_bool_expr | None}
    All `*_sql` fragments are Spark SQL text (the CH dialect shim
    translates before building the spec), evaluated with F.expr —
    everything stays in Catalyst/codegen.
    """

    def __init__(self, spark: SparkSession, base_path: str, spec: dict):
        for a in spec["aggs"]:
            if a["kind"] not in MV_AGG_KINDS:
                raise ValueError(f"unsupported aggregate {a['kind']!r}; "
                                 f"supported: {MV_AGG_KINDS}")
        if not spec["dims"]:
            raise ValueError("materialized view needs at least one "
                             "GROUP BY dimension")
        self.spark = spark
        self.spec = spec
        self.name = spec["name"]
        self.root = os.path.join(base_path, "_mv", self.name)
        self.data = os.path.join(self.root, "data")

    # -- definition persistence ----------------------------------------
    @property
    def _def_path(self) -> str:
        return os.path.join(self.root, "definition.json")

    def save(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._def_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.spec, f, indent=1)
        os.replace(tmp, self._def_path)

    @classmethod
    def load_all(cls, spark: SparkSession, base_path: str
                 ) -> list["MaterializedView"]:
        mvdir = os.path.join(base_path, "_mv")
        out = []
        if os.path.isdir(mvdir):
            for name in sorted(os.listdir(mvdir)):
                p = os.path.join(mvdir, name, "definition.json")
                if os.path.isfile(p):
                    with open(p) as f:
                        out.append(cls(spark, base_path, json.load(f)))
        return out

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    # -- the insert trigger --------------------------------------------
    def _dim_cols(self):
        return [F.expr(d["sql"]).alias(d["alias"])
                for d in self.spec["dims"]]

    def _partial_aggs(self):
        cols = []
        for a in self.spec["aggs"]:
            kind, al = a["kind"], a["alias"]
            arg = F.expr(a["arg_sql"]) if a["arg_sql"] else None
            if kind == "count":
                cols.append((F.count(arg) if arg is not None
                             else F.count(F.lit(1))).alias(al))
            elif kind in ("sum", "min", "max"):
                cols.append(getattr(F, kind)(arg).alias(al))
            elif kind == "avg":
                cols.append(F.sum(arg).alias(f"{al}__s"))
                cols.append(F.count(arg).alias(f"{al}__n"))
            elif kind == "uniq":
                cols.append(F.hll_sketch_agg(arg, F.lit(_HLL_LGK))
                            .alias(al))
        return cols

    def partial(self, batch: DataFrame) -> DataFrame:
        """Aggregate ONE inserted block to partial-state rows."""
        if self.spec.get("where_sql"):
            batch = batch.filter(F.expr(self.spec["where_sql"]))
        return batch.groupBy(*self._dim_cols()).agg(*self._partial_aggs())

    def apply(self, batch: DataFrame) -> None:
        """The trigger body: append the block's states (O(batch)).
        One file per block — the increment is a single insert's
        aggregate, rollup-sized by construction (refresh(), which
        aggregates the WHOLE base table, keeps the distributed
        write)."""
        from clickhouse_observability_spark.sources.writer import (
            parquet_ts_micros,
        )

        # ts-typed dims keep stats; batch's session, which is a
        # streaming micro-batch's own clone on the ingest path
        with parquet_ts_micros(batch.sparkSession):
            (self.partial(batch)
             .coalesce(1)
             .write.mode("append")
             .option("compression", "zstd")
             .parquet(self.data))

    # -- read side ------------------------------------------------------
    def read_states(self) -> DataFrame:
        if not os.path.exists(self.data):
            return self.partial(
                self.spark.createDataFrame([], self._base_schema()))
        return self.spark.read.parquet(self.data)

    def _base_schema(self):
        from clickhouse_observability_spark.schema import LOGS_SCHEMA
        return LOGS_SCHEMA

    def _merge_state(self, g, aggs=None):
        """groupBy(dims) -> state-level merge (still mergeable)."""
        cols = []
        for a in (aggs if aggs is not None else self.spec["aggs"]):
            kind, al = a["kind"], a["alias"]
            if kind in ("count", "sum"):
                cols.append(F.sum(al).alias(al))
            elif kind in ("min", "max"):
                cols.append(getattr(F, kind)(al).alias(al))
            elif kind == "avg":
                cols.append(F.sum(f"{al}__s").alias(f"{al}__s"))
                cols.append(F.sum(f"{al}__n").alias(f"{al}__n"))
            elif kind == "uniq":
                cols.append(F.hll_union_agg(al).alias(al))
        return g.agg(*cols)

    def read(self) -> DataFrame:
        """Merge-on-read, FINALIZED: one row per dims with plain
        values (count/sum as longs/doubles, avg divided out, uniq
        estimated)."""
        return self.serve(
            [(d["alias"], d["alias"]) for d in self.spec["dims"]],
            [(a["alias"], a["alias"]) for a in self.spec["aggs"]],
        )

    def serve(
        self,
        dims: list[tuple[str, str]],
        aggs: list[tuple[str, str]],
        where_sql: str | None = None,
    ) -> DataFrame:
        """Answer a query FROM the at-rest states — the projection
        read path. `dims`: (state dim alias, output alias) pairs, any
        SUBSET of the view's dims (states re-merge at the coarser
        grain: counts/sums add, min/max fold, avg re-adds its
        sum+count, uniq HLL-unions — this is why the at-rest form is
        states, not finalized values). `aggs`: (view agg alias,
        output alias) pairs. `where_sql` filters the STATE rows by
        dim columns before merging (pushdown into the state
        parquet). Cost is O(state rows), independent of the base
        table's row count."""
        states = self.read_states()
        if where_sql:
            states = states.filter(F.expr(where_sql))
        by_alias = {a["alias"]: a for a in self.spec["aggs"]}
        keep = [src for src, _ in dims]
        grouped = self._merge_state(
            states.groupBy(*keep),
            aggs=[by_alias[src] for src, _ in aggs])
        final = [F.col(src).alias(out) for src, out in dims]
        for src, out in aggs:
            kind = by_alias[src]["kind"]
            if kind == "avg":
                final.append((F.col(f"{src}__s") / F.col(f"{src}__n"))
                             .alias(out))
            elif kind == "uniq":
                final.append(F.round(F.hll_sketch_estimate(src))
                             .cast("long").alias(out))
            else:
                final.append(F.col(src).alias(out))
        return grouped.select(*final)

    # -- maintenance ----------------------------------------------------
    def compact(self) -> None:
        """Collapse increments to one STATE row per key (the
        background-merge analogue). Same quiesce contract as
        sources/retention: run with writers and readers of this view
        stopped — the directory swap is not atomic."""
        if not os.path.exists(self.data):
            return
        dims = [d["alias"] for d in self.spec["dims"]]
        merged = self._merge_state(
            self.spark.read.parquet(self.data).groupBy(*dims))
        tmp = self.data + ".compact.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        from clickhouse_observability_spark.sources.writer import (
            parquet_ts_micros,
        )

        with parquet_ts_micros(self.spark):
            (merged.write.mode("overwrite")
             .option("compression", "zstd").parquet(tmp))
        old = self.data + ".compact.old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.data, old)
        os.rename(tmp, self.data)
        shutil.rmtree(old, ignore_errors=True)

    def refresh(self, base: DataFrame) -> None:
        """Full rebuild from the base table (repairs a crash between
        a logs append and the view append; CH's manual re-POPULATE).
        Same quiesce contract as compact()."""
        tmp = self.data + ".refresh.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        from clickhouse_observability_spark.sources.writer import (
            parquet_ts_micros,
        )

        with parquet_ts_micros(self.spark):
            (self.partial(base).write.mode("overwrite")
             .option("compression", "zstd").parquet(tmp))
        if os.path.exists(self.data):
            old = self.data + ".compact.old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(self.data, old)
            os.rename(tmp, self.data)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, self.data)

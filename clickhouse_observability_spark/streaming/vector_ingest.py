"""EXT incremental EMBEDDING ingestion with online index maintenance.

The embedding counterpart of corpus_ingest's document admission
path: vectors arrive continuously, and the ANN index
artifacts the query layer depends on (IVF assignments, binary-
quantization codes) must stay queryable WITHOUT a full rebuild per
batch — at 100 TB a k-means refit per micro-batch is absurd, and an
unindexed backlog silently degrades every search until the nightly
build.

Per micro-batch (foreachBatch):
  1. AUDIT GATE — rows with NULL/wrong-dim/non-finite/zero-norm
     embeddings are diverted to a quarantine table with a reason
     column (the embedding_audit defect classes, applied at the
     door instead of after the corruption spreads);
  2. within-batch keep-first on vec_id;
  3. anti-join against the at-rest id index (full-history exact
     dedup — same shape as corpus_ingest's fingerprint index);
  4. INDEX MAINTENANCE against the FROZEN build artifacts: each
     admitted vector gets its IVF label by nearest-centroid
     assignment (the k-means centroids sidecar as a literal — a
     broadcast-free 10x64 constant folded into codegen) and its
     packed sign-bit code against the frozen per-dimension means
     (operators/similarity.binary_codes);
  5. append id index FIRST, then assignments + codes + vectors.

Write order (mirrors corpus_ingest's delivery note): ids land first,
so a crash between appends can lose a batch's vectors but can never
admit a duplicate; a retried batch anti-joins into a no-op. The
assignments/codes/vectors appends share the same batch frame
(localCheckpoint cuts the index scan out of the lineage, so the
id-index append cannot re-trigger the anti-join via recacheByPath —
the corpus_ingest bug class).

Index staleness: incremental assignment against frozen centroids is
exact IVF maintenance (the partition of space doesn't move), but the
centroids slowly stop being the k-means optimum of the GROWN corpus
and recall drifts. `staleness()` reports admitted-since-build vs
total so an operator (or a scheduler) can trigger `rebuild()` — a
full refit + sidecar swap, the periodic batch job — on a threshold
instead of a timer.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from clickhouse_observability_spark.operators import similarity as S
from clickhouse_observability_spark.session import local_df

VEC_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


class VectorIngest:
    """File-fed streaming embedding ingestion with at-rest-index
    dedup and incremental ANN-index maintenance."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        inbox_dir: str,
        checkpoint_dir: str,
        dim: int = 64,
        n_clusters: int = 10,
        max_files_per_trigger: int = 8,
        trigger_ms: int = 100,
        neardup_hamming: int | None = None,
    ):
        self.spark = spark
        self.dim = dim
        self.n_clusters = n_clusters
        # optional SEMANTIC admission: reject vectors whose 64-bit BQ
        # code is within this hamming radius of anything already
        # admitted (probe = pigeonhole chunk-index bucket join over
        # dedup.pigeonhole_chunk_key; None = id dedup only)
        self.neardup_hamming = neardup_hamming
        self.vectors_dir = os.path.join(store_dir, "vectors")
        self.reject_dir = os.path.join(store_dir, "rejected")
        ix = os.path.join(store_dir, "_index")
        self.ids_dir = os.path.join(ix, "ids")
        self.assign_dir = os.path.join(ix, "assignments")
        self.codes_dir = os.path.join(ix, "bq_codes")
        self.cent_dir = os.path.join(ix, "centroids")
        self.chunks_dir = os.path.join(ix, "bq_chunks")
        self.means_dir = os.path.join(ix, "bq_means")
        self.meta_path = os.path.join(ix, "build_meta.json")
        self.inbox_dir = inbox_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.trigger_ms = trigger_ms
        self.query: StreamingQuery | None = None
        os.makedirs(inbox_dir, exist_ok=True)

    # -- producer side --------------------------------------------------
    def submit_many(self, vecs: Iterable[Mapping]) -> int:
        vecs = list(vecs)
        if not vecs:
            return 0
        name = uuid.uuid4().hex
        tmp = os.path.join(self.inbox_dir, f".{name}.jsonl.tmp")
        dst = os.path.join(self.inbox_dir, f"{name}.jsonl")
        with open(tmp, "w") as f:
            for v in vecs:
                f.write(json.dumps(dict(v)) + "\n")
        os.rename(tmp, dst)  # atomic publish
        return len(vecs)

    # -- index build / rebuild ------------------------------------------
    def bootstrap(self, embeddings: DataFrame) -> None:
        """Initial build from a seed corpus: k-means centroids + BQ
        means (the frozen artifacts), assignments + codes for the
        seed vectors, id index, and the vectors themselves."""
        emb = embeddings.select("vec_id", "embedding")
        assign, cent = S.kmeans_ivf_index(emb, n_clusters=self.n_clusters)
        means, codes = S.binary_index(emb, dim=self.dim)
        cent.coalesce(1).write.mode("overwrite").parquet(self.cent_dir)
        local_df(self.spark, [(means,)], "mv array<double>").write.mode(
            "overwrite"
        ).parquet(self.means_dir)
        emb.select("vec_id").write.mode("append").parquet(self.ids_dir)
        if self.neardup_hamming is not None:
            # seed the near-dup probe index so near-dups of SEED
            # vectors are rejected from the very first batch
            self._append_chunk_index(codes.select("bq"))
        assign.write.mode("append").parquet(self.assign_dir)
        codes.write.mode("append").parquet(self.codes_dir)
        emb.write.mode("append").parquet(self.vectors_dir)
        self._write_meta(n_at_build=emb.count())

    def rebuild(self) -> None:
        """Periodic full refit over everything admitted so far, then
        sidecar swap: assignments/codes are rewritten for the WHOLE
        corpus under the new artifacts (overwrite), the id index and
        vectors are untouched. Resets staleness to 0.

        The stream must be stopped first: the rewrite derives from a
        snapshot read(), so a batch admitted between the snapshot and
        the overwrite would lose its index rows permanently, and a
        concurrent _admit could read half-swapped centroid/means
        sidecars. Enforced, not documented-only."""
        if self.query is not None:
            raise RuntimeError(
                "rebuild() requires the ingest stream to be stopped "
                "(call stop() first): a concurrent _admit would race "
                "the sidecar swap and lose its index rows"
            )
        emb = self.read()
        assign, cent = S.kmeans_ivf_index(emb, n_clusters=self.n_clusters)
        means, codes = S.binary_index(emb, dim=self.dim)
        # materialize BEFORE overwriting the inputs they derive from
        assign = assign.localCheckpoint(eager=True)
        codes = codes.localCheckpoint(eager=True)
        cent.coalesce(1).write.mode("overwrite").parquet(self.cent_dir)
        local_df(self.spark, [(means,)], "mv array<double>").write.mode(
            "overwrite"
        ).parquet(self.means_dir)
        assign.write.mode("overwrite").parquet(self.assign_dir)
        codes.write.mode("overwrite").parquet(self.codes_dir)
        if self.neardup_hamming is not None:
            # refit moves the BQ means, so every chunk key changes:
            # rewrite the probe index from the new codes whole
            self._append_chunk_index(codes.select("bq"), mode="overwrite")
        self._write_meta(n_at_build=emb.count())

    def _write_meta(self, n_at_build: int) -> None:
        os.makedirs(os.path.dirname(self.meta_path), exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_at_build": int(n_at_build)}, f)
        os.replace(tmp, self.meta_path)

    def staleness(self) -> dict:
        """{'n_total', 'n_at_build', 'stale_frac'}: share of the
        corpus admitted since the frozen artifacts were (re)built —
        the rebuild-policy signal."""
        n_total = self.read().count()
        with open(self.meta_path) as f:
            n_at_build = json.load(f)["n_at_build"]
        return {
            "n_total": n_total,
            "n_at_build": n_at_build,
            "stale_frac": round(1.0 - n_at_build / max(1, n_total), 6),
        }

    # -- admission ------------------------------------------------------
    def _frozen_artifacts(self) -> tuple[list[list[float]], list[float]]:
        """Centroids + BQ means (bounded index METADATA: n_clusters
        rows + one means row). Cached per sidecar mtime so the steady
        state is zero parquet reads per micro-batch — the artifacts
        only change on rebuild(), which bumps the mtime and
        invalidates the cache (and rebuild() cannot run concurrently
        with the stream, so a stale hit is impossible)."""
        key = (
            os.stat(self.cent_dir).st_mtime_ns,
            os.stat(self.means_dir).st_mtime_ns,
        )
        cached = getattr(self, "_frozen_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        cent_rows = sorted(
            self.spark.read.parquet(self.cent_dir).collect(),
            key=lambda r: r.label,
        )
        centroids = [list(r.cv) for r in cent_rows]
        means = list(self.spark.read.parquet(self.means_dir).collect()[0].mv)
        self._frozen_cache = (key, (centroids, means))
        return centroids, means

    def _admit(self, batch_df: DataFrame, batch_id: int) -> None:
        v = F.col("embedding")
        # three-valued-logic trap: forall/isnan over a NULL element
        # yields NULL, not false, which would skip every when() branch
        # and ADMIT the row — so null elements get their own check
        # first, and the finite check runs on a null-free array
        has_null_elem = F.exists(v, lambda x: x.isNull())
        finite = F.forall(v, lambda x: ~F.isnan(x) & ~x.isin(
            float("inf"), float("-inf")
        ))
        norm2 = F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
        reason = (
            F.when(F.col("vec_id").isNull(), "null_id")
            .when(v.isNull(), "null_embedding")
            .when(F.size(v) != self.dim, "wrong_dim")
            .when(has_null_elem, "null_element")
            .when(~finite, "non_finite")
            .when(norm2 == 0.0, "zero_norm")
        )
        gated = batch_df.withColumn("reject_reason", reason)
        bad = gated.filter(F.col("reject_reason").isNotNull())
        # quarantine keyed by batch dir + OVERWRITE: a Spark retry of
        # the same batch replaces its own rejects instead of
        # double-counting them (admission is already idempotent via
        # the id/chunk indexes; the reject side must match)
        ok = gated.filter(F.col("reject_reason").isNull()).drop("reject_reason")

        # within-batch collapse on vec_id (one winner per id; a batch
        # frame has no arrival order, so the winner is the
        # deterministic array-min — same id + same payload, the common
        # case, is unaffected), then full-history anti-join
        first = ok.groupBy("vec_id").agg(F.min("embedding").alias("embedding"))
        if os.path.exists(self.ids_dir):
            known = self.spark.read.parquet(self.ids_dir)
            first = first.join(known, "vec_id", "left_anti")

        centroids, means = self._frozen_artifacts()
        coded = S.binary_codes(
            first.select("vec_id", "embedding"), means, dim=self.dim
        )

        # -- SEMANTIC admission (optional): reject vectors whose BQ
        # code sits within `neardup_hamming` of anything already
        # admitted — in the at-rest chunk index (pigeonhole bucket
        # probe over dedup.pigeonhole_chunk_key; never a scan) or
        # within this batch (greedy in id order).
        #
        # Distance is over the FULL code (every word of bq): with
        # dim > 64 a word-0-only distance falsely rejects vectors
        # that differ only in dims >= 64. Chunk keys still derive
        # from word 0 alone and pigeonhole stays SOUND: full-code
        # distance <= r implies word-0 distance <= r implies some
        # word-0 chunk is equal, so word-0 buckets generate a
        # candidate superset and the full-code distance decides.
        if self.neardup_hamming is not None:
            from clickhouse_observability_spark.operators.dedup import (
                pigeonhole_chunk_key,
            )

            r = self.neardup_hamming
            n_chunks = r + 1

            def full_ham(bq_a, bq_b):
                # zip_with NULL-pads the shorter array; a migrated
                # legacy index entry has ONE word while a dim>64
                # batch code has several, and bit_count(x XOR NULL)
                # would make the whole distance NULL — admitting
                # every near-dup of a pre-upgrade vector (fails
                # open). Coalescing each side with the OTHER makes a
                # missing word contribute 0: distance over the
                # common prefix, exactly what the legacy index can
                # attest to (fail-closed, old-behavior-compatible).
                return F.aggregate(
                    F.zip_with(
                        bq_a,
                        bq_b,
                        lambda x, y: F.bit_count(
                            F.coalesce(x, y).bitwiseXOR(F.coalesce(y, x))
                        ),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )

            chunk_keys = F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    pigeonhole_chunk_key("code", c, n_chunks).alias("key"),
                )
                for c in range(n_chunks)
            ])
            c64 = coded.withColumn("code", F.col("bq")[0])

            # history FIRST: anything near an already-admitted vector
            # is rejected outright; excluding these from the batch
            # pair graph below is what makes the greedy admission
            # semantics exact (a batch vector whose only conflict is
            # itself-rejected must not be dragged down with it)
            if os.path.exists(self.chunks_dir):
                self._migrate_chunk_index()
                idx = (
                    self.spark.read.parquet(self.chunks_dir)
                    .withColumnRenamed("bq", "idx_bq")
                    .drop("code")
                )
                probes = c64.select(
                    "vec_id", "bq", F.explode(chunk_keys).alias("cc")
                ).select(
                    "vec_id", "bq",
                    F.col("cc.chunk").alias("chunk"),
                    F.col("cc.key").alias("key"),
                )
                hist_dups = (
                    probes.join(idx, ["chunk", "key"])
                    .filter(full_ham(F.col("bq"), F.col("idx_bq")) <= r)
                    .select("vec_id")
                    .distinct()
                    # materialize once (bounded: rejected-id rows):
                    # this frame feeds the cand anti-join, the final
                    # union, and via cand the whole pair chain —
                    # without the checkpoint the chunk-index probe
                    # join re-executes per consumer
                    .localCheckpoint(eager=True)
                )
            else:
                hist_dups = c64.select("vec_id").limit(0)

            # within-batch: candidate pairs via word-0 chunk buckets,
            # verified on full-code distance, then GREEDY admission in
            # ascending id order — admit v iff no ADMITTED neighbor
            # precedes it. In a chain A~B~C (A not~ C): B rejected,
            # C admitted; the old "drop every pair's larger id" would
            # over-reject C transitively. The pair graph is collected
            # to the driver — bounded: near-dup pairs WITHIN one
            # micro-batch, capped below with a conservative fallback.
            cand = c64.join(hist_dups, "vec_id", "left_anti")
            buck = cand.select(
                "vec_id", "bq", F.explode(chunk_keys).alias("cc")
            ).select(
                "vec_id", "bq",
                F.col("cc.chunk").alias("chunk"),
                F.col("cc.key").alias("key"),
            )
            a, b = buck.alias("a"), buck.alias("b")
            pair_df = (
                a.join(
                    b,
                    (F.col("a.chunk") == F.col("b.chunk"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")),
                )
                .filter(full_ham(F.col("a.bq"), F.col("b.bq")) <= r)
                .select(
                    F.col("a.vec_id").alias("pa"), F.col("b.vec_id").alias("pb")
                )
                .distinct()
            )
            PAIR_CAP = 200_000
            pair_rows = pair_df.limit(PAIR_CAP + 1).collect()
            if len(pair_rows) > PAIR_CAP:
                # pathological batch (~all-identical): fall back to
                # the conservative drop-larger-of-every-pair, which
                # over-rejects but stays O(1) driver-side
                batch_drop_df = pair_df.select(
                    F.col("pb").alias("vec_id")
                ).distinct()
            else:
                adj: dict[int, list[int]] = {}
                for p in pair_rows:
                    adj.setdefault(p.pa, []).append(p.pb)
                    adj.setdefault(p.pb, []).append(p.pa)
                admitted_set: set[int] = set()
                drops: list[int] = []
                for vid in sorted(adj):
                    if any(n in admitted_set for n in adj[vid]):
                        drops.append(vid)
                    else:
                        admitted_set.add(vid)
                batch_drop_df = local_df(
                    self.spark, [(int(d),) for d in drops], "vec_id long"
                )
            dup_ids = (
                hist_dups.unionByName(batch_drop_df)
                .distinct()
                .localCheckpoint(eager=True)
            )
            bad = bad.unionByName(
                first.join(dup_ids, "vec_id", "left_semi")
                .withColumn("reject_reason", F.lit("near_duplicate"))
                .select(*bad.columns)
            )
            first = first.join(dup_ids, "vec_id", "left_anti")
            coded = coded.join(dup_ids, "vec_id", "left_anti")

        bad.write.mode("overwrite").parquet(
            os.path.join(self.reject_dir, f"batch={int(batch_id)}")
        )

        cents = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        k = len(centroids)
        dist = (
            "aggregate(zip_with(embedding, _cents[c], "
            "(x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"
        )
        label = F.expr(
            f"aggregate(sequence(0, {k - 1}), "
            f"named_struct('d', double('Infinity'), 'l', -1), "
            f"(acc, c) -> CASE WHEN {dist} < acc.d "
            f"THEN named_struct('d', {dist}, 'l', c) ELSE acc END).l"
        ).cast("int")
        admitted = (
            first.withColumn("_cents", cents)
            .withColumn("label", label)
            .drop("_cents")
            .join(coded, "vec_id")
            # cut the id-index scan out of the lineage BEFORE the
            # index append (recacheByPath would re-run the anti-join
            # against this batch's own ids — corpus_ingest bug class)
            .localCheckpoint(eager=True)
        )
        # ids first, then the near-dup chunk index, then payloads:
        # duplicates (exact OR semantic) unadmittable even on
        # crash-retry
        admitted.select("vec_id").write.mode("append").parquet(self.ids_dir)
        if self.neardup_hamming is not None:
            self._append_chunk_index(admitted.select("bq"))
        admitted.select("vec_id", "label").write.mode("append").parquet(
            self.assign_dir
        )
        admitted.select("vec_id", "bq").write.mode("append").parquet(
            self.codes_dir
        )
        admitted.select("vec_id", "embedding").write.mode("append").parquet(
            self.vectors_dir
        )

    def _append_chunk_index(
        self, codes: DataFrame, mode: str = "append"
    ) -> None:
        """(chunk, key, code, bq) rows for the at-rest near-dup probe
        index — one row per pigeonhole chunk per admitted code. Keys
        derive from word 0 (`code`); the FULL bq array rides along so
        probes verify distance over every word (dim > 64 correct)."""
        from clickhouse_observability_spark.operators.dedup import (
            pigeonhole_chunk_key,
        )

        n_chunks = self.neardup_hamming + 1
        codes = codes.select(F.col("bq")[0].alias("code"), "bq")
        rows = codes.select(
            "code",
            "bq",
            F.explode(F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    pigeonhole_chunk_key("code", c, n_chunks).alias("key"),
                )
                for c in range(n_chunks)
            ])).alias("cc"),
        ).select(
            F.col("cc.chunk").alias("chunk"),
            F.col("cc.key").alias("key"),
            "code",
            "bq",
        )
        rows.write.mode(mode).parquet(self.chunks_dir)

    def _migrate_chunk_index(self) -> None:
        """Pre-r5 chunk indexes stored only the 64-bit word-0 `code`;
        the full-code distance needs the whole bq array at rest. A
        legacy index (no `bq` column) is rewritten once with
        bq = [code] — the first 64 dims it actually stored; probes
        compare over the common word prefix (see full_ham). The
        check is a footer read, so it is cached after the first call
        — the admission hot path must stay at zero per-batch parquet
        metadata reads (same rule as _frozen_artifacts)."""
        if getattr(self, "_chunks_migrated", False):
            return
        if not os.path.exists(self.chunks_dir):
            return
        idx = self.spark.read.parquet(self.chunks_dir)
        if "bq" not in idx.columns:
            migrated = idx.withColumn(
                "bq", F.array("code")
            ).localCheckpoint(eager=True)
            migrated.write.mode("overwrite").parquet(self.chunks_dir)
        self._chunks_migrated = True

    # -- stream lifecycle ----------------------------------------------
    def start(self) -> StreamingQuery:
        src = (
            self.spark.readStream.schema(VEC_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .option("mode", "DROPMALFORMED")
            .json(self.inbox_dir)
        )
        self.query = (
            src.writeStream.trigger(
                processingTime=f"{self.trigger_ms} milliseconds"
            )
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self._admit)
            .start()
        )
        return self.query

    def stop(self, drain: bool = True) -> None:
        if self.query is None:
            return
        if drain:
            self.query.processAllAvailable()
        self.query.stop()
        self.query = None

    # -- read side ------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.vectors_dir)

    def assignments(self) -> DataFrame:
        return self.spark.read.parquet(self.assign_dir)

    def codes(self) -> DataFrame:
        return self.spark.read.parquet(self.codes_dir)

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self.cent_dir)

    def rejected(self) -> DataFrame:
        return self.spark.read.option("basePath", self.reject_dir).parquet(
            self.reject_dir + "/batch=*"
        ).drop("batch")

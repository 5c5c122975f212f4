"""At-rest ANN index sidecars (VERDICT r2 item 1): PQ codes + IVF
centroids are parquet artifacts under the warehouse dir, built once
per corpus and READ (distributed) by every query — never collected
corpus-sized to the driver, never rebuilt per query."""

from __future__ import annotations

import os

import pytest

from clickhouse_observability_spark.operators import similarity as S
from clickhouse_observability_spark.queries import similarity as QS
from clickhouse_observability_spark.sources import index_store as IX


@pytest.fixture()
def warehouse(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    yield str(tmp_path / "wh")


def test_corpus_key_stable_and_corpus_sensitive(sf_small, tmp_path):
    assert IX.corpus_key(sf_small) == IX.corpus_key(sf_small)
    assert IX.corpus_key(sf_small) != IX.corpus_key(str(tmp_path))
    # key folds in (mtime, size) of the source table: a rebuilt corpus
    # at the same path must not serve stale sidecars
    import shutil

    alt = tmp_path / "corpus"
    alt.mkdir()
    shutil.copy(
        os.path.join(sf_small, "embeddings.parquet"),
        alt / "embeddings.parquet",
    )
    k1 = IX.corpus_key(str(alt))
    os.utime(alt / "embeddings.parquet", ns=(1, 2))
    assert IX.corpus_key(str(alt)) != k1


def test_has_artifact_requires_success_marker(tmp_path):
    p = tmp_path / "art"
    p.mkdir()
    (p / "part-0.parquet").write_bytes(b"x")
    assert not IX.has_artifact(str(p))  # interrupted write: no marker
    (p / "_SUCCESS").write_bytes(b"")
    assert IX.has_artifact(str(p))


def test_index_built_once_and_reused_across_queries(
    spark, sf_small, warehouse, monkeypatch
):
    """Two different queries against a fresh warehouse trigger exactly
    ONE pq_index build and ONE centroid build; the second query reads
    the at-rest sidecars."""
    builds = {"pq": 0, "ivf": 0}
    real_pq, real_ivf = S.pq_index, S.ivf_centroids

    def counting_pq(*a, **kw):
        builds["pq"] += 1
        return real_pq(*a, **kw)

    def counting_ivf(*a, **kw):
        builds["ivf"] += 1
        return real_ivf(*a, **kw)

    monkeypatch.setattr(S, "pq_index", counting_pq)
    monkeypatch.setattr(S, "ivf_centroids", counting_ivf)

    first = QS.sim_topk_pq(spark, sf_small).collect()
    assert len(first) == 50
    second = QS.sim_topk_ivf_pq(spark, sf_small).collect()
    assert len(second) == 50
    assert builds == {"pq": 1, "ivf": 1}

    key = IX.corpus_key(sf_small)
    for name in ("pq_codes", "pq_codebooks", "ivf_centroids"):
        assert IX.has_artifact(os.path.join(warehouse, key, name)), name


def test_sidecar_codes_are_distributed_frame(spark, sf_small, warehouse):
    """The codes frame handed to pq_topk is a parquet-backed scan of
    the sidecar (FileScan in the plan), not a driver-side
    createDataFrame re-upload."""
    codes, cbs = QS._pq_artifacts(spark, sf_small)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan, plan
    assert "scala:" not in plan and "LocalTableScan" not in plan, plan
    assert len(cbs) == 8 and len(cbs[0]) == 64  # [m][n_codes][sub]
    n = codes.count()
    assert n == spark.read.parquet(
        IX.artifact_path(sf_small, "pq_codes")
    ).count() == n


def test_pq_query_correct_from_sidecars(spark, sf_small, warehouse):
    """End-to-end through the sidecar path, rerank-all PQ equals the
    exact brute force (codebook-independent equivalence)."""
    proofs = QS.sim_topk_exact_proofs(spark, sf_small)
    rows = proofs.collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r.method, set()).add(
            (r.query_id, r.rank, r.vec_id, r.cosine)
        )
    assert by_method["brute"] == by_method["pq_rerank_all"]
    assert by_method["brute"] == by_method["ivf_exhaustive"]


def test_kmeans_index_built_once_and_reused(
    spark, sf_small, warehouse, monkeypatch
):
    """VERDICT r3 item 3: the k-means IVF index is an at-rest sidecar
    — the fit runs exactly once per corpus (the build job); the
    steady-state query path reaches no KMeans.fit at all."""
    fits = {"n": 0}
    real = S.kmeans_ivf_index

    def counting(*a, **kw):
        fits["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(S, "kmeans_ivf_index", counting)
    first = sorted(
        (r.query_id, r.rank, r.vec_id, r.cosine)
        for r in QS.sim_topk_ivf_kmeans(spark, sf_small).collect()
    )
    assert len(first) == 50 and fits["n"] == 1
    key = IX.corpus_key(sf_small)
    for name in ("kmeans_assignments", "kmeans_centroids"):
        assert IX.has_artifact(os.path.join(warehouse, key, name)), name

    # steady state: any fit attempt is a hard failure, query still runs
    def forbidden(*a, **kw):
        raise AssertionError("KMeans.fit reached from the query path")

    monkeypatch.setattr(S, "kmeans_ivf_index", forbidden)
    second = sorted(
        (r.query_id, r.rank, r.vec_id, r.cosine)
        for r in QS.sim_topk_ivf_kmeans(spark, sf_small).collect()
    )
    assert second == first


def test_build_if_absent_builds_once_under_concurrent_callers(
    spark, tmp_path
):
    """Concurrent callers on an empty dir (more threads than cores, a
    short switch interval): one build, identical reads. Without the
    lock every caller sees no _SUCCESS marker, and a later overwrite
    races an earlier reader."""
    import sys
    import threading
    import time

    path = str(tmp_path / "art")
    n = 6
    builds = []
    start = threading.Barrier(n)
    rows = {}

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.5)  # widen the probe->marker window
        IX.write_artifact(spark.range(100).selectExpr("id", "id * 3 AS v"), path)

    def caller(i):
        start.wait()
        IX.build_if_absent([path], build)
        rows[i] = sorted(tuple(r) for r in IX.load_artifact(spark, path).collect())

    threads = [threading.Thread(target=caller, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(rows) == n and len(rows[0]) == 100
    assert all(r == rows[0] for r in rows.values())
    assert IX.build_if_absent([path], build) is False and len(builds) == 1

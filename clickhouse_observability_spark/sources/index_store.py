"""At-rest index sidecar store for ANN artifacts.

The 100 TB story for ANN is that index artifacts — IVF centroids, PQ
codes, PQ codebooks — are built ONCE by a periodic batch job and
persisted as parquet tables next to (not inside — the corpus dirs are
read-only here) the vector table, then every query reads the small
at-rest artifact instead of re-deriving it or, worse, holding a
corpus-sized copy in driver memory. This module is that store:

    path = artifact_path(sf_dir, "pq_codes")   # keyed by corpus
    build_if_absent([path], lambda: write_artifact(df, path))
    codes = load_artifact(spark, path)          # distributed read

Artifacts live under a warehouse root (env `SPARK_GRAFT_WAREHOUSE`,
default `<tmp>/spark_graft_warehouse`), one subdirectory per corpus.
The corpus key hashes the source directory's absolute path plus the
embeddings file's (mtime, size), so a changed corpus invalidates its
sidecars instead of serving stale indexes. Completeness is Spark's
own `_SUCCESS` marker: an interrupted write leaves no marker and the
next build overwrites it.

Scale note: a real deployment points SPARK_GRAFT_WAREHOUSE at shared
storage (object store / DFS). The parquet reads/writes are already
storage-agnostic; the ONE local-FS assumption is the `_SUCCESS` probe
in `has_artifact` (os.path.exists) — a DFS deployment swaps that probe
for the filesystem client's exists() (e.g. Hadoop FileSystem via the
JVM gateway). Kept driver-local here because this environment runs
local[*] and the probe must not require a SparkSession.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


def warehouse_dir() -> str:
    """Root directory for index sidecars (env-overridable)."""
    return os.environ.get(
        "SPARK_GRAFT_WAREHOUSE",
        os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
    )


def corpus_key(sf_dir: str, source_table: str = "embeddings") -> str:
    """Stable key for a corpus directory: abspath + source file
    (mtime, size). Rebuilding testdata or pointing at a different
    scale factor changes the key, so sidecars never cross corpora."""
    root = os.path.abspath(sf_dir)
    h = hashlib.sha1(root.encode())
    src = os.path.join(root, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        h.update(f":{st.st_mtime_ns}:{st.st_size}".encode())
    except OSError:
        pass  # corpus without that table: key on path alone
    return h.hexdigest()[:16]


def artifact_path(
    sf_dir: str, name: str, source_table: str = "embeddings"
) -> str:
    return os.path.join(
        warehouse_dir(), corpus_key(sf_dir, source_table), name
    )


def has_artifact(path: str) -> bool:
    """A sidecar counts only when Spark's _SUCCESS marker landed."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


_BUILD_LOCK = threading.RLock()


def build_if_absent(paths: Sequence[str], build: Callable[[], object]) -> bool:
    """Run `build` (which writes every artifact in `paths`) unless all
    of them are complete; True when it ran. The probe and the build
    hold one module lock, so concurrent callers in a process (e.g.
    sharded gate threads on a fresh warehouse) build once and never
    read an artifact another thread is overwriting."""
    with _BUILD_LOCK:
        if all(has_artifact(p) for p in paths):
            return False
        build()
        return True


def write_artifact(df: DataFrame, path: str, coalesce: int | None = None) -> str:
    """Persist an index artifact as parquet. `coalesce` is for tiny
    metadata tables (centroids, codebooks) where one file beats many;
    corpus-sized artifacts (PQ codes) keep their partitioning."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").parquet(path)
    return path


def load_artifact(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)

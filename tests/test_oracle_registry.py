"""Registry-wide oracle adjudication in CI (r7).

The driver's CORRECTNESS gate adjudicates the first 50 oracle-backed
entries at sf0.01; every other oracle entry was previously executed
against DuckDB by per-wave test lists (test_integration's r5/r6/r7
merged-away suites, per-module spot checks). This file makes the
claim MECHANICAL: every `oracle_sql()` entry — window or not, present
or future — runs on Spark and on DuckDB over the same sf0.001 parquet
and must agree on schema, row count, and the order-insensitive value
hash (the selfcheck/driver canonicalization: floats to 6 significant
digits, booleans as 0/1, NULL sentinel).

A registered-but-unlisted oracle entry can therefore never ship
unadjudicated again: registration alone puts it under this gate.

One entry is hash-exempt at THIS scale factor only (asserted on
schema + row count here, full-hash green in the driver gate and
scripts/selfcheck.py at sf0.01): its rounded float aggregate sits
exactly on a rounding boundary at sf0.001's tiny per-group row counts,
where cross-engine summation order flips the last digit.
(rollup_day_type_panel left this list in r9: its sum states now merge
in exact decimal — moneydec — so the hash is scale-independent.)
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from clickhouse_observability_spark.registry import oracle_sql, queries

# float-ulp-at-tiny-sf exemptions — see module docstring
_HASH_EXEMPT_AT_SF0001 = {"agg_error_anomalies"}

_TABLES = ("region nation customer supplier part orders lineitem "
           "events documents embeddings").split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def test_every_oracle_entry_matches_duckdb(spark, sf_small):
    # r14: the adjudication loop is embarrassingly parallel and was
    # the suite's second-slowest test (~3.8 min serial for ~171
    # entries); run it on a small driver thread pool (guide §2.6 —
    # the Spark scheduler interleaves concurrent jobs; DuckDB gets
    # one connection per shard because connections are not
    # thread-safe). Shards are CONTIGUOUS slices of the sorted name
    # list so artifact-building families (sim_*, dedup_* sidecars)
    # stay within one thread. Assertions unchanged: every oracle
    # entry still runs on both engines and must agree on schema, row
    # count, and value hash.
    from concurrent.futures import ThreadPoolExecutor

    qs, oracles = queries(), oracle_sql()
    names = sorted(oracles)

    def adjudicate_shard(shard):
        con = duckdb.connect()
        for t in _TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'"
            )
        failures, n_hash, n_weak = [], 0, 0
        for name in shard:
            sdf = qs[name](spark, sf_small)
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if sorted(scols) != sorted(dcols):
                failures.append((name, "schema", scols, dcols))
                continue
            if len(srows) != len(drows):
                failures.append((name, "rows", len(srows), len(drows)))
                continue
            if name in _HASH_EXEMPT_AT_SF0001:
                n_weak += 1
                continue
            sh, dh = _table_hash(scols, srows), _table_hash(dcols, drows)
            if sh != dh:
                failures.append((name, "hash", sh, dh))
                continue
            n_hash += 1
        return failures, n_hash, n_weak

    n_shards = 4
    shards = [
        names[(len(names) * i) // n_shards:(len(names) * (i + 1)) // n_shards]
        for i in range(n_shards)
    ]
    failures, n_hash, n_weak = [], 0, 0
    with ThreadPoolExecutor(max_workers=n_shards) as pool:
        for f, h, w in pool.map(adjudicate_shard, shards):
            failures.extend(f)
            n_hash += h
            n_weak += w
    assert not failures, failures
    assert n_weak == len(_HASH_EXEMPT_AT_SF0001)
    # the gate must actually be registry-wide, not a stale snapshot
    assert n_hash + n_weak == len(oracles) >= 113


def test_no_oracle_emits_int128(sf_small):
    """r10 postmortem gate: DuckDB widens integer sum() — plain,
    windowed, and through UNION type resolution — to HUGEINT
    (int128). The driver's hash canonicalization renders HUGEINT
    differently from Spark's LONG even when every value is
    bit-identical (r10: text_mixture_temperature and one more entry
    went hash-red on exactly this; CHANGELOG.md).
    fetchall() coerces HUGEINT to Python int, so the value-hash
    test above is structurally blind to the class; this audit reads
    the PLAN-level result types instead (relation .types — no
    execution) and fails on any int128 output column. Policy in the
    registry.py header: integer outputs must be BIGINT on both
    engines — CAST(sum(...) AS BIGINT)."""
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'"
        )
    # generalized to an ALLOWLIST (r11): int128 is one instance of a
    # class — any type the driver canonicalizes differently from its
    # Spark twin (DECIMAL would render 'Decimal(..)' vs Spark's
    # float; unsigned ints, TIME, INTERVAL, BLOB have no Spark-side
    # counterpart in the registry's surface). Every current oracle
    # output is one of these six; a new exotic type must justify
    # itself here, with its cross-engine rendering verified, before
    # it widens the list.
    allowed = ("BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN",
               "TIMESTAMP")
    bad = []
    for name, sql in oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper() not in allowed:
                bad.append((name, col, str(typ)))
    assert not bad, (
        "oracle emits a column type outside the adjudicable "
        f"allowlist {allowed} — int128 burned r10 exactly this way; "
        f"CAST to an allowed twin: {bad}"
    )


@pytest.mark.parametrize("name", sorted(_HASH_EXEMPT_AT_SF0001))
def test_hash_exempt_entries_are_still_oracle_backed(name):
    """The exemption list may only name real oracle entries — a
    rename must fail here, not silently widen the exemption."""
    assert name in oracle_sql()

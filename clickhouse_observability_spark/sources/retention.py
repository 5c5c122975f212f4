"""TTL retention + compaction jobs (S4 in SURVEY.md §2.1, §4).

The reference arms a ClickHouse TTL — `ALTER TABLE logs MODIFY TTL
ts + INTERVAL <N> DAY DELETE` driven by $RETENTION_DAYS
(internal/db/db.go:59-66) — and relies on MergeTree background merges
(db.go:50). Spark equivalents are explicit jobs:

- retention: drop whole month partition directories strictly older
  than the cutoff month (cheap, no data rewrite — the 100 TB path),
  then exactly delete the in-boundary-month rows older than the
  cutoff by rewriting just that one partition;
- compaction: rewrite a partition's small files into few large ones
  (row-group sized), preserving the (service, ts) sort.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clickhouse_observability_spark.schema import LOGS_COLUMNS, PARTITION_COLUMN


def set_table_ttl(
    path: str,
    days: int | None,
    group_by: list[str] | None = None,
    set_exprs: dict[str, str] | None = None,
    tiers: list[dict] | None = None,
    delete_where: list[dict] | None = None,
    recompress: list[dict] | None = None,
) -> None:
    """Persist (or clear) the table's armed TTL — the at-rest state
    behind CH `ALTER TABLE ... MODIFY TTL ts + INTERVAL n DAY
    [DELETE | GROUP BY ... [SET col = agg, ...] | TO VOLUME 'v' |
    TO DISK 'd'][, ...]` / `REMOVE TTL`. The retention job consults
    it before the env.

    `group_by` arms CH's TTL GROUP BY (downsample-on-age): aged rows
    COLLAPSE to one row per group instead of being deleted — the
    "raw logs young, hourly rollups old" lifecycle. CH requires the
    GROUP BY key to be a prefix of the table's sorting key
    ((service, ts) here): valid keys are `service` alone or
    `service, <expression over ts>` — anything else is refused like
    CH refuses the ALTER.

    `tiers` arms storage tiering (r12, sources/tiering.py): move
    rules [{"days": n, "volume": v, "kind": "VOLUME"|"DISK"}] — aged
    months RELOCATE instead of (or before) being deleted. MODIFY TTL
    replaces the WHOLE table TTL expression (moves included), like
    CH; REMOVE TTL (everything None/empty) clears delete AND move
    rules but keeps COLUMN TTLs (CH keeps per-column declarations
    too). Removing a move rule leaves already-tiered months where
    they are (CH parity — parts don't move back).

    `delete_where` arms conditional TTLs (r13): CH `TTL ts +
    INTERVAL n DAY DELETE WHERE <pred>` rules [{"days": n, "where":
    "<CH predicate>"}] — aged rows MATCHING the predicate delete,
    every other row stays (the "drop debug logs after a week, keep
    errors a year" lifecycle). Predicates are CH-dialect SQL,
    translation-checked here so an unsupported expression refuses at
    ALTER time like CH refuses a malformed TTL.

    `recompress` arms recompression TTLs (r13): CH `TTL ts +
    INTERVAL n DAY RECOMPRESS CODEC(ZSTD(l))` rules [{"days": n,
    "codec": "ZSTD"|"LZ4", "level": int|None}] — fully-aged months
    REWRITE under a heavier (or lighter) at-rest codec, values
    untouched, the "hot data fast codec, cold data dense codec"
    lifecycle."""
    import json

    from clickhouse_observability_spark.sources.tiering import (
        validate_tiers,
    )

    p = os.path.join(path, "_ttl.json")
    prior = read_table_ttl_spec(path) or {}
    columns = prior.get("columns")  # column TTLs survive table
    if days is None and not tiers and not delete_where and not recompress:
        # REMOVE TTL — CH keeps column TTLs
        if not columns:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
            return
        spec = {"columns": columns}
    else:
        spec = {}
        if days is not None:
            spec["retention_days"] = int(days)
        if group_by:
            if days is None:
                raise ValueError(
                    "TTL GROUP BY needs the delete horizon clause")
            _validate_ttl_group_by(group_by)
            spec["group_by"] = list(group_by)
            spec["set"] = dict(set_exprs or {})
        if tiers:
            spec["to_volume"] = validate_tiers(tiers)
        if delete_where:
            spec["delete_where"] = _validate_delete_where(delete_where)
        if recompress:
            spec["recompress"] = _validate_recompress(recompress)
        if columns:
            spec["columns"] = columns
    os.makedirs(path, exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.replace(tmp, p)


#: base payload columns a COLUMN TTL may target, with their CH type
#: defaults (the value an aged cell reverts to). Key columns (ts,
#: service, month) are refused like CH refuses TTL on key columns;
#: evolved (sidecar) columns would need default rewriting inside the
#: extension metadata instead of the parts — refused honestly.
_COLUMN_TTL_DEFAULTS = {
    "level": "", "msg": "", "attrs": "", "trace_id": "", "span_id": "",
}


def set_column_ttl(path: str, column: str, days: int | None) -> None:
    """Arm (or clear, days=None) a CH COLUMN TTL: `ALTER TABLE logs
    MODIFY COLUMN <c> String TTL ts + INTERVAL n DAY`. Once a row's
    ts ages past the horizon, the COLUMN's value reverts to its type
    default ('' for the String payload columns) — CH's
    keep-the-row-shed-the-column lifecycle (saves the bytes, keeps
    the event). Enforced by every retention pass, independently of
    (and compatibly with) the table TTL."""
    import json

    if column not in _COLUMN_TTL_DEFAULTS:
        raise ValueError(
            f"COLUMN TTL supports the base payload columns "
            f"{sorted(_COLUMN_TTL_DEFAULTS)} only — key columns "
            f"(ts, service, month) are refused like ClickHouse "
            f"refuses TTL on key columns, and evolved columns live "
            f"in the schema-extension sidecar, not the parts")
    spec = read_table_ttl_spec(path) or {}
    columns = dict(spec.get("columns") or {})
    if days is None:
        columns.pop(column, None)
    else:
        columns[column] = int(days)
    if columns:
        spec["columns"] = columns
    else:
        spec.pop("columns", None)
    p = os.path.join(path, "_ttl.json")
    if not spec:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
        return
    os.makedirs(path, exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.replace(tmp, p)


def read_column_ttls(path: str) -> dict[str, int]:
    spec = read_table_ttl_spec(path)
    return dict((spec or {}).get("columns") or {})


def _validate_ttl_group_by(group_by: list[str]) -> None:
    """CH's prefix rule for TTL GROUP BY, specialized to the table's
    fixed sorting key (service, ts): key 1 must be `service`, the
    optional key 2 an expression over ts. CH refuses non-prefix keys
    at ALTER time; so do we."""
    if not group_by or group_by[0].strip().lower() != "service":
        raise ValueError(
            "TTL GROUP BY must be a prefix of the sorting key "
            "(service, ts): the first key must be `service`")
    if len(group_by) > 2:
        raise ValueError(
            "TTL GROUP BY supports at most (service, <expr(ts)>) — "
            "the sorting key has two columns")
    if len(group_by) == 2 and "ts" not in group_by[1]:
        raise ValueError(
            "the second TTL GROUP BY key must be an expression over "
            "ts (the sorting key's second column)")


def _validate_delete_where(rules: list[dict]) -> list[dict]:
    """Arm-time validation of conditional TTL rules: positive
    horizon, non-empty predicate, and the predicate must TRANSLATE
    through the dialect (CH refuses a TTL whose expression doesn't
    parse; deferring the failure to the first retention pass would
    turn a typo into a silent never-fires rule). Declaration order is
    preserved — it round-trips through SHOW CREATE."""
    out = []
    for r in rules:
        days = int(r["days"])
        if days <= 0:
            raise ValueError(
                "TTL ... DELETE WHERE horizon must be a positive "
                "day count")
        where = str(r["where"]).strip()
        if not where:
            raise ValueError("TTL ... DELETE WHERE needs a predicate")
        _ch_expr(f"({where})")  # typo/vocabulary refusal at ALTER time
        out.append({"days": days, "where": where})
    return out


#: codecs a RECOMPRESS rule may target -> (spark codec name, level
#: bounds). CH's LZ4HC(n) has no parquet analog (parquet lz4 takes no
#: level) and is refused honestly rather than silently downgraded.
_RECOMPRESS_CODECS = {"ZSTD": ("zstd", (1, 22)), "LZ4": ("lz4", None)}


def _validate_recompress(rules: list[dict]) -> list[dict]:
    """Arm-time validation of recompression TTL rules: positive
    horizon, a parquet-expressible codec, in-bounds level (ZSTD
    1-22; LZ4 takes none). Declaration order preserved (round-trips
    through SHOW CREATE); enforcement picks the longest-expired
    satisfied rule per month like the tiering mover."""
    out = []
    for r in rules:
        days = int(r["days"])
        if days <= 0:
            raise ValueError(
                "TTL ... RECOMPRESS horizon must be a positive day "
                "count")
        codec = str(r["codec"]).upper()
        if codec not in _RECOMPRESS_CODECS:
            raise ValueError(
                f"RECOMPRESS CODEC({codec}) is not expressible in "
                f"parquet at-rest storage — supported: "
                f"{sorted(_RECOMPRESS_CODECS)} (LZ4HC has no parquet "
                f"analog; its level knob does not exist there)")
        level = r.get("level")
        bounds = _RECOMPRESS_CODECS[codec][1]
        if level is not None:
            if bounds is None:
                raise ValueError(f"CODEC({codec}) takes no level")
            level = int(level)
            if not bounds[0] <= level <= bounds[1]:
                raise ValueError(
                    f"CODEC({codec}({level})): level must be in "
                    f"[{bounds[0]}, {bounds[1]}]")
        out.append({"days": days, "codec": codec, "level": level})
    return out


def _codec_marker(codec: str, level: int | None) -> str:
    """Idempotence marker filename for a recompressed location —
    dot-prefixed so readers never see it. A later rewrite of the
    month (mutation, compaction, collapse) replaces the directory
    and drops the marker, so the next retention pass re-applies the
    armed codec — the same reapply-on-merge behavior CH's TTL
    recompression has."""
    return f".recompressed-{codec}" + ("" if level is None
                                       else f"-{int(level)}")


def _apply_recompress(
    spark: SparkSession,
    path: str,
    rules: list[dict],
    now: dt.datetime,
    dry_run: bool = False,
) -> dict:
    """Enforce armed recompression TTLs (r13): rewrite fully-aged
    months under the armed rule's codec — CH's `TTL ts + INTERVAL n
    DAY RECOMPRESS CODEC(...)`, done at the retention pass instead
    of background merges. Values, row order and schema are untouched
    (value-neutral like a tier move — no matview staleness).

    Granularity mirrors the tiering mover: a month recompresses when
    STRICTLY older than the horizon's cutoff month (fully expired;
    the boundary month's young rows keep the hot-path codec), the
    longest-expired satisfied rule wins, and a tiered month rewrites
    in place on its own volume. Idempotence is a dot-prefixed marker
    per location recording the applied codec+level (parquet footers
    name the codec but not the level): marker matches -> skip, so
    reruns are O(newly aged months). Returns {"CODEC[(level)]":
    [months...]}; probe-only under ``dry_run`` (marker checks, zero
    jobs)."""
    out: dict[str, list[int]] = {}
    if not rules:
        return out
    from clickhouse_observability_spark.sources.tiering import (
        month_locations,
    )
    from clickhouse_observability_spark.sources.writer import (
        parquet_ts_micros,
    )

    cutoffs = []
    for r in rules:
        cut = now - dt.timedelta(days=int(r["days"]))
        cutoffs.append((cut.year * 100 + cut.month, r))
    # ascending horizon: the LAST satisfied rule per month is the
    # longest-expired one (ties in cutoff month resolve to it too)
    cutoffs.sort(key=lambda x: int(x[1]["days"]))
    for m in _partition_months(path):
        rule = None
        for cm, r in cutoffs:
            if m < cm:
                rule = r
        if rule is None:
            continue
        codec, level = rule["codec"], rule.get("level")
        marker = _codec_marker(codec, level)
        label = codec + ("" if level is None else f"({int(level)})")
        for vol, part_dir in month_locations(path, m):
            if os.path.exists(os.path.join(part_dir, marker)):
                continue  # already at the armed codec — idempotent
            if m not in out.setdefault(label, []):
                out[label].append(m)
            if dry_run:
                continue
            df = spark.read.option("mergeSchema", "true").parquet(part_dir)
            tmp = _debris_path(part_dir, ".tmp")
            w = (df.sortWithinPartitions("service", "ts")
                 .write.mode("overwrite")
                 .option("compression",
                         _RECOMPRESS_CODECS[codec][0]))
            if level is not None:
                w = w.option("parquet.compression.codec.zstd.level",
                             str(int(level)))
            with parquet_ts_micros(spark):
                w.parquet(tmp)
            _swap_partition(part_dir, tmp)
            # marker goes into the LIVE dir after the swap; a crash
            # before this line just recompresses once more on retry
            with open(os.path.join(part_dir, marker), "w"):
                pass
    return out


def read_delete_where(path: str) -> list[dict]:
    """The armed conditional TTL rules, declaration order:
    [{"days": n, "where": "<CH predicate>"}]."""
    spec = read_table_ttl_spec(path) or {}
    return list(spec.get("delete_where") or [])


def read_table_ttl_spec(path: str) -> dict | None:
    """The full armed-TTL spec: {"retention_days": n[, "group_by":
    [...], "set": {col: agg_sql}]} or None."""
    import json

    p = os.path.join(path, "_ttl.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_table_ttl(path: str) -> int | None:
    spec = read_table_ttl_spec(path) or {}
    days = spec.get("retention_days")
    return int(days) if days is not None else None


def _debris_path(part_dir: str, suffix: str) -> str:
    """Sibling path for swap debris, named so Spark NEVER reads it:
    Hadoop's default PathFilter skips files/dirs whose basename
    starts with ``_`` or ``.``, so ``.month=202508.old`` is invisible
    to partition discovery. Bare ``month=202508.old`` (the r10
    naming) was visible between a crash and the next retention pass:
    plain reads saw the month's rows twice, and the unparseable
    ``202508.old`` partition value could type-flip the partition
    column to string (r10 advisor finding)."""
    parent, base = os.path.split(part_dir.rstrip("/"))
    return os.path.join(parent, f".{base}{suffix}")


def _swap_partition(part_dir: str, tmp: str) -> None:
    """Replace a live partition directory with its rewritten ``tmp``
    crash-recoverably. The naive ``rmtree(part_dir); rename(tmp,
    part_dir)`` loses the whole month if the process dies between the
    two calls (the month vanishes from _partition_months, so a retry
    never finds the orphaned tmp). Sequence instead:

      1. rename part_dir -> .part_dir.old  (atomic, same fs)
      2. rename tmp      -> part_dir       (atomic)
      3. rmtree .part_dir.old

    A crash after 1 leaves ``.old`` WITHOUT a live dir — recoverable;
    a crash after 2 leaves ``.old`` BESIDE the live dir — cleanup
    only. ``recover_partition_swaps`` (run at every retention /
    compaction entry) restores both states, so the advertised
    retry-safety of the batcher's background TTL pass holds across a
    crash at ANY point of the swap. Debris is dot-prefixed
    (`_debris_path`) so concurrent plain reads never see it."""
    old = _debris_path(part_dir, ".old")
    if os.path.isdir(old):  # completed-swap leftover from a prior crash
        shutil.rmtree(old)
    os.rename(part_dir, old)
    os.rename(tmp, part_dir)
    shutil.rmtree(old)


def recover_partition_swaps(path: str) -> dict:
    """Restore partition directories orphaned by a crash mid-swap.

    For each ``.<part>.old``: if the live dir exists the swap finished
    (crash before cleanup) -> drop the ``.old``; if not, the crash hit
    between the two renames -> rename ``.old`` back into place (the
    rewrite is re-derivable, the raw month is not). Stray ``.tmp``
    dirs are incomplete (or superseded) rewrites -> dropped; the next
    pass rebuilds them. Debris is dot-prefixed (`_debris_path`) so
    plain reads between a crash and this pass never see it; bare
    ``<part>.old``/``<part>.tmp`` names (written by the r10 swap) are
    still recognized for upgrade-across-a-crash. Returns
    {"restored": [...], "cleaned": [...]} with the affected directory
    names."""
    from clickhouse_observability_spark.sources.tiering import tier_roots

    restored, cleaned = [], []
    if not os.path.isdir(path):
        return {"restored": restored, "cleaned": cleaned}
    prefixes = (f".{PARTITION_COLUMN}=", f"{PARTITION_COLUMN}=")
    # every volume root: rewrites of TIERED months leave their swap
    # debris inside `_tiers/<vol>/` and must recover identically
    for _, root in tier_roots(path):
        for d in sorted(os.listdir(root)):
            full = os.path.join(root, d)
            if not os.path.isdir(full):
                continue  # stray file; only directories are swap debris
            hidden = d.startswith(prefixes[0])
            if not (hidden or d.startswith(prefixes[1])):
                continue
            if d.endswith(".old"):
                live = os.path.join(
                    root,
                    d[len("."):-len(".old")] if hidden else d[:-len(".old")],
                )
                if os.path.isdir(live):
                    shutil.rmtree(full)
                    cleaned.append(d)
                else:
                    os.rename(full, live)
                    restored.append(d)
            elif d.endswith(".tmp"):
                shutil.rmtree(full)
                cleaned.append(d)
    return {"restored": restored, "cleaned": cleaned}


def _partition_months(path: str) -> list[int]:
    """All live months ACROSS VOLUMES (base ∪ tiers) — a TTL that
    couldn't see tiered months would silently never delete/collapse
    them (the unacceptable-failure-mode class; sources/tiering.py)."""
    from clickhouse_observability_spark.sources.tiering import (
        partition_months,
    )

    if not os.path.isdir(path):
        return []
    return partition_months(path)


def apply_retention(
    spark: SparkSession,
    path: str,
    retention_days: int | None = None,
    now: dt.datetime | None = None,
    exact: bool = True,
    dry_run: bool = False,
    refresh_views: bool = False,
) -> dict:
    """Delete rows with ts older than now - retention_days (db.go:60-65).

    ``retention_days=None`` reads $RETENTION_DAYS — the reference's
    config surface (cmd/server/main.go:25-27): TTL is armed only when
    the env var is set, so with neither argument nor env the job is a
    no-op, exactly like the reference skipping the ALTER TTL.

    Whole months below the cutoff month are dropped as directories
    (metadata-only at scale: ALTER TABLE ... DROP PARTITION); the
    boundary month is rewritten with an exact ts filter when
    ``exact``. ``dry_run`` reports what WOULD be dropped/rewritten
    without touching data. Returns {"dropped_months": [...],
    "rewritten": month|None, "stale_views": [...]}.

    Materialized views: attached views accumulate per-block INSERT
    increments and never see deletes, so after a retention pass a
    view's totals keep counting the dropped rows — they diverge from
    re-aggregating the base table. ClickHouse has the SAME property
    (a target table of a matview is not TTL'd with its source; the
    docs tell you to set TTL on both or re-populate). Default
    behavior mirrors CH: the divergence is allowed but SURFACED —
    any rows were removed and views are attached -> their names come
    back under ``stale_views`` (the operator's cue to schedule
    ``MaterializedView.refresh``). ``refresh_views=True`` instead
    rebuilds each attached view from the post-retention base right
    here (one aggregation per view over the retained partitions —
    bounded, but not free; at 100 TB prefer dropping the view's own
    aged state rows when the view keys include the TTL axis).
    """
    # armed-TTL resolution order mirrors the reference: a TTL set
    # on the TABLE (the dialect's ALTER TABLE ... MODIFY TTL —
    # db.go:59-66 issues exactly that statement) wins over the
    # $RETENTION_DAYS env; with neither, the job is a no-op. The
    # spec is read UNCONDITIONALLY: an explicit retention_days
    # overrides the armed horizon but must NOT silently flip an
    # armed GROUP BY (downsample) into a DELETE.
    # a prior pass may have crashed mid-swap; restore orphaned months
    # BEFORE enumerating partitions, or an aged month could silently
    # drop out of the pass (retry-safety across crash-at-any-point).
    recover_partition_swaps(path)
    spec = read_table_ttl_spec(path)
    now = now or dt.datetime.now(dt.timezone.utc)
    # COLUMN TTLs (r11) enforce independently of the table TTL —
    # armed columns age even when no row-delete horizon is set. They
    # run AFTER the row-delete/collapse phase on every exit path, so
    # a month the table TTL is about to drop is never pointlessly
    # column-rewritten first.
    col_ttls = (spec or {}).get("columns") or {}

    def enforce_cols() -> dict:
        # dry_run: probe-only — report the {col: [months]} a real run
        # WOULD revert (same staleness probes, zero rewrites), so the
        # preview covers every armed arm (r12 advisor finding: the
        # old preview omitted column reverts and tier moves)
        return _apply_column_ttls(spark, path, col_ttls, now,
                                  dry_run=dry_run)

    # storage tiering (r12): armed move rules run on every retention
    # pass, LAST — after deletes/collapses (never move a month the
    # delete horizon is about to drop) and after column TTLs (the
    # rewrite happens where the month currently lives; the move is
    # then one rename). A move changes no VALUES, so no stale-view
    # surfacing. Metadata-only: sources/tiering.py.
    from clickhouse_observability_spark.sources.tiering import (
        apply_tiering,
        plan_tiering,
        read_storage_tiers,
    )

    tier_rules = read_storage_tiers(path)
    dw_rules = (spec or {}).get("delete_where") or []
    rc_rules = (spec or {}).get("recompress") or []

    def finish(res: dict) -> dict:
        """Conditional-delete + column enforcement + staleness on
        EVERY exit path: a conditional TTL deletes rows and a
        column-TTL rewrite changes VALUES (a matview aggregating
        either now diverges), so both surface/refresh attached views
        exactly like the unconditional delete does (r11 gap fix).
        Tier moves follow last (value-neutral). dry_run routes
        through here too so the preview reports the conditional
        deletes, column reverts and tier moves a real run would
        perform — months the unconditional arm would drop are
        filtered out (the real run drops them before the other arms
        fire, so they never get rewritten or moved)."""
        drop = set(res.get("dropped_months") or []) if dry_run else set()
        dw = _apply_delete_where(spark, path, dw_rules, now,
                                 dry_run=dry_run)
        if drop and dw:
            dw = [dict(r, months=[m for m in r["months"]
                                  if m not in drop]) for r in dw]
            dw = [r for r in dw if r["months"]]
        if dw_rules:
            res["delete_where"] = dw
        ct = enforce_cols()
        if drop and ct:
            ct = {c: [m for m in ms if m not in drop]
                  for c, ms in ct.items()}
            ct = {c: ms for c, ms in ct.items() if ms}
        res["column_ttl"] = ct
        if (ct or dw) and not dry_run:
            from clickhouse_observability_spark.sources.mutations import (
                _handle_stale_views,
            )
            from clickhouse_observability_spark.sources.writer import (
                LogsTable,
            )

            table = LogsTable(spark, path)
            if table.materialized_views:
                stale = _handle_stale_views(table, refresh_views)
                res["stale_views"] = sorted(
                    set(res.get("stale_views") or []) | set(stale))
        if rc_rules:
            # after value-changing arms (rewrite once, under the
            # final values), before tier moves (the rewrite happens
            # where the month currently lives; the move is then one
            # rename). Value-neutral: no staleness surfacing.
            rc = _apply_recompress(spark, path, rc_rules, now,
                                   dry_run=dry_run)
            if drop and rc:
                rc = {c: [m for m in ms if m not in drop]
                      for c, ms in rc.items()}
                rc = {c: ms for c, ms in rc.items() if ms}
            res["recompressed"] = rc
        if tier_rules:
            if dry_run:
                plan = plan_tiering(path, now, tier_rules)
                plan = {v: [m for m in ms if m not in drop]
                        for v, ms in plan.items()}
                res["tiered"] = {v: ms for v, ms in plan.items() if ms}
            else:
                res["tiered"] = apply_tiering(
                    path, now, tier_rules)["moved"]
        return res

    if retention_days is None:
        days = (spec or {}).get("retention_days")
        retention_days = int(days) if days is not None else None
    if retention_days is None:
        raw = os.environ.get("RETENTION_DAYS", "")
        if not raw.strip().isdigit():
            return finish({"dropped_months": [], "rewritten": None,
                           "skipped": not col_ttls and not tier_rules
                           and not dw_rules and not rc_rules})
        retention_days = int(raw)
    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = now - dt.timedelta(days=int(retention_days))
    cutoff_month = cutoff.year * 100 + cutoff.month
    group_by = (spec or {}).get("group_by")
    if group_by:
        # CH TTL GROUP BY: aged rows collapse to aggregates instead
        # of being deleted — dispatch to the downsample arm (same
        # staleness surfacing on the way out).
        res = _apply_ttl_group_by(
            spark, path, cutoff, cutoff_month, group_by,
            (spec or {}).get("set") or {}, exact=exact, dry_run=dry_run,
            refresh_views=refresh_views)
        return finish(res)
    dropped, rewritten = [], None
    if dry_run:
        months = _partition_months(path)
        dropped = [m for m in months if m < cutoff_month]
        boundary = cutoff_month if cutoff_month in months else None
        return finish({"dropped_months": dropped, "rewritten": boundary,
                       "dry_run": True})
    from clickhouse_observability_spark.sources.tiering import (
        consolidate_month,
        month_dirs,
    )

    for m in _partition_months(path):
        if m < cutoff_month:
            # every location: a TTL DELETE must remove tiered copies
            # too (a cold month surviving its horizon is the silent
            # failure the tiering seams exist to prevent)
            for d in month_dirs(path, m):
                shutil.rmtree(d)
            dropped.append(m)
    if exact and cutoff_month in _partition_months(path):
        # the boundary month may live on a tier (or be mid-move
        # split): consolidate to one directory, rewrite in place
        part_dir = consolidate_month(path, cutoff_month)
        kept = (
            spark.read.parquet(part_dir)
            .filter(F.col("ts") >= F.lit(cutoff.replace(tzinfo=None)))
            .sortWithinPartitions("service", "ts")
        )
        tmp = _debris_path(part_dir, ".tmp")
        from clickhouse_observability_spark.sources.writer import (
            LOGS_PARQUET_OPTIONS,
            parquet_ts_micros,
        )

        # the table's at-rest codec, not Spark's default snappy;
        # ts_micros keeps the ts footer stats alive.
        with parquet_ts_micros(spark):
            kept.write.mode("overwrite").options(**LOGS_PARQUET_OPTIONS) \
                .parquet(tmp)
        _swap_partition(part_dir, tmp)
        rewritten = cutoff_month
    # surface (or repair) matview divergence — see docstring
    stale_views: list[str] = []
    if dropped or rewritten is not None:
        from clickhouse_observability_spark.sources.mutations import (
            _handle_stale_views,
        )
        from clickhouse_observability_spark.sources.writer import LogsTable

        table = LogsTable(spark, path)
        if table.materialized_views:
            # one staleness contract, shared with mutations/partition
            # ops: refresh (and re-cover projections) or surface
            # stale + un-cover serving projections
            stale_views = _handle_stale_views(table, refresh_views)
    return finish({"dropped_months": dropped, "rewritten": rewritten,
                   "stale_views": stale_views})


def _apply_column_ttls(
    spark: SparkSession,
    path: str,
    col_ttls: dict[str, int],
    now: dt.datetime,
    dry_run: bool = False,
) -> dict:
    """Enforce armed COLUMN TTLs (r11): in every partition holding
    rows older than a column's horizon, revert that column's aged
    values to the type default — CH's keep-the-row-shed-the-column
    lifecycle, run by the same retention entry as the table TTL.
    ``dry_run`` runs the same staleness probes but skips the rewrite,
    returning exactly what a real run would revert (the preview costs
    the probe jobs — one existence scan per candidate partition).

    Scale shape: whole-month granularity. A partition is a candidate
    only if its month can contain aged rows (month <= cutoff month);
    a candidate is REWRITTEN only if an aged row still carries a
    non-default value (one cheap existence probe per candidate —
    idempotent reruns touch nothing, so the batcher's periodic
    enforcement loop stays O(newly-aged partitions), not O(table)).
    Each rewrite is one independent partition job through the
    crash-recoverable swap; no global shuffle."""
    out: dict[str, list[int]] = {}
    if not col_ttls:
        return out
    from clickhouse_observability_spark.sources.writer import (
        LOGS_PARQUET_OPTIONS,
        parquet_ts_micros,
    )

    cutoffs = {
        col: (now - dt.timedelta(days=int(days))).replace(tzinfo=None)
        for col, days in col_ttls.items()
    }
    from clickhouse_observability_spark.sources.tiering import month_dirs

    # (month, location) pairs: a COLUMN TTL is a row-local map, so a
    # month split across volumes rewrites each location independently
    # and correctly — no consolidation needed (unlike the TTL GROUP BY
    # collapse, whose groups must span the whole month)
    locations = [
        (m, d)
        for m in _partition_months(path)
        for d in month_dirs(path, m)
    ]
    for m, part_dir in locations:
        # candidate columns for THIS month: their cutoff month covers it
        cand = sorted(
            c for c, cut in cutoffs.items()
            if m <= cut.year * 100 + cut.month)
        if not cand:
            continue
        # mergeSchema: files in one partition may disagree on
        # explicitly-written evolved columns — a single-file schema
        # pick would silently drop them from the rewrite
        df = spark.read.option("mergeSchema", "true").parquet(part_dir)
        # NULL-aware staleness: `col != ''` is NULL for NULL cells,
        # so a partition whose aged cells were all NULL would never
        # rewrite — inconsistent with the revert-to-type-default
        # contract (NULL is not the type default; r11 advisor
        # finding). NULL aged cells count as stale and revert.
        stale_cols = [
            c for c in cand
            if df.filter(
                (F.col("ts") < F.lit(cutoffs[c]))
                & ((F.col(c) != F.lit(_COLUMN_TTL_DEFAULTS[c]))
                   | F.col(c).isNull())
            ).limit(1).count() > 0
        ]
        if not stale_cols:
            continue  # already enforced — idempotent rerun
        if dry_run:
            for c in stale_cols:
                if m not in out.setdefault(c, []):
                    out[c].append(m)
            continue
        # ONE rewrite per partition covering every stale column
        for c in stale_cols:
            df = df.withColumn(
                c,
                F.when(F.col("ts") < F.lit(cutoffs[c]),
                       F.lit(_COLUMN_TTL_DEFAULTS[c]))
                .otherwise(F.col(c)))
        tmp = _debris_path(part_dir, ".tmp")
        with parquet_ts_micros(spark):
            (df.sortWithinPartitions("service", "ts")
             .write.mode("overwrite").options(**LOGS_PARQUET_OPTIONS)
             .parquet(tmp))
        _swap_partition(part_dir, tmp)
        for c in stale_cols:
            if m not in out.setdefault(c, []):  # month may span volumes
                out[c].append(m)
    return out


def _apply_delete_where(
    spark: SparkSession,
    path: str,
    rules: list[dict],
    now: dt.datetime,
    dry_run: bool = False,
) -> list[dict]:
    """Enforce armed conditional TTLs (r13): delete aged rows
    matching each rule's predicate, keep everything else — CH's
    `TTL ts + INTERVAL n DAY DELETE WHERE <pred>` arm. Unlike the
    unconditional horizon, whole aged months can never be dropped as
    directories (non-matching rows must survive), so every firing
    month is a predicate-pruned partition rewrite — the same unit of
    work as a DELETE WHERE mutation (sources/mutations.py).

    Scale shape mirrors the column-TTL arm: whole-month candidate
    pruning (a month is probed only if some rule's cutoff month
    covers it), one cheap existence probe per (rule, location), and
    ONE in-place rewrite per location covering every firing rule (a
    tiered month rewrites on its own volume — row-local semantics
    need no consolidation). Predicates resolve against the table's
    physical columns (mergeSchema over the location's files).
    Idempotent reruns touch nothing. Returns [{"days", "where",
    "months": [...]}] for rules that matched rows (probe-only under
    ``dry_run``)."""
    if not rules:
        return []
    from clickhouse_observability_spark.sources.tiering import month_dirs
    from clickhouse_observability_spark.sources.writer import (
        LOGS_PARQUET_OPTIONS,
        parquet_ts_micros,
    )

    prepared = []
    for r in rules:
        cutoff = (now - dt.timedelta(days=int(r["days"])))
        cutoff = cutoff.replace(tzinfo=None)
        prepared.append({
            "days": int(r["days"]), "where": str(r["where"]),
            "cutoff": cutoff,
            "cutoff_month": cutoff.year * 100 + cutoff.month,
            "pred": _ch_expr(f"({r['where']})"),
            "months": [],
        })
    locations = [
        (m, d)
        for m in _partition_months(path)
        for d in month_dirs(path, m)
    ]
    for m, part_dir in locations:
        cand = [r for r in prepared if m <= r["cutoff_month"]]
        if not cand:
            continue
        df = spark.read.option("mergeSchema", "true").parquet(part_dir)
        hits = []
        for r in cand:
            cond = ((F.col("ts") < F.lit(r["cutoff"]))
                    & F.expr(r["pred"]))
            try:
                hit = df.filter(cond).limit(1).count() > 0
            except Exception as e:
                raise ValueError(
                    f"TTL DELETE WHERE predicate {r['where']!r} does "
                    f"not resolve against the table's columns: {e}"
                ) from e
            if hit:
                hits.append((r, cond))
        if not hits:
            continue  # already enforced — idempotent rerun
        for r, _ in hits:
            if m not in r["months"]:
                r["months"].append(m)
        if dry_run:
            continue
        removal = hits[0][1]
        for _, cond in hits[1:]:
            removal = removal | cond
        kept = df.filter(~removal)
        # Write first, then decide emptiness from the written files'
        # footer metadata (r14, guide §5): the old emptiness probe
        # (`kept.limit(1).count()`) scanned the location once more
        # before the rewrite scanned it again. An all-rows-matched
        # location writes zero part files; it is then dropped outright
        # — directory gone, like the unconditional arm dropping a
        # fully-aged month — instead of swapped. Crash behavior is
        # unchanged: the tmp dir is debris `recover_partition_swaps`
        # already cleans up.
        tmp = _debris_path(part_dir, ".tmp")
        with parquet_ts_micros(spark):
            (kept.sortWithinPartitions("service", "ts")
             .write.mode("overwrite").options(**LOGS_PARQUET_OPTIONS)
             .parquet(tmp))
        import pyarrow.parquet as _pq

        rows_written = sum(
            _pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows
            for f in os.listdir(tmp) if f.endswith(".parquet"))
        if rows_written == 0:
            shutil.rmtree(part_dir)
            shutil.rmtree(tmp)
            continue
        _swap_partition(part_dir, tmp)
    return [{"days": r["days"], "where": r["where"],
             "months": sorted(r["months"])}
            for r in prepared if r["months"]]


def _ch_expr(expr: str) -> str:
    """Translate a CH expression fragment (TTL GROUP BY keys / SET
    aggregates are written in the dialect, e.g. `toStartOfHour(ts)`,
    `any(msg)`) to Spark SQL via the dialect's statement translator.
    Lazy import: functions.ch_dialect imports this module's siblings
    lazily too, so the layering stays acyclic at import time."""
    from clickhouse_observability_spark.functions.ch_dialect import (
        translate,
    )

    out = translate(f"SELECT {expr} AS __ttl_x")
    body = out.rsplit(" AS __ttl_x", 1)[0]
    return body[len("SELECT "):]


def _read_partition_widened(spark: SparkSession, path: str, month: int):
    """A partition's rows with evolved columns overlaid (the
    compact_partition read shape, shared by the TTL GROUP BY arm).
    Whole-month rewrites need every row of the month in ONE place
    (their group/merge semantics span the month), so a tiered or
    mid-move-split month consolidates first (metadata-only renames;
    sources/tiering.py)."""
    from pyspark.sql import types as T

    from clickhouse_observability_spark.schema import LOGS_SCHEMA
    from clickhouse_observability_spark.sources.schema_evolution import (
        SchemaExt,
    )
    from clickhouse_observability_spark.sources.tiering import (
        consolidate_month,
    )

    part_dir = consolidate_month(path, month)
    ext = SchemaExt(path)
    df = ext.overlay(
        spark.read.schema(
            T.StructType(LOGS_SCHEMA.fields + ext.read_fields())
        ).parquet(part_dir)
    )
    return part_dir, df


def _collapse_partition(
    spark: SparkSession,
    path: str,
    month: int,
    group_by: list[str],
    set_exprs: dict[str, str],
    cutoff: dt.datetime | None = None,
) -> dict:
    """Collapse a partition's aged rows to one row per TTL group —
    CH's TTL GROUP BY merge, done explicitly. Column semantics:

    - bare GROUP BY columns keep the group value;
    - SET columns take their declared aggregate;
    - ts (when grouped through an expression) takes min(ts) — the
      group's bucket-start representative;
    - every other column takes the value of the group's EARLIEST row
      (min_by over (ts, col) — CH's `any` is arbitrary; this engine
      pins it deterministic, a documented strengthening).

    ``cutoff`` splits the boundary month: rows >= cutoff stay raw and
    union back in. The rewrite preserves the (service, ts) sort, the
    zstd codec and the TIMESTAMP_MICROS footer stats."""
    from clickhouse_observability_spark.sources.writer import (
        LOGS_PARQUET_OPTIONS,
        parquet_ts_micros,
    )

    part_dir, df = _read_partition_widened(spark, path, month)
    out_fields = df.schema.fields
    aged = df
    young = None
    if cutoff is not None:
        cut = F.lit(cutoff.replace(tzinfo=None))
        aged = df.filter(F.col("ts") < cut)
        young = df.filter(F.col("ts") >= cut)

    bare = {k.strip().lower() for k in group_by if k.strip().lower() in
            {f.name.lower() for f in out_fields}}
    keys = [
        F.expr(_ch_expr(k)).alias(f"__g{i}") for i, k in enumerate(group_by)
    ]
    aggs = []
    for fld in out_fields:
        c = fld.name
        if c.lower() in bare:
            continue  # comes back from the group key
        if c in set_exprs:
            agg = F.expr(_ch_expr(set_exprs[c]))
        elif c == "ts":
            agg = F.min("ts")
        else:
            agg = F.expr(f"min_by(`{c}`, struct(ts, `{c}`))")
        aggs.append(agg.cast(fld.dataType).alias(c))
    grouped = aged.groupBy(*keys).agg(*aggs)
    sel = []
    for fld in out_fields:
        if fld.name.lower() in bare:
            i = [k.strip().lower() for k in group_by].index(fld.name.lower())
            sel.append(F.col(f"__g{i}").cast(fld.dataType).alias(fld.name))
        else:
            sel.append(F.col(fld.name))
    collapsed = grouped.select(*sel)
    out = collapsed.unionByName(young) if young is not None else collapsed
    tmp = _debris_path(part_dir, ".tmp")
    with parquet_ts_micros(spark):
        (out.repartition(1)
            .sortWithinPartitions("service", "ts")
            .write.mode("overwrite").options(**LOGS_PARQUET_OPTIONS)
            .parquet(tmp))
    _swap_partition(part_dir, tmp)
    return {"month": month}


def _apply_ttl_group_by(
    spark: SparkSession,
    path: str,
    cutoff: dt.datetime,
    cutoff_month: int,
    group_by: list[str],
    set_exprs: dict[str, str],
    exact: bool,
    dry_run: bool,
    refresh_views: bool,
) -> dict:
    """The TTL GROUP BY retention pass: whole aged months collapse
    in full; the boundary month collapses only its aged rows when
    ``exact``. Each month is one independent partition rewrite (the
    same unit of work as a background merge — at 100 TB the N aged
    months are N parallel jobs over their own directories, never a
    global shuffle)."""
    months = _partition_months(path)
    to_collapse = [m for m in months if m < cutoff_month]
    boundary = cutoff_month if (exact and cutoff_month in months) else None
    if dry_run:
        return {"dropped_months": [], "collapsed_months": to_collapse,
                "rewritten": boundary, "dry_run": True}
    work = [(m, None) for m in to_collapse]
    if boundary is not None:
        work.append((boundary, cutoff))
    for m, cut in work:
        _collapse_partition(spark, path, m, group_by, set_exprs, cutoff=cut)
    stale_views: list[str] = []
    if to_collapse or boundary is not None:
        from clickhouse_observability_spark.sources.mutations import (
            _handle_stale_views,
        )
        from clickhouse_observability_spark.sources.writer import LogsTable

        table = LogsTable(spark, path)
        if table.materialized_views:
            stale_views = _handle_stale_views(table, refresh_views)
    return {"dropped_months": [], "collapsed_months": to_collapse,
            "rewritten": boundary, "stale_views": stale_views}


def compact_partition(
    spark: SparkSession,
    path: str,
    month: int,
    target_files: int = 1,
    zorder: list[str] | None = None,
    deduplicate: bool = False,
) -> int:
    """MergeTree-style merge: coalesce a month's small files
    (db.go:50's background merges, done explicitly). Returns the
    number of input files merged.

    `deduplicate`: CH's `OPTIMIZE ... DEDUPLICATE` — drop fully
    identical rows (every column equal) while merging.

    `zorder`: optionally re-cluster the partition along a Morton
    curve over the given columns (`sources/zorder.py`) instead of
    the (service, ts) lexicographic order — after this, BOTH a
    service-only and a time-only predicate prune files/row-groups
    via footer stats, where the lexicographic layout prunes only
    its leading key. The natural background-merge hook for layout
    optimization (Delta's OPTIMIZE ZORDER runs at the same point in
    the lifecycle)."""
    from clickhouse_observability_spark.sources.writer import (
        LOGS_PARQUET_OPTIONS,
        parquet_ts_micros,
    )

    from clickhouse_observability_spark.sources.tiering import (
        consolidate_month,
    )

    recover_partition_swaps(path)  # see apply_retention
    # a tiered month compacts IN PLACE on its volume (CH: merges stay
    # on the part's disk); a mid-move split consolidates first so the
    # merge covers every file of the month
    part_dir = consolidate_month(path, month)
    files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    # widened read + overlay: evolved columns (ALTER TABLE ADD
    # COLUMN) are MATERIALIZED into the compacted files instead of
    # silently dropped (CH: merges materialize column defaults)
    from pyspark.sql import types as T

    from clickhouse_observability_spark.schema import LOGS_SCHEMA
    from clickhouse_observability_spark.sources.schema_evolution import (
        SchemaExt,
    )

    ext = SchemaExt(path)
    df = ext.overlay(
        spark.read.schema(
            T.StructType(LOGS_SCHEMA.fields + ext.read_fields())
        ).parquet(part_dir)
    )
    if deduplicate:
        # CH `OPTIMIZE ... DEDUPLICATE`: drop FULLY identical rows
        # during the merge (all columns equal). One extra shuffle on
        # the row hash inside the partition being rewritten anyway.
        df = df.dropDuplicates()
    tmp = _debris_path(part_dir, ".tmp")
    if zorder:
        from clickhouse_observability_spark.sources.zorder import zvalue

        with parquet_ts_micros(spark):
            (
                df.withColumn("__z", zvalue(df, zorder))
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
                .write.mode("overwrite")
                .options(**LOGS_PARQUET_OPTIONS)
                .parquet(tmp)
            )
    else:
        with parquet_ts_micros(spark):
            (
                df.repartition(target_files)
                .sortWithinPartitions("service", "ts")
                .write.mode("overwrite")
                .options(**LOGS_PARQUET_OPTIONS)
                .parquet(tmp)
            )
    _swap_partition(part_dir, tmp)
    return len(files)

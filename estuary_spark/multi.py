"""Multi-table sync: one change log carrying many source tables, routed to
per-table LakeTables with regex filtering and SDA-style renaming.

The reference syncs many MySQL tables per task: every binlog event is keyed
by ``$db@$tb`` (``mysql/lifecycle/package.scala:100`` in /root/reference),
task configs whitelist/blacklist tables by regex
(``MysqlSourceManagerImp.scala:117-120`` — ``filterPattern`` /
``filterBlackPattern``, SURVEY.md F2), and the SDA variant renames source
tables to destination names
(``CanalEntry2RowDataInfoMappingFormat4Sda.scala:37-44``, SURVEY.md T4).

Spark re-expression:

* the route is a narrow projection (``rlike`` filters + a literal-map
  rename) — no shuffle, fully pushed into the scan stage;
* each destination table is an independent ``LakeTable`` under
  ``target_table_dir/<dst>`` with its own schema, buckets, applied-range
  bookkeeping, and exactly-once guarantees (apply_batch is unchanged);
* one micro-batch fans out to the tables present in it; the routed batch
  is persisted once so the per-table applies share a single source scan;
* both drivers run the one sync loop of ``runner.py`` (planned LSN ranges
  or ``foreachBatch``) with one per-batch step (``_sync_step``: table ops,
  then the fan-out), and every table's apply ends in the same
  ``finish_batch`` as a single-table sync — lineage, the MoR compaction
  policy, stats.

Scale notes (100 TB): the fan-out loop is per *table*, not per row — at
T tables a batch costs T apply jobs over one cached scan; tables absent
from a batch cost nothing. Hot tables can be given their own task (the
reference's model) by running several configs with disjoint filters.
"""

from __future__ import annotations

import os
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from estuary_spark.apply import apply_batch
from estuary_spark.config import SyncConfig
from estuary_spark.lineage import append_lineage  # noqa: F401 — unused here; perfbench/tracing.py wraps it
from estuary_spark.runner import (
    finish_batch,
    new_tally,
    open_or_create_table,
    plan_batches,  # noqa: F401 — unused here; perfbench/tracing.py wraps it
    run_planned,
    run_stream,
)
from estuary_spark.sources.log_source import LogSource, ParquetLogSource
from estuary_spark.tables import BUCKET_COL, LakeTable

DST_COL = "_dst_table"

# Table-level structured DDL ops carried in the change log (the analogue
# of estuary's drop/truncate DDL handling, MysqlTableSchemaHolder.scala:
# 35-101 in /root/reference — there parsed from SQL by ANTLR, here typed
# events like every other op, per SURVEY.md §7.5's structured-DDL design).
OP_TRUNCATE = "truncate"
OP_DROP_TABLE = "drop_table"
TABLE_OPS = (OP_TRUNCATE, OP_DROP_TABLE)


def _route_name(cfg: SyncConfig, src_name: str) -> str:
    """Destination table name for a source table name (the T4 rename map,
    applied to table names parsed out of DDL text)."""
    return cfg.table_renames.get(src_name, src_name) if cfg.table_renames else src_name


def _ddl_table_allowed(cfg: SyncConfig, src_name: str) -> bool:
    """The F2 white/blacklist applied to table names parsed out of DDL
    TEXT. Row events pass through ``route_tables``' rlike filters, but a
    SQL-string DDL event names its table inside the statement — without
    this gate a ``TRUNCATE TABLE db2.audit`` arriving in a sync filtered
    to ``^db1\\.`` would create a fence (and potentially a destination)
    for a table this sync does not own (ADVICE r4). ``re.search``
    matches Spark's ``rlike`` find-anywhere semantics."""
    if cfg.table_filter and not re.search(cfg.table_filter, src_name):
        return False
    if cfg.table_blacklist and re.search(cfg.table_blacklist, src_name):
        return False
    return True


def _fence_old_name(
    cfg: SyncConfig, tables: dict, old_dir: str, old_dst: str, new_dst: str, at: int, m_src: dict
) -> None:
    """Ensure the rename's OLD name carries its tombstone fence
    (``table_ops_lsn`` at the rename LSN + dropped marker). Idempotent and
    crash-recoverable: if the old name is missing (driver died after the
    directory move but before the tombstone landed — ADVICE r4) the
    tombstone is created from the moved table's manifest; if it exists but
    is unfenced (straggler events recreated it) it is truncated and fenced
    at the rename LSN."""
    from pyspark.sql import types as T

    t = LakeTable(old_dir)
    if t.exists():
        if int(t.properties().get("table_ops_lsn", -1)) >= at:
            return  # fence already in place
        t.truncate(
            at_lsn=at, extra_properties={"dropped_at_lsn": int(at), "renamed_to": new_dst}
        )
        tables.pop(old_dst, None)
        return
    tomb = LakeTable.create(
        old_dir,
        T.StructType.fromJson(m_src["schema"]),
        n_buckets=int(m_src["n_buckets"]),
        key_cols=list(m_src["key_cols"]),
        shard_buckets=int(m_src.get("shard_buckets", 0)) or None,
    )
    tomb.truncate(
        at_lsn=at, extra_properties={"dropped_at_lsn": int(at), "renamed_to": new_dst}
    )


def _rename_table(cfg: SyncConfig, tables: dict, old_dst: str, new_dst: str, at: int) -> None:
    """Lower ``RENAME TABLE a TO b``: the destination directory moves so
    existing data follows the rename; subsequent events arrive under the
    new source name and route there naturally. The OLD name is left as a
    fenced empty tombstone table (``table_ops_lsn`` + dropped marker), so
    replayed or straggler events carrying the old name at/below the
    rename's LSN cannot recreate pre-rename state — replay from LSN 0
    converges to the post-rename layout. The tombstone is physically
    removed by ``maintenance.purge_dropped_tables``. Idempotent AND
    crash-recoverable: if the new destination already exists the move
    already happened, but the old-name fence is still (re)asserted — a
    driver that died between the directory move and the tombstone write
    must not leave the old name unfenced on replay (ADVICE r4)."""
    import shutil

    old_dir = os.path.join(cfg.target_table_dir, old_dst)
    new_dir = os.path.join(cfg.target_table_dir, new_dst)
    t_old = LakeTable(old_dir)
    t_new = LakeTable(new_dir)
    if t_new.exists():
        # replay after the move — or recovery from the move/tombstone
        # crash window: the fence must exist either way
        _fence_old_name(cfg, tables, old_dir, old_dst, new_dst, at, t_new.manifest())
        return
    if not t_old.exists():
        return  # nothing to carry (rename of a table never seen here)
    m_old = t_old.manifest()
    shutil.move(old_dir, new_dir)
    tables.pop(old_dst, None)
    tables.pop(new_dst, None)
    LakeTable(new_dir).commit_metadata(
        extra_properties={"renamed_from": old_dst, "renamed_at_lsn": int(at)}
    )
    _fence_old_name(cfg, tables, old_dir, old_dst, new_dst, at, m_old)


def _add_columns(
    cfg: SyncConfig, tables: dict, dst: str, cols: list, at: int, batch: DataFrame
) -> None:
    """Lower ``ALTER TABLE .. ADD COLUMN``: additive schema evolution plus
    a ``column_added_lsns`` record. The record makes the new column's
    semantics LSN-exact and batch-boundary-independent: events at or below
    the DDL's LSN read the column as NULL (pre-DDL binlog rows physically
    had no such column — a connector back-filling values there is noise),
    enforced as a literal mask in the fan-out (see ``_apply_fanout``). A
    replay therefore converges to the identical final state regardless of
    how batches were cut. A destination that doesn't exist yet is created
    from the batch's (envelope-stripped) schema first, so an ADD COLUMN
    landing in the same micro-batch as the table's first row events —
    ops run before the fan-out — still applies."""
    from pyspark.sql import types as T

    t = _open_dst(cfg, dst, batch)
    added = dict(t.properties().get("column_added_lsns", {}))
    for name, _dtype in cols:
        added[name] = max(int(at), int(added.get(name, -1)))
    t.evolve_schema(
        T.StructType([T.StructField(n, dt, True) for n, dt in cols]),
        extra_properties={"column_added_lsns": added},
    )
    tables.pop(dst, None)  # reopen so the fan-out sees the new schema


def _create_table(
    cfg: SyncConfig, tables: dict, dst: str, columns: list, key_cols: list
) -> None:
    """Lower ``CREATE TABLE t (cols..., PRIMARY KEY (...))``: an explicit
    create carrying the statement's parsed columns and key columns —
    the one DDL kind that can give a destination a DIFFERENT merge
    identity than the task default (the reference reads the PK out of
    the parsed statement the same way, ``Parser.scala:81-141`` in
    /root/reference). Replay-idempotent: an existing destination wins.
    A parsed PK column missing from the column list falls back to the
    task's key_cols (a poison statement must not create an unmergeable
    table)."""
    from pyspark.sql import types as T

    tdir = os.path.join(cfg.target_table_dir, dst)
    if LakeTable(tdir).exists():
        return  # replay, or row events already created it
    names = [n for n, _ in columns]
    # all-or-nothing: a PK that only PARTIALLY matches the parsed columns
    # (a column clause the shim failed to parse) must not silently narrow
    # the merge identity — LWW under a narrower key collapses distinct
    # rows. Fall back to the task key instead.
    keys = (
        list(key_cols)
        if key_cols and all(k in names for k in key_cols)
        else list(cfg.key_cols)
    )
    LakeTable.create(
        tdir,
        T.StructType([T.StructField(n, dt, True) for n, dt in columns]),
        n_buckets=cfg.n_buckets,
        key_cols=keys,
    )
    tables.pop(dst, None)


def _create_table_like(cfg: SyncConfig, tables: dict, dst: str, like_dst: str) -> None:
    """Lower ``CREATE TABLE t LIKE s``: clone s's user schema, key
    columns, and layout (``Parser.scala:81-141`` handles LIKE by copying
    the source table's schema). Skips when the source is unknown to this
    sync (log-and-skip, like every unsupported DDL)."""
    from pyspark.sql import types as T

    from estuary_spark.tables import BUCKET_COL, DELETED_COL, LSN_COL

    tdir = os.path.join(cfg.target_table_dir, dst)
    src = LakeTable(os.path.join(cfg.target_table_dir, like_dst))
    if LakeTable(tdir).exists() or not src.exists():
        return
    m = src.manifest()
    sys_cols = {LSN_COL, DELETED_COL, BUCKET_COL}
    user = T.StructType(
        [f for f in T.StructType.fromJson(m["schema"]).fields if f.name not in sys_cols]
    )
    LakeTable.create(
        tdir,
        user,
        n_buckets=int(m["n_buckets"]),
        key_cols=list(m["key_cols"]),
        shard_buckets=int(m.get("shard_buckets", 0)) or None,
    )
    tables.pop(dst, None)


def _drop_columns(
    cfg: SyncConfig, tables: dict, dst: str, names: list, at: int, batch: DataFrame
) -> None:
    """Lower ``ALTER TABLE .. DROP COLUMN`` as metadata-only: storage
    stays additive (never an O(table) rewrite at 100 TB), reads mask the
    column NULL from the drop LSN (tables._apply_column_semantics), and
    the fan-out masks post-drop event noise the same way. Dropping a key
    column is log-and-skip (the merge identity cannot vanish mid-log —
    the reference's schema holder would desync the same way). A
    destination not seen yet is created from the batch schema first so
    the drop's bookkeeping lands (ops run before the fan-out)."""
    t = _open_dst(cfg, dst, batch)
    dropped = t.properties().get("column_dropped_lsns", {})
    for name in names:
        if int(dropped.get(name, -1)) >= int(at):
            continue  # replayed batch: drop already recorded
        try:
            t.drop_column(name, at_lsn=int(at))
        except ValueError:
            pass  # key column: log-and-skip (see docstring)
    tables.pop(dst, None)


def _rename_columns(
    cfg: SyncConfig, tables: dict, dst: str, renames: list, at: int, batch: DataFrame
) -> None:
    """Lower ``ALTER TABLE .. CHANGE old new`` / ``RENAME COLUMN``:
    metadata-only — the manifest field renames and the old name joins the
    column's alias list, so files written before the rename keep reading
    via scan-time coalesce (tables._schema_with_aliases) and replayed
    pre-rename events unify in the fan-out. VERDICT r4: the previous shim
    surfaced CHANGE as modify-only and silently lost the rename mapping."""
    t = _open_dst(cfg, dst, batch)
    for old, new in renames:
        t.rename_column(old, new, at_lsn=int(at))
    tables.pop(dst, None)


def _apply_table_ops(batch: DataFrame, cfg: SyncConfig, tables: dict) -> DataFrame:
    """Execute the batch's table-level ops — structured events
    (op in ``TABLE_OPS``) AND SQL-string DDL events (op == ``cfg.ddl_op``
    carrying the statement in ``cfg.ddl_sql_col``; parsed by
    ``estuary_spark.ddl``, the shim for the reference's ANTLR DDL path,
    ``SchemaChange.java:70-110`` / ``Parser.scala:29-64``) — and return
    the batch with op events and superseded row events removed.

    Semantics: ops apply in LSN order. For truncate/drop the LATEST op
    per destination wins and row events at or below its LSN are
    superseded (they describe pre-op state). ``truncate`` commits an
    empty snapshot keeping applied-range bookkeeping + an op watermark
    (replay-safe); ``drop_table`` is a LOGICAL drop — the same empty
    snapshot plus a ``dropped_at_lsn`` marker, so the ``table_ops_lsn``
    fence survives and a pre-drop straggler event arriving in a later
    micro-batch (the streaming front-end delivers file batches in
    modification-time order, not LSN order) cannot resurrect stale state;
    physical removal is deferred to ``maintenance.purge_dropped_tables``.
    ``ADD COLUMN`` evolves additively with an LSN-exact NULL mask
    (``_add_columns``); ``RENAME TABLE`` moves the destination
    (``_rename_table``); ``MODIFY COLUMN`` and unparseable statements are
    deliberate no-ops (type changes are handled when the DATA changes,
    per the ``on_type_change`` policy — apply.py). Driver cost is
    O(#op events); the row-event filter is a literal predicate pushed
    into the scan."""
    is_op = F.col(cfg.op_col).isin(*TABLE_OPS) | (F.col(cfg.op_col) == cfg.ddl_op)
    sql_col = (
        F.col(cfg.ddl_sql_col) if cfg.ddl_sql_col in batch.columns else F.lit(None)
    )
    rows = (
        batch.filter(is_op)
        .select(
            F.col(DST_COL).alias("dst"),
            F.col(cfg.op_col).alias("op"),
            F.col(cfg.lsn_col).alias("at"),
            sql_col.cast("string").alias("sql"),
        )
        .collect()
    )
    if not rows:
        return batch
    # LSN order, sorted on the driver (op rows are few; a Spark orderBy
    # costs a sampling job and a sort job on every batch, ops or not).
    # Ties on `at` (a real binlog never produces them; a synthetic or
    # replayed feed can) need a deterministic secondary key — kind-ranked
    # dependency order is applied after parsing (see below)
    rows.sort(key=lambda r: (r["at"], r["sql"] or ""))

    from estuary_spark.ddl import parse_ddl

    # lower to (dst, kind, at, extra) in LSN order; DDL table names route
    # through the same rename map as the event stream (T4)
    events: list[tuple] = []
    for r in rows:
        if r["op"] in TABLE_OPS:
            events.append((r["dst"], r["op"], int(r["at"]), None))
            continue
        p = parse_ddl(r["sql"] or "")
        kind = p["op"]
        if "table" in p and not _ddl_table_allowed(cfg, p["table"]):
            continue  # DDL for a table this sync does not own (F2)
        if kind in (OP_TRUNCATE, OP_DROP_TABLE):
            events.append((_route_name(cfg, p["table"]), kind, int(r["at"]), None))
        elif kind in ("add_column", "drop_column", "rename_column", "alter_table"):
            # every ALTER result carries "actions" in clause order —
            # a mixed statement lowers each clause as its own event
            dst = _route_name(cfg, p["table"])
            for akind, payload in p.get("actions", []):
                if akind != "modify_column":  # modify: deliberate no-op
                    events.append((dst, akind, int(r["at"]), payload))
        elif kind == "create_table":
            events.append(
                (_route_name(cfg, p["table"]), kind, int(r["at"]),
                 (p["columns"], p["key_cols"]))
            )
        elif kind == "create_table_like":
            events.append(
                (_route_name(cfg, p["table"]), kind, int(r["at"]),
                 _route_name(cfg, p["like"]))
            )
        elif kind == "rename_table":
            events.append(
                (_route_name(cfg, p["table"]), kind, int(r["at"]), _route_name(cfg, p["to"]))
            )
        # modify_column / unsupported: deliberate no-op (see docstring)

    # stable dependency ranking WITHIN one LSN: creates land before ops
    # that may reference the created table (CREATE t; CREATE u LIKE t at
    # one LSN), column ops before table-level fences. Python's sort is
    # stable, so distinct LSNs keep their (deterministic) collected order.
    _rank = {
        "create_table": 0, "create_table_like": 1,
        "add_column": 2, "rename_column": 2, "drop_column": 2,
        "rename_table": 3, OP_TRUNCATE: 4, OP_DROP_TABLE: 4,
    }
    events.sort(key=lambda e: (e[2], _rank.get(e[1], 5)))

    fences: dict[str, int] = {}  # dst -> latest truncate/drop LSN this batch
    for dst, kind, at, extra in events:
        if kind == "add_column":
            _add_columns(cfg, tables, dst, extra, at, batch)
            continue
        if kind == "drop_column":
            _drop_columns(cfg, tables, dst, extra, at, batch)
            continue
        if kind == "rename_column":
            _rename_columns(cfg, tables, dst, extra, at, batch)
            continue
        if kind == "create_table":
            _create_table(cfg, tables, dst, extra[0], extra[1])
            continue
        if kind == "create_table_like":
            _create_table_like(cfg, tables, dst, extra)
            continue
        if kind == "rename_table":
            _rename_table(cfg, tables, dst, extra, at)
            continue
        t = LakeTable(os.path.join(cfg.target_table_dir, dst))
        fences[dst] = max(at, fences.get(dst, -1))
        if not t.exists():
            continue  # op before any row event created the table
        if int(t.properties().get("table_ops_lsn", -1)) >= at:
            continue  # replayed batch: op already executed
        if kind == OP_DROP_TABLE:
            t.truncate(at_lsn=at, extra_properties={"dropped_at_lsn": at})
        else:
            t.truncate(at_lsn=at)

    # remove op events themselves plus row events superseded by a
    # truncate/drop (literal predicates, pushed into the scan)
    cond = is_op
    for dst, at in fences.items():
        cond = cond | ((F.col(DST_COL) == dst) & (F.col(cfg.lsn_col) <= at))
    return batch.filter(~cond)


def route_tables(df: DataFrame, cfg: SyncConfig) -> DataFrame:
    """Apply the F2 regex whitelist/blacklist and the T4 rename map.

    Returns the filtered DataFrame with a ``_dst_table`` column naming the
    destination table. Pure narrow ops — Catalyst pushes the rlike filters
    into the scan.
    """
    if not cfg.table_col:
        raise ValueError("route_tables requires cfg.table_col (multi-table mode)")
    c = F.col(cfg.table_col)
    if cfg.table_filter:
        df = df.filter(c.rlike(cfg.table_filter))
    if cfg.table_blacklist:
        df = df.filter(~c.rlike(cfg.table_blacklist))
    if cfg.table_renames:
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(cfg.table_renames.items()) for x in kv]
        )
        # try_element_at: NULL (not an ANSI error) for unmapped tables
        dst = F.coalesce(F.try_element_at(mapping, c), c)
    else:
        dst = c
    return df.withColumn(DST_COL, dst)


def _apply_fanout(
    spark: SparkSession,
    batch: DataFrame,
    cfg: SyncConfig,
    tables: dict,
    stats: dict,
    batch_id: int,
    offset_range,
) -> list:
    """Fan one routed micro-batch out to its destination tables, applying
    up to ``cfg.multi_apply_parallelism`` tables CONCURRENTLY (driver
    thread pool); each table's apply is followed by the shared
    ``finish_batch`` (lineage, MoR compaction, its ``stats[dst]`` tally).
    Returns ``[(dst, sub_cfg, BatchResult), ...]``.

    Why concurrency is safe here: destinations are disjoint LakeTables
    (per-table snapshots, applied ranges, schema), commits are optimistic
    put-if-absent (tables.py), and the shared input is one persisted
    DataFrame that each task only filters. Why it matters at the
    reference's shape: estuary runs its 23 per-table batcher->sinker
    pipelines concurrently (``Mysql2MysqlTaskInfoManager.scala:178`` in
    /root/reference); a serial loop pays T x the fixed per-apply driver
    planning cost (~1.5 s/batch, BENCH/NOTES.md) even when executors are
    idle — wall should be ~max(table) not sum(tables). Each worker tags
    its jobs with a scheduler-pool property so a FAIR-scheduled session
    (``spark.scheduler.mode=FAIR``) shares executors evenly; under the
    default FIFO scheduler the jobs still interleave whenever the head
    job leaves cores idle (always true for the driver-side planning
    phase). Table creation and table-level ops stay in the caller's
    thread — only per-table applies run concurrently.
    """
    from estuary_spark.config import PARTITION_TRANSACTION

    if cfg.partition_strategy == PARTITION_TRANSACTION:
        # serialized fan-out applies tables in FIRST-EVENT-LSN order, the
        # closest per-batch approximation of the reference's one global
        # stream (its TRANSACTION level routes every table through one
        # actor in binlog order). Exact guarantee: strict LSN order WITHIN
        # each table (order_for_strategy) + tables sequenced by their
        # batch-local LSN floor + batches themselves are contiguous LSN
        # ranges applied serially — a cross-table observer sees per-batch
        # granularity, not per-event interleaving (that would require one
        # single-table apply over the union, forfeiting the per-table
        # exactly-once bookkeeping).
        dsts = [
            r[0]
            for r in batch.groupBy(DST_COL)
            .agg(F.min(cfg.lsn_col).alias("_lo"))
            .orderBy("_lo", DST_COL)
            .collect()
        ]
    else:
        dsts = sorted(r[0] for r in batch.select(DST_COL).distinct().collect())
    for dst in dsts:
        stats.setdefault(dst, new_tally())
        if dst not in tables:
            tables[dst] = _open_dst(cfg, dst, batch)

    def one(dst: str):
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "multi-apply")
        scfg = _sub_cfg(cfg, dst)
        sub = batch.filter(F.col(DST_COL) == dst).drop(DST_COL, cfg.table_col)
        # fence late pre-truncate/pre-drop events arriving in later
        # batches: a truncated key must not be resurrected by a straggler
        # below the op watermark (literal predicate, pushed into the scan)
        # raw snapshot: properties + key_cols without materializing the
        # file inventory (O(1) metadata per table per batch, not O(shards))
        m = tables[dst]._raw_manifest()
        props = m.get("properties", {})
        fence = int(props.get("table_ops_lsn", -1))
        if fence >= 0:
            sub = sub.filter(F.col(cfg.lsn_col) > fence)
        # unify RENAMED column names: replayed/pre-rename events still
        # carry the old name — coalesce them into the current one so
        # schema reconciliation cannot re-add the old name as a new
        # column (see _rename_columns / tables.rename_column). A RETIRED
        # alias (name re-used by a later ADD COLUMN) only unifies events
        # at or below its retirement LSN; above it the column is the NEW
        # column and stays (LSN-exact, batch-boundary-independent)
        retired = props.get("alias_retired_lsns", {})
        real_cols = set()
        from pyspark.sql import types as T

        if "schema" in m:
            real_cols = set(T.StructType.fromJson(m["schema"]).names)
        for new, olds in props.get("column_aliases", {}).items():
            present = [o for o in olds if o in sub.columns]
            if not present:
                continue
            srcs = ([F.col(new)] if new in sub.columns else []) + [
                F.col(o)
                if o not in retired
                else F.when(F.col(cfg.lsn_col) <= int(retired[o]), F.col(o))
                for o in present
            ]
            sub = sub.withColumn(new, F.coalesce(*srcs))
            sub = sub.drop(*[o for o in present if o not in real_cols])
        # LSN-exact mask for DDL-added columns: events at/below the ADD
        # COLUMN's LSN read the column as NULL (see multi._add_columns) —
        # a literal when() expression, JVM-side, batch-independent
        added = props.get("column_added_lsns", {})
        for c, added_at in added.items():
            if c in sub.columns:
                sub = sub.withColumn(
                    c, F.when(F.col(cfg.lsn_col) > int(added_at), F.col(c))
                )
        # DROPPED columns: events above the drop LSN carrying a value are
        # connector noise (the source column no longer exists there);
        # values at/below the drop stay stored for time travel — current
        # reads mask them (tables._apply_column_semantics)
        for c, dl in props.get("column_dropped_lsns", {}).items():
            if int(dl) >= int(added.get(c, -1)) and c in sub.columns:
                sub = sub.withColumn(
                    c, F.when(F.col(cfg.lsn_col) <= int(dl), F.col(c))
                )
        # a CREATE TABLE statement may have declared a PK different from
        # the task default — the table's manifest is the merge identity
        mk = m.get("key_cols")
        if mk and tuple(mk) != tuple(scfg.key_cols):
            from dataclasses import replace

            scfg = replace(scfg, key_cols=tuple(mk))
        res = apply_batch(spark, tables[dst], sub, scfg, batch_id, offset_range=offset_range)
        finish_batch(spark, tables[dst], scfg, res, stats[dst])
        return dst, scfg, res

    workers = _fanout_workers(cfg, len(dsts))
    if workers == 1 or len(dsts) <= 1:
        return [one(d) for d in dsts]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers, thread_name_prefix="multi-apply") as ex:
        return [f.result() for f in [ex.submit(one, d) for d in dsts]]


def _fanout_workers(cfg: SyncConfig, n_dsts: int) -> int:
    """Fan-out concurrency under the P1 strategy ladder: TRANSACTION is
    the reference's strictest level — ONE global total order across every
    table of the task (README.md:68-90 in /root/reference), so the
    per-table applies run serially in LSN-batch order; every other level
    applies tables concurrently (DATABASE_TABLE keeps order WITHIN a
    table — each apply already folds its table through one sorted
    partition, see apply.order_for_strategy — tables stay parallel)."""
    from estuary_spark.config import PARTITION_TRANSACTION

    if cfg.partition_strategy == PARTITION_TRANSACTION:
        return 1
    return max(1, min(int(cfg.multi_apply_parallelism), n_dsts or 1))


def _open_dst(cfg: SyncConfig, dst: str, batch: DataFrame) -> LakeTable:
    """Open destination ``dst``, creating it from the routed batch's
    envelope-stripped schema if it does not exist yet."""
    sub = batch.filter(F.col(DST_COL) == dst).drop(DST_COL, cfg.table_col)
    return open_or_create_table(batch.sparkSession, _sub_cfg(cfg, dst), sub)


def _sub_cfg(cfg: SyncConfig, dst: str) -> SyncConfig:
    """Per-destination-table view of the task config: the source-table and
    routing columns join the envelope so they never enter the target
    schema; checkpointing stays global (the multi runner owns it)."""
    from dataclasses import replace

    return replace(
        cfg,
        target_table_dir=os.path.join(cfg.target_table_dir, dst),
        lineage_dir=os.path.join(cfg.lineage_dir, dst) if cfg.lineage_dir else None,
        checkpoint_path=None,
        envelope_cols=tuple(dict.fromkeys([*cfg.envelope_cols, cfg.table_col, DST_COL])),
        table_col=None,
        table_filter=None,
        table_blacklist=None,
        table_renames={},
    )


def _sync_step(cfg: SyncConfig, tables: dict, stats: dict):
    """The multi-table per-batch step, shared by both multi drivers: the
    routed batch is persisted once so the table ops and every per-table
    apply share a single source scan; table-level ops run first (driver
    O(#tables with ops); their collect also materializes the cache), then
    the concurrent per-table fan-out (see ``_apply_fanout``). A file
    batch carries no planned range (``offset_range=None``), so replay
    safety rests on each table's wins==0 no-op detection."""

    def step(spark: SparkSession, routed: DataFrame, batch_id: int, offset_range) -> None:
        raw = routed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            batch = _apply_table_ops(raw, cfg, tables)
            _apply_fanout(spark, batch, cfg, tables, stats, batch_id, offset_range)
        finally:
            raw.unpersist()

    return step


def run_sync_multi(
    spark: SparkSession,
    cfg: SyncConfig,
    events_per_batch: int = 50_000,
    max_batches: int | None = None,
    source: LogSource | None = None,
) -> dict:
    """Run a multi-table sync task to the end of the log.

    Batches are planned globally over the (filtered) log's LSN space, so
    one batch = one contiguous offset range across all tables — the
    reference's transaction-boundary dispatch per task. Within a batch the
    routed events fan out to each destination table's own atomic
    merge-apply; per-table applied-range bookkeeping keeps replay
    exactly-once per table.

    Returns {"tables": {dst: {"batches_run": n, "rows_upserted": n,
    "rows_deleted": n}}, "batches": n, "last_lsn": lsn}.
    """
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    log_df = route_tables(source.read_batch(spark), cfg)
    per_table: dict[str, dict] = {}
    n, last_lsn = run_planned(
        spark, cfg, source, log_df, None, events_per_batch, max_batches,
        _sync_step(cfg, {}, per_table),
    )
    return {"tables": per_table, "batches": n, "last_lsn": last_lsn}


def run_sync_streaming_multi(
    spark: SparkSession,
    cfg: SyncConfig,
    checkpoint_location: str,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    processing_time: str | None = None,
    source: LogSource | None = None,
) -> dict:
    """Structured Streaming front-end for the multi-table task: one
    readStream over the log, each micro-batch routed and fanned out to the
    per-table LakeTables inside ``foreachBatch`` (the reference's natural
    shape — one binlog stream feeding many tables). File batches arrive in
    modification-time order, so exactly-once rests on each table's wins==0
    no-op detection (see streaming/runner.py), not range containment.
    With ``available_now=False`` the running query comes back as
    ``"query"``, as in ``run_sync_streaming``.

    Returns {"batches": n, "tables": {dst: {"batches_run": n,
    "rows_upserted": n, "rows_deleted": n}}}.
    """
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    per_table: dict[str, dict] = {}
    step = _sync_step(cfg, {}, per_table)
    return run_stream(
        spark, source, checkpoint_location, max_files_per_trigger, available_now,
        processing_time,
        lambda sess, df, batch_id, rng: step(sess, route_tables(df, cfg), batch_id, rng),
        lambda n: {"batches": n, "tables": per_table},
    )


def read_final_state_multi(spark: SparkSession, cfg: SyncConfig) -> DataFrame:
    """Union of every destination table's final state, tagged with
    ``_dst_table`` (columns are unioned by name; tables missing a column
    read it as NULL)."""
    root = cfg.target_table_dir
    dsts = sorted(
        d
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if LakeTable(os.path.join(root, d)).exists()
    )
    if not dsts:
        raise FileNotFoundError(
            f"no destination tables under {root!r} — either no sync has run "
            "yet or the table filter/blacklist matched nothing"
        )
    out = None
    for dst in dsts:
        t = LakeTable(os.path.join(root, dst))
        df = t.read(spark).drop(BUCKET_COL).withColumn(DST_COL, F.lit(dst))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def read_changes_multi(
    spark: SparkSession,
    cfg: SyncConfig,
    start_lsn: int,
    end_lsn: int | None = None,
    **kw,
) -> DataFrame:
    """Net change feed across every destination table of a multi-table
    sync, tagged with ``_dst_table`` — one subscription surface for a
    consumer mirroring the whole routed set (estuary routes all tables of
    one task into one Kafka topic keyed ``$db@$tb@pk``,
    ``mysql/lifecycle/package.scala:100-131``; here the per-table feeds
    union by name, with the same per-commit LSN-range pruning each table
    provides). The global LSN order is shared — the multi-table runner
    plans batches over one log — so one ``start_lsn`` is a consistent
    position for every table."""
    root = cfg.target_table_dir
    dsts = sorted(
        d
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if LakeTable(os.path.join(root, d)).exists()
    )
    if not dsts:
        raise FileNotFoundError(
            f"no destination tables under {root!r} — either no sync has run "
            "yet or the table filter/blacklist matched nothing"
        )
    out = None
    for dst in dsts:
        ch = (
            LakeTable(os.path.join(root, dst))
            .read_changes(spark, start_lsn, end_lsn=end_lsn, **kw)
            .withColumn(DST_COL, F.lit(dst))
        )
        out = ch if out is None else out.unionByName(ch, allowMissingColumns=True)
    return out

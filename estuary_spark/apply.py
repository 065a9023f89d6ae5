"""apply_batch — one micro-batch of the CDC merge-apply pipeline.

This is the Spark re-expression of estuary's steady-state data path
(SURVEY.md §3.2): fetch -> route -> transform -> buffer -> JDBC apply
becomes, inside one micro-batch:

    batch_df (one LSN range of the change log)
      -> recommit check against snapshot properties      (C4 exactly-once)
      -> schema reconciliation / additive evolution      (D1-D5 analogue)
      -> salted LWW reduce to one winner per key         (P4/P6)
      -> bucket routing  pmod(xxhash64(conv_id), N)      (P2 consistent hash)
      -> bucket-pruned MERGE join against the target     (T2 `replace into`)
      -> atomic snapshot commit w/ fused offset range    (B2+C4)
      -> per-bucket lineage rows                         (M1)

Scale notes (100 TB / 10^10 events):
  * the target side of the merge reads ONLY touched buckets (file-pruned
    via the manifest) — write amplification is bounded by batch key
    spread, not table size;
  * the changes side after LWW is at most one row per distinct key in the
    batch — usually tiny vs the target, so AQE picks a broadcast or
    shuffled hash join; both sides are hash-partitioned on the same key;
  * everything is declarative DataFrame code — whole-stage codegen, no
    Python in the hot path.
"""

from __future__ import annotations

import time
import dataclasses
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from estuary_spark.config import (
    PARTITION_TABLE,
    PARTITION_TRANSACTION,
    SyncConfig,
)
from estuary_spark.operators.lww import lww_order, lww_reduce
from estuary_spark.tables import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    bucket_expr,
)

# a routed batch's lineage read is pruned to its touched buckets from this
# bucket count on (see _apply_mor)
MOR_PRUNE_BUCKETS = 256


def _tick(label: str, t0: float, acc: dict) -> float:
    """Phase boundary: accumulates into ``acc`` (the M3 cost profile
    returned on every BatchResult and recorded in the commit's
    ``last_batch`` properties — estuary's per-stage cost instrumentation,
    ``PowerAdapter.scala`` counters analogue)."""
    now = time.time()
    acc[label] = round(acc.get(label, 0.0) + (now - t0) * 1000)
    return now


def order_for_strategy(changes: DataFrame, cfg: SyncConfig) -> DataFrame:
    """P1: the partition-strategy consistency/parallelism ladder
    (``bean/key/PartitionStrategy.java:8-33`` in /root/reference;
    README.md:68-90 documents MOD >= PRIMARY_KEY >= DATABASE_TABLE >>
    TRANSACTION — estuary trades order guarantees for parallelism because
    its sinks replay events imperatively, so arrival order IS its
    correctness).

    Spark re-expression: the LWW merge is ORDER-INSENSITIVE (the winner
    is determined by ``lww_order``, not arrival order), so MOD and
    PRIMARY_KEY keep the default fully-parallel hash-exchange plan and
    still deliver TRANSACTION-level consistency of the FINAL STATE.
    DATABASE_TABLE and TRANSACTION additionally honor the reference's
    literal execution contract — every event of the table flows through
    ONE LSN-sorted partition (a deliberate parallelism sacrifice, exactly
    as the reference documents: use it only when a downstream observer of
    the raw applied stream needs total order; TRANSACTION additionally
    serializes the multi-table fan-out — see multi._fanout_workers).
    MOD's round-robin modulo is subsumed by the hash exchange: both mean
    "spread freely"."""
    if cfg.partition_strategy in (PARTITION_TABLE, PARTITION_TRANSACTION):
        return changes.repartition(1).sortWithinPartitions("lsn")
    return changes


def _apply_mor(
    spark: SparkSession,
    table: "LakeTable",
    winners: DataFrame,
    cfg: SyncConfig,
    batch_id: int,
    offset_range: tuple[int, int] | None,
    tschema: T.StructType,
    added: T.StructType | None,
    user_cols: list[str],
    n_buckets: int,
    t0: float,
    phases: dict,
) -> "BatchResult":
    """Merge-on-read apply: append the batch's LWW winners as delta files.

    Per-batch cost is O(batch + touched buckets) — no target-wide join, no
    bucket rewrite (the Iceberg ``write.merge.mode=merge-on-read`` analogue;
    readers fold, ``maintenance.compact`` amortizes). Lineage still compares
    against the current table state through a COLUMN-PRUNED (key, _lsn,
    _deleted only) read that is additionally BUCKET-PRUNED to the batch's
    touched buckets when the table is bucketed finely enough for pruning to
    matter (``MOR_PRUNE_BUCKETS`` or more: a 10^10-row deployment runs
    thousands of buckets and a batch touches few, so the
    target scan is O(touched buckets) not O(table); at bench-scale bucket
    counts every batch touches every bucket and the extra touched-distinct
    driver job per batch is pure serial overhead that caps N->4N scaling).
    Two driver actions per batch (three when pruning): the lineage
    aggregate (which materializes the winners cache and also yields the
    batch's observed LSN span, so an unplanned batch pays no separate
    [min, max] job) and the delta write, one task per core.
    Rejected rows: a loser ranked strictly below the stored row by
    ``lww_order`` is committed but loses every read-time fold
    deterministically (compaction sweeps it); an equal-rank loser
    (nondeterministic fold tie with the base row) is filtered out
    via a broadcast anti-join paid only when such a tie exists — which
    normal operation never produces (pure replays take the wins==0 path).
    ``n_buckets`` is the modulus the winners were routed with; the delta
    commit fails with ``CommitConflictError`` if the table's layout no
    longer has it (a rebucket landed during the batch).
    """
    key_cols = list(cfg.key_cols)
    _pt = time.time()

    touched: list[int] | None = None
    if n_buckets >= MOR_PRUNE_BUCKETS:
        # touched buckets (driver result is O(buckets)); this action also
        # materializes the winners persist for the two later consumers
        touched = [int(r[BUCKET_COL]) for r in winners.select(BUCKET_COL).distinct().collect()]
        _pt = _tick("mor-touched", _pt, phases)
        if not touched:
            winners.unpersist()
            return BatchResult(batch_id, True, None, offset_range, [], int((time.time() - t0) * 1000))

    delta = winners.select(
        *[F.col(c) if c in winners.columns else F.lit(None).cast(tschema[c].dataType).alias(c) for c in user_cols],
        F.col("lsn").alias(LSN_COL),
        (F.col("op") == "delete").alias(DELETED_COL),
        F.col(BUCKET_COL),
    ).select(*[c for c in tschema.names])

    # ---- lineage (M1) via narrow UNFOLDED target read: the per-key MoR
    # fold happens inside the first aggregation below (a max over
    # lww_order — a fixed-width buffer, so the whole chain stays
    # hash-aggregable), which saves a full narrow-table shuffle per batch
    # versus folding first and joining second
    t_n = table.read_unfolded(spark, buckets=touched, columns=[]).select(
        *key_cols, lww_order(F.col(LSN_COL), F.col(DELETED_COL)).alias("_t_ord")
    )
    s_n = winners.select(
        *key_cols,
        lww_order(F.col("lsn"), F.col("op") == "delete").alias("_s_ord"),
        F.col("_n_events").alias("_s_n"),
        F.col("_min_lsn").alias("_s_lo"),
        F.col(BUCKET_COL).alias("_s_bucket"),
    )
    per_key = (
        s_n.join(t_n, on=key_cols, how="left")
        .groupBy(*key_cols)
        .agg(
            F.max("_t_ord").alias("_t_ord"),
            F.max("_s_ord").alias("_s_ord"),
            F.max("_s_n").alias("_s_n"),
            F.min("_s_lo").alias("_s_lo"),
            F.max("_s_bucket").alias("_s_bucket"),
        )
    )
    t_deleted = F.col("_t_ord").bitwiseAND(F.lit(1)) == 1
    s_deleted = F.col("_s_ord").bitwiseAND(F.lit(1)) == 1
    n_src_wins = F.col("_t_ord").isNull() | (F.col("_s_ord") > F.col("_t_ord"))
    n_tie = F.col("_s_ord") == F.col("_t_ord")
    agg_rows = (
        per_key.groupBy(F.col("_s_bucket").alias("b"))
        .agg(
            F.sum(F.when(n_src_wins & ~s_deleted, 1).otherwise(0)).alias("ups"),
            F.sum(
                F.when(n_src_wins & s_deleted & F.col("_t_ord").isNotNull() & ~t_deleted, 1).otherwise(0)
            ).alias("dels"),
            F.sum(F.when(F.col("_t_ord").isNotNull() & ~n_src_wins, 1).otherwise(0)).alias("late"),
            F.sum(F.col("_s_n") - 1).alias("ooo"),
            F.sum(F.when(n_src_wins, 1).otherwise(0)).alias("wins"),
            F.count(F.lit(1)).alias("nk"),
            F.sum(F.when(n_tie, 1).otherwise(0)).alias("ties"),
            F.min("_s_lo").alias("lo"),
            F.max(F.shiftright(F.col("_s_ord"), 1)).alias("hi"),
        )
        .collect()
    )
    n_wins = sum(int(r["wins"] or 0) for r in agg_rows)
    n_keys = sum(int(r["nk"] or 0) for r in agg_rows)
    n_ties = sum(int(r["ties"] or 0) for r in agg_rows)
    _pt = _tick("mor-lineage", _pt, phases)

    if n_keys == 0:
        # empty batch (nothing survived the event-type filter)
        winners.unpersist()
        return BatchResult(batch_id, True, None, offset_range, [], int((time.time() - t0) * 1000))
    rng = offset_range or (min(int(r["lo"]) for r in agg_rows), max(int(r["hi"]) for r in agg_rows))
    lineage_rows = _lineage_rows(agg_rows, batch_id, rng)
    if added is not None:
        table.evolve_schema(added)

    if n_wins == 0:
        # every source row lost the LSN guard — commit no data (see
        # _commit_no_wins). A delete for an absent key counts as a win:
        # its tombstone delta must be written so a later lower-LSN event
        # cannot resurrect it.
        winners.unpersist()
        return _commit_no_wins(table, batch_id, offset_range, rng, lineage_rows, t0)

    # Rejected-row hygiene. A key that lost the LSN guard splits two ways:
    #   * _s_ord < _t_ord (the normal late tail): its delta row loses every
    #     read-time fold DETERMINISTICALLY (strictly lower rank), so it is
    #     harmless junk that compaction sweeps — no per-batch filter cost;
    #   * _s_ord == _t_ord (an equal-LSN conflict of two live rows —
    #     replayed range with a different payload, or a malformed feed):
    #     its tie with the base row in the fold would be nondeterministic,
    #     so those keys MUST be filtered out of the delta. Ties are absent in normal operation
    #     (a pure replay takes the wins==0 path above), so the broadcast
    #     anti-join below is effectively never paid in the hot path.
    # When losers DOMINATE the batch (sustained backfill overlap, repeated
    # partial replays that dodge the wins==0 path by containing a few
    # winners), appending them would grow delta chains — and therefore
    # read-fold and compaction work — with junk ∝ batch keys instead of
    # ∝ state change. In that regime pay one semi-join to keep the delta
    # ∝ winners (which also drops any tie keys: a tie is not a win). The
    # condition is false in normal operation, so the hot path stays two
    # driver actions with no extra shuffle.
    n_losers = n_keys - n_wins
    if n_losers > n_wins:
        win_keys = per_key.filter(n_src_wins).select(*key_cols)
        delta = delta.join(win_keys, on=key_cols, how="left_semi")
    elif n_ties > 0:
        tie_keys = per_key.filter(n_tie).select(*key_cols)
        delta = delta.join(F.broadcast(tie_keys), on=key_cols, how="left_anti")

    version = table.commit_delta(
        spark,
        delta,
        applied_range=offset_range,
        batch_id=batch_id,
        new_schema=tschema,
        extra_properties=_last_batch(batch_id, rng, lineage_rows, phases),
        lsn_range=rng,
        n_buckets=n_buckets,
    )
    _pt = _tick("mor-commit", _pt, phases)
    winners.unpersist()
    return _committed(batch_id, version, rng, lineage_rows, t0, phases)


class SchemaTypeChangeError(ValueError):
    """A batch carries a column whose type differs from the table's — a
    non-additive schema change (estuary's modify-column path,
    ``MysqlTableSchemaHolder.scala:61-78``). Raised at the batch-start
    DDL barrier so the operator sees WHICH columns changed instead of an
    opaque parquet read error; set ``SyncConfig.on_type_change="cast"``
    to coerce batch values to the table types instead."""

    def __init__(self, changes: list[tuple[str, str, str]]):
        self.changes = changes
        detail = ", ".join(f"{c}: table={tt} batch={bt}" for c, tt, bt in changes)
        super().__init__(
            f"non-additive schema change (type changed) for column(s): {detail}; "
            "set on_type_change='cast' to coerce batch values to the table types"
        )


@dataclass
class BatchResult:
    batch_id: int
    skipped: bool
    version: int | None
    offset_range: tuple[int, int] | None
    lineage: list[dict]
    wall_ms: int
    # M3 cost profile: per-phase milliseconds for this batch
    phases_ms: dict = dataclasses.field(default_factory=dict)


def _lineage_rows(agg_rows: list, batch_id: int, rng: tuple[int, int]) -> list[dict]:
    """Per-bucket lineage rows (M1) from a lineage aggregate's rows."""
    return [
        {
            "batch_id": batch_id,
            "partition_id": int(r["b"]),
            "offset_start": rng[0],
            "offset_end": rng[1],
            "rows_upserted": int(r["ups"] or 0),
            "rows_deleted": int(r["dels"] or 0),
            "late_events": int(r["late"] or 0),
            "out_of_order_events": int(r["ooo"] or 0),
        }
        for r in agg_rows
    ]


def _last_batch(batch_id: int, rng: tuple[int, int], lineage_rows: list, phases: dict) -> dict:
    """The ``last_batch`` snapshot property a data commit records."""
    return {
        "last_batch": {
            "batch_id": batch_id,
            "offset_range": list(rng),
            "upserted": sum(r["rows_upserted"] for r in lineage_rows),
            "deleted": sum(r["rows_deleted"] for r in lineage_rows),
            # M3: phase costs up to (not including) this commit
            "phases_ms": dict(phases),
        }
    }


def _committed(batch_id, version, rng, lineage_rows, t0, phases) -> BatchResult:
    wall = int((time.time() - t0) * 1000)
    for r in lineage_rows:
        r["wall_ms"] = wall
    return BatchResult(batch_id, False, version, rng, lineage_rows, wall, phases)


def _commit_no_wins(table, batch_id, offset_range, rng, lineage_rows, t0) -> BatchResult:
    """A batch in which every source row lost the LSN guard commits no
    data. Three sub-cases (M1 observability, SURVEY.md):

    * true replay of a planned range (already recorded applied): return
      empty lineage — re-emitting late counts per replay would
      double-count observability;
    * a genuinely all-late planned batch: KEEP the lineage rows (late/ooo
      counts are exactly what M1 exists to surface) and record the range
      with a metadata-only commit so range bookkeeping stays complete;
    * an unplanned batch (observed span only): commit nothing, since there
      is no range to record, and return empty lineage — a replay and an
      all-late batch look the same here, and a replayed file must not
      count its events twice."""
    wall = int((time.time() - t0) * 1000)
    if offset_range is None or table.is_range_applied(*offset_range):
        return BatchResult(batch_id, True, None, rng, [], wall)
    version = table.commit_metadata(applied_range=offset_range, batch_id=batch_id)
    for r in lineage_rows:
        r["wall_ms"] = wall
    return BatchResult(batch_id, True, version, rng, lineage_rows, wall)


def reconcile_schema(
    table: LakeTable, batch_df: DataFrame, cfg: SyncConfig
) -> tuple[T.StructType, T.StructType | None]:
    """Additive schema evolution at batch start (the DDL-barrier point).

    Returns ``(schema, added)``: the table schema the batch applies
    against, and the new value columns present in the batch but absent
    from the table (``None`` if there are none). The caller ALTERs
    ``added`` in with ``table.evolve_schema`` (metadata-only commit) once
    the batch is known to carry rows, so an empty batch publishes nothing.
    Mirrors estuary's drain-then-DDL barrier
    (SimpleMysqlBinlogInOrderDirectFetcher.scala:28-36) — a micro-batch
    boundary is already a drained pipeline.
    """
    tschema = table.schema
    batch_value_fields = [
        f
        for f in batch_df.schema.fields
        if f.name not in cfg.envelope_cols and f.name not in (BUCKET_COL, LSN_COL, DELETED_COL)
    ]
    # non-additive guard: same-name column with a DIFFERENT type is a
    # modify-column DDL, which additive evolution cannot express — fail
    # with a typed error (or cast, per config) instead of letting the
    # mismatch surface later as an opaque parquet read error
    changed = [
        (f.name, tschema[f.name].dataType.simpleString(), f.dataType.simpleString())
        for f in batch_value_fields
        if f.name in tschema.names and f.dataType != tschema[f.name].dataType
    ]
    if changed and cfg.on_type_change == "fail":
        raise SchemaTypeChangeError(changed)
    new_fields = [f for f in batch_value_fields if f.name not in tschema.names]
    if not new_fields:
        return tschema, None
    if not cfg.allow_schema_evolution:
        raise ValueError(f"schema evolution disabled; new columns {[f.name for f in new_fields]}")
    # the schema evolve_schema will publish: new fields appended, nullable
    planned = T.StructType(list(tschema.fields))
    for f in new_fields:
        planned = planned.add(f.name, f.dataType, True)
    return planned, T.StructType(new_fields)


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    batch_df: DataFrame,
    cfg: SyncConfig,
    batch_id: int,
    offset_range: tuple[int, int] | None = None,
) -> BatchResult:
    """Apply one micro-batch of change events to the target table.

    A planned ``offset_range`` (contiguous, non-overlapping LSN ranges —
    the batch runner's plan) that nests inside an applied range is a
    replay and is skipped driver-side. An unordered source (Structured
    Streaming file batches, listed by modification time, not LSN) must
    pass no range: a later batch's [min, max] can nest inside the UNION
    of earlier ranges without its events having been applied. Exactly-
    once there rests on merge idempotence instead — every batch where no
    source row beats the target (``wins == 0``) is detected after the
    LSN-guard join and commits nothing, so a replay still produces zero
    new snapshots.

    ``offset_range=None`` (the streaming runners: no planned range) makes
    the batch's OBSERVED [min, max] DML LSN span stand in for it — read
    off the first collect over the reduce's winners, not a separate job.
    An observed span is reported (``BatchResult.offset_range``, lineage)
    and bounds the commit's ``commit_lsn_ranges`` entry, but it is never
    recorded as an applied range: the batch need not hold every event
    inside it, and a later planned run resuming from the table's ranges
    would skip the missing ones.
    """
    t0 = time.time()
    phases: dict = {}
    key_cols = list(cfg.key_cols)
    # the range is planned, or observed later from the reduce's first
    # collect: this phase runs no Spark job
    _pt = _tick("offset-range", t0, phases)

    # ---- exactly-once fast path: skip a fully-applied (replayed) range
    if offset_range is not None and table.is_range_applied(*offset_range):
        return BatchResult(batch_id, True, None, offset_range, [], int((time.time() - t0) * 1000))

    # ---- event-type filter (F1) — only DML row events flow
    batch_df = batch_df.filter(F.col(cfg.op_col).isin("insert", "update", "delete"))

    # ---- schema reconciliation (D1-D5); new columns are published only
    # once the first collect shows the batch is not empty
    tschema, added = reconcile_schema(table, batch_df, cfg)
    user_cols = [c for c in tschema.names if c not in (LSN_COL, BUCKET_COL, DELETED_COL)]

    # project batch to envelope (op, lsn) + value columns; value columns the
    # batch doesn't carry (pre-evolution events) become NULL
    proj = []
    for c in user_cols:
        if c in batch_df.columns:
            if batch_df.schema[c].dataType != tschema[c].dataType:
                # only reachable with on_type_change="cast" (reconcile
                # raised otherwise): coerce to the table's type. try_cast,
                # not cast: a value the new type can't represent becomes
                # NULL instead of failing the whole batch mid-flight — the
                # per-VALUE analogue of the reference's drop-with-warning
                # schema check (F6, CanalEntry2RowDataInfoMappingFormat
                # .scala:88-97); the uncastable value is exactly the row
                # the reference would have dropped
                proj.append(F.col(c).try_cast(tschema[c].dataType).alias(c))
            else:
                proj.append(F.col(c))
        else:
            proj.append(F.lit(None).cast(tschema[c].dataType).alias(c))
    changes = batch_df.select(F.col(cfg.lsn_col).alias("lsn"), F.col(cfg.op_col).alias("op"), *proj)

    # ---- per-event transform chain (T1-T4): vectorized payload decode /
    # text normalization / redaction before the reduce
    if cfg.transforms:
        from estuary_spark.functions.transcripts import transform_chain

        changes = transform_chain(changes, list(cfg.transforms))

    # ---- partition strategy (P1): the consistency/parallelism ladder
    changes = order_for_strategy(changes, cfg)

    # ---- salted LWW reduce: one winner per key (P4 + P6); salt_factor
    # -1 = per-batch autosalt (engage the second shuffle only on a
    # detected single-key flood — see operators/lww.py)
    salt = cfg.salt_factor
    cached_changes = None
    if salt == -1:
        # Planner-gated detector: the batch's contiguous LSN span bounds
        # its event count (the engine's data model: LSN is a per-event
        # total order — binlog journal+offset — so events carry distinct
        # LSNs modulo replayed duplicates), so a span at or under the
        # flood threshold cannot contain a single-key flood — skip the
        # detector entirely, zero extra jobs on the uniform-small common
        # case (VERDICT r4 #6). A feed violating uniqueness (many rows
        # sharing one LSN) slips the gate, but such a flood is absorbed
        # by the always-on map-side partial aggregation regardless: the
        # hot key reduces to <= one row per map partition before the
        # shuffle, which is precisely the case salting cannot improve.
        # Without a planned range the detector takes its no-hint path.
        span = None if offset_range is None else offset_range[1] - offset_range[0] + 1
        if span is not None and span <= cfg.autosalt_threshold:
            salt = 0
        else:
            from estuary_spark.operators.lww import choose_salt_factor

            # persist so the detector's single sampled pass doubles as the
            # cache fill the reduce reads from, instead of recomputing the
            # reconcile projection + transform chain lineage (ADVICE r4)
            cached_changes = changes.persist()
            changes = cached_changes
            salt = choose_salt_factor(
                changes, key_cols, flood_threshold=cfg.autosalt_threshold, n_hint=span
            )
    winners = lww_reduce(changes, key_cols, lsn_col="lsn", salt_factor=salt, op_col="op")

    # ---- bucket routing (P2): the hash shuffle is the consistent-hash router;
    # the raw snapshot carries n_buckets without the file inventory
    n_buckets = int(table._raw_manifest()["n_buckets"])
    winners = winners.withColumn(BUCKET_COL, bucket_expr(key_cols[0], n_buckets))
    winners = winners.persist()

    if cfg.write_mode == "mor":
        try:
            return _apply_mor(
                spark, table, winners, cfg, batch_id, offset_range, tschema, added, user_cols,
                n_buckets, t0, phases,
            )
        finally:
            if cached_changes is not None:
                cached_changes.unpersist()

    try:
        # touched buckets and the observed LSN span in one collect
        spans = (
            winners.groupBy(BUCKET_COL)
            .agg(F.min("_min_lsn").alias("lo"), F.max("lsn").alias("hi"))
            .collect()
        )
    finally:
        if cached_changes is not None:
            # winners is persisted and materialized by the collect above —
            # the pre-reduce lineage will not be re-read; the finally keeps
            # a failed collect (executor loss, cast error surfacing at
            # action time) from leaking the cache across retried batches
            cached_changes.unpersist()
    _pt = _tick("lww+touched", _pt, phases)
    if not spans:
        winners.unpersist()
        return BatchResult(batch_id, True, None, offset_range, [], int((time.time() - t0) * 1000))
    touched = [r[BUCKET_COL] for r in spans]
    rng = offset_range or (min(int(r["lo"]) for r in spans), max(int(r["hi"]) for r in spans))
    if added is not None:
        table.evolve_schema(added)

    # ---- MERGE: bucket-pruned copy-on-write join (T2). Pin the snapshot
    # the merge is computed from and pass it as the commit's conflict-
    # validation base: a concurrent writer (maintenance job, rival sync)
    # landing between this read and the commit must surface as
    # CommitConflictError, not silently lose its files. The commit also
    # fails if a rebucket changed the modulus the winners were routed with.
    base_v = table._raw_manifest()["version"]
    target = table.read(spark, buckets=touched, include_tombstones=True, version=base_v)

    s = winners.select(
        *key_cols,
        F.col("lsn").alias("_s_lsn"),
        F.col("op").alias("_s_op"),
        F.col("_n_events").alias("_s_n"),
        F.col(BUCKET_COL).alias("_s_bucket"),
        *[F.col(c).alias(f"_s_{c}") for c in user_cols if c not in key_cols],
    )
    t = target.select(
        *key_cols,
        F.col(LSN_COL).alias("_t_lsn"),
        F.col(DELETED_COL).alias("_t_deleted"),
        F.col(BUCKET_COL).alias("_t_bucket"),
        *[F.col(c).alias(f"_t_{c}") for c in user_cols if c not in key_cols],
    )

    j = t.join(s, on=key_cols, how="full_outer")

    is_delete = F.col("_s_op") == "delete"
    src_wins = F.col("_s_lsn").isNotNull() & (
        F.col("_t_lsn").isNull()
        | (lww_order(F.col("_s_lsn"), is_delete) > lww_order(F.col("_t_lsn"), F.col("_t_deleted")))
    )

    # ---- single fused join pass: the merged row AND the per-row lineage
    # flags come out of ONE target⨝changes shuffle join (persisted), so the
    # commit write and the lineage aggregation share it instead of joining
    # twice. At 10^10-event scale the target-side scan+shuffle is the
    # dominant per-batch cost — paying it once, not twice, is the single
    # biggest lever on sustained throughput.
    sel = [F.col(c) for c in key_cols]
    for c in user_cols:
        if c in key_cols:
            continue
        sel.append(F.when(src_wins, F.col(f"_s_{c}")).otherwise(F.col(f"_t_{c}")).alias(c))
    sel.append(F.when(src_wins, F.col("_s_lsn")).otherwise(F.col("_t_lsn")).alias(LSN_COL))
    sel.append(
        F.when(src_wins, is_delete).otherwise(F.coalesce(F.col("_t_deleted"), F.lit(False))).alias(DELETED_COL)
    )
    sel.append(F.coalesce(F.col("_t_bucket"), F.col("_s_bucket")).alias(BUCKET_COL))
    # lineage flags (M1): upsert / delete / late per the LSN guard
    sel.append(F.when(src_wins & ~is_delete, 1).otherwise(0).alias("_l_up"))
    sel.append(
        F.when(
            src_wins
            & is_delete
            & F.col("_t_lsn").isNotNull()
            & ~F.coalesce(F.col("_t_deleted"), F.lit(False)),
            1,
        )
        .otherwise(0)
        .alias("_l_del")
    )
    sel.append(
        F.when(F.col("_s_lsn").isNotNull() & F.col("_t_lsn").isNotNull() & ~src_wins, 1)
        .otherwise(0)
        .alias("_l_late")
    )
    sel.append(F.coalesce(F.col("_s_n") - 1, F.lit(0)).alias("_l_ooo"))
    # any source row that wins mutates table state (insert, update, delete
    # marking — including a tombstone for an absent key, which must be
    # written so a later lower-LSN event cannot resurrect it); wins == 0
    # across the batch ⇒ pure replay ⇒ commit nothing
    sel.append(F.when(src_wins, 1).otherwise(0).alias("_l_win"))

    from pyspark import StorageLevel

    merged = j.select(*sel).persist(StorageLevel.MEMORY_AND_DISK)
    _pt = _tick("merge-plan", _pt, phases)

    # ---- lineage (M1) aggregated from the persisted join; this action
    # materializes the join once, the commit write below re-reads the cache
    agg_rows = (
        merged.groupBy(F.col(BUCKET_COL).alias("b"))
        .agg(
            F.sum("_l_up").alias("ups"),
            F.sum("_l_del").alias("dels"),
            F.sum("_l_late").alias("late"),
            F.sum("_l_ooo").alias("ooo"),
            F.sum("_l_win").alias("wins"),
        )
        .filter((F.col("ups") + F.col("dels") + F.col("late") + F.col("ooo") + F.col("wins")) > 0)
        .collect()
    )
    n_wins = sum(int(r["wins"] or 0) for r in agg_rows)
    lineage_rows = _lineage_rows(agg_rows, batch_id, rng)
    _pt = _tick("lineage-agg", _pt, phases)

    if n_wins == 0:
        # every source row lost the LSN guard: no data commit (see
        # _commit_no_wins)
        merged.unpersist()
        winners.unpersist()
        return _commit_no_wins(table, batch_id, offset_range, rng, lineage_rows, t0)

    # keep only physical table columns, in schema order (flags dropped)
    final = merged.select(*[c for c in tschema.names])

    try:
        version = table.commit(
            spark,
            final,
            replaced_buckets=touched,
            applied_range=offset_range,
            batch_id=batch_id,
            new_schema=tschema,
            extra_properties=_last_batch(batch_id, rng, lineage_rows, phases),
            base_version=base_v,
            lsn_range=rng,
            n_buckets=n_buckets,
        )
    finally:
        # a conflict (rival commit, rebucket) must not leak the caches
        merged.unpersist()
        winners.unpersist()
    _pt = _tick("commit", _pt, phases)
    return _committed(batch_id, version, rng, lineage_rows, t0, phases)

"""Sync-task configuration.

The PySpark analogue of estuary's task-config beans
(``mysql/task/Mysql2MysqlTaskInfoBean.scala:14-35`` and
``MysqlTaskInfoBeanImp.scala:17-50`` in /root/reference): everything a sync
task needs — source log, target table, partitioning strategy, batch size,
start position — expressed as a plain dataclass instead of a Spring bean.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Partition strategies, mirroring the reference's PartitionStrategy enum
# (bean/key/PartitionStrategy.java:8-33; README.md:68-90 documents the
# throughput ordering MOD >= PRIMARY_KEY >= DATABASE_TABLE >> TRANSACTION —
# estuary trades ORDER GUARANTEES for parallelism because its correctness
# depends on per-actor mailbox arrival order).
#
# LWW-by-LSN makes the merge ORDER-INSENSITIVE (the winner is determined
# by the data, not by arrival or partition order), so MOD and PRIMARY_KEY
# — the fully-parallel levels — already deliver the FINAL-STATE
# consistency estuary only achieves at its slowest TRANSACTION level.
# The stricter levels are still wired as real execution contracts for
# side-channel observers of the applied stream (apply.order_for_strategy,
# multi._fanout_workers): TABLE folds each table's events through one
# LSN-sorted partition (tables stay concurrent); TRANSACTION additionally
# serializes the multi-table fan-out — one global total order, the
# reference's strictest (and slowest) level.
PARTITION_MOD = "mod"                  # spread freely: spark hash exchange
PARTITION_PRIMARY_KEY = "primary_key"  # hash(key_cols) — the default
PARTITION_TABLE = "table"              # one ordered partition per table
PARTITION_TRANSACTION = "transaction"  # global total order: serial fan-out too


@dataclass
class SyncConfig:
    """Configuration for one CDC sync task (source log -> target table)."""

    # source: directory of the ordered change-event log (parquet files)
    source_log_dir: str
    # target: LakeTable root directory
    target_table_dir: str
    # lineage/metrics table root (append-only parquet)
    lineage_dir: str | None = None
    # checkpoint file (JSON) for the batch-incremental driver
    checkpoint_path: str | None = None

    # key columns of the target table (estuary: primary-key string
    # "$db@$tb@pk" — mysql/lifecycle/package.scala:121-131)
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")

    # ---- multi-table sync (one log carrying many source tables) ----
    # column in the log that names the source table (estuary routes every
    # event by "$db@$tb", mysql/lifecycle/package.scala:100); None = the
    # single-table pipeline
    table_col: str | None = None
    # F2: regex whitelist/blacklist over the source-table name, the
    # analogue of estuary's filterPattern / filterBlackPattern
    # (MysqlSourceManagerImp.scala:117-120, MysqlSourceBeanImp.scala:12-24).
    # Whitelist applies first; blacklist then removes matches.
    table_filter: str | None = None
    table_blacklist: str | None = None
    # T4: source->destination table rename map (the SDA mapping transform,
    # CanalEntry2RowDataInfoMappingFormat4Sda.scala:37-44 /
    # SdaSchemaMappingRule.scala:26-39). Unmapped tables keep their name.
    table_renames: dict = field(default_factory=dict)
    # total-order column (estuary: BinlogPositionInfo journal+offset)
    lsn_col: str = "lsn"
    op_col: str = "op"

    # micro-batch sizing: how many LSNs per batch in the batch driver
    # (estuary: batchThreshold + 255-slot ring buffer / 300ms flush)
    batch_lsn_range: int = 100_000

    # bucketed layout of the target table: a micro-batch rewrites only
    # touched buckets (bounded write amplification; Iceberg analogue is
    # ``partitioned by bucket(N, conv_id)``)
    n_buckets: int = 32

    # hot-key skew handling. The LOCAL PRE-MERGE REDUCE is always on:
    # LWW (max_by) is algebraic, so Catalyst's map-side partial
    # aggregation reduces each map partition to one row per key before the
    # shuffle — per-key reduce-side fan-in is bounded by the number of map
    # partitions regardless of how hot a key is. salt_factor > 1
    # additionally splits each key into salt sub-groups with an extra
    # full shuffle — only worth it in the pathological case of a single
    # key receiving a large fraction of a batch AND map-side hash-agg
    # spill becoming the bottleneck; it costs a second full-width shuffle
    # of every batch, so it is off by default. -1 = AUTOSALT: a cheap
    # per-batch sampled detector (operators/lww.py choose_salt_factor)
    # engages the two-phase reduce only when one key's estimated event
    # count exceeds autosalt_threshold — uniform batches keep the
    # single-shuffle plan.
    salt_factor: int = 0
    autosalt_threshold: int = 500_000

    # merge strategy (Iceberg ``write.merge.mode`` analogue):
    #   "cow"  — copy-on-write: each batch joins + rewrites touched buckets;
    #            fastest reads, per-batch cost O(touched table size)
    #   "mor"  — merge-on-read: each batch appends LWW-winner delta files;
    #            per-batch cost O(batch) — the 10^10-event path — readers
    #            fold deltas, maintenance.compact() amortizes them away
    write_mode: str = "cow"
    # mor: auto-compact when any bucket accumulates this many delta files
    # (0 disables auto-compaction inside run_sync)
    compact_every: int = 16

    partition_strategy: str = PARTITION_PRIMARY_KEY

    # start position resolution (estuary C2: checkpoint -> supplied ->
    # timestamp -> end). None = checkpoint else 0.
    start_lsn: int | None = None
    # what to do when a RESUMED start position (checkpoint / applied
    # ranges) precedes the log's retention floor, i.e. events it would
    # replay have been purged (estuary re-validates the checkpointed
    # binlog position against the files still on the server before
    # resuming — LogPositionHandler.scala:195-205):
    #   "fail"  — raise LogRetentionError (the default: surface the gap)
    #   "reset" — deliberately resume from the retention floor
    on_retention_gap: str = "fail"
    # start from event time instead of an LSN (estuary's binary-walk
    # findByStartTimeStamp, LogPositionHandler.scala:319-370 — here a
    # single min-aggregate over the log's ts column). Ignored when
    # start_lsn or a checkpoint is present.
    start_ts: str | None = None
    stop_at_lsn: int | None = None
    # bounded catch-up by event time (estuary C6 snapshot-at-timestamp,
    # SnapshotStateMachine.scala:62-228): resolved once to the highest LSN
    # whose ts <= stop_at_ts, then applied as a positional bound. Ignored
    # when stop_at_lsn is set.
    stop_at_ts: str | None = None

    # schema evolution: allow additive column adds at batch start
    allow_schema_evolution: bool = True
    # non-additive change policy: a batch column whose TYPE differs from
    # the table's (estuary's holder handles modify-column,
    # MysqlTableSchemaHolder.scala:61-78) either fails with a typed error
    # ("fail", the default — surfacing the change instead of an opaque
    # parquet read error) or is cast to the table's type ("cast";
    # try_cast semantics — a value the table's type can't represent
    # becomes NULL rather than failing the batch, the per-value analogue
    # of the reference's drop-with-warning schema check F6)
    on_type_change: str = "fail"

    # per-event transform chain applied to each batch before the LWW
    # reduce (estuary MappingFormat/T1-T4 analogue): names registered in
    # functions/transcripts.py; each is vectorized (built-in exprs or
    # Arrow pandas UDFs — never per-row Python). Transforms must preserve
    # the key/envelope columns.
    transforms: tuple[str, ...] = ()

    # multi-table fan-out: max destination tables applied CONCURRENTLY per
    # micro-batch (driver thread pool; the reference runs its per-table
    # batcher->sinker pipelines concurrently too,
    # Mysql2MysqlTaskInfoManager.scala:178). Per-table commits are
    # race-safe and destinations are disjoint, so the only serialization
    # the loop had was the driver's own per-apply planning cost (~1.5 s
    # fixed per batch — BENCH/NOTES.md); with T tables that made a batch
    # cost T x planning even when the cluster was idle. 1 = the old
    # serial loop.
    multi_apply_parallelism: int = 8

    # SQL-string DDL ingestion (multi-table pipeline): events whose op
    # equals ``ddl_op`` carry a DDL statement as text in ``ddl_sql_col``
    # (a Canal/Debezium/Maxwell query event; the reference parses these
    # with ANTLR, SchemaChange.java:70-110 — here estuary_spark.ddl lowers
    # them onto the structured truncate/drop/evolve/rename ops)
    ddl_op: str = "ddl"
    ddl_sql_col: str = "text"

    # columns never projected into the target (event-envelope columns)
    envelope_cols: tuple[str, ...] = ("lsn", "op", "commit_ts", "txn_id", "schema_ver")

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {self.write_mode!r}")
        if self.on_type_change not in ("fail", "cast"):
            raise ValueError(f"on_type_change must be 'fail' or 'cast', got {self.on_type_change!r}")
        if self.on_retention_gap not in ("fail", "reset"):
            raise ValueError(f"on_retention_gap must be 'fail' or 'reset', got {self.on_retention_gap!r}")
        if self.partition_strategy not in (
            PARTITION_MOD,
            PARTITION_PRIMARY_KEY,
            PARTITION_TABLE,
            PARTITION_TRANSACTION,
        ):
            raise ValueError(f"unknown partition_strategy {self.partition_strategy!r}")

"""The one sync loop (the controller, estuary K1/K2 analogue): every
driver fetches a batch, applies it, finishes it and records its position
the same way; only the per-batch step differs.

* ``run_planned`` tails the ordered change log in contiguous LSN ranges
  and owns the checkpoint. The range plan is computed from LSN quantiles
  so batches are count-balanced even when the LSN space is sparse — the
  Spark analogue of estuary's power-adapter keeping the fetch/sink gap
  bounded (pull-based micro-batching needs no backpressure ladder:
  SURVEY.md M2 is built-in here).
* ``run_stream`` runs the same step inside ``foreachBatch`` over the
  log's file stream (``trigger(availableNow)`` drains and returns; a
  processing-time trigger returns the running query).
* ``finish_batch`` runs after each table's ``apply_batch``: lineage
  append, the MoR compaction policy and the stats tally.

The four drivers are thin wrappers: ``run_sync`` (planned, single
table), ``streaming.run_sync_streaming`` (stream, single table), and
``multi.run_sync_multi`` / ``multi.run_sync_streaming_multi`` (planned
or stream, routed and fanned out to many tables). A single-table step is
``apply_batch`` + ``finish_batch`` (``table_step``); the multi-table
step is in ``multi.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from estuary_spark import maintenance
from estuary_spark.apply import BatchResult, apply_batch
from estuary_spark.checkpoint import (
    load_checkpoint,
    resolve_start_lsn,
    resolve_stop_lsn,
    save_checkpoint,
)
from estuary_spark.config import SyncConfig
from estuary_spark.lineage import append_lineage
from estuary_spark.sources.log_source import LogSource, ParquetLogSource
from estuary_spark.tables import BUCKET_COL, LakeTable


@dataclass
class SyncSummary:
    batches_run: int
    batches_skipped: int
    rows_upserted: int
    rows_deleted: int
    final_version: int
    last_lsn: int | None


def user_schema_of_log(log_df: DataFrame, cfg: SyncConfig) -> T.StructType:
    """Target user schema = log columns minus the event envelope."""
    return T.StructType(
        [f for f in log_df.schema.fields if f.name not in cfg.envelope_cols]
    )


def open_or_create_table(spark: SparkSession, cfg: SyncConfig, log_df: DataFrame) -> LakeTable:
    t = LakeTable(cfg.target_table_dir)
    if not t.exists():
        t = LakeTable.create(
            cfg.target_table_dir,
            user_schema_of_log(log_df, cfg),
            n_buckets=cfg.n_buckets,
            key_cols=list(cfg.key_cols),
        )
    return t


def plan_batches(
    log_df: DataFrame,
    start_lsn: int,
    stop_at_lsn: int | None,
    events_per_batch: int,
    lsn_col: str = "lsn",
) -> list[tuple[int, int]]:
    """Contiguous, non-overlapping [lo, hi] LSN ranges covering
    [start_lsn, max_lsn], sized ~events_per_batch via approxQuantile
    (single distributed pass; no global sort)."""
    remaining = log_df.filter(F.col(lsn_col) >= start_lsn)
    if stop_at_lsn is not None:
        remaining = remaining.filter(F.col(lsn_col) <= stop_at_lsn)
    agg = remaining.agg(
        F.count(F.lit(1)).alias("n"), F.max(lsn_col).alias("mx")
    ).collect()[0]
    n, mx = agg["n"], agg["mx"]
    if not n:
        return []
    n_batches = max(1, (n + events_per_batch - 1) // events_per_batch)
    if n_batches == 1:
        return [(start_lsn, int(mx))]
    probs = [i / n_batches for i in range(1, n_batches)]
    qs = remaining.stat.approxQuantile(lsn_col, probs, 0.001)
    bounds = sorted({int(q) for q in qs})
    ranges: list[tuple[int, int]] = []
    lo = start_lsn
    for b in bounds:
        if b <= lo:
            continue
        ranges.append((lo, b - 1))
        lo = b
    ranges.append((lo, int(mx)))
    return ranges


def finish_batch(
    spark: SparkSession, table: LakeTable, cfg: SyncConfig, res: BatchResult, tally: dict
) -> None:
    """The per-table finish step after ``apply_batch``. Persists the
    batch's lineage whenever it has rows — an all-late planned batch
    commits no data but still carries late/ooo lineage (M1). A batch that
    committed is then tallied, and the MoR compaction policy runs: fold
    delta files back into base once a bucket holds ``cfg.compact_every``
    of them (read cost is ~(1 + deltas/base), so compaction bounds the
    read tax; it runs bucket-parallel). Every step calls this at a
    drained-pipeline point, so the compaction commit cannot race an
    in-flight merge into the same table."""
    if cfg.lineage_dir and res.lineage:
        append_lineage(spark, cfg.lineage_dir, res.lineage)
    if res.skipped:
        return
    tally["batches_run"] += 1
    tally["rows_upserted"] += sum(r["rows_upserted"] for r in res.lineage)
    tally["rows_deleted"] += sum(r["rows_deleted"] for r in res.lineage)
    if cfg.write_mode == "mor" and cfg.compact_every > 0:
        dcounts = table.manifest().get("delta_files", {})
        if dcounts and max(len(v) for v in dcounts.values()) >= cfg.compact_every:
            maintenance.compact(
                spark,
                table,
                max_files_per_bucket=10**9,
                max_delta_files_per_bucket=max(0, cfg.compact_every - 1),
            )


def new_tally() -> dict:
    """One table's stats, as ``finish_batch`` counts them."""
    return {"batches_run": 0, "rows_upserted": 0, "rows_deleted": 0}


def table_step(table: LakeTable, cfg: SyncConfig, tally: dict):
    """The single-table per-batch step: ``apply_batch`` + ``finish_batch``."""

    def step(spark: SparkSession, batch: DataFrame, batch_id: int, offset_range) -> BatchResult:
        res = apply_batch(spark, table, batch, cfg, batch_id, offset_range=offset_range)
        finish_batch(spark, table, cfg, res, tally)
        return res

    return step


def run_planned(
    spark: SparkSession,
    cfg: SyncConfig,
    source: LogSource,
    log_df: DataFrame,
    table: LakeTable | None,
    events_per_batch: int,
    max_batches: int | None,
    step,
) -> tuple[int, int | None]:
    """Drive ``step(spark, batch, batch_id, (lo, hi))`` over the planned
    LSN ranges of ``log_df``, saving the checkpoint after each range.
    The start follows the C2 ladder (explicit -> checkpoint -> the
    table's applied ranges -> ``start_ts`` -> 0); a multi-table run
    passes no ``table``, since its applied ranges are per destination
    and the global plan cannot resume from any single table's ranges.
    Returns (ranges run, last LSN run)."""
    start = resolve_start_lsn(
        cfg.start_lsn,
        cfg.checkpoint_path,
        table,
        start_ts=cfg.start_ts,
        log_df=log_df,
        lsn_col=cfg.lsn_col,
        min_available_lsn=source.min_available_lsn(),
        on_retention_gap=cfg.on_retention_gap,
    )
    st = load_checkpoint(cfg.checkpoint_path) if cfg.checkpoint_path else None
    batch_id = int(st["next_batch_id"]) if st else 0
    stop = resolve_stop_lsn(cfg.stop_at_lsn, cfg.stop_at_ts, log_df, lsn_col=cfg.lsn_col)
    ranges = plan_batches(log_df, start, stop, events_per_batch, cfg.lsn_col)[:max_batches]
    for lo, hi in ranges:
        step(spark, log_df.filter(F.col(cfg.lsn_col).between(lo, hi)), batch_id, (lo, hi))
        batch_id += 1
        if cfg.checkpoint_path:
            save_checkpoint(
                cfg.checkpoint_path, {"next_lsn": hi + 1, "next_batch_id": batch_id}
            )
    return len(ranges), (ranges[-1][1] if ranges else None)


def run_stream(
    spark: SparkSession,
    source: LogSource,
    checkpoint_location: str,
    max_files_per_trigger: int,
    available_now: bool,
    processing_time: str | None,
    step,
    report,
) -> dict:
    """Drive ``step(session, batch, batch_id, None)`` from ``foreachBatch``
    over ``source``'s stream; ``report(n)`` builds the stats after ``n``
    batches. File batches carry no planned range (see
    ``streaming/runner.py``). With ``available_now`` the query drains the
    current log and stops, and the stats are returned; otherwise the
    query keeps running and ``{"query": q, **stats}`` is returned at once,
    for the caller to await or stop."""
    n = [0]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        step(batch_df.sparkSession, batch_df, int(batch_id), None)
        n[0] += 1

    writer = (
        source.read_stream(spark, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if not available_now:
        return {"query": q, **report(n[0])}
    q.awaitTermination()
    return report(n[0])


def run_sync(
    spark: SparkSession,
    cfg: SyncConfig,
    events_per_batch: int = 50_000,
    max_batches: int | None = None,
    source: LogSource | None = None,
) -> SyncSummary:
    """Run the sync task to the end of the log (or ``stop_at_lsn``).

    ``source`` is any :class:`LogSource` (default
    :class:`ParquetLogSource` over ``cfg.source_log_dir``) — the apply
    core never touches the wire format, so a :class:`KafkaLogSource` (or
    a custom decode) drops in here without changes elsewhere."""
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    log_df = source.read_batch(spark)
    table = open_or_create_table(spark, cfg, log_df)
    tally = new_tally()
    n, last_lsn = run_planned(
        spark, cfg, source, log_df, table, events_per_batch, max_batches,
        table_step(table, cfg, tally),
    )
    return SyncSummary(
        **tally,
        batches_skipped=n - tally["batches_run"],
        final_version=table.current_version(),
        last_lsn=last_lsn,
    )


def read_final_state(spark: SparkSession, cfg: SyncConfig) -> DataFrame:
    """The user-visible target table (tombstones folded, system cols off)."""
    t = LakeTable(cfg.target_table_dir)
    df = t.read(spark)
    return df.drop(BUCKET_COL)

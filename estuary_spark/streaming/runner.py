"""Structured Streaming front-end: tail the change log as a file stream
and apply each micro-batch through the same ``apply_batch`` core.

estuary mapping (SURVEY.md §2.1 S1/S3, §3.2): the binlog dump protocol +
blocking fetch loop become ``spark.readStream`` over the ordered log; the
ring-buffer flush cadence becomes the trigger; ``foreachBatch`` is the
drained-pipeline boundary where DDL (schema reconciliation) and the
atomic MERGE commit happen. ``MERGE`` has no direct streaming sink, so
``foreachBatch`` is the idiomatic bridge (SURVEY.md §7.4.5).

Exactly-once: Spark's checkpoint WAL gives at-least-once file replay;
LWW-by-LSN makes the merge order-insensitive and idempotent, and a batch
in which no source row beats the target's LSN guard (``wins == 0``) is
detected after the merge join and commits nothing — so replays produce
zero new snapshots and file batches may arrive in any order yet converge
to the same state. File batches carry no planned LSN range: each one's
[min, max] is observed from the LWW reduce's first collect, reported and
recorded as the commit's change-feed span, but never as an applied range
— file listing order is modification-time, not LSN, so a file's span can
cover events that have not landed yet, and a later planned run resuming
from the table's applied ranges would skip them.

On a real cluster the same code runs with a Kafka source: swap
``readStream.parquet`` for ``readStream.format("kafka")`` + a payload
decode (see functions/transcripts.py) — the apply core is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from estuary_spark.apply import apply_batch
from estuary_spark.config import SyncConfig
from estuary_spark.lineage import append_lineage
from estuary_spark.runner import open_or_create_table
from estuary_spark.sources.log_source import LogSource, ParquetLogSource


def run_sync_streaming(
    spark: SparkSession,
    cfg: SyncConfig,
    checkpoint_location: str,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    processing_time: str | None = None,
    source: LogSource | None = None,
    on_batch=None,
) -> dict:
    """Run the sync task as a streaming query. With ``available_now`` the
    query drains the current log and stops (deterministic; used by tests);
    with ``processing_time`` it tails the log continuously. ``source`` is
    any :class:`LogSource` (default :class:`ParquetLogSource`); a
    :class:`KafkaLogSource` drops in unchanged — the apply core is
    source-agnostic. ``on_batch(batch_df, batch_id, result)`` is an
    optional observer invoked after each micro-batch's apply+commit
    (latency instrumentation — tools/streaming_bench.py)."""
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    static = source.read_batch(spark)
    table = open_or_create_table(spark, cfg, static)

    stream = source.read_stream(spark, max_files_per_trigger=max_files_per_trigger)

    stats = {"batches": 0, "skipped": 0, "upserted": 0, "deleted": 0}

    def handle(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # file batches arrive in listing (modification-time) order, NOT LSN
        # order, so [min,max]-range containment is not a safe replay test
        # here (a later batch's range can nest inside the union of earlier
        # ones with its events never applied) — rely on the wins==0 no-op
        # detection after the LSN-guard join instead
        res = apply_batch(
            sess, table, batch_df, cfg, int(batch_id), offset_range=None, check_applied_range=False
        )
        stats["batches"] += 1
        if on_batch is not None:
            on_batch(batch_df, int(batch_id), res)
        if res.skipped:
            # no lineage either: an unplanned batch that commits nothing
            # may be a replay, whose late counts must not count twice
            stats["skipped"] += 1
            return
        stats["upserted"] += sum(r["rows_upserted"] for r in res.lineage)
        stats["deleted"] += sum(r["rows_deleted"] for r in res.lineage)
        if cfg.lineage_dir:
            append_lineage(sess, cfg.lineage_dir, res.lineage)
        # MoR: bound the per-bucket delta chain (same policy as the batch
        # runner) — foreachBatch is the drained-pipeline point, so the
        # compaction commit can't race an in-flight merge
        if cfg.write_mode == "mor" and cfg.compact_every > 0:
            from estuary_spark.maintenance import compact

            dcounts = table.manifest().get("delta_files", {})
            if dcounts and max(len(v) for v in dcounts.values()) >= cfg.compact_every:
                compact(
                    sess,
                    table,
                    max_files_per_bucket=10**9,
                    max_delta_files_per_bucket=max(0, cfg.compact_every - 1),
                )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    else:
        return {"query": q, **stats}
    return stats

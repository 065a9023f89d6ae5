"""Structured Streaming front-end: tail the change log as a file stream
and apply each micro-batch through the one sync loop's ``foreachBatch``
wrapper (``runner.run_stream``) with the same single-table step as the
planned runner (``apply_batch`` + ``finish_batch``).

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

from estuary_spark.apply import apply_batch  # noqa: F401 — unused here; perfbench/tracing.py wraps it
from estuary_spark.config import SyncConfig
from estuary_spark.lineage import append_lineage  # noqa: F401 — unused here; perfbench/tracing.py wraps it
from estuary_spark.runner import new_tally, open_or_create_table, run_stream, table_step
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
    with ``processing_time`` it tails the log continuously and the running
    query comes back as ``"query"``. ``source`` is any :class:`LogSource`
    (default :class:`ParquetLogSource`); a :class:`KafkaLogSource` drops
    in unchanged — the apply core is source-agnostic.
    ``on_batch(batch_df, batch_id, result)`` is an optional observer
    invoked after each micro-batch's apply, commit and finish step
    (latency instrumentation — tools/streaming_bench.py).

    Returns {"batches": n, "skipped": n, "upserted": n, "deleted": n}."""
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    table = open_or_create_table(spark, cfg, source.read_batch(spark))
    tally = new_tally()
    apply_one = table_step(table, cfg, tally)

    def step(sess, batch_df, batch_id: int, offset_range) -> None:
        res = apply_one(sess, batch_df, batch_id, offset_range)
        if on_batch is not None:
            on_batch(batch_df, batch_id, res)

    def report(n: int) -> dict:
        return {
            "batches": n,
            "skipped": n - tally["batches_run"],
            "upserted": tally["rows_upserted"],
            "deleted": tally["rows_deleted"],
        }

    return run_stream(
        spark, source, checkpoint_location, max_files_per_trigger, available_now,
        processing_time, step, report,
    )

"""spark-submit entrypoint for a sync task (estuary K1/K2 analogue).

Packaging (the north rule's ship shape):

    zip -r engine.zip estuary_spark/
    spark-submit --py-files engine.zip jobs/sync_job.py \\
        --source /data/cdc_log --target /lake/transcripts \\
        --lineage /lake/_lineage --checkpoint /ckpt/task1.json \\
        --buckets 1024 --events-per-batch 10000000

On a cluster, add --master/--num-executors etc. to spark-submit; this
script only builds the session from the ambient config. ``--streaming``
switches to the Structured Streaming front-end (checkpoint dir instead of
JSON file). Config flags mirror the estuary task-bean knobs that still
make sense on Spark (SURVEY.md K1/K4): partition strategy, batch sizing,
start position.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# running the script directly (python jobs/sync_job.py) puts jobs/ on the
# path, not the repo root; under spark-submit --py-files the zip provides
# the package instead and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="estuary_spark CDC sync task")
    ap.add_argument("--source", required=True, help="change-log directory (parquet)")
    ap.add_argument("--from-table", action="store_true",
                    help="chained sync: --source is an upstream LakeTable root whose "
                         "change feed is the log (table -> table replication)")
    ap.add_argument("--target", required=True, help="LakeTable root directory")
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--checkpoint", default=None, help="JSON checkpoint (batch mode) or checkpoint dir (streaming)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt", type=int, default=0,
                    help="explicit LWW salt factor (0 = off, matching SyncConfig; -1 = "
                         "AUTOSALT, a per-batch sampled flood detector). Map-side "
                         "partial aggregation already does the local pre-merge reduce; salting "
                         "adds a second full-width shuffle per batch and only pays off for a "
                         "pathological single-key flood")
    ap.add_argument("--autosalt-threshold", type=int, default=500_000,
                    help="with --salt -1: single-key event count above which the "
                         "two-phase salted reduce engages")
    ap.add_argument("--multi-parallelism", type=int, default=8,
                    help="multi-table mode: destination tables applied concurrently "
                         "per micro-batch (1 = serial)")
    ap.add_argument("--ddl-op", default="ddl",
                    help="multi-table mode: event op value that carries a SQL DDL "
                         "statement (estuary_spark.ddl parses and lowers it)")
    ap.add_argument("--ddl-sql-col", default="text",
                    help="multi-table mode: column holding the DDL statement text")
    ap.add_argument("--events-per-batch", type=int, default=1_000_000)
    ap.add_argument("--start-lsn", type=int, default=None)
    ap.add_argument("--start-ts", default=None,
                    help="start from event time, e.g. '2024-01-02 00:00:00' (C2 timestamp resolution)")
    ap.add_argument("--stop-at-lsn", type=int, default=None, help="bounded catch-up run (snapshot-at-offset, C6 analogue)")
    ap.add_argument("--stop-at-ts", default=None,
                    help="bounded catch-up by event time, e.g. '2024-01-05 00:00:00' "
                         "(snapshot-at-timestamp, resolved once to an LSN bound)")
    ap.add_argument("--on-type-change", default="fail", choices=["fail", "cast"],
                    help="non-additive schema change policy: fail with a typed error (default) "
                         "or cast batch values to the table's column types")
    ap.add_argument("--partition-strategy", default="primary_key",
                    choices=["mod", "primary_key", "table", "transaction"])
    ap.add_argument("--write-mode", default="cow", choices=["cow", "mor"],
                    help="cow = join+rewrite touched buckets; mor = O(batch) delta commits (10^10-event path)")
    ap.add_argument("--compact-every", type=int, default=16,
                    help="mor: fold deltas into base once a bucket has this many delta files (0 = manual)")
    ap.add_argument("--no-schema-evolution", action="store_true")
    ap.add_argument("--transforms", default="",
                    help="comma-separated per-event transform chain, e.g. normalize_whitespace,redact_pii")
    ap.add_argument("--table-col", default=None,
                    help="multi-table mode: log column naming the source table; routes each "
                         "event to target/<table> (estuary's $db@$tb routing)")
    ap.add_argument("--table-filter", default=None,
                    help="regex whitelist over source-table names (estuary filterPattern)")
    ap.add_argument("--table-blacklist", default=None,
                    help="regex blacklist over source-table names (estuary filterBlackPattern)")
    ap.add_argument("--table-rename", default="",
                    help="comma-separated src=dst source->destination table renames (SDA mapping)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--continuous", nargs="?", const="1 seconds", default=None,
                    metavar="INTERVAL",
                    help="with --streaming: tail the log continuously on this "
                         "processing-time trigger (default '1 seconds') until "
                         "terminated, instead of draining once and exiting "
                         "(availableNow). SIGTERM is always replay-safe: "
                         "nothing commits mid-batch (C5), so a checkpointed "
                         "restart resumes exactly-once")
    ap.add_argument("--app-name", default="estuary-spark-sync")
    args = ap.parse_args()

    renames = dict(kv.split("=", 1) for kv in args.table_rename.split(",") if "=" in kv)

    from pyspark.sql import SparkSession

    from estuary_spark.config import SyncConfig
    from estuary_spark.runner import run_sync

    # under spark-submit the master/conf come from the launcher
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = SyncConfig(
        source_log_dir=args.source,
        target_table_dir=args.target,
        lineage_dir=args.lineage,
        checkpoint_path=None if args.streaming else args.checkpoint,
        n_buckets=args.buckets,
        salt_factor=args.salt,
        autosalt_threshold=args.autosalt_threshold,
        multi_apply_parallelism=args.multi_parallelism,
        ddl_op=args.ddl_op,
        ddl_sql_col=args.ddl_sql_col,
        start_lsn=args.start_lsn,
        start_ts=args.start_ts,
        stop_at_lsn=args.stop_at_lsn,
        stop_at_ts=args.stop_at_ts,
        on_type_change=args.on_type_change,
        partition_strategy=args.partition_strategy,
        allow_schema_evolution=not args.no_schema_evolution,
        write_mode=args.write_mode,
        compact_every=args.compact_every,
        transforms=tuple(t for t in args.transforms.split(",") if t),
        table_col=args.table_col,
        table_filter=args.table_filter,
        table_blacklist=args.table_blacklist,
        table_renames=renames,
    )

    source = None
    if args.from_table:
        if args.table_col:
            sys.exit("--from-table is a single-table chain; drop --table-col")
        from estuary_spark.sources.log_source import TableChangesLogSource

        source = TableChangesLogSource(args.source)

    if args.streaming and not args.checkpoint:
        sys.exit("--checkpoint (a directory) is required with --streaming")
    if args.table_col:
        if args.streaming:
            from estuary_spark.multi import run_sync_streaming_multi

            stats = run_sync_streaming_multi(
                spark, cfg, args.checkpoint,
                available_now=args.continuous is None,
                processing_time=args.continuous,
            )
        else:
            from estuary_spark.multi import run_sync_multi

            stats = run_sync_multi(spark, cfg, events_per_batch=args.events_per_batch)
    elif args.streaming:
        from estuary_spark.streaming import run_sync_streaming

        stats = run_sync_streaming(
            spark, cfg, args.checkpoint, source=source,
            available_now=args.continuous is None,
            processing_time=args.continuous,
        )
    else:
        stats = run_sync(spark, cfg, events_per_batch=args.events_per_batch, source=source).__dict__
    q = stats.pop("query", None)
    if q is not None:
        q.awaitTermination()  # tail until SIGTERM (replay-safe: C5)
    print(json.dumps(stats))

if __name__ == "__main__":
    main()

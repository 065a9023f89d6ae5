"""Multi-table sync: regex white/blacklist (F2), SDA rename (T4), per-table
routing + exactly-once replay.

Reference semantics: every event routes by its source table name
(mysql/lifecycle/package.scala:100), task configs filter tables by regex
(MysqlSourceManagerImp.scala:117-120), and the SDA mapping renames source
tables to destination names
(CanalEntry2RowDataInfoMappingFormat4Sda.scala:37-44) — all in
/root/reference."""

import os

from pyspark.sql import functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.multi import read_final_state_multi, route_tables, run_sync_multi
from estuary_spark.tables import LakeTable

COLS = ["lsn", "op", "src_table", "conv_id", "turn_idx", "text"]

ROWS = [
    (1, "insert", "db1.conv_a", "c1", 0, "a-v1"),
    (2, "insert", "db1.conv_b", "c1", 0, "b-v1"),
    (3, "insert", "db2.audit", "c1", 0, "audit-v1"),
    (4, "update", "db1.conv_a", "c1", 0, "a-v2"),
    (5, "insert", "db1.conv_a", "c2", 1, "a2-v1"),
    (6, "delete", "db1.conv_b", "c1", 0, None),
    (7, "insert", "db1.conv_b", "c9", 3, "b9-v1"),
    (8, "update", "db2.audit", "c1", 0, "audit-v2"),
]


def _mk_cfg(tmpdir_path, **kw):
    return SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "tables"),
        checkpoint_path=os.path.join(tmpdir_path, "ckpt.json"),
        n_buckets=2,
        envelope_cols=("lsn", "op"),
        table_col="src_table",
        **kw,
    )


def _write_log(spark, tmpdir_path):
    df = spark.createDataFrame(ROWS, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )


def test_route_filter_rename(spark, tmpdir_path):
    cfg = _mk_cfg(
        tmpdir_path,
        table_filter=r"^db1\.",
        table_renames={"db1.conv_b": "conv_b_renamed"},
    )
    routed = route_tables(spark.createDataFrame(ROWS, COLS), cfg)
    got = {(r["src_table"], r["_dst_table"]) for r in routed.collect()}
    assert got == {
        ("db1.conv_a", "db1.conv_a"),
        ("db1.conv_b", "conv_b_renamed"),
    }  # db2.* filtered out, conv_b renamed, conv_a passthrough


def test_multi_table_sync_and_replay(spark, tmpdir_path):
    _write_log(spark, tmpdir_path)
    cfg = _mk_cfg(
        tmpdir_path,
        table_filter=r"^db1\.",
        table_renames={"db1.conv_b": "conv_b_renamed"},
    )
    s1 = run_sync_multi(spark, cfg, events_per_batch=3)
    assert set(s1["tables"]) == {"db1.conv_a", "conv_b_renamed"}

    root = cfg.target_table_dir
    assert LakeTable(os.path.join(root, "db1.conv_a")).exists()
    assert LakeTable(os.path.join(root, "conv_b_renamed")).exists()
    assert not os.path.exists(os.path.join(root, "db2.audit"))

    final = read_final_state_multi(spark, cfg)
    state = {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"]) for r in final.collect()
    }
    assert state == {
        ("db1.conv_a", "c1", 0, "a-v2"),   # LWW: v2 wins
        ("db1.conv_a", "c2", 1, "a2-v1"),
        ("conv_b_renamed", "c9", 3, "b9-v1"),  # (c1,0) tombstoned at lsn 6
    }

    # full replay from the same checkpointless start: applied ranges +
    # wins==0 make it a no-op per table
    cfg2 = _mk_cfg(
        tmpdir_path,
        table_filter=r"^db1\.",
        table_renames={"db1.conv_b": "conv_b_renamed"},
    )
    os.remove(cfg2.checkpoint_path)
    s2 = run_sync_multi(spark, cfg2, events_per_batch=3)
    assert all(t["batches_run"] == 0 for t in s2["tables"].values())
    assert {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"])
        for r in read_final_state_multi(spark, cfg2).collect()
    } == state


def test_multi_table_truncate_and_drop(spark, tmpdir_path):
    """Structured table-level ops mid-log (estuary DDL drop/truncate,
    MysqlTableSchemaHolder.scala:35-101): truncate folds only post-op
    events; drop removes the destination; replay converges; a late
    pre-truncate straggler in a later batch is fenced out."""
    rows = [
        (1, "insert", "db1.a", "c1", 0, "a1"),
        (2, "insert", "db1.a", "c2", 0, "a2"),
        (3, "insert", "db1.b", "k1", 0, "b1"),
        (4, "truncate", "db1.a", None, None, None),
        (5, "insert", "db1.a", "c3", 0, "a3"),          # post-truncate
        (6, "drop_table", "db1.b", None, None, None),
        (7, "update", "db1.a", "c3", 0, "a3-v2"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    cfg = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg, events_per_batch=2)  # ops land mid-run

    root = cfg.target_table_dir
    # drop is LOGICAL: an empty fenced snapshot with a dropped marker, so
    # pre-drop stragglers in later batches cannot resurrect stale state
    tb = LakeTable(os.path.join(root, "db1.b"))
    assert int(tb.properties()["dropped_at_lsn"]) == 6
    assert int(tb.properties()["table_ops_lsn"]) == 6
    assert tb.read(spark).count() == 0
    t = LakeTable(os.path.join(root, "db1.a"))
    assert int(t.properties()["table_ops_lsn"]) == 4
    state = {
        (r["conv_id"], r["text"])
        for r in read_final_state_multi(spark, cfg).collect()
    }
    assert state == {("c3", "a3-v2")}  # only post-truncate events folded

    # replay from scratch (no checkpoint): ops are watermark-guarded,
    # applied ranges + wins==0 keep data commits no-ops -> same state
    cfg2 = _mk_cfg(tmpdir_path)
    os.remove(cfg2.checkpoint_path)
    run_sync_multi(spark, cfg2, events_per_batch=2)
    assert {
        (r["conv_id"], r["text"])
        for r in read_final_state_multi(spark, cfg2).collect()
    } == state

    # a late pre-truncate straggler (lsn 3 < watermark 4, in an LSN range
    # db1.a never recorded as applied, in a batch without the op row) must
    # not resurrect: fenced by table_ops_lsn, not by range replay detection
    extra = spark.createDataFrame([(3, "update", "db1.a", "c2", 0, "ZOMBIE")], COLS)
    extra.write.mode("append").parquet(os.path.join(tmpdir_path, "log"))
    cfg3 = _mk_cfg(tmpdir_path, start_lsn=0)
    os.remove(cfg3.checkpoint_path)
    run_sync_multi(spark, cfg3, events_per_batch=1)
    assert {
        (r["conv_id"], r["text"])
        for r in read_final_state_multi(spark, cfg3).collect()
    } == state

    # deferred physical removal: the logically-dropped (still empty) table
    # is deleted by maintenance; recreated tables would be unmarked instead
    from estuary_spark.maintenance import purge_dropped_tables

    res = purge_dropped_tables(root)
    assert res["removed"] == ["db1.b"] and res["recreated"] == []
    assert not os.path.exists(os.path.join(root, "db1.b"))


def test_multi_table_streaming(spark, tmpdir_path):
    """The streaming front-end fans one file-stream out to the per-table
    LakeTables and converges to the same per-table fold (file batches in
    modification-time order; exactly-once via per-table wins==0)."""
    _write_log(spark, tmpdir_path)
    cfg = _mk_cfg(
        tmpdir_path,
        table_filter=r"^db1\.",
        table_renames={"db1.conv_b": "conv_b_renamed"},
    )
    from estuary_spark.multi import run_sync_streaming_multi

    stats = run_sync_streaming_multi(
        spark, cfg, os.path.join(tmpdir_path, "ckpt"), max_files_per_trigger=1
    )
    assert stats["batches"] >= 2  # genuinely incremental
    final = read_final_state_multi(spark, cfg)
    state = {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"]) for r in final.collect()
    }
    assert state == {
        ("db1.conv_a", "c1", 0, "a-v2"),
        ("db1.conv_a", "c2", 1, "a2-v1"),
        ("conv_b_renamed", "c9", 3, "b9-v1"),
    }


def test_multi_table_blacklist(spark, tmpdir_path):
    _write_log(spark, tmpdir_path)
    cfg = _mk_cfg(tmpdir_path, table_blacklist=r"\.audit$")
    s = run_sync_multi(spark, cfg, events_per_batch=100)
    assert set(s["tables"]) == {"db1.conv_a", "db1.conv_b"}
    assert not os.path.exists(os.path.join(cfg.target_table_dir, "db2.audit"))


def test_parallel_fanout_matches_serial(spark, tmpdir_path):
    """The concurrent per-table fan-out (multi_apply_parallelism > 1) is a
    pure scheduling change: final per-table state is identical to the
    serial loop's, across several batches with inserts/updates/deletes
    spread over 10 destination tables."""
    n, T = 3000, 10
    df = spark.range(n).select(
        F.col("id").alias("lsn"),
        F.when(F.pmod("id", F.lit(10)) < 8, F.lit("insert"))
        .when(F.pmod("id", F.lit(10)) < 9, F.lit("update"))
        .otherwise(F.lit("delete"))
        .alias("op"),
        F.concat(F.lit("db.t"), F.pmod("id", F.lit(T)).cast("string")).alias("src_table"),
        F.concat(F.lit("c"), F.pmod("id", F.lit(60)).cast("string")).alias("conv_id"),
        F.pmod("id", F.lit(7)).cast("int").alias("turn_idx"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    df.repartitionByRange(3, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )

    def run(par, tag):
        cfg = SyncConfig(
            source_log_dir=os.path.join(tmpdir_path, "log"),
            target_table_dir=os.path.join(tmpdir_path, f"tables-{tag}"),
            n_buckets=2,
            envelope_cols=("lsn", "op"),
            table_col="src_table",
            multi_apply_parallelism=par,
        )
        s = run_sync_multi(spark, cfg, events_per_batch=1000)
        return cfg, s

    cfg1, s1 = run(1, "serial")
    cfg8, s8 = run(8, "parallel")
    assert s1["tables"] == s8["tables"]  # identical per-table stats
    state1 = {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"])
        for r in read_final_state_multi(spark, cfg1).collect()
    }
    state8 = {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"])
        for r in read_final_state_multi(spark, cfg8).collect()
    }
    assert state1 == state8 and len(state1) > 0


def test_parallel_fanout_failure_isolated(spark, tmpdir_path):
    """One destination failing mid-fan-out (non-additive type change with
    on_type_change=fail) must surface as the typed error WITHOUT
    corrupting the healthy tables: their commits either landed or replay
    cleanly on the rerun."""
    import pytest

    from estuary_spark.apply import SchemaTypeChangeError
    from estuary_spark.tables import LakeTable as LT

    rows = [
        (1, "insert", "db.good", "c1", 0, "g1"),
        (2, "insert", "db.bad", "k1", 0, "b1"),
        (3, "insert", "db.good", "c2", 1, "g2"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.write.mode("overwrite").parquet(os.path.join(tmpdir_path, "log"))

    # pre-create db.bad with text as LONG -> the batch's string column is a
    # non-additive type change and its apply raises
    from pyspark.sql import types as T

    LT.create(
        os.path.join(tmpdir_path, "tables", "db.bad"),
        T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("text", T.LongType()),
            ]
        ),
        n_buckets=2,
        key_cols=["conv_id", "turn_idx"],
    )

    cfg = _mk_cfg(tmpdir_path, multi_apply_parallelism=4)
    with pytest.raises(SchemaTypeChangeError):
        run_sync_multi(spark, cfg, events_per_batch=100)

    # healthy table is intact and correct (it committed before the batch
    # failed, or replays exactly-once on a rerun of the same range)
    good = LT(os.path.join(tmpdir_path, "tables", "db.good"))
    got = {(r["conv_id"], r["text"]) for r in good.read(spark).collect()}
    assert got == {("c1", "g1"), ("c2", "g2")}
    # rerun after fixing the bad table (cast policy): everything converges
    cfg2 = _mk_cfg(tmpdir_path, multi_apply_parallelism=4, on_type_change="cast")
    if os.path.exists(cfg2.checkpoint_path):  # failed run saves no checkpoint
        os.remove(cfg2.checkpoint_path)
    run_sync_multi(spark, cfg2, events_per_batch=100)
    got2 = {(r["conv_id"], r["text"]) for r in good.read(spark).collect()}
    assert got2 == got


# ---- the one sync loop: both multi-table drivers finish every table's
# batch like a single-table sync does (lineage, MoR compaction, stats)


def _role_log(spark, tmpdir_path, n_files):
    from estuary_spark.generator import LogSpec, write_log

    log_dir = os.path.join(tmpdir_path, "log")
    write_log(spark, LogSpec(n_convs=80, max_turns=6, seed=93), log_dir, n_files=n_files)
    return log_dir


def _role_cfg(log_dir, tmpdir_path, **kw):
    return SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "tables"),
        lineage_dir=os.path.join(tmpdir_path, "lineage"),
        n_buckets=4,
        table_col="role",
        **kw,
    )


def _max_deltas_per_bucket(cfg) -> dict:
    root = cfg.target_table_dir
    return {
        d: max(
            (len(fl) for fl in LakeTable(os.path.join(root, d)).manifest()["delta_files"].values()),
            default=0,
        )
        for d in sorted(os.listdir(root))
    }


def _assert_folded(spark, cfg, log_dir):
    from estuary_spark.generator import expected_final_state, read_log

    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in read_final_state_multi(spark, cfg).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in expected_final_state(read_log(spark, log_dir)).collect()
    }
    assert got == want


def test_multi_mor_compacts_every_destination(spark, tmpdir_path):
    """Planned multi-table MoR sync applies the single-table compaction
    policy to every destination: with ``compact_every=2`` no bucket is
    left holding two delta files after four batches."""
    log_dir = _role_log(spark, tmpdir_path, n_files=4)
    n = spark.read.parquet(log_dir).count()
    cfg = _role_cfg(log_dir, tmpdir_path, write_mode="mor", compact_every=2)
    s = run_sync_multi(spark, cfg, events_per_batch=n // 4 + 1)
    assert s["batches"] == 4
    chains = _max_deltas_per_bucket(cfg)
    assert sorted(chains) == ["assistant", "system", "tool", "user"]
    assert all(c < 2 for c in chains.values()), chains
    assert all(t["batches_run"] == 4 for t in s["tables"].values()), s
    _assert_folded(spark, cfg, log_dir)


def test_streaming_multi_mor_compacts_every_destination(spark, tmpdir_path):
    """The streaming multi-table driver applies the same policy per file
    batch."""
    from estuary_spark.multi import run_sync_streaming_multi

    log_dir = _role_log(spark, tmpdir_path, n_files=4)
    cfg = _role_cfg(log_dir, tmpdir_path, write_mode="mor", compact_every=2)
    s = run_sync_streaming_multi(
        spark, cfg, os.path.join(tmpdir_path, "ckpt"), max_files_per_trigger=1
    )
    assert s["batches"] == 4
    chains = _max_deltas_per_bucket(cfg)
    assert sorted(chains) == ["assistant", "system", "tool", "user"]
    assert all(c < 2 for c in chains.values()), chains
    _assert_folded(spark, cfg, log_dir)


def test_streaming_multi_continuous_returns_the_query(spark, tmpdir_path):
    """With a processing-time trigger the multi-table streaming driver
    returns the running query, like ``run_sync_streaming``, instead of
    blocking its caller until the query ends."""
    import threading

    from estuary_spark.multi import run_sync_streaming_multi

    log_dir = _role_log(spark, tmpdir_path, n_files=2)
    cfg = _role_cfg(log_dir, tmpdir_path)
    out: dict = {}
    th = threading.Thread(
        target=lambda: out.update(
            run_sync_streaming_multi(
                spark, cfg, os.path.join(tmpdir_path, "ckpt"),
                available_now=False, processing_time="1 second",
            )
        )
    )
    th.start()
    try:
        th.join(timeout=120)
        assert not th.is_alive(), "run_sync_streaming_multi blocked its caller"
        q = out["query"]
        assert q.isActive
        q.processAllAvailable()
        _assert_folded(spark, cfg, log_dir)
    finally:
        for q in spark.streams.active:
            q.stop()
        th.join(timeout=60)

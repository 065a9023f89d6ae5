"""End-to-end slice: synthetic CDC log -> incremental merge-apply ->
final table state equals the declarative LWW fold (the invariant from
BASELINE.json: per-turn text equality under stable (conv_id, turn_idx,
LSN) ordering)."""

import os

from pyspark.sql import functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.generator import LogSpec, expected_final_state, read_log, write_log
from estuary_spark.runner import read_final_state, run_sync
from estuary_spark.tables import LakeTable


def _assert_same(df_a, df_b, key_cols=("conv_id", "turn_idx")):
    a = {tuple(r) for r in df_a.select(*sorted(df_a.columns)).collect()}
    b = {tuple(r) for r in df_b.select(*sorted(df_b.columns)).collect()}
    only_a = list(a - b)[:5]
    only_b = list(b - a)[:5]
    assert a == b, f"mismatch: {len(a - b)} only in engine {only_a}, {len(b - a)} only in fold {only_b}"


def test_end_to_end_fold_equivalence(spark, tmpdir_path):
    spec = LogSpec(n_convs=60, max_turns=10, seed=7)
    log_dir = os.path.join(tmpdir_path, "log")
    write_log(spark, spec, log_dir)

    cfg = SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "table"),
        lineage_dir=os.path.join(tmpdir_path, "lineage"),
        checkpoint_path=os.path.join(tmpdir_path, "ckpt.json"),
        n_buckets=8,
    )
    summary = run_sync(spark, cfg, events_per_batch=500)
    assert summary.batches_run >= 2
    assert summary.rows_upserted > 0

    log_df = read_log(spark, log_dir)
    expected = expected_final_state(log_df)
    got = read_final_state(spark, cfg)
    assert sorted(got.columns) == sorted(expected.columns)
    _assert_same(got, expected)


def test_offset_ranges_contiguous_exactly_once(spark, tmpdir_path):
    spec = LogSpec(n_convs=20, max_turns=6, seed=11)
    log_dir = os.path.join(tmpdir_path, "log")
    write_log(spark, spec, log_dir)

    cfg = SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "table"),
        n_buckets=4,
    )
    run_sync(spark, cfg, events_per_batch=300)
    t = LakeTable(cfg.target_table_dir)
    ranges = t.applied_ranges()
    # merged into a single contiguous range -> non-overlapping coverage
    assert len(ranges) == 1, ranges

    # replaying the whole log again must be a pure no-op (recommit skip)
    v_before = t.current_version()
    s2 = run_sync(spark, SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=cfg.target_table_dir,
        n_buckets=4,
        start_lsn=0,
    ), events_per_batch=300)
    # no new snapshot written by replay
    assert LakeTable(cfg.target_table_dir).current_version() == v_before
    assert s2.batches_run == 0 or s2.rows_upserted == 0


def _log_rows(lsns, text="v"):
    return [(lsn, "insert", f"c{lsn}", 0, f"{text}{lsn}") for lsn in lsns]


def test_streamed_span_is_not_recorded_applied(spark, tmpdir_path):
    """A streamed file's [min, max] LSN span must not enter the table's
    applied ranges: it need not hold every event inside the span. File A
    (LSNs 1-10 and 50-60) is streamed, then file B (20-30) lands; a
    checkpoint-less run_sync resumes from the table's ranges and must
    still apply B's events (32 rows, not A's 21)."""
    from estuary_spark.streaming import run_sync_streaming

    cols = ["lsn", "op", "conv_id", "turn_idx", "text"]
    log_dir = os.path.join(tmpdir_path, "log")
    a = _log_rows([*range(1, 11), *range(50, 61)])
    spark.createDataFrame(a, cols).coalesce(1).write.parquet(log_dir)
    cfg = SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=4,
        envelope_cols=("lsn", "op"),
    )
    stats = run_sync_streaming(spark, cfg, os.path.join(tmpdir_path, "ckpt"))
    assert stats["upserted"] == 21
    t = LakeTable(cfg.target_table_dir)
    assert t.applied_ranges() == []
    # the observed span still bounds the commit's change-feed range
    assert max(r[1] for r in t.properties()["commit_lsn_ranges"].values()) == 60

    b = _log_rows(range(20, 31))
    spark.createDataFrame(b, cols).coalesce(1).write.mode("append").parquet(log_dir)
    run_sync(spark, cfg, events_per_batch=100)
    assert read_final_state(spark, cfg).count() == 32


def test_observed_span_from_reduce(spark, tmpdir_path):
    """Without a planned range, apply_batch reports the true [min, max]
    LSN of the batch's DML events — read off the reduce, so it must count
    losing events and equal-LSN duplicates, and ignore non-DML events —
    in both write modes, salted or not. The span bounds the commit's
    change-feed range and never enters applied_ranges."""
    from estuary_spark.apply import apply_batch
    from estuary_spark.runner import user_schema_of_log

    rows = [
        (1, "ddl", "c0", 0, None),  # non-DML: outside the span
        (3, "insert", "c1", 0, "lost"),  # the batch minimum, a loser
        (40, "update", "c1", 0, "won"),
        (7, "insert", "c2", 0, "a"),
        (95, "insert", "c2", 0, "dup"),  # the batch maximum, twice
        (95, "insert", "c2", 0, "dup"),
        *[(10 + i, "insert", f"k{i}", i % 3, f"t{i}") for i in range(20)],
        (200, "ddl", "c0", 0, None),
    ]
    batch = spark.createDataFrame(rows, ["lsn", "op", "conv_id", "turn_idx", "text"])
    for mode in ("cow", "mor"):
        for salt in (0, 4):
            cfg = SyncConfig(
                source_log_dir="unused",
                target_table_dir=os.path.join(tmpdir_path, f"{mode}-{salt}"),
                n_buckets=8,
                envelope_cols=("lsn", "op"),
                write_mode=mode,
                salt_factor=salt,
            )
            t = LakeTable.create(
                cfg.target_table_dir, user_schema_of_log(batch, cfg), n_buckets=8,
                key_cols=list(cfg.key_cols),
            )
            res = apply_batch(spark, t, batch, cfg, 0, offset_range=None)
            assert not res.skipped and res.offset_range == (3, 95), (mode, salt, res)
            assert {(r["offset_start"], r["offset_end"]) for r in res.lineage} == {(3, 95)}
            assert t.applied_ranges() == []
            (entry,) = t.properties()["commit_lsn_ranges"].values()
            assert entry == ([0, 95] if mode == "cow" else [3, 95]), (mode, entry)

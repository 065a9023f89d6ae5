"""Merge-on-read write mode: final-state equivalence with copy-on-write,
compaction transparency, replay idempotence, and the O(batch) write shape.

MoR is the 10^10-event scale path (Iceberg ``write.merge.mode=
merge-on-read`` analogue): a batch appends LWW-winner delta files instead
of joining + rewriting buckets; readers fold per key by ``_lsn``;
``maintenance.compact`` folds deltas into base files. Semantics must be
indistinguishable from COW — same invariant as the reference's idempotent
``replace into`` path (CanalEntry2RowDataInfoMappingFormat.scala:55 in
/root/reference)."""

import os

from pyspark.sql import functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.generator import LogSpec, expected_final_state, read_log, write_log
from estuary_spark.maintenance import compact
from estuary_spark.runner import read_final_state, run_sync
from estuary_spark.tables import LakeTable


def _state(df):
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _mk_cfg(tmpdir_path, name, **kw):
    return SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, name),
        n_buckets=8,
        **kw,
    )


def test_mor_equals_cow_and_fold(spark, tmpdir_path):
    spec = LogSpec(n_convs=60, max_turns=10, seed=19)
    write_log(spark, spec, os.path.join(tmpdir_path, "log"))

    cow = _mk_cfg(tmpdir_path, "t_cow", write_mode="cow")
    mor = _mk_cfg(tmpdir_path, "t_mor", write_mode="mor", compact_every=0)
    run_sync(spark, cow, events_per_batch=500)
    run_sync(spark, mor, events_per_batch=500)

    expected = _state(expected_final_state(read_log(spark, cow.source_log_dir)))
    assert _state(read_final_state(spark, cow)) == expected
    assert _state(read_final_state(spark, mor)) == expected

    # MoR actually wrote deltas (no auto-compaction here)
    t = LakeTable(mor.target_table_dir)
    assert t.delta_buckets(), "mor run produced no delta files"


def test_mor_compaction_transparent(spark, tmpdir_path):
    spec = LogSpec(n_convs=40, max_turns=8, seed=23)
    write_log(spark, spec, os.path.join(tmpdir_path, "log"))

    mor = _mk_cfg(tmpdir_path, "t", write_mode="mor", compact_every=0)
    run_sync(spark, mor, events_per_batch=400)
    t = LakeTable(mor.target_table_dir)
    before = _state(read_final_state(spark, mor))

    n = compact(spark, t, max_files_per_bucket=10**9, max_delta_files_per_bucket=0)
    assert n > 0
    assert not t.delta_buckets()  # all deltas folded away
    assert _state(read_final_state(spark, mor)) == before

    # compacted reads are fold-free: plan has no aggregation
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan


def test_mor_auto_compaction_in_runner(spark, tmpdir_path):
    spec = LogSpec(n_convs=40, max_turns=8, seed=29)
    write_log(spark, spec, os.path.join(tmpdir_path, "log"))

    mor = _mk_cfg(tmpdir_path, "t", write_mode="mor", compact_every=2)
    run_sync(spark, mor, events_per_batch=300)
    t = LakeTable(mor.target_table_dir)
    # auto-compaction kept the per-bucket delta chain below the threshold
    dcounts = t.manifest().get("delta_files", {})
    assert all(len(v) < 2 for v in dcounts.values())
    expected = _state(expected_final_state(read_log(spark, mor.source_log_dir)))
    assert _state(read_final_state(spark, mor)) == expected


def test_mor_replay_is_noop(spark, tmpdir_path):
    spec = LogSpec(n_convs=30, max_turns=6, seed=31)
    write_log(spark, spec, os.path.join(tmpdir_path, "log"))

    mor = _mk_cfg(tmpdir_path, "t", write_mode="mor", compact_every=0)
    run_sync(spark, mor, events_per_batch=400)
    t = LakeTable(mor.target_table_dir)
    v1 = t.current_version()
    before = _state(read_final_state(spark, mor))

    # full replay: start LSN resolves past the applied ranges (or every
    # range is detected as applied) — either way nothing re-commits
    s2 = run_sync(spark, mor, events_per_batch=400)
    assert s2.batches_run == 0
    assert t.current_version() == v1
    assert _state(read_final_state(spark, mor)) == before


def test_mor_all_late_batch_keeps_lineage_and_records_range(spark, tmpdir_path):
    """A batch whose every event loses the LSN guard (genuinely late, not a
    replay) must surface its late/ooo counts in lineage AND record its
    offset range (metadata-only commit) — while committing no data."""
    from estuary_spark.apply import apply_batch

    cfg = SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=256,  # exercise the touched-bucket pruned path
        write_mode="mor",
        compact_every=0,
        envelope_cols=("lsn", "op"),
    )
    b1 = spark.createDataFrame(
        [(10, "insert", "c1", 0, "A"), (11, "insert", "c2", 0, "B")],
        ["lsn", "op", "conv_id", "turn_idx", "text"],
    )
    from estuary_spark.runner import open_or_create_table

    table = open_or_create_table(spark, cfg, b1)
    r1 = apply_batch(spark, table, b1, cfg, 0, offset_range=(10, 11))
    assert not r1.skipped

    # all-late batch: lower LSN than the applied state for the same key
    late = spark.createDataFrame([(5, "update", "c1", 0, "X")], b1.columns)
    r2 = apply_batch(spark, table, late, cfg, 1, offset_range=(5, 5))
    assert r2.skipped
    assert sum(r["late_events"] for r in r2.lineage) == 1  # M1 surfaced
    assert table.is_range_applied(5, 5)  # range recorded (metadata commit)
    v_after = table.current_version()

    # replaying the SAME late batch is now a pure replay: empty lineage,
    # zero new snapshots
    r3 = apply_batch(spark, table, late, cfg, 2, offset_range=(5, 5))
    assert r3.skipped and r3.lineage == []
    assert table.current_version() == v_after

    # table state untouched throughout
    rows = {(r["conv_id"], r["text"]) for r in table.read(spark).collect()}
    assert rows == {("c1", "A"), ("c2", "B")}


def test_mor_rejected_rows_never_enter_delta(spark, tmpdir_path):
    """Keys that lose the LSN guard must not be committed to the delta:
    an equal-LSN conflicting payload would otherwise tie with the base row
    in the read-time fold (nondeterministic winner) and losing rows would
    inflate delta chains."""
    from estuary_spark.apply import apply_batch
    from estuary_spark.runner import open_or_create_table

    cfg = SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=2,
        write_mode="mor",
        compact_every=0,
        envelope_cols=("lsn", "op"),
    )
    cols = ["lsn", "op", "conv_id", "turn_idx", "text"]
    b1 = spark.createDataFrame([(10, "insert", "c1", 0, "A"), (11, "insert", "c2", 0, "B")], cols)
    table = open_or_create_table(spark, cfg, b1)
    apply_batch(spark, table, b1, cfg, 0, offset_range=(10, 11))

    # mixed batch (its range is not inside an applied one): c1 loses the guard
    # at equal LSN, c2 wins
    b2 = spark.createDataFrame([(10, "update", "c1", 0, "REJECT"), (20, "update", "c2", 0, "C")], cols)
    r = apply_batch(spark, table, b2, cfg, 1, offset_range=(10, 20))
    assert not r.skipped

    unfolded = table.read_unfolded(spark).collect()
    texts = {row["text"] for row in unfolded}
    assert "REJECT" not in texts  # the losing row was filtered out pre-commit
    state = {(row["conv_id"], row["text"]) for row in table.read(spark).collect()}
    assert state == {("c1", "A"), ("c2", "C")}


def test_mor_late_heavy_batch_delta_bounded_by_winners(spark, tmpdir_path):
    """Sustained late-heavy feeds (backfill overlap, partial replays with
    a few genuine winners) must not grow delta chains with junk: when
    losers dominate a batch, the committed delta is ∝ winners, not ∝
    batch keys — while the folded state stays exactly right."""
    from estuary_spark.apply import apply_batch
    from estuary_spark.runner import open_or_create_table, read_final_state

    cfg = SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=4,
        write_mode="mor",
        compact_every=0,
        envelope_cols=("lsn", "op"),
    )
    cols = ["lsn", "op", "conv_id", "turn_idx", "text"]
    b1 = spark.createDataFrame(
        [(1000 + i, "insert", f"c{i}", 0, f"v{i}") for i in range(100)], cols
    )
    table = open_or_create_table(spark, cfg, b1)
    apply_batch(spark, table, b1, cfg, 0, offset_range=(1000, 1099))

    def delta_paths():
        return {
            os.path.join(table.root, f)
            for fl in table.manifest().get("delta_files", {}).values()
            for f in fl
        }

    before = delta_paths()
    # 90%-late batch: 90 keys at lower LSN (lose), 10 at higher (win)
    late = [(10 + i, "update", f"c{i}", 0, "LATE") for i in range(90)]
    wins = [(2000 + i, "update", f"c{i}", 0, f"new{i}") for i in range(90, 100)]
    b2 = spark.createDataFrame(late + wins, cols)
    r = apply_batch(spark, table, b2, cfg, 1, offset_range=(10, 2099))
    assert not r.skipped
    assert sum(x["late_events"] for x in r.lineage) == 90

    new_files = sorted(delta_paths() - before)
    assert new_files
    n_new_delta_rows = spark.read.parquet(*new_files).count()
    assert n_new_delta_rows == 10  # ∝ winners, not the 100 batch keys

    state = {(row["conv_id"], row["text"]) for row in read_final_state(spark, cfg).collect()}
    assert all((f"c{i}", f"v{i}") in state for i in range(90))
    assert all((f"c{i}", f"new{i}") in state for i in range(90, 100))


def test_mor_delete_then_reinsert_across_batches(spark, tmpdir_path):
    """Tombstone in one delta, higher-LSN re-insert in a later delta: the
    fold must resurrect the key; a LOWER-LSN late update must not."""
    rows = [
        (1, "insert", "c1", 0, "v1"),
        (2, "delete", "c1", 0, None),
        (5, "insert", "c1", 0, "v3"),
        (3, "update", "c1", 0, "late"),  # lower LSN than the re-insert
    ]
    df = spark.createDataFrame(rows, ["lsn", "op", "conv_id", "turn_idx", "text"])
    log_dir = os.path.join(tmpdir_path, "log")
    df.repartitionByRange(4, "lsn").sortWithinPartitions("lsn").write.parquet(log_dir)

    cfg = SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=2,
        write_mode="mor",
        compact_every=0,
        envelope_cols=("lsn", "op"),
    )
    # one event per batch => four delta commits in LSN order
    run_sync(spark, cfg, events_per_batch=1)
    out = read_final_state(spark, cfg).collect()
    assert len(out) == 1
    assert out[0]["text"] == "v3"


def test_commit_writes_one_file_per_touched_bucket(spark, tmpdir_path):
    """COW commit, MoR delta commit and compaction on a 32-bucket table
    each write exactly one parquet file per touched bucket — however few
    tasks the write runs — and the manifest lists exactly those files."""
    from collections import Counter

    from estuary_spark.tables import bucket_expr

    rows = [(i, "insert", f"c{i % 400}", i % 3, f"t{i}") for i in range(1200)]
    log_dir = os.path.join(tmpdir_path, "log")
    log = spark.createDataFrame(rows, ["lsn", "op", "conv_id", "turn_idx", "text"])
    log.write.parquet(log_dir)
    touched = {r[0] for r in log.select(bucket_expr("conv_id", 32)).distinct().collect()}
    assert len(touched) > spark.sparkContext.defaultParallelism

    def newest_commit_layout(t):
        v = t.current_version()
        m = t.manifest()
        listed = {f for kind in ("files", "delta_files") for fl in m[kind].values() for f in fl}
        listed = {f for f in listed if f"-{v:010d}-" in f}
        (cdir,) = {f.split("/_bp=")[0] for f in listed}
        on_disk = {
            os.path.relpath(os.path.join(d, n), t.root)
            for d, _sub, names in os.walk(os.path.join(t.root, cdir))
            for n in names
            if n.endswith(".parquet")
        }
        assert listed == on_disk
        return Counter(int(f.split("_bp=")[1].split("/")[0]) for f in on_disk)

    for mode in ("cow", "mor"):
        cfg = SyncConfig(
            source_log_dir=log_dir,
            target_table_dir=os.path.join(tmpdir_path, mode),
            n_buckets=32,
            envelope_cols=("lsn", "op"),
            write_mode=mode,
            compact_every=0,
        )
        run_sync(spark, cfg, events_per_batch=10_000)
        t = LakeTable(cfg.target_table_dir)
        assert newest_commit_layout(t) == {b: 1 for b in touched}, mode
        if mode == "mor":
            assert compact(spark, t, max_files_per_bucket=10**9, max_delta_files_per_bucket=0) == len(touched)
            assert newest_commit_layout(t) == {b: 1 for b in touched}
            assert t.delta_buckets() == []

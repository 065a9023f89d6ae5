"""Online bucket-count change (``maintenance.rebucket``): one atomic
snapshot swaps data layout and ``n_buckets`` together, state is
preserved exactly (tombstones included), pruned reads work against the
new modulus, and a sync continued AFTER the rebucket applies with the
new bucket ids — the grow-100x story a fixed-bucket table can't tell.
"""

import os

from pyspark.sql import functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.generator import LogSpec, expected_final_state, read_log, write_log
from estuary_spark.maintenance import rebucket
from estuary_spark.runner import run_sync
from estuary_spark.tables import BUCKET_COL, LakeTable, bucket_expr


def _fold(spark, log):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in expected_final_state(log).collect()
    }


def _state(spark, root):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in LakeTable(root).read(spark).select("conv_id", "turn_idx", "text").collect()
    }


def test_rebucket_preserves_state_and_continues_sync(spark, tmpdir_path):
    log_dir = os.path.join(tmpdir_path, "log")
    root = os.path.join(tmpdir_path, "t")
    write_log(spark, LogSpec(n_convs=40, max_turns=8, seed=81, delete_pct=20), log_dir)
    log = read_log(spark, log_dir)
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    cut = (int(lo) + int(hi)) // 2
    cfg = SyncConfig(
        source_log_dir=log_dir, target_table_dir=root, n_buckets=8,
        write_mode="mor", compact_every=0,
        checkpoint_path=os.path.join(tmpdir_path, "ck.json"),
    )

    # phase 1 at 8 buckets, then grow to 32 mid-life
    run_sync(spark, SyncConfig(**{**cfg.__dict__, "stop_at_lsn": cut}), events_per_batch=400)
    t = LakeTable(root)
    before = _state(spark, root)
    rebucket(spark, t, 32)

    m = t.manifest()
    assert m["n_buckets"] == 32
    assert all(not fl for fl in m.get("delta_files", {}).values())  # deltas folded in
    assert _state(spark, root) == before

    # every row's stored bucket id matches the new modulus, and a pruned
    # read returns exactly that bucket's rows
    bad = (
        t.read(spark)
        .filter(F.col(BUCKET_COL) != bucket_expr("conv_id", 32))
        .count()
    )
    assert bad == 0
    some_b = int(t.read(spark).select(BUCKET_COL).first()[0])
    pruned = t.read(spark, buckets=[some_b])
    assert pruned.filter(F.col(BUCKET_COL) != some_b).count() == 0
    assert pruned.count() == t.read(spark).filter(F.col(BUCKET_COL) == some_b).count()

    # phase 2: the continued sync picks the new modulus up from the
    # manifest and the final state still equals the pure fold
    run_sync(spark, cfg, events_per_batch=400)
    assert _state(spark, root) == _fold(spark, log)
    assert LakeTable(root).manifest()["n_buckets"] == 32


def test_rebucket_races_live_sync_converges(spark, tmpdir_path):
    """VERDICT r4 #7 — the end-to-end rebucket-UNDER-LOAD drill: a
    rebucket races a live sync's batch commits through the FileIO seam.
    Either side may lose the optimistic publish and get the typed
    CommitConflictError (never a corrupted layout); both retry — the
    sync resumes from its checkpoint, the rebucket recomputes from the
    fresh snapshot — and the fold converges to the pure-Python oracle
    under the new modulus."""
    import threading

    from estuary_spark.tables import CommitConflictError

    log_dir = os.path.join(tmpdir_path, "log")
    root = os.path.join(tmpdir_path, "t")
    write_log(spark, LogSpec(n_convs=120, max_turns=10, seed=83, delete_pct=15), log_dir)
    log = read_log(spark, log_dir)
    cfg = SyncConfig(
        source_log_dir=log_dir, target_table_dir=root, n_buckets=8,
        checkpoint_path=os.path.join(tmpdir_path, "ck.json"),
    )

    sync_err: list = []
    conflicts = {"sync": 0, "rebucket": 0}

    def syncer():
        # many small batches = many commit windows for the race; a batch
        # that loses its publish to the rebucket raises the TYPED conflict
        # and the checkpointed restart resumes exactly after the last
        # committed batch (C5: nothing commits on failure)
        for _ in range(200):
            try:
                run_sync(spark, cfg, events_per_batch=60)
                return
            except CommitConflictError:
                conflicts["sync"] += 1
        sync_err.append("sync never finished")

    th = threading.Thread(target=syncer, name="live-sync")
    th.start()
    import time as _time

    # wait for the table to exist, then race the rebucket against live
    # batches, retrying on the typed conflict until it wins a publish
    deadline = _time.time() + 420
    while not LakeTable(root).exists() and _time.time() < deadline:
        _time.sleep(0.05)
    done = False
    while not done and _time.time() < deadline:
        try:
            rebucket(spark, LakeTable(root), 32)
            done = True
        except CommitConflictError:
            conflicts["rebucket"] += 1
    th.join(timeout=600)
    assert not th.is_alive() and not sync_err and done

    # if the sync outlived the rebucket, later batches adopted the new
    # modulus from the manifest; if not, run a catch-up leg (idempotent)
    run_sync(spark, cfg, events_per_batch=400)

    tb = LakeTable(root)
    assert tb.manifest()["n_buckets"] == 32
    assert _state(spark, root) == _fold(spark, read_log(spark, log_dir))
    # layout invariant: every stored bucket id matches the new modulus
    assert (
        tb.read(spark).filter(F.col(BUCKET_COL) != bucket_expr("conv_id", 32)).count()
        == 0
    )


def test_concurrent_rebuckets_one_typed_loser(spark, tmpdir_path):
    """Two rebuckets computed from the SAME snapshot: exactly one
    publishes; the other must get the typed CommitConflictError (its
    replaced buckets overlap the winner's), never a mixed layout."""
    import threading

    from estuary_spark.tables import CommitConflictError

    log_dir = os.path.join(tmpdir_path, "log")
    root = os.path.join(tmpdir_path, "t")
    write_log(spark, LogSpec(n_convs=40, max_turns=6, seed=84), log_dir)
    cfg = SyncConfig(source_log_dir=log_dir, target_table_dir=root, n_buckets=8)
    run_sync(spark, cfg, events_per_batch=10_000)
    before = _state(spark, root)

    barrier = threading.Barrier(2)
    results: dict = {}

    def one(name, target):
        t = LakeTable(root)
        t.manifest()  # both hold the same base snapshot...
        barrier.wait()  # ...and race the rewrite+publish
        try:
            results[name] = ("ok", rebucket(spark, t, target))
        except CommitConflictError as e:
            results[name] = ("conflict", str(e))

    ths = [
        threading.Thread(target=one, args=("a", 16)),
        threading.Thread(target=one, args=("b", 64)),
    ]
    for t_ in ths:
        t_.start()
    for t_ in ths:
        t_.join(timeout=300)

    outcomes = sorted(kind for kind, _ in results.values())
    assert outcomes == ["conflict", "ok"], results
    n = LakeTable(root).manifest()["n_buckets"]
    assert n in (16, 64)
    assert _state(spark, root) == before  # state identical under the winner
    assert (
        LakeTable(root)
        .read(spark)
        .filter(F.col(BUCKET_COL) != bucket_expr("conv_id", n))
        .count()
        == 0
    )


def _rebucket_after_routing_fails_the_batch(spark, tmpdir_path, monkeypatch, write_mode):
    import pytest

    import estuary_spark.apply as A
    from estuary_spark.tables import CommitConflictError

    log_dir = os.path.join(tmpdir_path, "log")
    root = os.path.join(tmpdir_path, "t")
    write_log(spark, LogSpec(n_convs=30, max_turns=6, seed=85, delete_pct=15), log_dir)
    cfg = SyncConfig(
        source_log_dir=log_dir, target_table_dir=root, n_buckets=8, write_mode=write_mode,
        checkpoint_path=os.path.join(tmpdir_path, "ck.json"),
    )
    run_sync(spark, cfg, events_per_batch=150, max_batches=1)

    real = A.bucket_expr
    moduli: list = []

    def route_then_rebucket(key_col, n_buckets):
        expr = real(key_col, n_buckets)
        if not moduli:
            moduli.append(n_buckets)
            rebucket(spark, LakeTable(root), 32)
        return expr

    monkeypatch.setattr(A, "bucket_expr", route_then_rebucket)
    with pytest.raises(CommitConflictError):
        run_sync(spark, cfg, events_per_batch=150)
    assert moduli == [8]
    monkeypatch.undo()

    run_sync(spark, cfg, events_per_batch=150)
    t = LakeTable(root)
    assert t.manifest()["n_buckets"] == 32
    assert _state(spark, root) == _fold(spark, read_log(spark, log_dir))
    assert t.read(spark).filter(F.col(BUCKET_COL) != bucket_expr("conv_id", 32)).count() == 0


def test_rebucket_after_routing_fails_the_cow_batch(spark, tmpdir_path, monkeypatch):
    """The interleaving the live race above can hit: a rebucket lands
    after a copy-on-write batch routed its winners with the old modulus
    but before the batch pins its merge snapshot. The batch must fail with
    the typed conflict instead of committing old-modulus rows into the new
    layout; the checkpointed re-run converges under the new modulus."""
    _rebucket_after_routing_fails_the_batch(spark, tmpdir_path, monkeypatch, "cow")


def test_rebucket_after_routing_fails_the_mor_batch(spark, tmpdir_path, monkeypatch):
    """The same interleaving in merge-on-read: the delta commit must not
    rebase onto the rebucketed layout and append rows under old-modulus
    bucket ids."""
    _rebucket_after_routing_fails_the_batch(spark, tmpdir_path, monkeypatch, "mor")

"""Property-based check (SURVEY.md §5.3): random interleavings of
insert/update/delete per key ⇒ engine final state equals a pure-Python
last-by-LSN fold. Seeded random (deterministic across runs)."""

import os
import random

import pytest
from pyspark.sql import types as T

from estuary_spark.config import SyncConfig
from estuary_spark.runner import read_final_state, run_sync

SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def python_fold(events):
    """The reference fold in plain Python: last-by-LSN, tombstones folded."""
    state = {}
    for e in sorted(events, key=lambda e: e["lsn"]):
        k = (e["conv_id"], e["turn_idx"])
        state[k] = e
    return {
        k: (e["text"], e["lsn"])
        for k, e in state.items()
        if e["op"] != "delete"
    }


def _random_events(rng, n_keys, n_events):
    events = []
    lsns = rng.sample(range(n_events * 10), n_events)
    for i in range(n_events):
        conv = f"c{rng.randrange(n_keys)}"
        turn = rng.randrange(4)
        op = rng.choice(["insert", "update", "update", "update", "delete"])
        events.append(
            {
                "lsn": lsns[i],
                "op": op,
                "conv_id": conv,
                "turn_idx": turn,
                "text": f"t-{conv}-{turn}-{lsns[i]}",
            }
        )
    # duplicate a few verbatim (replay injection)
    for e in rng.sample(events, max(1, n_events // 20)):
        events.append(dict(e))
    return events


@pytest.mark.parametrize(
    "mode", [{"write_mode": "cow"}, {"write_mode": "mor", "compact_every": 2}], ids=["cow", "mor"]
)
def test_random_interleavings_match_python_fold(spark, tmpdir_path, mode):
    for trial in range(3):
        rng = random.Random(1000 + trial)
        events = _random_events(rng, n_keys=15, n_events=300)
        log_dir = os.path.join(tmpdir_path, f"log{trial}")
        spark.createDataFrame(events, SCHEMA).repartition(4).write.parquet(log_dir)

        cfg = SyncConfig(
            source_log_dir=log_dir,
            target_table_dir=os.path.join(tmpdir_path, f"table{trial}"),
            n_buckets=4,
            envelope_cols=("lsn", "op"),
            **mode,
        )
        run_sync(spark, cfg, events_per_batch=70)

        got = {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["_lsn"])
            for r in read_final_state(spark, cfg).collect()
        }
        assert got == python_fold(events), f"trial {trial} diverged"


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_equal_lsn_delete_wins_at_any_batch_cut(spark, tmpdir_path, write_mode):
    """An insert and a delete of one key at the SAME LSN leave the key
    deleted however the two events are cut into batches: together, insert
    then delete, or delete then insert (and, in MoR, after compaction)."""
    from estuary_spark.apply import apply_batch
    from estuary_spark.maintenance import compact
    from estuary_spark.runner import user_schema_of_log
    from estuary_spark.tables import LakeTable

    ins = {"lsn": 5, "op": "insert", "conv_id": "c1", "turn_idx": 0, "text": "alive"}
    dele = {"lsn": 5, "op": "delete", "conv_id": "c1", "turn_idx": 0, "text": None}
    cuts = {
        "together": [[ins, dele]],
        "insert-then-delete": [[ins], [dele]],
        "delete-then-insert": [[dele], [ins]],
    }
    for name, batches in cuts.items():
        cfg = SyncConfig(
            source_log_dir="unused",
            target_table_dir=os.path.join(tmpdir_path, name),
            n_buckets=2,
            envelope_cols=("lsn", "op"),
            write_mode=write_mode,
            compact_every=0,
        )
        frames = [spark.createDataFrame(b, SCHEMA) for b in batches]
        t = LakeTable.create(
            cfg.target_table_dir, user_schema_of_log(frames[0], cfg), n_buckets=2,
            key_cols=list(cfg.key_cols),
        )
        for i, df in enumerate(frames):
            apply_batch(spark, t, df, cfg, i)
        assert t.read(spark).count() == 0, name
        (row,) = t.read(spark, include_tombstones=True).collect()
        assert row["_deleted"] and row["_lsn"] == 5, name
        if write_mode == "mor":
            compact(spark, t, max_files_per_bucket=10**9, max_delta_files_per_bucket=0)
            assert t.read(spark).count() == 0, name


def python_changes(events, cut):
    """Reference net feed: winner per key over all events; emit iff its
    lsn >= cut; deletes kept with type 'delete'."""
    state = {}
    for e in sorted(events, key=lambda e: e["lsn"]):
        state[(e["conv_id"], e["turn_idx"])] = e
    return {
        k: (e["text"], e["lsn"], "delete" if e["op"] == "delete" else "upsert")
        for k, e in state.items()
        if e["lsn"] >= cut
    }


def test_random_interleavings_changes_feed(spark, tmpdir_path):
    """Property: for random event interleavings (dups/ooo included, MoR
    mode, random compaction) and a random cut, read_changes(cut) equals
    the pure-Python net fold, and applying the feed onto the pre-cut fold
    reproduces the full fold — for every trial."""
    from estuary_spark.maintenance import compact
    from estuary_spark.tables import LakeTable

    for trial in range(3):
        rng = random.Random(2000 + trial)
        events = _random_events(rng, n_keys=15, n_events=300)
        log_dir = os.path.join(tmpdir_path, f"clog{trial}")
        spark.createDataFrame(events, SCHEMA).repartition(4).write.parquet(log_dir)

        cfg = SyncConfig(
            source_log_dir=log_dir,
            target_table_dir=os.path.join(tmpdir_path, f"ctable{trial}"),
            n_buckets=4,
            envelope_cols=("lsn", "op"),
            write_mode="mor",
            compact_every=0,
        )
        run_sync(spark, cfg, events_per_batch=70)
        t = LakeTable(cfg.target_table_dir)
        if trial % 2:
            compact(spark, t, max_files_per_bucket=10**9, max_delta_files_per_bucket=0)

        cut = rng.choice(sorted(e["lsn"] for e in events))
        got = {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["_change_lsn"], r["_change_type"])
            for r in t.read_changes(spark, cut).collect()
        }
        assert got == python_changes(events, cut), f"trial {trial} feed diverged"

        # completeness: pre-cut state + feed == full fold
        state = {
            k: v for k, v in python_fold([e for e in events if e["lsn"] < cut]).items()
        }
        for k, (text, lsn, typ) in got.items():
            if typ == "delete":
                state.pop(k, None)
            else:
                state[k] = (text, lsn)
        assert state == python_fold(events), f"trial {trial} consumer diverged"

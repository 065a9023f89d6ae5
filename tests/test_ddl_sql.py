"""SQL-string DDL ingestion (estuary parses MySQL DDL with ANTLR into
SchemaChange ops — SchemaChange.java:70-110, mysql/schema/Parser.scala:
29-64 in /root/reference; here estuary_spark.ddl lowers the same
statements onto the structured table ops): parse coverage, end-to-end
lowering through the multi-table sync, LSN-exact ADD COLUMN semantics,
rename, and replay convergence."""

import os

from pyspark.sql import functions as F, types as T

from estuary_spark.config import SyncConfig
from estuary_spark.ddl import parse_ddl
from estuary_spark.multi import read_final_state_multi, run_sync_multi
from estuary_spark.tables import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("src_table", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)
COLS = SCHEMA


def test_parse_ddl_statements():
    assert parse_ddl("TRUNCATE TABLE db1.a") == {"op": "truncate", "table": "db1.a"}
    assert parse_ddl("truncate `t`;") == {"op": "truncate", "table": "t"}
    assert parse_ddl("DROP TABLE IF EXISTS db1.b") == {"op": "drop_table", "table": "db1.b"}
    assert parse_ddl("RENAME TABLE a TO b") == {"op": "rename_table", "table": "a", "to": "b"}
    assert parse_ddl("ALTER TABLE a RENAME TO b") == {
        "op": "rename_table", "table": "a", "to": "b",
    }
    p = parse_ddl("ALTER TABLE t ADD COLUMN x INT NOT NULL DEFAULT 0, ADD y DECIMAL(10,2)")
    assert p["op"] == "add_column" and p["table"] == "t"
    assert p["columns"] == [("x", T.IntegerType()), ("y", T.DecimalType(10, 2))]
    assert parse_ddl("ALTER TABLE t ADD COLUMN c VARCHAR(64) AFTER b")["columns"] == [
        ("c", T.StringType())
    ]
    assert parse_ddl("ALTER TABLE t MODIFY COLUMN c TEXT")["op"] == "modify_column"
    assert parse_ddl("CREATE INDEX i ON t (c)")["op"] == "unsupported"
    assert parse_ddl("")["op"] == "unsupported"
    assert parse_ddl("garbage ( (")["op"] == "unsupported"  # never raises


def _mk_cfg(tmpdir_path, **kw):
    base = dict(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "tables"),
        checkpoint_path=os.path.join(tmpdir_path, "ckpt.json"),
        n_buckets=2,
        # `tool` stays envelope (never auto-projected) until a DDL
        # declares it — the connector-noise contract
        envelope_cols=("lsn", "op", "tool"),
        table_col="src_table",
    )
    base.update(kw)
    return SyncConfig(**base)


def _state(spark, cfg):
    return {
        (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"],
         r["tool"] if "tool" in r.__fields__ else None)
        for r in read_final_state_multi(spark, cfg).collect()
    }


def test_ddl_truncate_add_column_end_to_end(spark, tmpdir_path):
    """DDL as text mid-log: TRUNCATE supersedes older rows; ADD COLUMN
    projects the declared column ONLY for events above the DDL's LSN
    (LSN-exact, batch-boundary-independent); replay converges."""
    rows = [
        (1, "insert", "db1.a", "c1", 0, "a1", "x1"),
        (2, "insert", "db1.b", "k1", 0, "b1", "x2"),   # pre-DDL tool = noise
        (3, "insert", "db1.a", "c2", 0, "a2", "x3"),
        (4, "ddl", "db1.a", None, None, "TRUNCATE TABLE db1.a", None),
        (5, "ddl", "db1.b", None, None,
         "ALTER TABLE db1.b ADD COLUMN tool VARCHAR(64)", None),
        (6, "insert", "db1.a", "c3", 0, "a3", "x6"),   # post-truncate; no DDL for a
        (7, "update", "db1.b", "k1", 0, "b1-v2", "t7"),  # post-DDL: tool flows
        (8, "insert", "db1.b", "k2", 1, "b2", "t8"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    cfg = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg, events_per_batch=3)

    expect = {
        ("db1.a", "c3", 0, "a3", None),        # truncated at 4; no tool DDL
        ("db1.b", "k1", 0, "b1-v2", "t7"),     # winner above DDL lsn 5
        ("db1.b", "k2", 1, "b2", "t8"),
    }
    assert _state(spark, cfg) == expect
    tb = LakeTable(os.path.join(cfg.target_table_dir, "db1.b"))
    assert tb.properties()["column_added_lsns"] == {"tool": 5}
    assert "tool" in tb.schema.names
    ta = LakeTable(os.path.join(cfg.target_table_dir, "db1.a"))
    assert "tool" not in ta.schema.names  # no DDL for a -> stays envelope

    # replay from scratch converges (ops watermark-guarded, ranges replayed)
    cfg2 = _mk_cfg(tmpdir_path)
    os.remove(cfg2.checkpoint_path)
    run_sync_multi(spark, cfg2, events_per_batch=3)
    assert _state(spark, cfg2) == expect

    # different batch cut -> same state (LSN-exact mask, not batch-based)
    import shutil

    shutil.rmtree(cfg.target_table_dir)
    os.remove(cfg.checkpoint_path)
    cfg3 = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg3, events_per_batch=2)
    assert _state(spark, cfg3) == expect

    # single-batch edge: the DDL is in the SAME batch as the tables' first
    # row events (ops run before the fan-out) — ADD COLUMN creates the
    # missing destination from the batch schema, truncate's supersede
    # filter handles the rest; state is unchanged
    shutil.rmtree(cfg.target_table_dir)
    os.remove(cfg.checkpoint_path)
    cfg4 = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg4, events_per_batch=100)
    assert _state(spark, cfg4) == expect


def test_ddl_drop_and_rename(spark, tmpdir_path):
    """DROP TABLE as text lowers to the logical drop (fenced empty
    snapshot); RENAME TABLE moves the destination so existing data
    follows, and post-rename events under the new source name land on it."""
    rows = [
        (1, "insert", "db1.a", "c1", 0, "a1", None),
        (2, "insert", "db1.gone", "g1", 0, "g1", None),
        (3, "ddl", "db1.gone", None, None, "DROP TABLE IF EXISTS db1.gone", None),
        (4, "ddl", "db1.a", None, None, "RENAME TABLE db1.a TO db1.a2", None),
        (5, "update", "db1.a2", "c1", 0, "a1-v2", None),
        (6, "insert", "db1.a2", "c2", 1, "a2", None),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    cfg = _mk_cfg(tmpdir_path)
    # one event per batch so the insert's batch precedes the drop's (a
    # coarser cut where both share a batch is also correct — the drop
    # supersedes the insert and the table is simply never created)
    run_sync_multi(spark, cfg, events_per_batch=1)

    root = cfg.target_table_dir
    gone = LakeTable(os.path.join(root, "db1.gone"))
    assert int(gone.properties()["dropped_at_lsn"]) == 3  # logical drop
    assert gone.read(spark).count() == 0
    a2 = LakeTable(os.path.join(root, "db1.a2"))
    assert a2.properties()["renamed_from"] == "db1.a"
    # old name = fenced empty tombstone (purged later by maintenance)
    ta = LakeTable(os.path.join(root, "db1.a"))
    assert ta.exists() and ta.read(spark).count() == 0
    assert int(ta.properties()["table_ops_lsn"]) == 4
    assert ta.properties()["renamed_to"] == "db1.a2"
    assert _state(spark, cfg) == {
        ("db1.a2", "c1", 0, "a1-v2", None),  # pre-rename row carried over + updated
        ("db1.a2", "c2", 1, "a2", None),
    }

    # replay converges: rename already done (old gone, new exists), drop
    # watermark-guarded, row events replay to no-ops
    cfg2 = _mk_cfg(tmpdir_path)
    os.remove(cfg2.checkpoint_path)
    run_sync_multi(spark, cfg2, events_per_batch=2)
    assert _state(spark, cfg2) == {
        ("db1.a2", "c1", 0, "a1-v2", None),
        ("db1.a2", "c2", 1, "a2", None),
    }


def test_parse_ddl_round5_statements():
    """Round-5 grammar coverage: DROP COLUMN, CREATE TABLE (incl. LIKE),
    CHANGE column-rename, mixed-clause ALTER (VERDICT r4 #1)."""
    p = parse_ddl(
        "CREATE TABLE db1.c (conv_id VARCHAR(64) NOT NULL, turn_idx INT, "
        "text TEXT, PRIMARY KEY (conv_id, turn_idx)) ENGINE=InnoDB"
    )
    assert p["op"] == "create_table" and p["table"] == "db1.c"
    assert [n for n, _ in p["columns"]] == ["conv_id", "turn_idx", "text"]
    assert p["key_cols"] == ["conv_id", "turn_idx"]
    p = parse_ddl("CREATE TABLE t (`id` BIGINT PRIMARY KEY, v DECIMAL(8,2), KEY iv (v))")
    assert p["key_cols"] == ["id"] and [n for n, _ in p["columns"]] == ["id", "v"]
    assert parse_ddl("CREATE TABLE db1.d LIKE db1.c") == {
        "op": "create_table_like", "table": "db1.d", "like": "db1.c",
    }
    assert parse_ddl("CREATE TABLE db1.d (LIKE db1.c)")["like"] == "db1.c"

    p = parse_ddl("ALTER TABLE t DROP COLUMN tool, DROP IF EXISTS extra")
    assert p["op"] == "drop_column" and p["columns"] == ["tool", "extra"]
    # index-level drops are NOT column drops
    assert parse_ddl("ALTER TABLE t DROP PRIMARY KEY")["op"] == "unsupported"
    assert parse_ddl("ALTER TABLE t DROP INDEX i")["op"] == "unsupported"

    p = parse_ddl("ALTER TABLE t CHANGE COLUMN tool tool_name VARCHAR(64)")
    assert p["op"] == "rename_column" and p["renames"] == [("tool", "tool_name")]
    assert parse_ddl("ALTER TABLE t RENAME COLUMN a TO b")["renames"] == [("a", "b")]
    # CHANGE with the same name = type-only modify (no rename mapping)
    assert parse_ddl("ALTER TABLE t CHANGE a a BIGINT")["op"] == "modify_column"

    p = parse_ddl("ALTER TABLE t ADD COLUMN x INT, DROP COLUMN y, CHANGE z zz TEXT")
    assert p["op"] == "alter_table"
    assert [k for k, _ in p["actions"]] == ["add_column", "drop_column", "rename_column"]


def test_parse_drop_column_named_like_a_reserved_word():
    """An explicit ``DROP COLUMN`` drops a column even when its name is a
    word the bare ``DROP <ident>`` form reserves for index-level drops."""
    for name in ("key", "index", "primary", "check"):
        p = parse_ddl(f"ALTER TABLE t DROP COLUMN {name}")
        assert p["op"] == "drop_column" and p["columns"] == [name], p
    assert parse_ddl("ALTER TABLE t DROP COLUMN IF EXISTS `key`")["columns"] == ["key"]
    # the bare form still leaves index-level drops alone
    assert parse_ddl("ALTER TABLE t DROP KEY k")["op"] == "unsupported"
    assert parse_ddl("ALTER TABLE t DROP FOREIGN KEY fk")["op"] == "unsupported"
    assert parse_ddl("ALTER TABLE t DROP x")["columns"] == ["x"]


def test_ddl_drop_column_end_to_end(spark, tmpdir_path):
    """DROP COLUMN is metadata-only: the column reads NULL from the drop
    LSN for EVERY row (MySQL drops it instantly), post-drop event values
    are masked as connector noise, storage is never rewritten, and replay
    with a different batch cut converges."""
    rows = [
        (1, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (2, "insert", "db1.a", "c1", 0, "a1", "t2"),
        (3, "insert", "db1.a", "c2", 0, "a2", "t3"),
        (4, "ddl", "db1.a", None, None, "ALTER TABLE db1.a DROP COLUMN tool", None),
        (5, "update", "db1.a", "c1", 0, "a1-v2", "noise"),  # post-drop noise
        (6, "insert", "db1.a", "c3", 0, "a3", "noise"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    expect = {
        ("db1.a", "c1", 0, "a1-v2", None),
        ("db1.a", "c2", 0, "a2", None),   # pre-drop value masked at read
        ("db1.a", "c3", 0, "a3", None),
    }
    for epb in (2, 100):
        import shutil

        shutil.rmtree(os.path.join(tmpdir_path, "tables"), ignore_errors=True)
        if os.path.exists(os.path.join(tmpdir_path, "ckpt.json")):
            os.remove(os.path.join(tmpdir_path, "ckpt.json"))
        cfg = _mk_cfg(tmpdir_path)
        run_sync_multi(spark, cfg, events_per_batch=epb)
        assert _state(spark, cfg) == expect, f"epb={epb}"
    t = LakeTable(os.path.join(cfg.target_table_dir, "db1.a"))
    assert t.properties()["column_dropped_lsns"] == {"tool": 4}
    assert "tool" in t.schema.names  # storage additive; read masks


def test_ddl_change_column_rename_end_to_end(spark, tmpdir_path):
    """CHANGE old new: the column renames in metadata, pre-rename data
    files keep reading through the alias coalesce, replayed pre-rename
    EVENTS unify into the new name (no phantom re-add), and the add-LSN
    mask follows the rename."""
    rows = [
        (1, "ddl", "db1.b", None, None, "ALTER TABLE db1.b ADD COLUMN tool VARCHAR(64)", None),
        (2, "insert", "db1.b", "k1", 0, "b1", "t2"),
        (3, "insert", "db1.b", "k2", 0, "b2", "t3"),
        (4, "ddl", "db1.b", None, None,
         "ALTER TABLE db1.b CHANGE COLUMN tool tool_name VARCHAR(64)", None),
        # post-rename events: the synthetic log still carries the column
        # under its old name — exactly the replayed-pre-rename shape the
        # fan-out unification handles
        (5, "update", "db1.b", "k1", 0, "b1-v2", "t5"),
        (6, "insert", "db1.b", "k3", 0, "b3", "t6"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    expect = {
        ("db1.b", "k1", 0, "b1-v2", "t5"),
        ("db1.b", "k2", 0, "b2", "t3"),
        ("db1.b", "k3", 0, "b3", "t6"),
    }
    for epb in (2, 100):
        import shutil

        shutil.rmtree(os.path.join(tmpdir_path, "tables"), ignore_errors=True)
        if os.path.exists(os.path.join(tmpdir_path, "ckpt.json")):
            os.remove(os.path.join(tmpdir_path, "ckpt.json"))
        cfg = _mk_cfg(tmpdir_path)
        run_sync_multi(spark, cfg, events_per_batch=epb)
        t = LakeTable(os.path.join(cfg.target_table_dir, "db1.b"))
        assert "tool_name" in t.schema.names and "tool" not in t.schema.names
        got = {
            (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"], r["tool_name"])
            for r in read_final_state_multi(spark, cfg).collect()
        }
        assert got == expect, f"epb={epb}"
    props = t.properties()
    assert props["column_aliases"] == {"tool_name": ["tool"]}
    assert props["column_added_lsns"] == {"tool_name": 1}  # bookkeeping migrated


def test_ddl_create_table_with_pk_and_like(spark, tmpdir_path):
    """CREATE TABLE carries the parsed PRIMARY KEY into the destination's
    merge identity (events for that table fold by ITS key, not the task
    default), and CREATE TABLE LIKE clones schema + keys."""
    rows = [
        (1, "ddl", "db1.c", None, None,
         "CREATE TABLE db1.c (conv_id VARCHAR(64), turn_idx INT, text TEXT, "
         "PRIMARY KEY (conv_id)) ENGINE=InnoDB", None),
        # same conv_id, DIFFERENT turn_idx: under the task default PK
        # (conv_id, turn_idx) these would be two rows; under the declared
        # PK (conv_id) the later LSN wins
        (2, "insert", "db1.c", "x", 0, "first", None),
        (3, "insert", "db1.c", "x", 1, "second", None),
        (4, "ddl", "db1.c", None, None, "CREATE TABLE db1.d LIKE db1.c", None),
        (5, "insert", "db1.a", "a1", 0, "plain", None),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    cfg = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg, events_per_batch=100)

    tc = LakeTable(os.path.join(cfg.target_table_dir, "db1.c"))
    assert tc.manifest()["key_cols"] == ["conv_id"]
    got = {(r["conv_id"], r["turn_idx"], r["text"]) for r in tc.read(spark).collect()}
    assert got == {("x", 1, "second")}  # folded by the DECLARED pk

    td = LakeTable(os.path.join(cfg.target_table_dir, "db1.d"))
    assert td.exists() and td.manifest()["key_cols"] == ["conv_id"]
    assert td.read(spark).count() == 0
    assert {f.name for f in td.schema.fields} == {f.name for f in tc.schema.fields}

    # replay converges (creates are idempotent)
    cfg2 = _mk_cfg(tmpdir_path)
    os.remove(cfg2.checkpoint_path)
    run_sync_multi(spark, cfg2, events_per_batch=2)
    got = {(r["conv_id"], r["turn_idx"], r["text"]) for r in tc.read(spark).collect()}
    assert got == {("x", 1, "second")}


def test_ddl_drop_then_readd_column(spark, tmpdir_path):
    """Re-ADD after DROP: rows written before the re-add read NULL (their
    stored values predate the re-created column — MySQL re-creates it
    empty); rows written after carry real values. Row-exact via _lsn."""
    rows = [
        (1, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (2, "insert", "db1.a", "c1", 0, "a1", "old"),
        (3, "ddl", "db1.a", None, None, "ALTER TABLE db1.a DROP COLUMN tool", None),
        (4, "insert", "db1.a", "c2", 0, "a2", "noise"),
        (5, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (6, "insert", "db1.a", "c3", 0, "a3", "new"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    expect = {
        ("db1.a", "c1", 0, "a1", None),   # pre-drop value: gone with the drop
        ("db1.a", "c2", 0, "a2", None),   # written while dropped
        ("db1.a", "c3", 0, "a3", "new"),  # post-re-add: real
    }
    for epb in (2, 100):
        import shutil

        shutil.rmtree(os.path.join(tmpdir_path, "tables"), ignore_errors=True)
        if os.path.exists(os.path.join(tmpdir_path, "ckpt.json")):
            os.remove(os.path.join(tmpdir_path, "ckpt.json"))
        cfg = _mk_cfg(tmpdir_path)
        run_sync_multi(spark, cfg, events_per_batch=epb)
        assert _state(spark, cfg) == expect, f"epb={epb}"


def test_ddl_readd_of_renamed_away_name(spark, tmpdir_path):
    """Edge: CHANGE a b, then later ADD COLUMN a (re-using the historical
    name). The new column must NOT leak into b through the alias
    coalesce; b's pre-rename stored values become unreachable (the
    documented no-field-ids trade), and the new a is LSN-masked like any
    added column."""
    rows = [
        (1, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (2, "insert", "db1.a", "c1", 0, "x1", "old-tool"),
        (3, "ddl", "db1.a", None, None,
         "ALTER TABLE db1.a CHANGE COLUMN tool tool_name VARCHAR(64)", None),
        # post-rename update for c1 WITHOUT touching c2
        (4, "update", "db1.a", "c1", 0, "x1-v2", "t4"),
        # re-use the old name as a brand-new column
        (5, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (6, "insert", "db1.a", "c2", 0, "x2", "new-tool"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    for epb in (2, 100):
        import shutil

        shutil.rmtree(os.path.join(tmpdir_path, "tables"), ignore_errors=True)
        if os.path.exists(os.path.join(tmpdir_path, "ckpt.json")):
            os.remove(os.path.join(tmpdir_path, "ckpt.json"))
        cfg = _mk_cfg(tmpdir_path)
        run_sync_multi(spark, cfg, events_per_batch=epb)
        got = {
            (r["conv_id"], r["text"], r["tool_name"], r["tool"])
            for r in read_final_state_multi(spark, cfg).collect()
        }
        # c1's winner (lsn 4) wrote tool_name=t4 post-rename; its new-a
        # `tool` is NULL (winner predates the re-add at 5). c2's winner
        # (lsn 6) carries the NEW tool; its tool_name is NULL — crucially
        # NOT 'new-tool' leaked through the alias.
        assert got == {
            ("c1", "x1-v2", "t4", None),
            ("c2", "x2", None, "new-tool"),
        }, f"epb={epb}"


def test_ddl_rename_then_readd_untouched_rows(spark, tmpdir_path):
    """Code-review regression: a row written PRE-rename and never touched
    again must, after the old name is re-ADDed, read its value under the
    RENAMED column and NULL under the re-created one — the stored file
    physically carries the old name, so without the retirement read-mask
    the new column would leak the old values."""
    rows = [
        (1, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (2, "insert", "db1.a", "c1", 0, "x1", "secret"),   # never touched again
        (3, "ddl", "db1.a", None, None,
         "ALTER TABLE db1.a CHANGE COLUMN tool tool_name VARCHAR(64)", None),
        (4, "ddl", "db1.a", None, None, "ALTER TABLE db1.a ADD COLUMN tool VARCHAR(64)", None),
        (5, "insert", "db1.a", "c2", 0, "x2", "new"),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.repartitionByRange(2, "lsn").write.mode("overwrite").parquet(
        os.path.join(tmpdir_path, "log")
    )
    expect = {
        # c1 keeps its value under the RENAMED column; the re-created
        # `tool` is NULL for it (pre-re-add row)
        ("db1.a", "c1", 0, "x1", "secret", None),
        ("db1.a", "c2", 0, "x2", None, "new"),
    }
    for epb in (2, 100):
        import shutil

        shutil.rmtree(os.path.join(tmpdir_path, "tables"), ignore_errors=True)
        if os.path.exists(os.path.join(tmpdir_path, "ckpt.json")):
            os.remove(os.path.join(tmpdir_path, "ckpt.json"))
        cfg = _mk_cfg(tmpdir_path)
        run_sync_multi(spark, cfg, events_per_batch=epb)
        got = {
            (r["_dst_table"], r["conv_id"], r["turn_idx"], r["text"],
             r["tool_name"], r["tool"])
            for r in read_final_state_multi(spark, cfg).collect()
        }
        assert got == expect, f"epb={epb}: {got}"


def test_ddl_same_lsn_create_then_like(spark, tmpdir_path):
    """Code-review regression: CREATE TABLE and CREATE TABLE LIKE sharing
    one LSN must apply in dependency order regardless of collect order
    (Spark's sort is not stable for equal keys)."""
    rows = [
        # LIKE listed FIRST in the log to stress the ordering
        (1, "ddl", "db1.d", None, None, "CREATE TABLE db1.d LIKE db1.c", None),
        (1, "ddl", "db1.c", None, None,
         "CREATE TABLE db1.c (conv_id VARCHAR(64), turn_idx INT, text TEXT, "
         "PRIMARY KEY (conv_id))", None),
        (2, "insert", "db1.a", "a1", 0, "row", None),
    ]
    df = spark.createDataFrame(rows, COLS)
    df.write.mode("overwrite").parquet(os.path.join(tmpdir_path, "log"))
    cfg = _mk_cfg(tmpdir_path)
    run_sync_multi(spark, cfg, events_per_batch=100)
    tc = LakeTable(os.path.join(cfg.target_table_dir, "db1.c"))
    td = LakeTable(os.path.join(cfg.target_table_dir, "db1.d"))
    assert tc.exists() and td.exists()
    assert td.manifest()["key_cols"] == ["conv_id"]  # cloned from c


def test_ddl_create_partial_pk_falls_back(spark, tmpdir_path):
    """Code-review regression: a PRIMARY KEY that only partially matches
    the parsed columns must fall back to the task key WHOLE — silently
    narrowing the merge identity would collapse distinct rows."""
    from estuary_spark.multi import _create_table

    cfg = _mk_cfg(tmpdir_path)
    os.makedirs(cfg.target_table_dir, exist_ok=True)
    _create_table(
        cfg, {}, "db1.p",
        [("conv_id", T.StringType()), ("turn_idx", T.IntegerType())],
        ["conv_id", "missing"],  # 'missing' failed to parse as a column
    )
    t = LakeTable(os.path.join(cfg.target_table_dir, "db1.p"))
    assert t.manifest()["key_cols"] == list(cfg.key_cols)  # whole fallback

"""Skew / partitioning behavior (SURVEY.md P2/P4/P6): salted LWW reduce
correctness under a hot key, bucket routing balance and stability."""

from pyspark.sql import functions as F

from estuary_spark.operators.lww import lww_reduce
from estuary_spark.tables import bucket_expr


def test_salted_lww_hot_key_correct(spark):
    """One key receives 50k events (extreme skew); winner must still be
    the max-LSN event, with and without salting, and counts must agree."""
    hot = spark.range(50_000).select(
        F.lit("hot").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("id").alias("lsn"),
        F.lit("update").alias("op"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("text"),
    )
    cold = spark.range(1_000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        (F.col("id") + 100_000).alias("lsn"),
        F.lit("insert").alias("op"),
        F.lit("cold").alias("text"),
    )
    df = hot.unionByName(cold)

    for salt in (0, 8):
        w = lww_reduce(df, ["conv_id", "turn_idx"], salt_factor=salt)
        got = {r["conv_id"]: (r["text"], r["_n_events"]) for r in w.collect()}
        assert got["hot"] == ("v49999", 50_000)
        assert len(got) == 1_001


def test_lww_tie_break_op_priority(spark):
    """Equal LSN: a delete beats every non-delete (``lww_order``); equal-LSN
    non-deletes are verbatim duplicates by the data model, so which one
    of them wins does not matter."""
    df = spark.createDataFrame(
        [
            ("k", 0, 5, "insert", "a"),
            ("k", 0, 5, "delete", "b"),
            ("k", 0, 5, "update", "c"),
        ],
        ["conv_id", "turn_idx", "lsn", "op", "text"],
    )
    w = lww_reduce(df, ["conv_id", "turn_idx"]).collect()[0]
    assert w["op"] == "delete"


def test_bucket_expr_stable_and_balanced(spark):
    """Bucket routing must be deterministic across sessions/plans and
    roughly balanced (consistent-hash-router analogue)."""
    n_buckets = 32
    df = spark.range(20_000).select(
        F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id")
    )
    b1 = df.select("conv_id", bucket_expr("conv_id", n_buckets).alias("b"))
    counts = {r["b"]: r["n"] for r in b1.groupBy("b").agg(F.count("*").alias("n")).collect()}
    assert len(counts) == n_buckets
    avg = 20_000 / n_buckets
    assert all(0.6 * avg < c < 1.4 * avg for c in counts.values()), counts

    # stability: recomputing yields identical assignment
    b2 = df.select("conv_id", bucket_expr("conv_id", n_buckets).alias("b2"))
    joined = b1.join(b2, "conv_id")
    assert joined.filter(F.col("b") != F.col("b2")).count() == 0


def test_partition_strategies_shape(spark):
    """MOD/PRIMARY_KEY/TABLE/TRANSACTION map to repartition shapes
    (README.md:68-90 ordering is about parallelism granularity)."""
    df = spark.range(1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.col("id").alias("lsn"),
    )
    # TRANSACTION = total order = single partition
    assert df.coalesce(1).rdd.getNumPartitions() == 1
    # PRIMARY_KEY = hash(conv, turn) across N
    pk = df.repartition(8, "conv_id", "turn_idx")
    assert pk.rdd.getNumPartitions() == 8
    # rows for one key land in one partition
    one = pk.withColumn("p", F.spark_partition_id()).filter(
        (F.col("conv_id") == "c3") & (F.col("turn_idx") == 0)
    )
    assert one.select("p").distinct().count() == 1


def test_autosalt_engages_on_flood_only(spark):
    """salt_factor=-1 (autosalt, VERDICT r3 #5): a single-key-flood batch
    auto-engages the two-phase salted reduce; a uniform batch keeps the
    single-shuffle plan (no extra exchange) — asserted via the physical
    plan, with correctness identical either way."""
    from estuary_spark.operators.lww import choose_salt_factor

    keys = ["conv_id", "turn_idx"]
    uniform = spark.range(40_000).select(
        F.concat(F.lit("c"), (F.col("id") % 8000).cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("id").alias("lsn"),
        F.lit("update").alias("op"),
        F.lit("u").alias("text"),
    )
    flood = spark.range(40_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("id").alias("lsn"),
        F.lit("update").alias("op"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("text"),
    )

    thr = 5_000  # scaled down so the 20k-event hot key counts as a flood
    assert choose_salt_factor(uniform, keys, flood_threshold=thr) == 0
    s = choose_salt_factor(flood, keys, flood_threshold=thr)
    assert s >= 2

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    uniform_plan = plan_of(lww_reduce(uniform, keys, salt_factor=0))
    salted_plan = plan_of(lww_reduce(flood, keys, salt_factor=s))
    assert "_salt" not in uniform_plan
    assert uniform_plan.count("Exchange") == 1  # one shuffle, no salt stage
    assert "_salt" in salted_plan
    assert salted_plan.count("Exchange") == 2  # pre-reduce + final

    # correctness identical: the flood's winner is the max-LSN hot event
    got = {
        r["conv_id"]: r["text"]
        for r in lww_reduce(flood, keys, salt_factor=s).collect()
        if r["conv_id"] == "hot"
    }
    assert got == {"hot": "v39998"}


def test_autosalt_end_to_end(spark, tmpdir_path):
    """salt_factor=-1 through the full sync: a flooded log applies
    correctly with autosalt deciding per batch."""
    import os

    from estuary_spark.config import SyncConfig
    from estuary_spark.runner import read_final_state, run_sync

    log = spark.range(8_000).select(
        F.col("id").alias("lsn"),
        F.lit("update").alias("op"),
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("text"),
    )
    log_dir = os.path.join(tmpdir_path, "log")
    log.repartitionByRange(2, "lsn").write.parquet(log_dir)
    cfg = SyncConfig(
        source_log_dir=log_dir,
        target_table_dir=os.path.join(tmpdir_path, "t"),
        n_buckets=4,
        envelope_cols=("lsn", "op"),
        salt_factor=-1,
        autosalt_threshold=1_000,
    )
    run_sync(spark, cfg, events_per_batch=4_000)
    got = {r["conv_id"]: r["text"] for r in read_final_state(spark, cfg).collect()}
    assert got["hot"] == "v7998"
    assert len(got) == 4_001

"""Last-writer-wins dedupe/sequencing per key — the core CDC operator,
and the ONE place that knows which row wins for a key.

The winner rule (``lww_order``): the higher LSN wins; at equal LSN a
delete beats a non-delete. By the data model, equal-LSN non-deletes are
verbatim duplicates (replay injection), so any choice among them is the
same row. Every per-key fold in the engine — the batch reduce, the
read-time MoR fold, the change feed, the MoR lineage guard and the COW
merge guard — orders by this rule, so the applied table is the same
however the log is cut into batches.

The reference preserves per-key order structurally: a two-level
consistent-hash route pins every primary key to one batcher -> one sinker
actor, so events for one key apply in binlog order and the final value is
the last one (``mysql/lifecycle/reborn/batch/imp/MysqlBinlogInOrderBatcherMysqlManager.scala:33-42``,
``mysql/lifecycle/package.scala:96-134`` in /root/reference). In Spark the
hash shuffle IS the router, and order is restored *declaratively*:
``fold_latest`` = ``max_by(struct(values), lww_order)`` per key — no
mailbox, no pinning.

Skew (north-rule axis): a hot conversation can put 10-30% of a batch's
events on one key. ``lww_reduce(salt_factor=N)`` splits each key into
``N`` sub-groups for a local pre-reduce, then reduces the (at most
``N``) survivors per key — the classic two-phase/salted
aggregation. Catalyst's partial hash aggregation already performs a
map-side combine for ``max_by``; the explicit salt stage additionally
bounds the reduce-side per-key fan-in when a single key overflows one
task's hash table, and is what the north rule asks to be explicit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def lww_order(lsn: Column, is_delete: Column) -> Column:
    """The winner rule as one orderable long: the higher LSN wins, and at
    equal LSN a delete (a NULL flag counts as not deleted) beats a
    non-delete. Encoded as ``lsn*2 + is_delete`` — a fixed-width value, so
    order-only folds stay a hash-aggregable ``max`` — which needs LSNs
    below 2^62."""
    return lsn.cast("long") * 2 + F.coalesce(is_delete, F.lit(False)).cast("long")


def fold_latest(
    df: DataFrame,
    keys: list[str],
    order: Column | str,
    payload: list[str] | None = None,
    **aggs: Column,
) -> DataFrame:
    """One row per key: the ``payload`` columns (default: every non-key
    column) of the row with the highest ``order`` — normally an
    ``lww_order`` — plus one column per named aggregate in ``aggs``."""
    if payload is None:
        payload = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), order).alias("_w"),
        *[agg.alias(name) for name, agg in aggs.items()],
    ).select(*keys, "_w.*", *aggs)


def choose_salt_factor(
    df: DataFrame,
    key_cols: list[str],
    flood_threshold: int = 500_000,
    sample_rows: int = 200_000,
    seed: int = 7,
    n_hint: int | None = None,
) -> int:
    """AUTOSALT detector: decide per batch whether the explicit two-phase
    salted reduce is worth its extra full-width shuffle.

    The map-side partial aggregation absorbs ordinary hot keys, but a
    single-key FLOOD (one key holding a large fraction of the batch)
    still lands all its surviving rows on one reduce task — a straggler
    proportional to the flood size. Salting fixes that but costs a second
    shuffle of the WHOLE batch, so it must not run on uniform batches
    (the common case; static config can't know which batches flood —
    VERDICT r3 #5).

    With ``n_hint`` (an upper bound on the batch's event count known from
    the planner — e.g. the batch's LSN span), detection is ONE job: a
    per-key count over a bounded sample (<= ``sample_rows`` rows — the
    sample's groupBy is a tiny shuffle, not a batch-wide one) whose
    ``sum`` estimates the true row count and whose ``max`` estimates the
    hottest key. Without the hint it falls back to a separate ``count()``
    first (two jobs). The hottest key's estimated event count decides: 0
    (no salting, no extra shuffle) unless it exceeds ``flood_threshold``,
    else a factor sized so each salt sub-group stays around the
    threshold. A mean-events-per-key ratio
    (count / approx_count_distinct) cannot see a flood hiding among many
    uniform keys, which is exactly the pathological shape — hence the
    sample-max estimator."""
    if n_hint is None:
        n = df.count()
        if n <= flood_threshold:
            return 0
        frac = min(1.0, sample_rows / n)
    else:
        frac = min(1.0, sample_rows / max(int(n_hint), 1))
    row = (
        df.sample(fraction=frac, seed=seed)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"), F.sum("c").alias("s"))
        .first()
    )
    if n_hint is not None:
        # the sample itself estimates the true count — a sparse-LSN span
        # that over-estimated n resolves here without a second job
        n_est = int((row["s"] or 0) / frac)
        if n_est <= flood_threshold:
            return 0
    est_top = int((row["m"] or 0) / frac)
    if est_top <= flood_threshold:
        return 0
    return min(64, 2 * ((est_top + flood_threshold - 1) // flood_threshold))


def lww_reduce(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    salt_factor: int = 0,
    op_col: str = "op",
) -> DataFrame:
    """Reduce a change-event DataFrame to one winning event per key.

    Returns one row per key with the winning event's columns (by
    ``lww_order``), the key's event count ``_n_events`` and its LOWEST
    event LSN ``_min_lsn`` (with the winner's LSN, a batch's observed
    [min, max] span falls out of any later aggregate over the winners —
    no separate pass over the events).

    ``salt_factor > 1`` enables the explicit two-phase salted reduce. Both
    phases order by the same carried ``_ord``, so an equal-LSN
    delete+insert pair split across salt sub-groups resolves exactly as
    in the unsalted reduce.
    """
    payload = [c for c in df.columns if c not in key_cols]
    is_delete = F.col(op_col) == "delete" if op_col in df.columns else F.lit(False)
    df = df.withColumn("_ord", lww_order(F.col(lsn_col), is_delete))

    if salt_factor and salt_factor > 1:
        salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_factor)))
        partial = fold_latest(
            salted, [*key_cols, "_salt"], "_ord", [*payload, "_ord"],
            _n=F.count(F.lit(1)), _lo=F.min(lsn_col),
        )
        return fold_latest(
            partial, key_cols, "_ord", payload,
            _n_events=F.sum("_n"), _min_lsn=F.min("_lo"),
        )
    return fold_latest(
        df, key_cols, "_ord", payload,
        _n_events=F.count(F.lit(1)), _min_lsn=F.min(lsn_col),
    )

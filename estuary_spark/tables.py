"""LakeTable — a minimal bucketed lake-table format with atomic snapshot
commits, built only on parquet + JSON manifests.

This stands in for Iceberg (no Iceberg jars in this environment) and keeps
the three Iceberg properties the engine's exactly-once design needs
(SURVEY.md §2.7 C4):

1. **Atomic snapshot commit** — a commit is one ``os.rename`` of a JSON
   manifest; readers only ever see a complete snapshot. This is the Spark
   analogue of estuary's one-JDBC-transaction-per-flush
   (``core/source/MysqlHikariCpConnection.scala:56-76``).
2. **Snapshot properties carrying the applied source offset range** — the
   manifest records every applied ``[lsn_lo, lsn_hi]`` range, so a replayed
   micro-batch is detected and skipped (idempotent re-commit), which is how
   estuary's at-least-once replay window (delayed ZooKeeper offsets,
   ``SourceDataPositionRecorder.scala:37-44``) becomes exactly-once here.
3. **Bucketed layout + file-level pruning** — data files are grouped by
   ``bucket = pmod(xxhash64(conv_id), n_buckets)`` (Iceberg
   ``bucket(N, conv_id)`` analogue); a micro-batch rewrites only the
   buckets it touches, bounding copy-on-write amplification at 100 TB
   scale (raise ``n_buckets`` with table size so each bucket stays
   ~file-sized).

Additive schema evolution: the manifest schema is the source of truth;
older data files simply lack new columns and are read as NULL via an
explicit read schema (Iceberg add-column semantics,
``MysqlTableSchemaHolder.scala:79-101`` analogue).

Single-writer by design (one sync task owns a table), matching the
reference's one-controller-per-task model.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from estuary_spark.fileio import FileIO, LocalFileIO
from estuary_spark.operators.lww import fold_latest, lww_order

MANIFEST_DIR = "_manifests"
SHARD_SUBDIR = "shards"
DATA_DIR = "data"
BUCKET_COL = "_bucket"
LSN_COL = "_lsn"
DELETED_COL = "_deleted"

# Buckets per inventory shard (format-2 manifests). Tables with <= 64
# buckets keep one shard (same I/O count as an inline inventory); a
# 4096-bucket table gets 64 shards, so a commit touching k buckets
# rewrites <= min(k, 64) shard files instead of re-serializing the whole
# file inventory — the Iceberg manifest-list analogue.
DEFAULT_SHARD_BUCKETS = 64

# `properties["batch_ids"]` is a debugging breadcrumb (replay detection
# uses applied_ranges, which merge to O(1) for contiguous batches); cap it
# so snapshot metadata cannot grow O(#commits) over a 10^10-event run.
MAX_BATCH_IDS = 512

# in-process cache entries for immutable inventory shards (see
# LakeTable._load_shard); evicted wholesale when exceeded
_SHARD_CACHE_MAX = 4096


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key column (stable across sessions)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _schema_with_aliases(schema: T.StructType, m: dict) -> T.StructType:
    """Extend a scan schema with the HISTORICAL names of renamed columns
    (``properties["column_aliases"]: {new: [old, older, ...]}``): data
    files written before an ``ALTER TABLE .. CHANGE old new`` still carry
    the old column name, and an explicit-schema parquet read yields NULL
    for absent fields — so scanning with both names and coalescing reads
    every file generation correctly without rewriting a byte (the role
    Iceberg field-ids play; parquet-by-name engines must alias). Alias
    fields take the new field's type."""
    aliases = m.get("properties", {}).get("column_aliases", {})
    if not aliases:
        return schema
    out = T.StructType(list(schema.fields))
    for new, olds in aliases.items():
        if new not in out.names:
            continue
        dt = out[new].dataType
        for old in olds:
            if old not in out.names:
                out = out.add(old, dt, True)
    return out


def _apply_column_semantics(df: DataFrame, m: dict) -> DataFrame:
    """Apply the DDL shim's column-level read semantics recorded in the
    snapshot properties (the reference applies the same statement kinds to
    its schema holder — ``SchemaChange.java:70-110``,
    ``MysqlTableSchemaHolder.scala:35-101`` in /root/reference; here they
    lower to metadata + literal read expressions, never a data rewrite):

    * ``column_aliases`` (CHANGE old new): coalesce the historical names
      into the current one, then drop them — see
      :func:`_schema_with_aliases`.
    * ``column_dropped_lsns`` (DROP COLUMN at LSN X, and X supersedes any
      earlier ADD): the column reads NULL — storage is additive, the
      bytes stay for time travel, but current reads mask them (MySQL
      drops the column for every row instantly).
    * a RE-ADDED column (ADD at Y after DROP at X < Y): rows whose
      ``_lsn <= Y`` read NULL — their stored values predate the re-add
      (MySQL re-creates the column empty); rows written after Y are real.
      Row-exact because every stored row carries its winner's ``_lsn``.

    All masks are literal ``when()`` expressions — JVM-side, codegen'd,
    zero shuffle."""
    props = m.get("properties", {})
    aliases = props.get("column_aliases", {})
    added = props.get("column_added_lsns", {})
    dropped = props.get("column_dropped_lsns", {})
    retired = props.get("alias_retired_lsns", {})
    real = set(T.StructType.fromJson(m["schema"]).names)
    for new, olds in aliases.items():
        present = [o for o in olds if o in df.columns]
        if new in df.columns and present:
            # a RETIRED alias (its name re-used by a later ADD COLUMN)
            # only feeds rows at or below its retirement LSN — above it
            # the stored values belong to the re-added column
            srcs = [
                F.col(o)
                if o not in retired
                else F.when(F.col(LSN_COL) <= int(retired[o]), F.col(o))
                for o in present
            ]
            df = df.withColumn(new, F.coalesce(F.col(new), *srcs))
            df = df.drop(*[o for o in present if o not in real])
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c, dl in dropped.items():
        if c not in df.columns:
            continue
        al = int(added.get(c, -1))
        if int(dl) >= al:
            df = df.withColumn(c, F.lit(None).cast(schema[c]))
        elif LSN_COL in df.columns:
            # re-added after the drop: stored rows from before the re-add
            # hold pre-drop values that MySQL would have discarded
            df = df.withColumn(c, F.when(F.col(LSN_COL) > al, F.col(c)))
    # a column whose name was RETIRED from an alias list (CHANGE a b then
    # ADD COLUMN a) physically shares files with the renamed column's
    # pre-rename history: rows written at/below the re-add carry b's old
    # values under the name 'a' and must read NULL for the NEW a (the
    # re-created column is empty for them) — row-exact via each row's
    # winner _lsn, mirroring the drop/re-add mask above
    if LSN_COL in df.columns:
        for c, rl in retired.items():
            if c in df.columns and c in real:
                df = df.withColumn(c, F.when(F.col(LSN_COL) > int(rl), F.col(c)))
    return df


def _commit_dir_of(rel_file: str) -> str:
    """The commit directory a data file belongs to (files are laid out as
    ``data/<commit or delta dir>/_bp=<bucket>/<part>.parquet``)."""
    return rel_file.split("/_bp=", 1)[0]


def _update_commit_ranges(
    props: dict,
    commit_rel: str,
    lsn_range: list[int] | None,
    added_files: list[str],
    removed_files: list[str],
) -> None:
    """Maintain ``properties["commit_lsn_ranges"]`` — a per-commit-directory
    [lsn_lo, lsn_hi] map that lets incremental readers (``read_changes``)
    skip whole commit directories driver-side without touching parquet
    footers (the Iceberg snapshot-summary / Delta CDF commit-version
    analogue). ``lsn_range=None`` records nothing for the new commit
    (readers treat an absent entry as "may contain anything" — always
    conservative, never wrong).

    Liveness is tracked INCREMENTALLY via ``commit_dir_files`` (live file
    count per commit dir): the commit's added/removed file lists adjust
    the counts, and a dir whose count reaches zero loses its range entry.
    Cost is O(files touched by this commit), replacing the previous
    full-inventory scan — at 10^5+ live files per table the scan was an
    O(table) driver pass on EVERY commit. Callers must route every
    inventory mutation through here (truncate resets both maps)."""
    counts = dict(props.get("commit_dir_files", {}))
    rng = dict(props.get("commit_lsn_ranges", {}))
    for f in added_files:
        d = _commit_dir_of(f)
        counts[d] = counts.get(d, 0) + 1
    if lsn_range is not None:
        rng[commit_rel] = [int(lsn_range[0]), int(lsn_range[1])]
    for f in removed_files:
        d = _commit_dir_of(f)
        c = counts.get(d, 0) - 1
        if c <= 0:
            counts.pop(d, None)
            rng.pop(d, None)
        else:
            counts[d] = c
    props["commit_dir_files"] = counts
    props["commit_lsn_ranges"] = {d: r for d, r in rng.items() if d in counts}


class FeedRetentionError(RuntimeError):
    """A change feed was requested from before the tombstone-purge
    watermark: deletes below it have been physically removed, so the feed
    would silently miss them. Either start at/after the watermark, pass
    ``allow_incomplete=True`` (upserts-only semantics), or re-bootstrap
    the consumer from a full snapshot read. The analogue of resuming a
    CDC subscription below the log retention floor
    (``LogPositionHandler.scala:195-205`` in /root/reference — same
    contract, enforced the same way as checkpoint.LogRetentionError)."""


class CommitConflictError(RuntimeError):
    """A commit could not be applied because a concurrent writer changed
    state it depends on. Raised in two cases: (a) a copy-on-write commit's
    ``replaced_buckets`` were modified between read and publish — the
    rewrite was computed from stale data, the caller must recompute from
    the new snapshot (compaction callers typically just skip and retry
    next cycle); (b) the publish race was lost ``MAX_COMMIT_RETRIES``
    times in a row even for a rebaseable commit. Append-only commits
    (MoR delta, metadata-only) never hit (a): they are automatically
    REBASED onto the latest snapshot and re-published — the Iceberg
    optimistic-concurrency model (fast-append retry vs. validation
    failure), which estuary never needs because each of its sync tasks
    owns its MySQL target exclusively; concurrent Spark writers on one
    lake table do need it."""


MAX_COMMIT_RETRIES = 5


def _check_n_buckets(root: str, m: dict, n_buckets: int | None) -> None:
    """Raise if snapshot ``m`` no longer has the bucket modulus a commit's
    rows were routed with (a rebucket landed in between)."""
    if n_buckets is not None and int(m["n_buckets"]) != int(n_buckets):
        raise CommitConflictError(
            f"{root!r} was rebucketed from {n_buckets} to {m['n_buckets']} "
            "buckets during the batch; recompute it from the latest snapshot"
        )


def _union_schema(a: T.StructType, b: T.StructType) -> T.StructType:
    """Additive union: fields of ``a`` (authoritative types) plus any
    fields only ``b`` has — rebasing a commit onto a concurrently-evolved
    snapshot must keep BOTH writers' added columns."""
    names = {f.name for f in a.fields}
    return T.StructType(list(a.fields) + [f for f in b.fields if f.name not in names])


def _merge_ranges(ranges: list[list[int]]) -> list[list[int]]:
    """Merge overlapping/adjacent [lo, hi] (inclusive) ranges."""
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


class LakeTable:
    """A bucketed, snapshot-versioned parquet table.

    ``io`` is the metadata-storage seam (``fileio.FileIO``): all manifest
    reads/publishes, directory listings, and file deletions go through it,
    so the atomic-commit primitive can be swapped for an object-store
    conditional put without touching table logic (data files are written
    by Spark and referenced by manifests — they never need the seam)."""

    def __init__(self, root: str, io: FileIO | None = None):
        self.root = root
        self._mdir = os.path.join(root, MANIFEST_DIR)
        self.io = io if io is not None else LocalFileIO()
        # parsed inventory shards keyed by rel path; shard files are
        # immutable (written once under unique names), so cache entries
        # never go stale — a long-running sync driver re-parses only the
        # shards each commit actually changed
        self._shard_cache: dict[str, dict] = {}

    # ---------------------------------------------------------- snapshots

    def versions(self) -> list[int]:
        """All snapshot versions still present, ascending."""
        return sorted(
            int(f[1:-5])
            for f in self.io.list_dir(self._mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int:
        return max(self.versions(), default=-1)

    def _raw_manifest(self, version: int | None = None) -> dict:
        """The snapshot JSON as persisted: schema/properties/bookkeeping
        plus inventory SHARD POINTERS (format 2) — O(snapshot) to load, no
        shard reads. Metadata-only consumers (properties, applied ranges,
        schema) use this so the per-batch replay check never touches the
        file inventory."""
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no snapshots in {self.root}")
        return json.loads(self.io.read_text(os.path.join(self._mdir, f"v{v:010d}.json")))

    def _load_shard(self, rel: str) -> dict:
        sh = self._shard_cache.get(rel)
        if sh is None:
            if len(self._shard_cache) >= _SHARD_CACHE_MAX:
                self._shard_cache.clear()
            sh = json.loads(self.io.read_text(os.path.join(self._mdir, rel)))
            self._shard_cache[rel] = sh
        return sh

    def manifest(self, version: int | None = None, buckets: list[int] | None = None) -> dict:
        """The snapshot with its file inventory MATERIALIZED into
        ``files`` / ``delta_files`` dicts (the shape every consumer works
        with). ``buckets`` materializes only the shards covering those
        buckets — a bucket-pruned read on a 1000-shard table parses
        O(touched shards) metadata, not the whole inventory — and marks
        the result ``_partial`` (never commit from a partial manifest).

        Callers must treat the materialized file LISTS as immutable: they
        are shared with the shard cache (copy before extending)."""
        raw = self._raw_manifest(version)
        S = int(raw.get("shard_buckets", DEFAULT_SHARD_BUCKETS))
        wanted = None if buckets is None else {int(b) // S for b in buckets}
        files: dict = {}
        delta: dict = {}
        for sid, rel in raw["shards"].items():
            if wanted is not None and int(sid) not in wanted:
                continue
            sh = self._load_shard(rel)
            files.update(sh.get("files", {}))
            delta.update(sh.get("delta_files", {}))
        m = dict(raw)
        m["files"] = files
        m["delta_files"] = delta
        if buckets is not None:
            m["_partial"] = True
        return m

    def exists(self) -> bool:
        return self.current_version() >= 0

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._raw_manifest()["schema"])

    def properties(self) -> dict:
        return self._raw_manifest().get("properties", {})

    def applied_ranges(self) -> list[list[int]]:
        return self.properties().get("applied_ranges", [])

    def is_range_applied(self, lo: int, hi: int) -> bool:
        """True if [lo, hi] is fully inside an already-applied LSN range."""
        return any(rlo <= lo and hi <= rhi for rlo, rhi in self.applied_ranges())

    # ------------------------------------------------------------ create

    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        n_buckets: int,
        key_cols: list[str],
        io: FileIO | None = None,
        shard_buckets: int | None = None,
    ) -> "LakeTable":
        """Create an empty table (snapshot v0). Schema is user columns only;
        ``_lsn`` and ``_bucket`` system columns are appended automatically.
        ``shard_buckets`` sets the inventory-shard granularity (buckets per
        shard file; default ``DEFAULT_SHARD_BUCKETS``)."""
        t = LakeTable(root, io=io)
        t.io.makedirs(t._mdir)
        t.io.makedirs(os.path.join(root, DATA_DIR))
        full = T.StructType(list(schema.fields))
        if LSN_COL not in full.names:
            full = full.add(LSN_COL, T.LongType())
        if DELETED_COL not in full.names:
            # tombstones are soft-deleted rows folded out at read time, so
            # a late (lower-LSN) cross-batch update can never resurrect a
            # deleted key — the _lsn guard still has a row to compare with
            full = full.add(DELETED_COL, T.BooleanType())
        if BUCKET_COL not in full.names:
            full = full.add(BUCKET_COL, T.IntegerType())
        t._write_manifest(
            {
                "version": 0,
                "parent": None,
                "schema": full.jsonValue(),
                "key_cols": key_cols,
                "n_buckets": n_buckets,
                "shard_buckets": int(shard_buckets or DEFAULT_SHARD_BUCKETS),
                "files": {},
                "delta_files": {},
                "properties": {
                    "applied_ranges": [],
                    "batch_ids": [],
                    "commit_dir_files": {},
                    "commit_lsn_ranges": {},
                },
            }
        )
        return t

    def _write_manifest(self, m: dict, parent: dict | None = None) -> None:
        """Persist a snapshot. The file inventory is split into immutable
        per-bucket-range SHARD files under ``_manifests/shards/``; the
        snapshot JSON carries only shard pointers (plus schema/properties),
        so a commit touching k buckets writes <= ceil(k / shard_buckets)
        shard files and one small snapshot — O(touched) metadata instead
        of re-serializing the whole inventory (VERDICT r3 #1; the
        reference's O(1)-metadata ZK offset commit,
        ``ZooKeeperLogPositionManager.scala:14-49``, is the analogous
        contract). ``parent`` (the materialized snapshot this commit was
        built on) supplies pointers for unchanged shards: untouched bucket
        lists are reference-shared by the build functions, so the equality
        check per shard is near-O(1) and unchanged shards are never
        rewritten.

        The snapshot publish is the atomic put-if-absent commit point
        (fileio.FileIO contract); FileExistsError = lost the publish race
        (rebase-and-retried by _publish_with_rebase; a bare create() race
        propagates it). Shard files published under unique names first are
        unreferenced until the snapshot lands — a lost race leaves only
        litter for expire_snapshots/vacuum."""
        if parent is not None and parent.get("_partial"):
            raise ValueError("cannot commit from a partial (bucket-pruned) manifest")
        v = m["version"]
        final = os.path.join(self._mdir, f"v{v:010d}.json")
        S = int(
            m.get("shard_buckets")
            or (parent or {}).get("shard_buckets")
            or DEFAULT_SHARD_BUCKETS
        )
        files = {b: fl for b, fl in m.get("files", {}).items() if fl}
        delta = {b: fl for b, fl in m.get("delta_files", {}).items() if fl}
        parent_shards = (parent or {}).get("shards", {})
        parent_files = (parent or {}).get("files", {})
        parent_delta = (parent or {}).get("delta_files", {})
        sids = {int(b) // S for b in files} | {int(b) // S for b in delta}
        pointers: dict[str, str] = {}
        shards_dir_made = False
        for sid in sorted(sids):
            lo, hi = sid * S, (sid + 1) * S
            sf = {b: fl for b, fl in files.items() if lo <= int(b) < hi}
            sd = {b: fl for b, fl in delta.items() if lo <= int(b) < hi}
            ssid = str(sid)
            if ssid in parent_shards:
                pf = {b: fl for b, fl in parent_files.items() if lo <= int(b) < hi}
                pd = {b: fl for b, fl in parent_delta.items() if lo <= int(b) < hi}
                if sf == pf and sd == pd:
                    pointers[ssid] = parent_shards[ssid]
                    continue
            if not shards_dir_made:
                self.io.makedirs(os.path.join(self._mdir, SHARD_SUBDIR))
                shards_dir_made = True
            rel = os.path.join(SHARD_SUBDIR, f"shard-{sid:06d}-{uuid.uuid4().hex[:12]}.json")
            content = {"files": sf, "delta_files": sd}
            self.io.publish_text(os.path.join(self._mdir, rel), json.dumps(content))
            self._shard_cache[rel] = content
            pointers[ssid] = rel
        out = {
            k: val
            for k, val in m.items()
            if k not in ("files", "delta_files", "shards", "_partial")
        }
        out["shard_buckets"] = S
        out["shards"] = pointers
        self.io.publish_text(final, json.dumps(out))

    def _publish_with_rebase(self, m0: dict, build) -> int:
        """Optimistic-concurrency publish loop. ``build(m)`` constructs
        the manifest for version ``m['version'] + 1``; losing the
        put-if-absent race reloads the latest snapshot and rebuilds on top
        of it. Data files are already on disk at this point (written once,
        under race-free unique commit dirs), so a rebase is pure metadata
        — no Spark job reruns. Validation failures (``build`` raising
        :class:`CommitConflictError` for stale copy-on-write rewrites)
        propagate immediately: retrying cannot help once the underlying
        buckets have moved."""
        m = m0
        for attempt in range(MAX_COMMIT_RETRIES + 1):
            manifest = build(m)
            try:
                self._write_manifest(manifest, parent=m)
                return manifest["version"]
            except FileExistsError:
                if attempt == MAX_COMMIT_RETRIES:
                    raise CommitConflictError(
                        f"lost the snapshot publish race {MAX_COMMIT_RETRIES + 1} "
                        f"times at {self.root!r} — a concurrent writer is committing "
                        "faster than this one can rebase"
                    )
                m = self.manifest()

    # -------------------------------------------------------------- read

    def _files_for(self, m: dict, kind: str, buckets: list[int] | None) -> list[str]:
        out: list[str] = []
        for b, fl in m.get(kind, {}).items():
            if buckets is None or int(b) in buckets:
                out.extend(os.path.join(self.root, f) for f in fl)
        return out

    def delta_buckets(self) -> list[int]:
        """Buckets that currently have un-compacted delta (MoR) files."""
        return sorted(int(b) for b, fl in self.manifest().get("delta_files", {}).items() if fl)

    def read_unfolded(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Raw base+delta rows WITHOUT the MoR per-key fold: a key may
        appear multiple times (superseded versions and tombstones
        included). For consumers that fold as part of their own
        aggregation (e.g. the lineage join reduces per key anyway) this
        skips a whole-table shuffle."""
        m = self.manifest(buckets=buckets)
        schema = T.StructType.fromJson(m["schema"])
        key_cols = m.get("key_cols", [])
        if columns is not None:
            need = list(dict.fromkeys([*key_cols, *columns, LSN_COL, DELETED_COL, BUCKET_COL]))
            schema = T.StructType([f for f in schema.fields if f.name in need])
        schema = _schema_with_aliases(schema, m)
        files = self._files_for(m, "files", buckets) + self._files_for(m, "delta_files", buckets)
        if not files:
            return _apply_column_semantics(spark.createDataFrame([], schema), m)
        return _apply_column_semantics(spark.read.schema(schema).parquet(*files), m)

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        columns: list[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read a snapshot (``version=None`` = current; an older retained
        version is time travel); ``buckets`` prunes at the file level
        (the manifest knows every file's bucket — no directory listing, no
        footer reads for pruned buckets). Tombstoned rows are folded out
        unless ``include_tombstones`` (the merge path needs them for the
        LSN guard).

        Merge-on-read: buckets with delta files are folded at read time —
        per key one row across base+delta files wins by the engine's one
        winner rule (``operators.lww.lww_order``: highest ``_lsn``, and at
        equal ``_lsn`` a tombstone beats a live row), the Iceberg MoR /
        position-delete analogue expressed as a hash aggregation instead
        of an anti-join. Buckets without deltas skip the fold entirely, so
        a freshly-compacted table reads shuffle-free.

        ``columns`` prunes the parquet scan server-side (key/system columns
        are always kept so the fold and tombstone logic stay correct).

        Metadata cost: a bucket-pruned read materializes only the
        inventory shards covering ``buckets`` — O(touched) shard parses,
        not O(table) (see ``manifest``).
        """
        m = self.manifest(version, buckets=buckets)
        schema = T.StructType.fromJson(m["schema"])
        key_cols = m.get("key_cols", [])
        if columns is not None:
            need = list(dict.fromkeys([*key_cols, *columns, LSN_COL, DELETED_COL, BUCKET_COL]))
            schema = T.StructType([f for f in schema.fields if f.name in need])
        schema = _schema_with_aliases(schema, m)

        dirty = {int(b) for b, fl in m.get("delta_files", {}).items() if fl}
        if buckets is not None:
            dirty &= {int(b) for b in buckets}

        def _scan(files: list[str]) -> DataFrame:
            if not files:
                return spark.createDataFrame([], schema)
            # explicit schema => files from pre-evolution snapshots yield
            # NULL for later-added columns (additive evolution)
            return spark.read.schema(schema).parquet(*files)

        clean_buckets = (
            None
            if (buckets is None and not dirty)
            else [int(b) for b in (m["files"].keys() if buckets is None else buckets) if int(b) not in dirty]
        )
        df = _scan(self._files_for(m, "files", clean_buckets))

        if dirty:
            dirty_list = sorted(dirty)
            base = _scan(self._files_for(m, "files", dirty_list))
            delta = _scan(self._files_for(m, "delta_files", dirty_list))
            both = base.unionByName(delta)
            order = lww_order(F.col(LSN_COL), F.col(DELETED_COL))
            df = df.unionByName(fold_latest(both, key_cols, order))

        df = _apply_column_semantics(df, m)
        if not include_tombstones and DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
        return df

    def read_changes(
        self,
        spark: SparkSession,
        start_lsn: int,
        end_lsn: int | None = None,
        columns: list[str] | None = None,
        version: int | None = None,
        change_lsn_col: str = "_change_lsn",
        change_type_col: str = "_change_type",
        allow_incomplete: bool = False,
    ) -> DataFrame:
        """Net change feed (CDC-out): one row per key whose state changed
        in ``[start_lsn, end_lsn]`` (``end_lsn=None`` = up to the current
        snapshot), carrying the key's payload as of ``end_lsn`` plus
        ``_change_lsn`` (the winning LSN) and ``_change_type``
        (``'upsert'`` | ``'delete'``). This is the Delta CDF net-changes /
        Iceberg incremental-scan analogue — the surface a downstream
        incremental consumer (materialized aggregate, search indexer,
        feature store) reads instead of re-scanning the table (estuary's
        downstream role is played by its Kafka lineage topic,
        ``kafka/KafkaSinkFunc.scala`` in /root/reference; here the lake
        table itself serves the feed).

        Correctness: the winner among a key's rows with ``_lsn <= end``
        (by ``operators.lww.lww_order``: highest ``_lsn``, and at equal
        ``_lsn`` a tombstone beats a live row — the rule every write path
        applies) is the key's true state as of ``end``; restricting the
        scan to ``_lsn >= start`` cannot change that winner for any EMITTED key
        (the winner's LSN is >= start by definition of being emitted, and
        older superseded rows never win the fold), so both bounds
        push down to the parquet scan as data filters. Keys untouched in
        the window are never scanned, let alone emitted.

        Scale: files are first pruned DRIVER-SIDE by the per-commit LSN
        ranges the manifest records (``commit_lsn_ranges``) — a consumer
        catching up over the last N batches opens only those batches'
        delta files, O(changed data), even on a 100 TB table whose
        compacted base commits are skipped entirely by their range
        entries. The remaining scan carries the pushed LSN predicates for
        row-group pruning inside any file that does overlap.

        Retention contract (ENFORCED): ``maintenance.purge_tombstones``
        physically drops delete markers below its watermark, so a feed
        read with ``start_lsn`` below the recorded watermark would
        silently miss deletes — that raises :class:`FeedRetentionError`
        unless ``allow_incomplete=True`` (same contract as any CDC log
        retention; estuary's binlog retention floor,
        ``LogPositionHandler.scala:195-205``).
        With ``end_lsn`` set, history resolves at COMMIT granularity:
        a batch's intermediate versions are pre-folded by LWW before
        commit, and compaction further folds superseded versions away —
        use a commit boundary (``properties["commit_lsn_ranges"]``) for
        an exact as-of read; ``end_lsn=None`` (catch-up) is always exact.
        """
        if end_lsn is not None and end_lsn < start_lsn:
            raise ValueError(f"end_lsn {end_lsn} < start_lsn {start_lsn}")
        m = self.manifest(version)
        floor = int(
            m.get("properties", {}).get("tombstone_purge", {}).get("watermark_lsn", 0)
        )
        if start_lsn < floor and not allow_incomplete:
            raise FeedRetentionError(
                f"change feed from lsn {start_lsn} precedes the tombstone-purge "
                f"watermark {floor}: deletes in [{start_lsn}, {floor}) are gone. "
                f"Start at >= {floor}, re-bootstrap from a snapshot read, or pass "
                f"allow_incomplete=True for upserts-only semantics."
            )
        schema = T.StructType.fromJson(m["schema"])
        key_cols = m.get("key_cols", [])
        if columns is not None:
            need = list(dict.fromkeys([*key_cols, *columns, LSN_COL, DELETED_COL, BUCKET_COL]))
            schema = T.StructType([f for f in schema.fields if f.name in need])
        schema = _schema_with_aliases(schema, m)

        ranges = m.get("properties", {}).get("commit_lsn_ranges", {})

        def overlaps(rel_file: str) -> bool:
            r = ranges.get(_commit_dir_of(rel_file))
            if r is None:
                return True  # unknown commit: conservative, never wrong
            return r[1] >= start_lsn and (end_lsn is None or r[0] <= end_lsn)

        files = [
            os.path.join(self.root, f)
            for kind in ("files", "delta_files")
            for fl in m.get(kind, {}).values()
            for f in fl
            if overlaps(f)
        ]
        if files:
            df = spark.read.schema(schema).parquet(*files)
        else:
            df = spark.createDataFrame([], schema)
        df = df.filter(F.col(LSN_COL) >= F.lit(int(start_lsn)))
        if end_lsn is not None:
            df = df.filter(F.col(LSN_COL) <= F.lit(int(end_lsn)))
        df = _apply_column_semantics(df, m)

        folded = fold_latest(df, key_cols, lww_order(F.col(LSN_COL), F.col(DELETED_COL)))
        return folded.select(
            *[c for c in folded.columns if c not in (LSN_COL, DELETED_COL, BUCKET_COL)],
            F.col(LSN_COL).alias(change_lsn_col),
            F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias(change_type_col),
        )

    # ------------------------------------------------------------ commit

    def commit(
        self,
        spark: SparkSession,
        df: DataFrame,
        replaced_buckets: list[int],
        applied_range: tuple[int, int] | None,
        batch_id: int | None,
        new_schema: T.StructType | None = None,
        extra_properties: dict | None = None,
        new_n_buckets: int | None = None,
        base_version: int | None = None,
        lsn_range: tuple[int, int] | None = None,
        n_buckets: int | None = None,
    ) -> int:
        """Copy-on-write commit: write ``df`` (which must contain all rows
        for ``replaced_buckets`` and only those buckets), then publish a
        manifest where those buckets' files are replaced and the applied
        LSN range is fused into the snapshot properties.

        ``lsn_range`` is an LSN span the batch was OBSERVED to cover
        without being planned (a streaming file batch): it bounds the
        commit's ``commit_lsn_ranges`` entry like an applied range does,
        but never enters ``applied_ranges`` — the batch need not hold
        every event inside it.

        ``base_version`` is the snapshot the rewrite was COMPUTED from
        (capture ``current_version()`` before calling ``read()``). The
        replaced-bucket conflict validation runs against that snapshot, so
        a rival commit landing between the read and this publish is
        detected even when this writer wins the publish race — without it
        the rival's files would be silently dropped. ``None`` means "the
        manifest loaded at commit time" (correct only when read and commit
        are back-to-back with no interleaving window, e.g. the sync
        runner's single-threaded merge path).

        ``new_n_buckets`` changes the table's bucket count atomically with
        the rewrite (``maintenance.rebucket``): ``replaced_buckets`` must
        then cover every existing bucket id and ``df`` must carry NEW
        bucket ids — the published manifest swaps layout and data in one
        snapshot, so readers only ever see a consistent (n_buckets, files)
        pair.

        Crash safety: data files are written before the manifest rename;
        a crash leaves only unreferenced files (cleaned by ``vacuum``).

        Concurrency: the publish is optimistic. If a concurrent commit
        lands first WITHOUT touching ``replaced_buckets``, this commit is
        rebased onto it (metadata-only; the data files are already
        written). If it DID touch them, the rewrite was computed from
        stale data and :class:`CommitConflictError` is raised — the
        caller must recompute (compaction callers skip and retry later).
        ``n_buckets`` is the modulus ``df``'s bucket ids were routed with,
        checked against the loaded snapshot and every rebase exactly as in
        ``commit_delta``.
        """
        m0 = self.manifest()
        _check_n_buckets(self.root, m0, n_buckets)
        schema_req = new_schema if new_schema is not None else T.StructType.fromJson(m0["schema"])
        # the snapshot the rewrite's input state was read from — conflict
        # validation baseline (a rival commit after it is already in m0)
        base = (
            m0
            if base_version is None or base_version == m0["version"]
            else self.manifest(base_version)
        )

        # unique commit dir: concurrent writers must never collide on
        # data-file paths (the version prefix is only a readability hint)
        commit_rel = os.path.join(
            DATA_DIR, f"commit-{m0['version'] + 1:010d}-{uuid.uuid4().hex[:8]}"
        )
        new_files = self._write_buckets(spark, df, commit_rel, len(replaced_buckets))

        return self._commit_cow_meta(
            m0,
            base,
            commit_rel,
            new_files,
            replaced_buckets,
            applied_range,
            batch_id,
            schema_req,
            extra_properties,
            new_n_buckets,
            lsn_range,
            n_buckets,
        )

    def _write_buckets(
        self, spark: SparkSession, df: DataFrame, commit_rel: str, n_touched: int
    ) -> dict[str, list[str]]:
        """Write ``df`` as one new commit directory, hive-partitioned by
        bucket (the partition column is a throwaway copy, so ``_bucket``
        stays in the data), and return the new data files per bucket.

        The repartition on the bucket id sends each bucket whole to one
        task, so the commit writes exactly one file per touched bucket.
        The task count is the touched-bucket count capped at the cores: a
        small batch touching every bucket of a 32-bucket table writes a
        few KB per bucket, and 32 tasks for that cost more in scheduling
        than they write. One recursive walk of the new directory finds
        the files (O(files written), not one listing per bucket)."""
        commit_dir = os.path.join(self.root, commit_rel)
        n_out = max(1, min(int(n_touched), spark.sparkContext.defaultParallelism))
        out = df.repartition(n_out, F.col(BUCKET_COL)).withColumn("_bp", F.col(BUCKET_COL))
        out.write.partitionBy("_bp").mode("overwrite").parquet(commit_dir)
        new_files: dict[str, list[str]] = {}
        for path in sorted(self.io.walk_files(commit_dir)):
            part, name = os.path.split(os.path.relpath(path, commit_dir))
            if name.endswith(".parquet") and part.startswith("_bp="):
                b = str(int(part.split("=", 1)[1]))
                new_files.setdefault(b, []).append(os.path.join(commit_rel, part, name))
        return new_files

    def _commit_cow_meta(
        self,
        m0: dict,
        base: dict,
        commit_rel: str,
        new_files: dict,
        replaced_buckets: list[int],
        applied_range,
        batch_id,
        schema_req: T.StructType,
        extra_properties: dict | None,
        new_n_buckets: int | None,
        lsn_range=None,
        n_buckets: int | None = None,
    ) -> int:
        """The metadata phase of a copy-on-write commit (everything after
        the data files exist): conflict validation, inventory update,
        bookkeeping, publish-with-rebase. Factored out so the metadata
        path can be driven and measured without Spark jobs
        (``tools/meta_bench.py``) — the bench exercises EXACTLY the code
        a real commit runs."""

        def build(m: dict) -> dict:
            _check_n_buckets(self.root, m, n_buckets)
            if m["version"] != base["version"]:
                # conflict validation: the rewrite folded the replaced
                # buckets' state AS OF ``base`` — any concurrent change to
                # them since (new delta files, another rewrite) would be
                # silently discarded by publishing, so that is a real
                # conflict whether it landed before m0 was loaded or during
                # a rebase retry
                for b in replaced_buckets:
                    sb = str(b)
                    if m["files"].get(sb) != base["files"].get(sb) or m.get(
                        "delta_files", {}
                    ).get(sb) != base.get("delta_files", {}).get(sb):
                        raise CommitConflictError(
                            f"bucket {b} of {self.root!r} changed concurrently; "
                            "recompute the rewrite from the latest snapshot"
                        )
            schema = (
                _union_schema(schema_req, T.StructType.fromJson(m["schema"]))
                if m["version"] != base["version"]
                else schema_req
            )
            files = {b: fl for b, fl in m["files"].items() if int(b) not in replaced_buckets}
            for b, fl in new_files.items():
                files[b] = fl

            # a COW rewrite of a bucket supersedes its MoR delta files ONLY if
            # the written df already folded them in (compaction does; the COW
            # merge path reads via read() which folds, so it does too)
            delta_files = {
                b: fl
                for b, fl in m.get("delta_files", {}).items()
                if int(b) not in replaced_buckets
            }

            props = dict(m.get("properties", {}))
            ranges = [list(r) for r in props.get("applied_ranges", [])]
            if applied_range is not None:
                ranges.append([int(applied_range[0]), int(applied_range[1])])
            props["applied_ranges"] = _merge_ranges(ranges)
            if batch_id is not None:
                props["batch_ids"] = (props.get("batch_ids", []) + [batch_id])[-MAX_BATCH_IDS:]
            if extra_properties:
                props.update(extra_properties)
            # a COW rewrite folds a bucket's whole history into the new files,
            # so the commit's LSN span is [0, highest LSN the table holds]:
            # the max over the applied ranges, the live commits' recorded
            # spans (a streaming table records only those) and this batch's
            # observed span. Compaction and tombstone purges (no range of
            # their own) get the same conservative bound. A table populated
            # via direct commit() calls with no range bookkeeping has no
            # basis for a bound: record nothing (readers treat an absent
            # entry as "may contain anything" — conservative, never pruned)
            # rather than a wrong [0, 0] that read_changes would prune away.
            added = [f for fl in new_files.values() for f in fl]
            removed = [
                f
                for b in replaced_buckets
                for kind in (m["files"], m.get("delta_files", {}))
                for f in kind.get(str(b), [])
            ]
            his = [r[1] for r in props["applied_ranges"]]
            his += [r[1] for r in props.get("commit_lsn_ranges", {}).values()]
            if lsn_range is not None:
                his.append(int(lsn_range[1]))
            span = [0, max(his)] if his else None
            _update_commit_ranges(props, commit_rel, span, added, removed)

            return {
                "version": m["version"] + 1,
                "parent": m["version"],
                "schema": schema.jsonValue(),
                "key_cols": m["key_cols"],
                "n_buckets": int(new_n_buckets) if new_n_buckets is not None else m["n_buckets"],
                "shard_buckets": m.get("shard_buckets", DEFAULT_SHARD_BUCKETS),
                "files": files,
                "delta_files": delta_files,
                "properties": props,
            }

        return self._publish_with_rebase(m0, build)

    def commit_delta(
        self,
        spark: SparkSession,
        df: DataFrame,
        applied_range: tuple[int, int] | None,
        batch_id: int | None,
        new_schema: T.StructType | None = None,
        extra_properties: dict | None = None,
        lsn_range: tuple[int, int] | None = None,
        n_buckets: int | None = None,
    ) -> int:
        """Merge-on-read commit: append ``df`` (LWW winners for one batch,
        carrying ``_lsn``/``_deleted``/``_bucket``) as delta files — no
        target read, no join, no rewrite. Readers fold deltas per key at
        scan time; ``maintenance.compact`` folds them back into base files.

        ``lsn_range`` is the batch's observed LSN span when it differs
        from (or stands in for) ``applied_range``: it becomes the delta
        commit's ``commit_lsn_ranges`` entry but not an applied range.

        This is the Iceberg ``write.merge.mode=merge-on-read`` analogue and
        the 10^10-event scale path: per-batch write cost is O(batch), not
        O(table). The applied offset range is fused into the snapshot
        exactly as in the COW path, so replay/exactly-once semantics are
        identical.

        Concurrency: a delta commit is pure append — losing the publish
        race rebases it onto the latest snapshot automatically (the
        Iceberg fast-append retry; LWW folding makes concurrent appends
        commutative at read time), so N writers on one table all succeed.
        ``n_buckets`` is the modulus ``df``'s bucket ids were routed with:
        if the snapshot loaded here, or any a rebase lands on, has another
        (a rebucket landed since routing), :class:`CommitConflictError` is
        raised instead of appending rows under old-modulus bucket ids.
        """
        m0 = self.manifest()
        _check_n_buckets(self.root, m0, n_buckets)
        schema_req = new_schema if new_schema is not None else T.StructType.fromJson(m0["schema"])

        commit_rel = os.path.join(
            DATA_DIR, f"delta-{m0['version'] + 1:010d}-{uuid.uuid4().hex[:8]}"
        )
        # bucket layout (n_buckets) is fixed at create time
        new_by_bucket = self._write_buckets(spark, df, commit_rel, m0["n_buckets"])

        return self._commit_delta_meta(
            m0,
            commit_rel,
            new_by_bucket,
            applied_range,
            batch_id,
            schema_req,
            extra_properties,
            lsn_range,
            n_buckets,
        )

    def _commit_delta_meta(
        self,
        m0: dict,
        commit_rel: str,
        new_by_bucket: dict,
        applied_range,
        batch_id,
        schema_req: T.StructType,
        extra_properties: dict | None,
        lsn_range=None,
        n_buckets: int | None = None,
    ) -> int:
        """The metadata phase of a merge-on-read delta commit (everything
        after the data files exist). Factored out so
        ``tools/meta_bench.py`` can measure the per-commit metadata cost
        through the exact production code path."""

        def build(m: dict) -> dict:
            _check_n_buckets(self.root, m, n_buckets)
            schema = (
                _union_schema(schema_req, T.StructType.fromJson(m["schema"]))
                if m is not m0
                else schema_req
            )
            # copy only the lists this commit extends (untouched buckets
            # keep reference-shared lists so unchanged shards are detected
            # for free at persist time)
            delta_files = dict(m.get("delta_files", {}))
            for b, fl in new_by_bucket.items():
                delta_files[b] = list(delta_files.get(b, [])) + fl

            props = dict(m.get("properties", {}))
            ranges = [list(r) for r in props.get("applied_ranges", [])]
            if applied_range is not None:
                ranges.append([int(applied_range[0]), int(applied_range[1])])
            props["applied_ranges"] = _merge_ranges(ranges)
            if batch_id is not None:
                props["batch_ids"] = (props.get("batch_ids", []) + [batch_id])[-MAX_BATCH_IDS:]
            if extra_properties:
                props.update(extra_properties)
            # a delta commit contains ONLY the batch's winner rows, so its LSN
            # span is exactly the batch's range (observed, else applied) — the
            # tight bound that lets an incremental reader catching up from
            # LSN X skip every older delta
            added = [f for fl in new_by_bucket.values() for f in fl]
            span = lsn_range if lsn_range is not None else applied_range
            _update_commit_ranges(props, commit_rel, span, added, [])

            return {
                "version": m["version"] + 1,
                "parent": m["version"],
                "schema": schema.jsonValue(),
                "key_cols": m["key_cols"],
                "n_buckets": m["n_buckets"],
                "shard_buckets": m.get("shard_buckets", DEFAULT_SHARD_BUCKETS),
                "files": m["files"],
                "delta_files": delta_files,
                "properties": props,
            }

        return self._publish_with_rebase(m0, build)

    def commit_metadata(
        self,
        applied_range: tuple[int, int] | None = None,
        batch_id: int | None = None,
        extra_properties: dict | None = None,
    ) -> int:
        """Metadata-only commit: record an applied LSN range / properties
        without touching data files. Used when a batch changes no table
        state (every source row lost the LSN guard — an all-late batch) but
        its offset range must still enter the applied-range bookkeeping so
        restarts and replay detection stay complete (estuary analogue: the
        position recorder advances even when a flush writes nothing,
        ``SourceDataPositionRecorder.scala:37-92``). Pure metadata is
        always rebaseable, so concurrent writers cannot make it fail."""

        def build(m: dict) -> dict:
            props = dict(m.get("properties", {}))
            ranges = [list(r) for r in props.get("applied_ranges", [])]
            if applied_range is not None:
                ranges.append([int(applied_range[0]), int(applied_range[1])])
            props["applied_ranges"] = _merge_ranges(ranges)
            if batch_id is not None:
                props["batch_ids"] = (props.get("batch_ids", []) + [batch_id])[-MAX_BATCH_IDS:]
            if extra_properties:
                props.update(extra_properties)
            return {
                "version": m["version"] + 1,
                "parent": m["version"],
                "schema": m["schema"],
                "key_cols": m["key_cols"],
                "n_buckets": m["n_buckets"],
                "shard_buckets": m.get("shard_buckets", DEFAULT_SHARD_BUCKETS),
                "files": m["files"],
                "delta_files": m.get("delta_files", {}),
                "properties": props,
            }

        return self._publish_with_rebase(self.manifest(), build)

    def truncate(
        self,
        at_lsn: int | None = None,
        batch_id: int | None = None,
        extra_properties: dict | None = None,
    ) -> int:
        """Table-level truncate (the structured analogue of estuary's DDL
        truncate handling, ``MysqlTableSchemaHolder.scala:35-101`` in
        /root/reference): commit a snapshot with NO data files, keeping
        schema/buckets/applied-range bookkeeping (exactly-once replay
        relies on the ranges). ``at_lsn`` records the op watermark in
        ``properties["table_ops_lsn"]`` so (a) a replayed truncating batch
        skips re-truncation and (b) late pre-truncate events arriving in
        later batches can be fenced out instead of resurrecting rows."""

        def build(m: dict) -> dict:
            props = dict(m.get("properties", {}))
            props["commit_lsn_ranges"] = {}  # no files -> no live commit dirs
            props["commit_dir_files"] = {}
            if at_lsn is not None:
                props["table_ops_lsn"] = max(int(at_lsn), int(props.get("table_ops_lsn", -1)))
            if batch_id is not None:
                props["batch_ids"] = (props.get("batch_ids", []) + [batch_id])[-MAX_BATCH_IDS:]
            if extra_properties:
                props.update(extra_properties)
            return {
                "version": m["version"] + 1,
                "parent": m["version"],
                "schema": m["schema"],
                "key_cols": m["key_cols"],
                "n_buckets": m["n_buckets"],
                "shard_buckets": m.get("shard_buckets", DEFAULT_SHARD_BUCKETS),
                "files": {},
                "delta_files": {},
                "properties": props,
            }

        return self._publish_with_rebase(self.manifest(), build)

    def evolve_schema(
        self, new_schema: T.StructType, extra_properties: dict | None = None
    ) -> int:
        """Additive schema evolution between micro-batches (metadata-only
        commit — the DDL-barrier analogue, SURVEY.md D4: schema changes
        apply when the pipeline is drained, i.e. between batches).
        ``extra_properties`` lets the caller record op bookkeeping (e.g.
        the DDL shim's ``column_added_lsns``) in the same snapshot."""
        def build(m: dict) -> dict:
            old = T.StructType.fromJson(m["schema"])
            merged = T.StructType(list(old.fields))
            for f in new_schema.fields:
                if f.name not in merged.names:
                    merged = merged.add(f.name, f.dataType, True)
            props = dict(m.get("properties", {}))
            if extra_properties:
                props.update(extra_properties)
            # a newly-declared column may RE-USE the historical name of a
            # renamed column (CHANGE a b; later ADD COLUMN a): from the
            # re-add LSN on, values under that name belong to the NEW
            # column and must not coalesce into b. The alias is RETIRED at
            # an LSN, not stripped: rows/events at or below the boundary
            # still read as b (LSN-exact => batch-boundary-independent —
            # a strip would retroactively break earlier events in the
            # same batch), rows above belong to the re-added column. With
            # no LSN known (auto-evolution from a batch, no DDL) the
            # boundary is -1: the alias goes fully dead, the strict
            # fallback without per-file field ids.
            aliases = props.get("column_aliases")
            if aliases:
                added_names = {f.name for f in new_schema.fields}
                added_lsns = (extra_properties or {}).get("column_added_lsns", {})
                retired = dict(props.get("alias_retired_lsns", {}))
                for _new, olds in aliases.items():
                    for o in olds:
                        if o in added_names:
                            retired[o] = int(added_lsns.get(o, -1))
                if retired:
                    props["alias_retired_lsns"] = retired
            return {
                "version": m["version"] + 1,
                "parent": m["version"],
                "schema": merged.jsonValue(),
                "key_cols": m["key_cols"],
                "n_buckets": m["n_buckets"],
                "shard_buckets": m.get("shard_buckets", DEFAULT_SHARD_BUCKETS),
                "files": m["files"],
                "delta_files": m.get("delta_files", {}),
                "properties": props,
            }

        return self._publish_with_rebase(self.manifest(), build)

    def drop_column(self, name: str, at_lsn: int) -> int:
        """``ALTER TABLE .. DROP COLUMN`` as a METADATA-ONLY commit
        (the reference applies RemoveColumnMod to its schema holder,
        ``SchemaChange.java:70-110`` / ``MysqlTableSchemaHolder.scala:
        35-101`` in /root/reference — no data rewrite there either).
        Storage stays additive: the bytes remain for time travel, the
        schema keeps the field, and reads mask the column to NULL from
        the drop LSN (see :func:`_apply_column_semantics`) — at 100 TB a
        drop must never be an O(table) rewrite. Key columns cannot be
        dropped (raises ValueError — the merge identity would vanish)."""
        if name in (self.manifest().get("key_cols") or []):
            raise ValueError(f"cannot drop key column {name!r}")

        def build(m: dict) -> dict:
            props = dict(m.get("properties", {}))
            dropped = dict(props.get("column_dropped_lsns", {}))
            dropped[name] = max(int(at_lsn), int(dropped.get(name, -1)))
            props["column_dropped_lsns"] = dropped
            out = dict(m)
            out.update(version=m["version"] + 1, parent=m["version"], properties=props)
            return out

        return self._publish_with_rebase(self.manifest(), build)

    def rename_column(self, old: str, new: str, at_lsn: int) -> int:
        """``ALTER TABLE .. CHANGE old new`` as a METADATA-ONLY commit:
        the manifest schema field (and key_cols entry, if any) renames,
        and ``properties["column_aliases"][new]`` records the historical
        names so already-written data files — which carry the old name —
        keep reading correctly via scan-time coalesce
        (:func:`_schema_with_aliases`). Values are untouched: renaming a
        key column keeps every bucket assignment (the hash is over
        values). Column bookkeeping (added/dropped LSNs) migrates to the
        new name. No-op if ``old`` is not in the schema (replayed DDL:
        the rename already happened)."""

        def build(m: dict) -> dict:
            schema = T.StructType.fromJson(m["schema"])
            if old not in schema.names or new in schema.names:
                # a rival commit raced in the rename during a rebase:
                # publish an empty metadata bump (idempotent outcome)
                out = dict(m)
                out.update(version=m["version"] + 1, parent=m["version"])
                return out
            fields = [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
            props = dict(m.get("properties", {}))
            aliases = {k: list(v) for k, v in props.get("column_aliases", {}).items()}
            aliases[new] = [old] + aliases.pop(old, [])
            props["column_aliases"] = aliases
            for bk in ("column_added_lsns", "column_dropped_lsns"):
                book = dict(props.get(bk, {}))
                if old in book:
                    book[new] = book.pop(old)
                    props[bk] = book
            props.setdefault("column_rename_lsns", {})
            props["column_rename_lsns"] = {
                **props["column_rename_lsns"], new: int(at_lsn)
            }
            out = dict(m)
            out.update(
                version=m["version"] + 1,
                parent=m["version"],
                schema=T.StructType(fields).jsonValue(),
                key_cols=[new if k == old else k for k in m["key_cols"]],
                properties=props,
            )
            return out

        before = self.manifest()
        names = T.StructType.fromJson(before["schema"]).names
        if old not in names or new in names:
            return before["version"]  # replayed DDL: nothing to publish
        return self._publish_with_rebase(before, build)

    # ------------------------------------------------------------- vacuum

    def _referenced_files(self, m: dict) -> set[str]:
        return {
            os.path.join(self.root, f)
            for kind in ("files", "delta_files")
            for fl in m.get(kind, {}).values()
            for f in fl
        }

    def _young(self, path: str, grace_seconds: float) -> bool:
        """True when ``path`` is inside the GC grace window. A concurrent
        writer publishes data/shard files BEFORE its snapshot (write-ahead
        discipline), so an unreferenced file may belong to an in-flight
        commit; only files older than ``grace_seconds`` are provably
        orphans (Iceberg's remove-orphan-files age threshold). Pass 0 only
        on a quiesced table (tests, offline maintenance)."""
        if grace_seconds <= 0:
            return False
        try:
            return (time.time() - self.io.mtime(path)) < grace_seconds
        except OSError:
            return True  # vanished or unreadable: leave it alone

    def expire_snapshots(self, keep: int = 5, grace_seconds: float = 600.0) -> dict:
        """Snapshot expiration with retained history (the Iceberg
        ``expireSnapshots`` shape): drop all but the newest ``keep``
        snapshot manifests and delete data files referenced ONLY by the
        expired ones. The kept snapshots remain fully readable
        (``read(version=...)`` time travel over the retained window) —
        unlike ``vacuum``, which collapses history to the current snapshot.
        Returns {"snapshots_removed": n, "files_removed": n}."""
        if keep < 1:
            raise ValueError("expire_snapshots requires keep >= 1")
        vs = self.versions()
        expired, kept = vs[:-keep], vs[-keep:]
        if not expired:
            return {"snapshots_removed": 0, "files_removed": 0, "shard_files_removed": 0}
        live: set[str] = set()
        for v in kept:
            live |= self._referenced_files(self.manifest(v))
        doomed: set[str] = set()
        for v in expired:
            doomed |= self._referenced_files(self.manifest(v))
        files_removed = 0
        for p in sorted(doomed - live):
            if self.io.exists(p):
                self.io.delete(p)
                files_removed += 1
        for v in expired:
            self.io.delete(os.path.join(self._mdir, f"v{v:010d}.json"))
        shards_removed = self._gc_shards(kept, grace_seconds=grace_seconds)
        return {
            "snapshots_removed": len(expired),
            "files_removed": files_removed,
            "shard_files_removed": shards_removed,
        }

    def _gc_shards(self, live_versions: list[int], grace_seconds: float = 600.0) -> int:
        """Delete inventory-shard files not referenced by any of
        ``live_versions``' snapshots (each commit rewrites only its touched
        shards, so superseded shard files accumulate until snapshots
        expire — the Iceberg expired-manifest cleanup analogue). Shard
        files younger than ``grace_seconds`` are skipped: a concurrent
        commit publishes its shards before its snapshot, so a young
        unreferenced shard may belong to an in-flight commit (ADVICE r4)."""
        live_shards: set[str] = set()
        for v in live_versions:
            live_shards |= set(self._raw_manifest(v).get("shards", {}).values())
        removed = 0
        sdir = os.path.join(self._mdir, SHARD_SUBDIR)
        for fn in self.io.list_dir(sdir):
            rel = os.path.join(SHARD_SUBDIR, fn)
            if fn.startswith("shard-") and rel not in live_shards:
                p = os.path.join(self._mdir, rel)
                if self._young(p, grace_seconds):
                    continue
                self.io.delete(p)
                self._shard_cache.pop(rel, None)
                removed += 1
        return removed

    def vacuum(self, grace_seconds: float = 600.0) -> int:
        """Delete data files not referenced by the current snapshot.
        Returns the number of files removed. (Old snapshots become
        unreadable — run only when time travel is not needed.) Files
        younger than ``grace_seconds`` are skipped — they may belong to a
        commit in flight (data lands before the snapshot that references
        it); pass 0 only on a quiesced table."""
        live = self._referenced_files(self.manifest())
        removed = 0
        droot = os.path.join(self.root, DATA_DIR)
        for p in self.io.walk_files(droot):
            fn = os.path.basename(p)
            if p not in live and (fn.endswith(".parquet") or fn.startswith("_")):
                if self._young(p, grace_seconds):
                    continue
                self.io.delete(p)
                removed += 1
        # shard files referenced only by older snapshots (vacuum's contract
        # already makes those unreadable — their data files are gone)
        removed += self._gc_shards([self.current_version()], grace_seconds=grace_seconds)
        return removed

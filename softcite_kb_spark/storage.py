"""Iceberg-shaped table store over parquet directories.

The target deployment stores every stage output as an Iceberg table
(snapshot isolation, MERGE INTO, incremental reads). This sandbox has no
Iceberg runtime jar, so ``TableStore`` reproduces the parts of the contract
the pipeline relies on — immutable snapshots, a current-snapshot pointer,
and per-snapshot manifests (row counts, schema, inputs) — over plain
parquet. On a cluster the operator-level verbs (write/merge/append/read)
cut over to :class:`softcite_kb_spark.storage_iceberg.IcebergTableStore`
(real catalog, merge as a real ``MERGE INTO``); the pipeline's
stage manifest additionally uses ``root``/``current_snapshot``
— see that module's docstring for the remaining wiring.

Reference analog: each softcite_kb stage materializes an ArangoDB database
(import dbs -> staging -> kb, Readme.md:55-145); idempotent re-runs rely on
``collection.has(key)`` guards (software_mention_import.py:126). Here a
stage is one atomic snapshot commit, and resume = "manifest row exists and
its input snapshot ids still match" (see plans/pipeline.py).

Read cache: ``read`` serves a small committed snapshot from Spark's
in-memory cache, so repeated reads of a KB table (one per KB request) do
not re-scan its parquet files. A snapshot is eligible when it is
unpartitioned and its recorded ``total-files-size`` is at most
``READ_CACHE_MAX_BYTES``; an unrecorded size (-1) is not. One cached frame
per snapshot path lives in a process-wide registry whose recorded bytes
stay within ``READ_CACHE_BUDGET_BYTES`` (least recently read evicted
first). Spark matches cached plans by path, so every commit unpersists
the snapshot it supersedes and any frame cached at the path it writes
(a store removed and rebuilt reuses ``snap-00001``), and ``drop``
unpersists the table's frames. ``read_at`` and ``changelog`` stay plain
scans.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Largest recorded snapshot size (parquet bytes) that ``read`` caches.
READ_CACHE_MAX_BYTES = 16 * 2**20
#: Recorded bytes of all cached snapshots together.
READ_CACHE_BUDGET_BYTES = 64 * 2**20

# snapshot path -> (committed_at, recorded bytes, cached frame), least
# recently read first
_read_cache: OrderedDict[str, tuple[float, int, DataFrame]] = OrderedDict()
_read_cache_lock = threading.Lock()


def _unpersist(df: DataFrame) -> None:
    # a stopped SparkContext took its cached blocks with it
    if df.sparkSession.sparkContext._jsc is not None:
        df.unpersist()


def _cached_read(spark: SparkSession, path: str, committed_at: float,
                 nbytes: int, load) -> DataFrame:
    """The registered cached frame of the snapshot at ``path``, made from
    ``load()`` on first read. An entry of another commit at the same path
    or of another session is replaced."""
    with _read_cache_lock:
        hit = _read_cache.pop(path, None)
        if hit is not None:
            if hit[0] == committed_at and hit[2].sparkSession is spark:
                _read_cache[path] = hit
                return hit[2]
            _unpersist(hit[2])
        df = load().cache()
        _read_cache[path] = (committed_at, nbytes, df)
        total = sum(e[1] for e in _read_cache.values())
        while total > READ_CACHE_BUDGET_BYTES:
            _, (_, b, old) = _read_cache.popitem(last=False)
            _unpersist(old)
            total -= b
        return df


def _uncache(path: str) -> None:
    """Unpersist every registered frame at or under ``path``."""
    with _read_cache_lock:
        for p in [p for p in _read_cache
                  if p == path or p.startswith(path + os.sep)]:
            _unpersist(_read_cache.pop(p)[2])


@dataclass
class Snapshot:
    snapshot_id: int
    table: str
    path: str
    row_count: int
    schema_ddl: str
    committed_at: float
    properties: dict[str, Any] = field(default_factory=dict)


class TableStore:
    """A namespace of snapshot-versioned parquet tables."""

    # widest OR-of-AND partition prune filter merge() will build before
    # falling back to a full rewrite (expression-tree width, not data)
    _MAX_PRUNED_PARTITIONS = 1024

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ---------------------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_meta.json")

    def _load_meta(self, table: str) -> dict[str, Any]:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _save_meta(self, table: str, meta: dict[str, Any]) -> None:
        p = self._meta_path(table)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, p)  # atomic pointer swap = snapshot commit

    def _expire(self, table: str, meta: dict[str, Any]) -> None:
        """Retire data directories of snapshots beyond the last 3
        (Iceberg ``expire_snapshots`` analog) — EXCEPT pinned ones: a
        pin is the Iceberg snapshot-tag analog, and the incremental
        pipeline's crash-recovery WAL pins the pre-increment snapshots
        it must be able to replay from (a replay storm would otherwise
        push them past the retention window)."""
        pinned = set((meta.get("pins") or {}).values())
        for s in meta["snapshots"][:-3]:
            if s["snapshot_id"] in pinned:
                continue
            if os.path.isdir(s["path"]):
                shutil.rmtree(s["path"], ignore_errors=True)

    def _commit(self, spark: SparkSession, table: str,
                meta: dict[str, Any], snap: Snapshot) -> None:
        """Make ``snap`` (its files in place) the current snapshot of
        ``table``, then retire what it supersedes: the cached frame of
        the previous snapshot and, when ``snap.path`` is reused (a
        removed store rebuilt at the same root), any frame Spark still
        caches for that path."""
        _uncache(snap.path)
        spark.catalog.refreshByPath(snap.path)
        prev = next((s["path"] for s in meta["snapshots"]
                     if s["snapshot_id"] == meta["current"]), None)
        meta["snapshots"].append(snap.__dict__)
        meta["current"] = snap.snapshot_id
        self._save_meta(table, meta)
        if prev is not None:
            _uncache(prev)
        self._expire(table, meta)

    # -- public API -------------------------------------------------------
    def exists(self, table: str) -> bool:
        return self._load_meta(table)["current"] is not None

    def pin_snapshot(self, table: str, name: str,
                     snapshot_id: int | None = None) -> int:
        """Tag a snapshot (current by default) so expiry never retires
        it — Iceberg ``CREATE TAG`` analog. Re-pinning the same name
        moves the tag. Returns the pinned snapshot id."""
        meta = self._load_meta(table)
        sid = snapshot_id if snapshot_id is not None else meta["current"]
        if sid is None or not any(s["snapshot_id"] == sid
                                  for s in meta["snapshots"]):
            raise FileNotFoundError(
                f"table {table!r} has no snapshot {sid!r} to pin")
        pins = meta.setdefault("pins", {})
        pins[name] = sid
        self._save_meta(table, meta)
        return sid

    def unpin_snapshot(self, table: str, name: str) -> None:
        """Drop a snapshot tag (no-op when absent). The data directory
        is retired by the NEXT commit's expiry pass if out of
        retention."""
        meta = self._load_meta(table)
        if name in (meta.get("pins") or {}):
            del meta["pins"][name]
            self._save_meta(table, meta)

    def read_at(self, spark: SparkSession, table: str,
                snapshot_id: int) -> DataFrame:
        """Time-travel read of a specific snapshot (Iceberg ``VERSION
        AS OF`` analog) with that snapshot's pinned reader schema.
        Raises if the snapshot's data was already expired — callers
        pin (``pin_snapshot``) any snapshot they need to return to."""
        meta = self._load_meta(table)
        for s in meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                if not os.path.isdir(s["path"]):
                    raise FileNotFoundError(
                        f"snapshot {snapshot_id} of table {table!r} "
                        f"was expired (data dir gone) — pin snapshots "
                        f"that must stay readable")
                schema_json = (s.get("properties") or {}).get(
                    "schema_json")
                if schema_json:
                    from pyspark.sql.types import StructType

                    return spark.read.schema(
                        StructType.fromJson(json.loads(schema_json))
                    ).parquet(s["path"])
                return spark.read.parquet(s["path"])
        raise FileNotFoundError(
            f"table {table!r} has no snapshot {snapshot_id}")

    @staticmethod
    def _leaf_inodes(snap_path: str, rel_leaf: str) -> frozenset:
        """Identity of a partition leaf's data files as an inode set —
        merge()/append() hardlink untouched leaves into the new
        snapshot, so inode-set equality proves the leaf's bytes are
        shared with (not merely equal to) the other snapshot's."""
        d = os.path.join(snap_path, rel_leaf)
        return frozenset(
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d) if f.endswith(".parquet"))

    def changelog(self, spark: SparkSession, table: str,
                  from_snapshot_id: int,
                  to_snapshot_id: int | None = None) -> DataFrame:
        """Row-level diff between two snapshots (the Iceberg
        changelog-scan / ``create_changelog_view`` analog): rows only
        in the older snapshot come back tagged ``_change_type =
        'delete'``, rows only in the newer tagged ``'insert'`` — bag
        semantics, so a multiplicity change surfaces as the count
        difference. Both snapshots must still be on disk (pin them —
        ``pin_snapshot`` — to diff past the retention window).

        RESTRICTION (round-5 ADVICE): the diff is ``exceptAll``-based,
        which Spark rejects for MAP-typed columns (AnalysisException) —
        tables carrying map columns (e.g. the media tables' ``meta``)
        cannot be changelog-scanned as-is. Project maps away (or to a
        deterministic encoding) before calling; an automatic ``to_json``
        projection is deliberately NOT applied here because JSON key
        order for maps is unspecified and would surface false diffs.

        Scale: for partitioned tables the scan is PRUNED to the
        partitions whose data files actually differ — merge()/append()
        hardlink untouched leaves, so shared leaves are detected by
        file-inode identity and skipped without reading. A changelog
        after a pruned merge costs O(changed partitions), not
        O(table) — the same asymmetry Iceberg gets by diffing
        manifests instead of data. Unpartitioned tables (or a
        partition-layout change, or a compact() between the
        snapshots, which rewrites every file) fall back to a full
        two-snapshot diff — correct, just not pruned."""
        meta = self._load_meta(table)
        if to_snapshot_id is None:
            to_snapshot_id = meta["current"]
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        for sid in (from_snapshot_id, to_snapshot_id):
            if sid not in by_id:
                raise FileNotFoundError(
                    f"table {table!r} has no snapshot {sid!r}")
            if not os.path.isdir(by_id[sid]["path"]):
                raise FileNotFoundError(
                    f"snapshot {sid} of table {table!r} was expired "
                    f"(data dir gone) — pin snapshots that must stay "
                    f"diffable")
        old_s, new_s = by_id[from_snapshot_id], by_id[to_snapshot_id]
        part_old = (old_s.get("properties") or {}).get(
            "partition_by") or []
        part_new = (new_s.get("properties") or {}).get(
            "partition_by") or []

        def _reader(entry):
            schema_json = (entry.get("properties") or {}).get(
                "schema_json")
            r = spark.read.option("basePath", entry["path"])
            if schema_json:
                from pyspark.sql.types import StructType

                r = r.schema(StructType.fromJson(json.loads(schema_json)))
            return r

        if part_old and part_old == part_new:
            leaves_old = {rel: self._leaf_inodes(old_s["path"], rel)
                          for rel in self._partition_leaf_dirs(
                              old_s["path"], part_old)}
            leaves_new = {rel: self._leaf_inodes(new_s["path"], rel)
                          for rel in self._partition_leaf_dirs(
                              new_s["path"], part_new)}
            changed = sorted(
                rel for rel in set(leaves_old) | set(leaves_new)
                if leaves_old.get(rel) != leaves_new.get(rel))
            old_paths = [os.path.join(old_s["path"], rel)
                         for rel in changed if rel in leaves_old]
            new_paths = [os.path.join(new_s["path"], rel)
                         for rel in changed if rel in leaves_new]
            old_df = (_reader(old_s).parquet(*old_paths) if old_paths
                      else None)
            new_df = (_reader(new_s).parquet(*new_paths) if new_paths
                      else None)
            if old_df is None and new_df is None:  # nothing changed
                empty = self.read_at(spark, table, to_snapshot_id) \
                    .limit(0)
                return empty.withColumn("_change_type",
                                        F.lit("insert"))
            if old_df is None:
                old_df = new_df.limit(0)
            if new_df is None:
                new_df = old_df.limit(0)
        else:
            old_df = self.read_at(spark, table, from_snapshot_id)
            new_df = self.read_at(spark, table, to_snapshot_id)
        cols = new_df.columns
        deletes = old_df.select(*cols).exceptAll(new_df.select(*cols)) \
            .withColumn("_change_type", F.lit("delete"))
        inserts = new_df.select(*cols).exceptAll(old_df.select(*cols)) \
            .withColumn("_change_type", F.lit("insert"))
        return deletes.unionByName(inserts)

    def current_snapshot(self, table: str) -> Snapshot | None:
        meta = self._load_meta(table)
        if meta["current"] is None:
            return None
        for s in meta["snapshots"]:
            if s["snapshot_id"] == meta["current"]:
                return Snapshot(**s)
        return None

    def write(
        self,
        df: DataFrame,
        table: str,
        properties: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Commit ``df`` as a new snapshot of ``table`` (overwrite semantics)."""
        meta = self._load_meta(table)
        sid = (meta["current"] or 0) + 1
        data_dir = os.path.join(self.root, table, f"snap-{sid:05d}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
            properties = dict(properties or {})
            # recorded so merge() can partition-prune later commits
            properties["partition_by"] = list(partition_by)
        writer.parquet(data_dir)
        properties = dict(properties or {})
        # exact reader schema: partition-directory values otherwise go
        # through type INFERENCE on read (string '01' -> bigint 1)
        properties["schema_json"] = df.schema.json()
        # row count and file stats from parquet footers (metadata-only; a
        # spark re-scan per commit would double every stage's write cost)
        n = self._parquet_stats(data_dir, properties)
        snap = Snapshot(
            snapshot_id=sid,
            table=table,
            path=data_dir,
            row_count=n,
            schema_ddl=df.schema.simpleString(),
            committed_at=time.time(),
            properties=properties or {},
        )
        self._commit(df.sparkSession, table, meta, snap)
        return snap

    def merge(
        self,
        df: DataFrame,
        table: str,
        key_cols: list[str],
        properties: dict[str, Any] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> Snapshot:
        """Upsert semantics (Iceberg ``MERGE INTO`` analog): rows in ``df``
        replace current rows with the same key; unmatched current rows are
        kept. This is the reference's incremental re-import
        (``collection.has(key)`` guards, Readme.md:261-265) made
        transactional — the merge is one new snapshot, resumable like any
        stage output. First merge into an empty table = plain write.

        Partition pruning (Iceberg ``MERGE INTO`` cost model): when every
        partition column (one OR several — nested partition directories)
        is part of the merge key, only partitions containing incoming
        keys are rewritten; every untouched leaf partition's files are
        HARDLINKED into the new snapshot directory (the file-reuse a real
        Iceberg manifest gives you — snapshot expiry just drops link
        counts). An unaligned or unpartitioned table falls back to the
        full rewrite — as does a batch touching more than
        ``_MAX_PRUNED_PARTITIONS`` distinct partitions (the prune filter
        is an OR-of-AND literal expression; past that width a full scan
        is cheaper than the plan) — and the chosen path is recorded in
        snapshot properties as ``merge_mode`` (+ ``merge_fallback_reason``
        when a partitioned table fell back anyway: at scale a silent
        full-rewrite merge is the failure mode to monitor for).

        ``delete_keys`` (Iceberg ``WHEN NOT MATCHED BY SOURCE ... THEN
        DELETE`` analog): a DataFrame carrying ``key_cols`` columns
        whose keys are REMOVED from the table even when ``df`` has no
        replacement rows for them — e.g. a re-imported conversation
        whose new content yields zero derived rows must still evict its
        old derived rows. Its keys count toward partition pruning.
        """
        if not self.exists(table):
            return self.write(df, table, properties)
        props = dict(properties or {})
        props["operation"] = "merge"
        props["merge_keys"] = key_cols
        key_universe = df.select(*key_cols).distinct()
        if delete_keys is not None:
            key_universe = key_universe.unionByName(
                delete_keys.select(*key_cols).distinct()).distinct()

        snap = self.current_snapshot(table)
        part_by = (snap.properties or {}).get("partition_by") or []
        fallback_reason = None
        if not part_by:
            prunable = False
        elif not all(c in key_cols and c in df.columns for c in part_by):
            prunable = False
            fallback_reason = "partition columns not all in merge key"
        elif not self._types_match(snap, df):
            # pruned commits hardlink OLD files: the incoming types must
            # match the table schema for every shared column, or the new
            # pinned reader schema would misread the carried-over files
            prunable = False
            fallback_reason = "incoming schema differs from table schema"
        else:
            prunable = True
        affected: list = []
        if prunable:
            # partitions touched by REPLACEMENTS and DELETIONS alike — a
            # delete-only key's bucket must be rewritten too
            affected = [tuple(r) for r in
                        key_universe.select(*part_by).distinct().collect()]
            # a NULL partition value defeats both the equality prune (NULL
            # comparison -> NULL -> old NULL-partition rows silently
            # dropped) and the __HIVE_DEFAULT_PARTITION__ directory carry-
            # over — take the safe full rewrite instead (derived from the
            # same collect, no extra evaluation of df). Empty string is
            # the same hazard: Spark writes BOTH NULL and '' to the
            # __HIVE_DEFAULT_PARTITION__ directory, so a pruned commit of
            # '' rows would shadow the old NULL-partition leaf and drop
            # its rows from the carry-over.
            if any(v is None or v == "" for t in affected for v in t):
                prunable = False
                fallback_reason = \
                    "NULL/empty partition value in incoming batch"
            elif len(affected) > self._MAX_PRUNED_PARTITIONS:
                prunable = False
                fallback_reason = (
                    f"{len(affected)} affected partitions exceeds "
                    f"prune limit {self._MAX_PRUNED_PARTITIONS}")
        if not prunable:
            current = self.read(df.sparkSession, table)
            kept = self._anti_by_keys(current, key_universe, key_cols)
            merged = kept.unionByName(df)
            props["merge_mode"] = "full-rewrite"
            if fallback_reason:
                props["merge_fallback_reason"] = fallback_reason
            return self.write(merged, table, props,
                              partition_by=part_by or None)

        # partition filter reaches the parquet scan: only affected
        # partitions are read (OR of per-tuple AND equalities — pushes
        # down as partition pruning for single AND multi column layouts).
        # An EMPTY batch has no affected partitions: the condition is
        # literal false (filter(None) would throw), the rewrite below
        # writes nothing, and every leaf carries over — a valid no-op
        # snapshot commit.
        cond = F.lit(False)
        for t in affected:
            c = None
            for col, v in zip(part_by, t):
                eq = F.col(col) == F.lit(v)
                c = eq if c is None else (c & eq)
            cond = cond | c
        current_affected = self.read(df.sparkSession, table).filter(cond)
        kept = self._anti_by_keys(current_affected, key_universe, key_cols)
        merged_affected = kept.unionByName(df)

        meta = self._load_meta(table)
        sid = (meta["current"] or 0) + 1
        data_dir = os.path.join(self.root, table, f"snap-{sid:05d}")
        merged_affected.write.mode("overwrite").partitionBy(*part_by) \
            .parquet(data_dir)
        # carry over every untouched LEAF partition by hardlink (byte-
        # identical, zero copy); the affected ones were just written above.
        # Comparison is on relative leaf paths — exactly what the new
        # write produced vs what the old snapshot had, so value-encoding
        # questions (escaping, type rendering) cancel out.
        #
        # `written` alone is NOT the exclusion set: a partition whose
        # merged content is ZERO rows (a delete_keys-only conversation
        # that was its bucket's sole occupant) gets no leaf from the
        # write above, and linking its old leaf back would resurrect the
        # evicted rows. Exclude every AFFECTED partition explicitly — the
        # leaf names come from a probe write of the affected tuples
        # themselves, so Spark's own partition-value encoding is used on
        # both sides of the comparison.
        written = set(self._partition_leaf_dirs(data_dir, part_by))
        if len(written) == len(affected):
            # every affected tuple produced a leaf (written leaves come
            # only from affected-partition rows, and leaf-name encoding
            # is injective) — no emptied partition, no probe needed
            owned = written
        else:
            owned = written | self._probe_leaf_dirs(
                df.sparkSession, affected,
                key_universe.select(*part_by).schema, part_by)
        for rel in self._partition_leaf_dirs(snap.path, part_by):
            if rel not in owned:
                self._link_tree(os.path.join(snap.path, rel),
                                os.path.join(data_dir, rel))

        props["merge_mode"] = "pruned"
        props["partition_by"] = part_by
        props["schema_json"] = merged_affected.schema.json()
        props["rewritten_partitions"] = sorted(
            "/".join(str(v) for v in t) for t in affected)
        new_snap = Snapshot(
            snapshot_id=sid,
            table=table,
            path=data_dir,
            row_count=self._parquet_stats(data_dir, props),
            schema_ddl=merged_affected.schema.simpleString(),
            committed_at=time.time(),
            properties=props,
        )
        self._commit(df.sparkSession, table, meta, new_snap)
        return new_snap

    def append(self, df: DataFrame, table: str,
               properties: dict[str, Any] | None = None) -> Snapshot:
        """Append-only commit (Iceberg fast-append analog): previous
        snapshot files are hardlinked into the new snapshot directory and
        only the new rows are written — O(new data), not O(table). The
        schema must be union-compatible with the current snapshot.

        On a partitioned table, the new rows are written with the SAME
        partitioning and their files are moved into the matching partition
        directories — mixing root-level files into a dir-partitioned layout
        would make the reader drop them with COLUMN_ALREADY_EXISTS.
        """
        if not self.exists(table):
            return self.write(df, table, properties)
        meta = self._load_meta(table)
        snap = self.current_snapshot(table)
        if not self._types_match(snap, df, require_same_columns=True):
            # appended files cannot be rewritten later: a drifting batch
            # schema would re-pin how every EXISTING file is read
            raise ValueError(
                f"append schema drift on table {table!r}: batch schema "
                f"{df.schema.simpleString()} != table schema "
                f"{snap.schema_ddl}")
        part_by = (snap.properties or {}).get("partition_by") or []
        sid = (meta["current"] or 0) + 1
        data_dir = os.path.join(self.root, table, f"snap-{sid:05d}")
        tmp = data_dir + ".tmp-append"
        stage = data_dir + ".assemble"
        writer = df.write.mode("overwrite")
        if part_by:
            writer = writer.partitionBy(*part_by)
        writer.parquet(tmp)
        # ASSEMBLE the snapshot in a staging dir and rename it into
        # place: a crash mid-assembly must never leave a partially-built
        # snap-N that a REPLAYED append (same sid, fresh part UUIDs)
        # would silently pile more files onto — the meta pointer never
        # referenced the crashed attempt, so both leftovers are safe to
        # clear here
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        self._link_tree(snap.path, stage, suffix=".parquet")
        # move new files in, snapshot-prefixed (can never collide with the
        # linked files), preserving partition subdirectories
        for root, _dirs, files in os.walk(tmp):
            rel = os.path.relpath(root, tmp)
            out = os.path.join(stage, rel) if rel != "." else stage
            os.makedirs(out, exist_ok=True)
            for f in files:
                if f.endswith(".parquet"):
                    os.replace(os.path.join(root, f),
                               os.path.join(out, f"a{sid:05d}-{f}"))
        os.rename(stage, data_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        props = dict(properties or {})
        props["operation"] = "append"
        props["schema_json"] = (
            (snap.properties or {}).get("schema_json") or df.schema.json())
        if part_by:
            props["partition_by"] = list(part_by)
        new_snap = Snapshot(
            snapshot_id=sid,
            table=table,
            path=data_dir,
            row_count=self._parquet_stats(data_dir, props),
            schema_ddl=df.schema.simpleString(),
            committed_at=time.time(),
            properties=props,
        )
        self._commit(df.sparkSession, table, meta, new_snap)
        return new_snap

    @staticmethod
    def _types_match(snap: Snapshot, df: DataFrame,
                     require_same_columns: bool = False) -> bool:
        """True when df's column types equal the snapshot's stored schema
        for every shared column (and, optionally, the column SETS match).
        Falls back to True when the snapshot predates schema_json."""
        schema_json = (snap.properties or {}).get("schema_json")
        if not schema_json:
            return True
        from pyspark.sql.types import StructType

        stored = {f.name: f.dataType.simpleString()
                  for f in StructType.fromJson(json.loads(schema_json))}
        mine = {f.name: f.dataType.simpleString() for f in df.schema}
        if require_same_columns and set(stored) != set(mine):
            return False
        return all(stored[c] == t for c, t in mine.items() if c in stored)

    @staticmethod
    def _anti_by_keys(current: DataFrame, incoming: DataFrame,
                      key_cols: list[str]) -> DataFrame:
        """Current rows whose key does NOT appear in the incoming key
        set (``incoming`` may be the batch itself or a precomputed key
        universe) — with NULL-SAFE key equality: a plain equi-anti-join
        would treat a NULL key component as never-matching, silently
        keeping the old row next to its replacement (duplicate keys
        after the merge)."""
        inc = incoming.select(*key_cols).distinct().alias("__inc")
        cur = current.alias("__cur")
        cond = None
        for k in key_cols:
            c = F.col(f"__cur.{k}").eqNullSafe(F.col(f"__inc.{k}"))
            cond = c if cond is None else (cond & c)
        return cur.join(inc, cond, "left_anti")

    def _probe_leaf_dirs(self, spark: SparkSession, tuples: list,
                         part_schema, part_by: list[str]) -> set[str]:
        """Exact Spark-encoded leaf-directory names for the given
        partition tuples, obtained by WRITING them: a one-task write of
        the (driver-bounded, <= _MAX_PRUNED_PARTITIONS) tuples with a
        dummy payload column, partitioned the same way — hand-rendering
        the values would re-open every escaping/type-formatting question
        the leaf-path comparison exists to avoid. The probe lives in a
        throwaway tempdir OUTSIDE the table directory (a crash mid-probe
        must not orphan files where snapshot machinery walks)."""
        import tempfile

        if not tuples:
            return set()
        tmp = tempfile.mkdtemp(prefix="skb-leafprobe-")
        try:
            probe = os.path.join(tmp, "probe")
            tdf = spark.createDataFrame([tuple(t) for t in tuples],
                                        part_schema)
            (tdf.withColumn("__probe", F.lit(1)).coalesce(1)
                .write.mode("overwrite").partitionBy(*part_by)
                .parquet(probe))
            return set(self._partition_leaf_dirs(probe, part_by))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    @staticmethod
    def _partition_leaf_dirs(root: str, part_by: list[str]) -> list[str]:
        """Relative paths of LEAF partition directories (depth ==
        len(part_by), each level named ``<col>=``) under a snapshot dir."""
        out: list[str] = []

        def walk(cur: str, depth: int) -> None:
            prefix = f"{part_by[depth]}="
            for entry in sorted(os.listdir(cur)):
                p = os.path.join(cur, entry)
                if os.path.isdir(p) and entry.startswith(prefix):
                    if depth == len(part_by) - 1:
                        out.append(os.path.relpath(p, root))
                    else:
                        walk(p, depth + 1)

        walk(root, 0)
        return out

    @staticmethod
    def _link_tree(src: str, dst: str, suffix: str | None = None) -> None:
        """Hardlink a partition directory into a new snapshot (copy
        fallback for filesystems without link support)."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(out, exist_ok=True)
            for f in files:
                if suffix is not None and not f.endswith(suffix):
                    continue
                s, d = os.path.join(root, f), os.path.join(out, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    @staticmethod
    def _parquet_stats(data_dir: str, properties: dict[str, Any]) -> int:
        """Row count of a snapshot's data files from their parquet
        footers; the file count, byte total and largest per-file row
        count go into ``properties`` under the Iceberg snapshot-summary
        names (``max-file-records`` has no Iceberg counterpart)."""
        import pyarrow.parquet as pq

        total = files = size = max_rows = 0
        for root, _dirs, names in os.walk(data_dir):
            for f in names:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    n = pq.ParquetFile(p).metadata.num_rows
                    total += n
                    files += 1
                    size += os.path.getsize(p)
                    max_rows = max(max_rows, n)
        properties.update({"total-data-files": files,
                           "total-files-size": size,
                           "max-file-records": max_rows})
        return total

    def compact(self, spark: SparkSession, table: str) -> Snapshot:
        """Maintenance commit (Iceberg ``rewrite_data_files`` analog):
        rewrite the current snapshot's rows into fresh, right-sized
        files with the same partition layout — the complement of
        fast-append ingestion, whose per-increment ``a<sid>-*`` files
        otherwise accumulate until reads are metadata-bound. Row content
        is identical; only the file layout changes.

        NOTE: the commit still bumps the snapshot id — resume machinery
        that pins snapshot ids (KGPipeline manifests) should compact via
        :meth:`KGPipeline.compact_table`, which refreshes its manifest
        entries so a layout-only rewrite is not mistaken for new data."""
        snap = self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(
                f"table {table!r} has no snapshot to compact")
        part_by = (snap.properties or {}).get("partition_by") or []
        df = self.read(spark, table)
        if part_by:
            # one write task per partition value: emits O(partitions)
            # files, not O(partitions x shuffle_partitions)
            df = df.repartition(*[F.col(c) for c in part_by])
        else:
            df = df.coalesce(max(1, spark.sparkContext.defaultParallelism))
        # FRESH properties: carrying the prior commit's merge_* metadata
        # forward would make the pipeline's stage record report this
        # maintenance commit as a merge (its commit_mode prefers
        # merge_mode over operation)
        props: dict[str, Any] = {
            "operation": "compact",
            "compacted_from": snap.snapshot_id,
        }
        return self.write(df, table, props, partition_by=part_by or None)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The current snapshot; a small unpartitioned one comes from
        Spark's in-memory cache (see the module docstring)."""
        snap = self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot in {self.root}")
        props = snap.properties or {}

        def load() -> DataFrame:
            schema_json = props.get("schema_json")
            if schema_json:
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(json.loads(schema_json))
                return spark.read.schema(schema).parquet(snap.path)
            return spark.read.parquet(snap.path)

        size = props.get("total-files-size", -1)
        if props.get("partition_by") or not 0 <= size <= READ_CACHE_MAX_BYTES:
            return load()
        return _cached_read(spark, snap.path, snap.committed_at, size, load)

    def drop(self, table: str) -> None:
        d = os.path.join(self.root, table)
        _uncache(d)
        if os.path.isdir(d):
            shutil.rmtree(d)

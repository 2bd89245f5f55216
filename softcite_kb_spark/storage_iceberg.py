"""Iceberg-catalog cutover for :class:`softcite_kb_spark.storage.TableStore`.

``TableStore`` reproduces the Iceberg contract the pipeline relies on
(immutable snapshots, atomic pointer swap, pruned MERGE, fast append)
over plain parquet because this sandbox ships no Iceberg runtime jar.
On a real cluster you want the real thing — snapshot isolation across
writers, manifest-level pruning, engine-planned row-level operations.
This module is that cutover: the same verb surface
(``write`` / ``merge`` / ``append`` / ``read`` / ``exists`` /
``current_snapshot`` + ``root``) expressed against a configured Iceberg
catalog, making the store a ``KGPipeline`` drop-in.

The execution paths obviously cannot run here (no jar), so construction
fails fast with guidance when the catalog is absent, and everything
that CAN be verified without the runtime is pure and tested:

* the generated SQL (``merge_into_sql``, ``delete_by_keys_sql``) —
  quoting, null-safe key equality;
* the *semantics* of the group-replacement plan: ``delete_by_keys_sql``
  takes a pluggable identifier-quoter, so the tests execute the very
  statement this store would run against DuckDB on the same data a
  ``TableStore.merge`` processes, and assert both stores converge to
  the same table (tests/test_storage_iceberg.py).

Merge semantics — two modes, because ``MERGE INTO ... WHEN MATCHED
THEN UPDATE SET *`` has strict 1:1 row semantics (a source key matching
several target rows raises a cardinality error; several source rows per
key is rejected outright):

* default (``unique_key=False``) — GROUP REPLACEMENT, the semantics
  ``TableStore.merge`` implements and the KG pipeline needs (stage-1
  tables hold MANY rows per conv_id): delete every target row whose key
  appears in the batch or in ``delete_keys``, then append the batch.
  Two commits, not one transaction — on a production deployment wrap
  them in a WAP branch (write to a staging branch, fast-forward
  ``main``) for atomicity; the pipeline's replay-idempotence holds
  either way because a replayed batch re-deletes then re-inserts the
  same keys.
* ``unique_key=True`` — a single atomic ``MERGE INTO`` for tables whose
  key IS unique (canonical_map, nodes); the batch is checked for
  duplicate keys first and rejected loudly rather than letting the
  engine throw a mid-merge cardinality error.

Reference analog: the idempotent re-import contract the ArangoDB
``collection.has(key)`` guards provide (softcite_kb Readme.md:261-265).
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from softcite_kb_spark.storage import Snapshot


def _quote(name: str) -> str:
    """Backtick-quote one identifier part (escape embedded backticks)."""
    return "`" + name.replace("`", "``") + "`"


def merge_into_sql(target: str, source_view: str,
                   key_cols: list[str]) -> str:
    """The upsert statement ``IcebergTableStore.merge(unique_key=True)``
    executes.

    Null-safe key equality (``<=>``) — the exact semantics
    ``TableStore._anti_by_keys`` implements on the parquet stand-in.
    ONLY valid for unique-key tables: ``UPDATE SET *`` is 1:1 — the
    caller guards against duplicate-key batches.
    """
    if not key_cols:
        raise ValueError("merge requires at least one key column")
    on = " AND ".join(
        f"t.{_quote(k)} <=> s.{_quote(k)}" for k in key_cols)
    return (
        f"MERGE INTO {target} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def delete_by_keys_sql(target: str, keys_view: str, key_cols: list[str],
                       quote: Callable[[str], str] = _quote) -> str:
    """DELETE every ``target`` row whose key tuple appears in
    ``keys_view`` — the first half of a group-replacement merge and the
    whole of a ``delete_keys`` eviction.

    ``IS NOT DISTINCT FROM`` (not ``=``): NULL key components must
    match their NULL counterparts, exactly like ``TableStore``'s
    ``eqNullSafe`` anti-join — a plain equality would silently keep a
    NULL-keyed row next to its replacement. The spelling is shared by
    Spark and DuckDB, which is what lets the test suite EXECUTE this
    statement against DuckDB (``quote=duckdb_quote``) and assert
    semantic equality with ``TableStore.merge`` on the same data.

    Iceberg executes this as a rewrite plan (copy-on-write or
    merge-on-read per table property) — subquery deletes require the
    Iceberg Spark SQL extensions, which the cluster session config in
    the class docstring enables.
    """
    if not key_cols:
        raise ValueError("delete-by-keys requires at least one key column")
    on = " AND ".join(
        f"t.{quote(k)} IS NOT DISTINCT FROM s.{quote(k)}"
        for k in key_cols)
    return (
        f"DELETE FROM {target} AS t\n"
        f"WHERE EXISTS (SELECT 1 FROM {keys_view} s WHERE {on})"
    )


def rewrite_data_files_sql(catalog: str, namespace: str,
                           table: str) -> str:
    """The maintenance call ``IcebergTableStore.compact`` executes —
    Iceberg's own ``rewrite_data_files`` procedure (bin-packing small
    files, the real version of ``TableStore.compact``'s hand-rolled
    rewrite). The table identifier is passed as a quoted STRING
    argument per the procedure's signature."""
    ident = ".".join(_quote(p) for p in (namespace, table))
    return (f"CALL {_quote(catalog)}.system.rewrite_data_files("
            f"table => '{ident.replace(chr(39), chr(39) * 2)}')")


def snapshot_metadata_sql(ident: str) -> str:
    """The catalog-metadata query ``current_snapshot`` runs: the
    latest ``made_current_at`` row of ``<table>.history`` restricted to
    the current ancestry (rollback-correct, unlike ordering
    ``snapshots.committed_at``), joined to ``<table>.snapshots`` for
    the operation + summary (``total-records`` = row count from
    manifest statistics, no table scan)."""
    return (
        f"SELECT s.snapshot_id, s.committed_at, s.summary, s.operation\n"
        f"FROM {ident}.{_quote('history')} h\n"
        f"JOIN {ident}.{_quote('snapshots')} s\n"
        f"  ON h.snapshot_id = s.snapshot_id\n"
        f"WHERE h.is_current_ancestor\n"
        f"ORDER BY h.made_current_at DESC LIMIT 1"
    )


def create_tag_sql(ident: str, name: str, snapshot_id: int) -> str:
    """The statement ``IcebergTableStore.pin_snapshot`` executes —
    Iceberg named refs (tags) are retained independently of snapshot
    expiry, which is exactly the contract ``TableStore.pin_snapshot``
    reproduces for the incremental pipeline's crash-recovery WAL."""
    return (f"ALTER TABLE {ident} CREATE OR REPLACE TAG "
            f"{_quote(name)} AS OF VERSION {int(snapshot_id)}")


def drop_tag_sql(ident: str, name: str) -> str:
    """The statement ``IcebergTableStore.unpin_snapshot`` executes."""
    return f"ALTER TABLE {ident} DROP TAG IF EXISTS {_quote(name)}"


class IcebergTableStore:
    """Iceberg-catalog implementation of the store verbs — a
    ``KGPipeline`` drop-in::

        store = IcebergTableStore(spark, catalog="prod", namespace="kb",
                                  manifest_root="/mnt/kb-manifests")
        KGPipeline(spark, store, cfg).run()

    ``manifest_root`` is a driver-visible directory (shared FS / fuse
    mount) for the pipeline's resume manifest ``_manifest.json`` — the
    stage MANIFEST is pipeline state, not table data, so it stays a
    file next to the job exactly as with ``TableStore``; everything
    row-shaped lives in catalog tables. ``current_snapshot`` reads the
    catalog's own snapshot metadata (``<table>.history`` /
    ``<table>.snapshots``), so the pipeline's input-snapshot
    fingerprinting works unchanged, and each stage record's per-table
    rows/files/bytes come from the snapshot summary (``total-records``,
    ``total-data-files``, ``total-files-size``); the summary has no
    largest-file row count, so ``max_file_rows`` is -1 there.

    Session config the cluster needs (spark-submit)::

        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
        --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.\
IcebergSparkSessionExtensions
        --conf spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.<cat>.type=<hive|hadoop|rest> (+warehouse)

    Snapshot maintenance (time travel, expire_snapshots, rollback,
    rewrite_data_files — the ``compact`` analog) belongs to the
    catalog's own procedures (``CALL <cat>.system.*``) either way.
    """

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "kb",
                 manifest_root: str | None = None,
                 materializer: Callable[[DataFrame], DataFrame]
                 | None = None) -> None:
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"Spark session has no Iceberg catalog {catalog!r}; "
                f"configure spark.sql.catalog.{catalog}="
                f"org.apache.iceberg.spark.SparkCatalog (plus warehouse/"
                f"type settings) and ship the iceberg-spark-runtime jar. "
                f"In jar-less environments use storage.TableStore, the "
                f"contract-compatible parquet stand-in.")
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self._manifest_root = manifest_root
        # merge()'s group-replacement plan commits a DELETE and then an
        # append of the batch — a batch whose PLAN reads from the target
        # table (read-modify-write) would otherwise re-evaluate against
        # post-delete state and silently lose rows. The barrier pins the
        # batch's rows BEFORE the delete; injectable like every other
        # barrier (ScratchTableMaterializer on a production catalog —
        # localCheckpoint blocks are executor-local).
        if materializer is None:
            from softcite_kb_spark.materialize import (
                local_checkpoint_materializer)

            materializer = local_checkpoint_materializer
        self._materializer = materializer

    @property
    def root(self) -> str:
        """Directory for the pipeline's ``_manifest.json`` (resume
        state). Required for KGPipeline use; the operator-level verbs
        never touch it."""
        if self._manifest_root is None:
            raise RuntimeError(
                "IcebergTableStore was constructed without manifest_root; "
                "pass manifest_root=<driver-visible dir> to use it under "
                "KGPipeline (the resume manifest is a file, not a table)")
        return self._manifest_root

    # -- identifiers ------------------------------------------------------
    def _ident(self, table: str) -> str:
        return ".".join(_quote(p) for p in
                        (self.catalog, self.namespace, table))

    # -- public API (TableStore-compatible) --------------------------------
    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(
            f"{self.catalog}.{self.namespace}.{table}")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(self._ident(table))

    def current_snapshot(self, table: str) -> Snapshot | None:
        """The table's current snapshot from the CATALOG's metadata
        tables — ``history`` (latest ``made_current_at`` row, which
        tracks rollbacks correctly where ``snapshots.committed_at``
        ordering would not) joined to ``snapshots`` for the summary.
        Returns the same :class:`Snapshot` shape ``TableStore`` yields,
        so the pipeline's manifest fingerprinting is store-agnostic;
        ``row_count`` comes from the snapshot summary's
        ``total-records`` (manifest statistics — no table scan)."""
        if not self.exists(table):
            return None
        ident = self._ident(table)
        rows = self.spark.sql(snapshot_metadata_sql(ident)).collect()
        if not rows:
            return None
        r = rows[0]
        summary = dict(r["summary"] or {})
        return Snapshot(
            snapshot_id=r["snapshot_id"],
            table=table,
            path=f"{self.catalog}.{self.namespace}.{table}",
            row_count=int(summary.get("total-records", -1)),
            schema_ddl=self.spark.table(ident).schema.simpleString(),
            committed_at=r["committed_at"].timestamp()
            if r["committed_at"] is not None else time.time(),
            properties={"operation": r["operation"], **summary},
        )

    def pin_snapshot(self, table: str, name: str,
                     snapshot_id: int | None = None) -> int:
        """``TableStore.pin_snapshot`` counterpart: an Iceberg TAG —
        a named ref ``expire_snapshots`` retains independently of the
        retention window — so the incremental pipeline's WAL pins work
        unchanged over a real catalog. Re-pinning moves the tag
        (CREATE OR REPLACE). Returns the pinned snapshot id."""
        if snapshot_id is None:
            snap = self.current_snapshot(table)
            if snap is None:
                raise FileNotFoundError(
                    f"table {table!r} has no snapshot to pin")
            snapshot_id = snap.snapshot_id
        self.spark.sql(create_tag_sql(self._ident(table), name,
                                      snapshot_id))
        return snapshot_id

    def unpin_snapshot(self, table: str, name: str) -> None:
        """Drop the tag (no-op when absent, like TableStore's)."""
        self.spark.sql(drop_tag_sql(self._ident(table), name))

    def read_at(self, spark: SparkSession, table: str,
                snapshot_id: int) -> DataFrame:
        """Time-travel read (``VERSION AS OF``) — the native version
        of ``TableStore.read_at``; the snapshot's own reader schema
        comes free from Iceberg's schema-id tracking."""
        return (spark.read.option("snapshot-id", str(int(snapshot_id)))
                .table(self._ident(table)))

    def write(self, df: DataFrame, table: str,
              properties: dict[str, Any] | None = None,
              partition_by: list[str] | None = None) -> None:
        """Overwrite-commit (one atomic snapshot, like TableStore.write)."""
        w = df.writeTo(self._ident(table)).using("iceberg")
        for k, v in (properties or {}).items():
            if isinstance(v, str):  # Iceberg table properties are strings
                w = w.tableProperty(k, v)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def append(self, df: DataFrame, table: str,
               properties: dict[str, Any] | None = None) -> None:
        """Fast-append commit — Iceberg appends manifests, O(new data)."""
        if not self.exists(table):
            return self.write(df, table, properties)
        df.writeTo(self._ident(table)).append()

    def compact(self, spark: SparkSession, table: str):
        """Maintenance commit (``TableStore.compact`` counterpart):
        delegates to the catalog's ``rewrite_data_files`` procedure —
        bin-packs the fast-append file debris into right-sized files as
        its own snapshot. Returns the post-compaction snapshot so
        ``KGPipeline.compact_table`` can refresh its manifest pins the
        same way it does over the parquet stand-in."""
        self.spark.sql(rewrite_data_files_sql(
            self.catalog, self.namespace, table))
        return self.current_snapshot(table)

    def merge(self, df: DataFrame, table: str, key_cols: list[str],
              properties: dict[str, Any] | None = None,
              delete_keys: DataFrame | None = None,
              unique_key: bool = False) -> None:
        """Upsert with ``TableStore.merge`` semantics (see module
        docstring): group replacement by default (delete all target
        rows matching incoming/delete keys, then insert the batch — the
        engine prunes files from the partition spec and manifests), or
        one atomic ``MERGE INTO`` for ``unique_key`` tables."""
        if not self.exists(table):
            # first merge = plain write (delete_keys have nothing to evict)
            return self.write(df, table, properties)
        ident = self._ident(table)
        # pin the batch BEFORE any DELETE below runs: a batch plan that
        # reads from the target table must evaluate against the PRE-delete
        # snapshot (TableStore.merge gets this for free by reading the old
        # snapshot's files; here the lazy plan would re-execute after the
        # delete and silently lose rows)
        df = self._materializer(df)
        if unique_key:
            from pyspark.sql import functions as F

            dups = (df.groupBy(*key_cols).count()
                    .filter(F.col("count") > 1).limit(1).collect())
            if dups:
                raise ValueError(
                    f"unique_key merge into {table!r} got a batch with "
                    f"duplicate key {tuple(dups[0])[:-1]!r}; use the "
                    f"default group-replacement merge for multi-row keys")
            if delete_keys is not None:
                kv = f"__merge_del_{table}"
                delete_keys.select(*key_cols).distinct() \
                    .createOrReplaceTempView(kv)
                try:
                    self.spark.sql(
                        delete_by_keys_sql(ident, _quote(kv), key_cols))
                finally:
                    self.spark.catalog.dropTempView(kv)
            view = f"__merge_src_{table}"
            df.createOrReplaceTempView(view)
            try:
                self.spark.sql(merge_into_sql(ident, _quote(view), key_cols))
            finally:
                self.spark.catalog.dropTempView(view)
            return
        # group replacement: key universe = batch keys + delete_keys
        keys = df.select(*key_cols).distinct()
        if delete_keys is not None:
            keys = keys.unionByName(
                delete_keys.select(*key_cols).distinct()).distinct()
        kv = f"__merge_keys_{table}"
        keys.createOrReplaceTempView(kv)
        try:
            self.spark.sql(delete_by_keys_sql(ident, _quote(kv), key_cols))
        finally:
            self.spark.catalog.dropTempView(kv)
        df.writeTo(ident).append()

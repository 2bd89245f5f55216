"""The 3-stage KG-construction pipeline with checkpoint/resume.

Stage boundaries are snapshot commits (storage.TableStore; Iceberg on a real
cluster). Each stage records a *manifest* — stage name, config fingerprint,
input-table snapshot ids, output snapshot id — and resume skips any stage
whose manifest still matches its inputs (the analog of the reference's
idempotent re-runs guarded by ``collection.has(key)``,
software_mention_import.py:126, Readme.md:261-265 — but transactional:
a stage either commits a snapshot or leaves the previous one current).

Per north_rule, every stage record also carries metrics for each output
table — rows, files, bytes, the largest file's rows (partition skew) and
the commit mode — read from the committed snapshot's metadata (no Spark
job) and saved by the same atomic manifest write as the snapshot ids;
the reference has no analog (it logs progress counts to stdout,
Readme.md:196-245).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import extraction as ex
from softcite_kb_spark.operators import linking as lk
from softcite_kb_spark.storage import Snapshot, TableStore


@dataclass
class PipelineConfig:
    blacklist: tuple[str, ...] = ()
    min_vote_total: int = 2
    source_name: str = "transcripts"
    # >0 enables incremental ingest at scale: stage-1 outputs carry a
    # conv-hash bucket column and are PARTITIONED by it, so
    # ingest_increment's per-conversation MERGE rewrites only the
    # touched buckets (storage.TableStore pruned merge) instead of the
    # whole table. 0 = unbucketed (full-rewrite merges, still correct).
    partition_buckets: int = 0
    extra: dict = field(default_factory=dict)

    def fingerprint(self) -> str:
        payload = json.dumps(
            {"blacklist": sorted(self.blacklist),
             "min_vote_total": self.min_vote_total,
             "source_name": self.source_name,
             "partition_buckets": self.partition_buckets,
             "extra": self.extra},
            sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


class KGPipeline:
    """transcripts + authority tables -> mentions/triples -> links -> kb.

    Stage outputs (tables in the store):
      stage 1: ``triples``, ``mentions``, ``folded_mentions``
      stage 2: ``linked_mentions``
      stage 3: ``canonical_map``, ``statements``, ``nodes``, ``edges``
    plus the manifest file ``_manifest.json`` in the store root: one
    record per stage with its input/output snapshot ids, seconds, and a
    ``tables`` entry per output table (``rows``, ``files``, ``bytes``,
    ``max_file_rows``, ``commit_mode``).
    """

    STAGES = ("extract", "link", "canonicalize")

    def __init__(self, spark: SparkSession, store: TableStore,
                 config: PipelineConfig | None = None,
                 materializer=None) -> None:
        self.spark = spark
        self.store = store
        self.config = config or PipelineConfig()
        # iterative-round barrier for CC (softcite_kb_spark.materialize):
        # None = localCheckpoint (single JVM); pass a
        # ScratchTableMaterializer for cluster fault tolerance. An
        # execution detail, deliberately NOT part of the config
        # fingerprint — it cannot change stage outputs.
        self.materializer = materializer
        self._manifest_path = os.path.join(store.root, "_manifest.json")

    # -- manifest ---------------------------------------------------------
    def _load_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _input_snapshot_ids(self, tables: list[str]) -> dict[str, int]:
        out = {}
        for t in tables:
            snap = self.store.current_snapshot(t)
            out[t] = snap.snapshot_id if snap else -1
        return out

    def _stage_fresh(self, stage: str, inputs: dict[str, int]) -> bool:
        m = self._load_manifest().get(stage)
        if (m is None or m["inputs"] != inputs
                or m["config"] != self.config.fingerprint()):
            return False
        # outputs must still exist AND be the snapshots this stage wrote:
        # a dropped table or an external write would otherwise be skipped
        # over silently and downstream would read stale/missing data
        for t, sid in (m.get("outputs") or {}).items():
            snap = self.store.current_snapshot(t)
            if snap is None or snap.snapshot_id != sid:
                return False
        return True

    @staticmethod
    def _table_record(snap: Snapshot) -> dict:
        """A stage record's entry for one committed output snapshot:
        rows, file count, byte total and the largest file's rows (the
        partition-skew signal) from the snapshot's own metadata, plus
        how it was committed — "pruned" vs "full-rewrite" merges matter
        operationally at scale (a silent full-rewrite merge is the
        100 TB failure mode to monitor for). -1 = not recorded."""
        sp = snap.properties or {}
        return {
            "rows": snap.row_count,
            "files": int(sp.get("total-data-files", -1)),
            "bytes": int(sp.get("total-files-size", -1)),
            "max_file_rows": int(sp.get("max-file-records", -1)),
            "commit_mode": (sp.get("merge_mode") or sp.get("operation")
                            or "write"),
        }

    def _record_stage(self, stage: str, inputs: dict[str, int],
                      seconds: float) -> None:
        """Commit the stage's record: output snapshot ids and their
        ``tables`` entries come from ONE read of each current snapshot
        and land in one atomic manifest write."""
        outputs, tables = {}, {}
        for t in self._STAGE_IO[stage][1]:
            snap = self.store.current_snapshot(t)
            outputs[t] = snap.snapshot_id if snap else -1
            if snap is not None:
                tables[t] = self._table_record(snap)
        m = self._load_manifest()
        m[stage] = {
            "inputs": inputs,
            "outputs": outputs,
            "config": self.config.fingerprint(),
            "seconds": round(seconds, 3),
            "tables": tables,
            "finished_at": time.time(),
        }
        self._save_manifest(m)

    def _stage_barrier(self, df: DataFrame) -> DataFrame:
        """Materialization barrier for an intra-stage frame shared by
        several commits: the injected cluster materializer when
        configured (scratch tables survive executor loss), else a lazy
        localCheckpoint (single-JVM default — executor-local blocks,
        shuffle stages prefetched by AQE at call time)."""
        if self.materializer is not None:
            return self.materializer(df)
        return df.localCheckpoint(eager=False)

    # -- stages -----------------------------------------------------------
    def _blacklist_df(self) -> DataFrame | None:
        if not self.config.blacklist:
            return None
        return self.spark.createDataFrame(
            pd.DataFrame({"term": list(self.config.blacklist)}))

    def _bucket(self, df: DataFrame) -> DataFrame:
        """conv-hash bucket column (deterministic from conv_id alone, so
        it can be recomputed on any derived table instead of threaded
        through operators), REPARTITIONED by it: each write task owns
        whole buckets, so a partitioned commit emits O(buckets) files
        instead of O(buckets x shuffle_partitions) — the small-file
        problem is the first thing a bucketed layout hits at scale."""
        n = self.config.partition_buckets
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n))
        ).repartition(n, F.col("bucket"))

    def _write_stage1(self, df: DataFrame, table: str) -> None:
        """Commit a stage-1 output: bucketed + partitioned when
        ``partition_buckets`` is on (what lets ingest_increment's merges
        prune), plain otherwise."""
        if self.config.partition_buckets > 0:
            self.store.write(self._bucket(df), table, partition_by=["bucket"])
        else:
            self.store.write(df, table)

    def write_transcripts(self, transcripts: DataFrame) -> None:
        """Initial load helper: commit the transcripts table with the
        same bucket layout stage-1 outputs use, so later increments
        merge pruned from the very first batch."""
        self._write_stage1(transcripts, "transcripts")

    def stage_extract(self) -> None:
        transcripts = self.store.read(self.spark, "transcripts")
        # conv_id partitioning (north_star): spreads hot conversations'
        # files across cores and co-locates each conversation for the
        # fold/ordering steps; hash(conv_id) is effectively a salt over
        # any skewed input file layout.
        par = self.spark.sparkContext.defaultParallelism
        transcripts = transcripts.repartition(par, "conv_id")
        triples = ex.extract_triples(transcripts, self._blacklist_df())
        self._write_stage1(triples, "triples")
        triples = self.store.read(self.spark, "triples")  # re-read: cut lineage
        from concurrent.futures import ThreadPoolExecutor

        # one materialized mentions frame feeds BOTH commits: folding from
        # the checkpointed frame (instead of reading the just-written
        # mentions table back) yields identical rows and lets the two
        # independent table commits overlap (fixed commit cost dominates
        # at this stage's row counts).
        mentions = self._stage_barrier(
            ex.mentions_from_triples(triples.drop("bucket")))
        folded = ex.fold_mentions(mentions)
        with ThreadPoolExecutor(max_workers=1) as pool:
            fm = pool.submit(self._write_stage1, mentions, "mentions")
            self._write_stage1(folded, "folded_mentions")
            fm.result()

    def ingest_increment(self, new_transcripts: DataFrame) -> dict:
        """Incremental re-import (the reference's idempotent
        ``collection.has(key)`` re-run, Readme.md:261-265, made
        transactional): extraction runs over ONLY the new batch, and the
        extract stage is recorded fresh so the subsequent ``run``
        executes just link + canonicalize (whose cost scales with the
        folded mention table, not raw turns — the existing corpus is
        never re-extracted).

        Commit shape matches the batch's nature:

          * all-NEW conversations (the append-mostly common case for a
            transcript firehose) -> fast-APPEND commits: prior files
            hardlinked, I/O is O(batch), regardless of how the batch's
            conversations hash across buckets;
          * any REPLACED conversation -> per-conversation replacement
            MERGE on every stage-1 table (all rows of an incoming
            conv_id replaced — extraction and same-name folding are
            per-conversation, so incremental == batch by construction);
            partition-pruned under ``partition_buckets`` when the batch
            touches few buckets.

        Returns the stage report of the follow-up run
        (extract: "skipped").
        """
        self.ingest_stage1(new_transcripts)
        return self.run(resume=True)

    def ingest_stage1(self, new_transcripts: DataFrame) -> None:
        """The stage-1 half of :meth:`ingest_increment`: extract + commit
        the batch WITHOUT running link/canonicalize — what a streaming
        micro-batch sink calls per trigger (downstream stages run on
        demand, amortized over many batches; see
        streaming.ingest.run_kg_ingest_stream).

        Semantics and cost model:

          * transcripts — TURN-level upsert (key includes turn_idx): a
            conversation whose turns arrive across several micro-batches
            ACCUMULATES; a re-sent turn is replaced. (A conversation can
            only grow or change turns, never shrink — deleting turns is
            a maintenance operation, matching the reference's
            add-or-update ``collection.has(key)`` semantics.)
          * derived tables — recomputed per affected conversation from
            the conversation's FULL post-merge turn set (read back from
            the store, bucket-pruned), then committed as a
            per-conversation replacement merge whose ``delete_keys``
            evict conversations whose new content yields ZERO rows.
          * brand-new conversations take fast-APPEND commits (O(batch)
            I/O); only the replaced slice pays merge I/O — one re-imported
            conversation does not drag the whole batch through merges.
          * the previously-seen check reads only the batch's BUCKETS of
            the transcripts table (partition-pruned), not the corpus.

        Replay-idempotent: a replayed batch finds its conv_ids present,
        takes the replacement path, and converges to the same state no
        matter where a previous attempt died (appends themselves assemble
        in a staging dir and rename — see TableStore.append).
        """
        from softcite_kb_spark.materialize import (
            local_checkpoint_materializer)

        t0 = time.time()
        mat = self.materializer or local_checkpoint_materializer
        par = self.spark.sparkContext.defaultParallelism
        n_buckets = self.config.partition_buckets
        bootstrap = not self.store.exists("transcripts")
        fp = self.config.fingerprint()
        manifest = self._load_manifest()
        if not bootstrap and n_buckets > 0:
            # the bucketed increment path REQUIRES the existing
            # transcripts table to carry the bucket partition layout —
            # a store initialized with a plain store.write(transcripts)
            # would otherwise die later with an opaque AnalysisException
            # on F.col('bucket') (and a unionByName mismatch in the
            # merge); fail here with the actual fix instead
            tprops = (self.store.current_snapshot("transcripts")
                      .properties or {})
            # The layout check is two-tier because not every store's
            # snapshot metadata RECORDS partition layout: TableStore
            # writes a "partition_by" property, but IcebergTableStore
            # snapshots carry only {operation, **summary} — the layout
            # lives in the table's partition SPEC, which the engine
            # applies on its own. When the property is present it must
            # name the bucket layout; when absent, fall back to the
            # structural requirement every downstream read shares: the
            # table must carry the ``bucket`` column (its absence is
            # what produced the opaque AnalysisException mid-ingest).
            if "partition_by" in tprops:
                layout_ok = (tprops.get("partition_by") or []) == ["bucket"]
            else:
                layout_ok = "bucket" in self.store.read(
                    self.spark, "transcripts").columns
            if not layout_ok:
                raise RuntimeError(
                    f"partition_buckets={n_buckets} but the existing "
                    f"transcripts table is not bucket-partitioned — "
                    f"commit the initial load via "
                    f"KGPipeline.write_transcripts(...) (a plain "
                    f"store.write drops the bucket layout incremental "
                    f"merges prune on), or set partition_buckets=0")
        if not bootstrap and self.store.current_snapshot(
                "transcripts").row_count > 0:
            # the pre-existing corpus must have been extracted, under
            # THIS config — otherwise stamping extract "fresh" below
            # would silently skip extraction of never-extracted (or
            # stale-config) conversations. The _ingest marker (written
            # below, BEFORE any commit) keeps crash-REPLAYS of a prior
            # ingest attempt admissible: the replay converges via the
            # replacement path even if the crash landed between the
            # first commit and the manifest record.
            m = manifest.get("extract")
            prior_ok = m is not None and m["config"] == fp
            marker_ok = manifest.get("_ingest", {}).get("config") == fp
            if not (prior_ok or marker_ok):
                raise RuntimeError(
                    "ingest into a store whose existing transcripts were "
                    "never extracted under the current config — run() "
                    "first, then ingest increments")
        manifest["_ingest"] = {"config": fp, "started_at": time.time()}
        self._save_manifest(manifest)

        batch_keys = mat(new_transcripts.select("conv_id").distinct())
        if bootstrap:
            replaced_keys = None
        else:
            cur_t = self.store.read(self.spark, "transcripts")
            if n_buckets > 0:
                bks = [r[0] for r in batch_keys.select(
                    F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
                    .alias("b")).distinct().collect()]
                # partition-pruned: only the batch's buckets are read,
                # keeping the seen-before check O(touched buckets)
                cur_t = cur_t.filter(F.col("bucket").isin(bks))
            replaced_keys = mat(batch_keys.join(
                cur_t.select("conv_id").distinct(), "conv_id", "left_semi"))
            if replaced_keys.isEmpty():
                replaced_keys = None
        keys = (["bucket", "conv_id"] if n_buckets > 0 else ["conv_id"])

        def with_bucket(df: DataFrame) -> DataFrame:
            return self._bucket(df) if n_buckets > 0 else df

        def commit_append(df: DataFrame, table: str) -> None:
            if not self.store.exists(table):
                # bootstrap: the first commit must establish the bucketed
                # PARTITION layout, not just the bucket column, or no
                # later merge prunes
                self._write_stage1(df, table)
            else:
                self.store.append(with_bucket(df), table)

        new_batch = (new_transcripts if replaced_keys is None
                     else new_transcripts.join(replaced_keys, "conv_id",
                                               "left_anti"))
        if replaced_keys is None or not new_batch.isEmpty():
            from concurrent.futures import ThreadPoolExecutor

            nb = new_batch.repartition(par, "conv_id")
            new_triples = mat(ex.extract_triples(nb, self._blacklist_df()))
            new_mentions = mat(ex.mentions_from_triples(new_triples))
            # transcripts MUST commit first and alone: replay idempotence
            # rests on "batch convs present in transcripts -> replacement
            # path (idempotent merges)"; a derived append landing before
            # the transcripts append would double-append on replay. The
            # three DERIVED tables are then independent and overlap
            # safely (each is mostly fixed job cost at increment sizes;
            # same pattern as stage_canonicalize).
            commit_append(new_batch, "transcripts")
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [
                    pool.submit(commit_append, new_triples, "triples"),
                    pool.submit(commit_append, new_mentions, "mentions"),
                    pool.submit(commit_append,
                                ex.fold_mentions(new_mentions),
                                "folded_mentions"),
                ]
                for f in futs:
                    f.result()

        if replaced_keys is not None:
            repl_batch = new_transcripts.join(replaced_keys, "conv_id",
                                              "left_semi")
            # turn-level upsert FIRST, so the derived recompute below
            # reads each conversation's full post-merge turn set
            self.store.merge(with_bucket(repl_batch), "transcripts",
                             key_cols=keys + ["turn_idx"])
            full_convs = self.store.read(self.spark, "transcripts")
            if n_buckets > 0:
                # bucket-pruned read: only the replaced convs' buckets
                full_convs = full_convs.filter(F.col("bucket").isin(bks))
            full_convs = (full_convs
                          .join(replaced_keys, "conv_id", "left_semi")
                          .drop("bucket")
                          .repartition(par, "conv_id"))
            repl_triples = mat(ex.extract_triples(full_convs,
                                                  self._blacklist_df()))
            repl_mentions = mat(ex.mentions_from_triples(repl_triples))
            dkeys = with_bucket(replaced_keys)
            # three independent replacement merges (the transcripts
            # upsert above had to come first — the recompute reads the
            # post-merge turn sets), overlapped like the append path
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [
                    pool.submit(self.store.merge, with_bucket(repl_triples),
                                "triples", keys, None, dkeys),
                    pool.submit(self.store.merge,
                                with_bucket(repl_mentions), "mentions",
                                keys, None, dkeys),
                    pool.submit(self.store.merge,
                                with_bucket(ex.fold_mentions(repl_mentions)),
                                "folded_mentions", keys, None, dkeys),
                ]
                for f in futs:
                    f.result()

        # OPERATIONAL ALERT (VERDICT r03 #8): a bucketed store whose
        # increment merges silently fall back to full rewrites is the
        # 100 TB failure mode — every O(batch) increment becomes
        # O(table) I/O. Surface it: warn loudly and flag the manifest.
        if replaced_keys is not None:
            fallbacks = {}
            for t in ("transcripts", "triples", "mentions",
                      "folded_mentions"):
                sp = (self.store.current_snapshot(t).properties or {})
                reason = sp.get("merge_fallback_reason")
                if reason:
                    fallbacks[t] = reason
            if fallbacks:
                import logging

                logging.getLogger(__name__).warning(
                    "incremental ingest merge fell back to FULL "
                    "REWRITE (O(table) I/O per increment): %s",
                    fallbacks)
                m2 = self._load_manifest()
                m2.setdefault("_ingest", {})["merge_fallbacks"] = fallbacks
                self._save_manifest(m2)

        # the committed outputs ARE the extract stage's outputs for the
        # new input state — record the manifest so run() skips
        # re-extraction
        inputs = self._input_snapshot_ids(self._STAGE_IO["extract"][0])
        self._record_stage("extract", inputs, time.time() - t0)

    def compact_table(self, table: str):
        """Maintenance: compact a store table AND refresh every manifest
        entry that pins its snapshot id — without this, the next
        ``run(resume=True)`` would treat the layout-only rewrite as new
        data and recompute the stage plus everything downstream. The
        producing stage's ``tables`` entry is refreshed with the ids, so
        it keeps describing the committed snapshot."""
        snap = self.store.compact(self.spark, table)
        m = self._load_manifest()
        changed = False
        for rec in m.values():
            if not isinstance(rec, dict):
                continue
            for k in ("inputs", "outputs"):
                ids = rec.get(k)
                if isinstance(ids, dict) and table in ids:
                    ids[table] = snap.snapshot_id
                    changed = True
            if table in (rec.get("tables") or {}):
                rec["tables"][table] = self._table_record(snap)
        if changed:
            self._save_manifest(m)
        return snap

    def _authority_fits(self) -> bool:
        """The stage-2/3 broadcast size gate, decided from the recorded
        row counts of the current ``authority_entities`` and
        ``authority_ids`` snapshots: metadata only, no Spark job, and
        the same bool for stage 2, stage 3 and the incremental path in
        whatever order they run. A new authority snapshot is read on the
        next call. The count is one row per entity and per strong id;
        ``linking.authority_fits_broadcast`` (the reference this is
        pinned to on every fixture) counts exploded label + alias keys,
        so the two readings differ by the alias fan-out. An unrecorded
        count (-1) decides "no hint": the joins then shuffle unless AQE
        broadcasts a side it measured small."""
        rows = 0
        for t in ("authority_entities", "authority_ids"):
            snap = (self.store.current_snapshot(t)
                    if self.store.exists(t) else None)
            if snap is None:
                continue
            if snap.row_count < 0:
                return False
            rows += snap.row_count
        return rows <= lk.AUTHORITY_BROADCAST_MAX_ROWS

    def stage_link(self) -> None:
        # bucket is a storage-layout column (incremental merge pruning)
        # — keep it out of the relational stages
        folded = self.store.read(self.spark, "folded_mentions").drop("bucket")
        auth = self.store.read(self.spark, "authority_entities")
        ids = (self.store.read(self.spark, "authority_ids")
               if self.store.exists("authority_ids") else None)
        triples = self.store.read(self.spark, "triples").drop("bucket")
        linked = lk.link_mentions(
            folded, auth, ids, triples,
            min_total=self.config.min_vote_total,
            broadcast=self._authority_fits())
        self.store.write(linked, "linked_mentions")

    def stage_canonicalize(self) -> None:
        linked = self.store.read(self.spark, "linked_mentions")
        triples = self.store.read(self.spark, "triples").drop("bucket")
        auth = self.store.read(self.spark, "authority_entities")
        bc = self._authority_fits()
        # below cz.CC_LOCAL_EDGE_LIMIT surface rows (and with no
        # materializer) canonical_map builds the surface map on the driver
        # and broadcasts it; above it CC runs distributed. One
        # materialized canonical-map frame feeds its own commit AND
        # the three downstream builds (identical rows to the previous
        # write-then-read-back — the barrier computes CC once, and
        # every consumer is order-insensitive relational fold/join work).
        # With statements/edges/nodes also pure functions of that frame,
        # all FOUR table commits are independent and overlap (guide
        # concurrent-jobs pattern; commits touch different tables/meta
        # files). Output snapshots are content-identical to the
        # sequential order; if one commit fails while siblings land, the
        # stage stays unrecorded and the re-run rewrites all four — the
        # same torn-window-then-repair the sequential order had.
        canon = self._stage_barrier(
            cz.canonical_map(linked, materializer=self.materializer))
        stmts = cz.fold_statements(triples, canon, source=self.config.source_name)
        from concurrent.futures import ThreadPoolExecutor

        # a "lazy" localCheckpoint still runs the plan's shuffle stages
        # at call time (AQE resolves the final plan eagerly for toRdd),
        # so the edges checkpoint is a real job wave — run it on a pool
        # thread where it overlaps the canonical_map/statements commits
        # instead of preceding them. nodes consumes the checkpointed
        # edges exactly as before; rows are unchanged, only the wave
        # schedule moved.
        with ThreadPoolExecutor(max_workers=4) as pool:

            def _edges_then_nodes() -> None:
                edges = self._stage_barrier(cz.build_edges(
                    triples, canon,
                    authority_keys=lk.authority_block_keys(auth),
                    broadcast=bc))
                nodes = cz.augment_nodes_with_authority(
                    cz.build_nodes(canon, authority_entities=auth,
                                   broadcast=bc),
                    edges, auth, broadcast=bc, node_ids=canon)
                fe = pool.submit(self.store.write, edges, "edges")
                self.store.write(nodes, "nodes")
                fe.result()

            futs = [pool.submit(self.store.write, canon, "canonical_map"),
                    pool.submit(self.store.write, stmts, "statements"),
                    pool.submit(_edges_then_nodes)]
            for f in futs:
                f.result()

    # -- driver -----------------------------------------------------------
    _STAGE_IO: dict[str, tuple[list[str], list[str]]] = {
        "extract": (["transcripts"], ["triples", "mentions", "folded_mentions"]),
        "link": (["folded_mentions", "authority_entities",
                  "authority_ids", "triples"],
                 ["linked_mentions"]),
        "canonicalize": (["linked_mentions", "triples", "authority_entities"],
                         ["canonical_map", "statements", "nodes", "edges"]),
    }

    def run(self, resume: bool = True, stop_after: str | None = None) -> dict:
        """Run all stages; with ``resume`` skip stages whose manifest matches
        current input snapshots + config. ``stop_after`` simulates a crash
        at a stage boundary for resume tests."""
        fns: dict[str, Callable[[], None]] = {
            "extract": self.stage_extract,
            "link": self.stage_link,
            "canonicalize": self.stage_canonicalize,
        }
        report = {}
        for stage in self.STAGES:
            inputs = self._input_snapshot_ids(self._STAGE_IO[stage][0])
            if resume and self._stage_fresh(stage, inputs):
                report[stage] = "skipped"
            else:
                t0 = time.time()
                fns[stage]()
                self._record_stage(stage, inputs, time.time() - t0)
                report[stage] = "ran"
            if stop_after == stage:
                break
        return report

"""Incremental stage-2/3 state maintenance (VERDICT r04 #2).

``KGPipeline.ingest_increment`` is incremental only through stage 1:
link + canonicalize re-run over the full ``folded_mentions`` each
increment. After the surface-granularity collapses those re-runs are
scan-bound, but at 10^12 turns two O(corpus) scans per increment are
still the dominant cost. This module finishes the job: stage-2
decisions and every stage-3 output table are MAINTAINED, with
per-increment reads that scale with the touched slice, never with the
corpus. Reference analog: the idempotent re-import the ArangoDB
``collection.has(key)`` guards provide (softcite_kb Readme.md:261-265)
— here done at O(increment), not O(corpus).

Cost model per increment (the claim the tests pin):

* O(touched conv buckets) — stage-1 reads (inherited);
* O(touched surface buckets) — every read of the corpus-scale
  surface-layout tables is partition-pruned to the buckets of the
  touched/affected surfaces, and every commit is a pruned MERGE;
* O(distinct surfaces) — the surface-granularity state
  (``surface_stats``, ``surface_canon``, ``accepted_links``) and the
  connected-components re-run are read in full: they are the
  surface-collapsed frames, already millions of times smaller than the
  corpus (CC over the surface-entity graph is inherently global — a
  new edge can merge two far-apart components);
* never O(turns) and never O(mention groups) outside touched buckets.

How the affected slice is found (and why it is CLOSED):

1. ``T`` — touched surfaces: subject surfaces of the batch's new rows
   plus old rows of replaced conversations.
2. stage-2 decisions recompute for ``T`` only (voting is
   surface-pure: a surface's accepted entity depends only on its own
   stats and candidate set) -> decision diff ``D``.
3. CC re-runs over the full (small) accepted surface-entity edge set;
   ``C`` = surfaces whose canonical id changed.
4. ``A = T ∪ D ∪ C``;  affected canonicals
   ``K = canon_new(A) ∪ canon_old(A) ∪ canon_new(subj(triples with
   OBJECT surface in A))`` — the last term via the object-surface
   projection ``triples_by_obj``: an edge's destination re-points when
   its OBJECT's canonical moves, which dirties edge rows owned by the
   un-touched SUBJECT's canonical.
5. ``S*`` = all surfaces of canonicals in ``K`` (surface closure, from
   the small ``surface_canon``); every downstream group key (statement
   fold, node build, edge build all group by canonical) is therefore
   fully contained in the recomputed slice, so running the UNCHANGED
   batch operators on the pruned inputs yields exactly the rows that
   replace the old groups. Semantics live in one place; this module
   only finds the slice and merges it.

Storage layout: the corpus-scale state tables are SURFACE-bucketed
(``bucket = pmod(xxhash64(norm_surface), surface_buckets)``) while the
stage-1 tables keep their conv-bucket layout — the two sort orders the
round-4 notes called conflicting are simply both materialized (the
C-Store projection trade: ~2x triple storage buys O(touched) reads in
both access patterns). Output tables bucket by their own group key
(canonical id for statements/nodes/edges).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import linking as lk
from softcite_kb_spark.plans.pipeline import KGPipeline
from softcite_kb_spark.storage import TableStore


def _sbucket(col, n: int):
    return F.pmod(F.xxhash64(col), F.lit(n))


class IncrementalKGPipeline(KGPipeline):
    """KGPipeline whose ``ingest_increment`` maintains stage-2/3 state
    instead of re-running link+canonicalize over the corpus.

    Usage::

        pipe = IncrementalKGPipeline(spark, store, cfg, surface_buckets=64)
        pipe.write_transcripts(transcripts)
        store.write(authority_entities, "authority_entities"); ...
        pipe.bootstrap()                   # batch run + state build
        pipe.ingest_increment(batch_df)    # O(touched slice) from now on

    Requires ``config.partition_buckets > 0`` (stage-1 pruning) and a
    static authority (authority changes require re-``bootstrap`` — the
    reference re-imports wholesale on authority updates too).
    ``run()`` remains the BATCH path; calling it post-bootstrap
    recomputes outputs batch-style without the merge-ready layouts, so
    increments after a manual ``run()`` need a fresh ``bootstrap()``.
    """

    #: corpus-scale surface-layout state (pruned reads + pruned merges)
    STATE_TABLES = ("folded_by_surface", "triples_by_subj",
                    "triples_by_obj")
    #: surface-granularity state (small; read in full)
    SURFACE_TABLES = ("surface_stats", "accepted_links", "surface_canon")
    #: every table whose PRE-increment state the increment body reads —
    #: pinned (snapshot-tagged) for the duration of the increment so a
    #: mid-increment crash is replayable from exactly the state the
    #: first attempt saw (see the WAL notes on ingest_increment)
    PIN_TABLES = ("folded_mentions", "triples", "accepted_links",
                  "surface_canon", "edges", "auth_refs")
    _WAL_PIN = "ingest23-wal"

    def __init__(self, spark, store: TableStore, config=None,
                 materializer=None, surface_buckets: int = 32) -> None:
        super().__init__(spark, store, config, materializer)
        if self.config.partition_buckets <= 0:
            raise ValueError(
                "IncrementalKGPipeline requires partition_buckets > 0 "
                "(stage-1 pruning is the foundation the stage-2/3 "
                "maintenance builds on)")
        self.surface_buckets = surface_buckets
        # per-ingest observability: {table: sorted bucket list} of every
        # pruned read — what the scale tests assert on
        self.last_read_buckets: dict[str, list] = {}
        # {table: pinned snapshot id} of the in-flight increment's WAL
        self._wal_pins: dict[str, int] = {}
        # in-flight background commit futures (joined on success AND on
        # failure — see ingest_increment)
        self._bg_futures: list = []

    # -- helpers ----------------------------------------------------------
    def _mat(self):
        if self.materializer is not None:
            return self.materializer

        # LAZY local checkpoint (vs the eager module default): an
        # increment takes ~20 barriers, and an eager checkpoint is a
        # full Spark job each — measured as the dominant share of the
        # increment's fixed cost. A lazy checkpoint materializes inside
        # the FIRST consumer's job and is cached for the rest (the
        # block manager's per-block compute locks make concurrent first
        # consumers safe), so the barrier keeps its
        # compute-once/lineage-cut contract without its own job. The
        # eager default remains right for iterative CC rounds, which
        # probe each round's result immediately.
        def lazy_local_checkpoint(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

        return lazy_local_checkpoint

    def _with_sbucket(self, df: DataFrame, col: str = "norm_surface",
                      name: str = "bucket",
                      shuffle: bool = True) -> DataFrame:
        """Add the surface-bucket column; ``shuffle=True`` (the default,
        for frames being WRITTEN) also repartitions by it so a
        partitioned commit emits O(buckets) files instead of
        O(input partitions x buckets). Delete-key frames are never
        written — only their key columns feed the merge's partition
        probe — so they pass ``shuffle=False`` and skip the exchange."""
        n = self.surface_buckets
        out = df.withColumn(name, _sbucket(F.col(col), n))
        return out.repartition(n, F.col(name)) if shuffle else out

    def _bucket_list(self, surfaces: DataFrame,
                     col: str = "norm_surface") -> list:
        """Distinct surface-bucket list of a (small) surface frame —
        one collect, bounded by ``surface_buckets``. Callers reading
        several tables pruned by the SAME frame compute this once and
        pass it to ``_pruned_read`` to avoid re-collecting."""
        return sorted(r[0] for r in surfaces.select(
            _sbucket(F.col(col), self.surface_buckets).alias("b"))
            .distinct().collect())

    def _read_old(self, table: str) -> DataFrame:
        """PRE-increment state of ``table``: the snapshot pinned when
        this increment's WAL entry was written — identical on the first
        attempt and on every crash replay."""
        return self.store.read_at(self.spark, table,
                                  self._wal_pins[table])

    def _pruned_read(self, table: str, surfaces: DataFrame,
                     col: str = "norm_surface",
                     buckets: list | None = None,
                     old: bool = False) -> DataFrame:
        """Read ``table`` restricted to the partitions holding the given
        surfaces — the bucket list is collected (bounded by
        ``surface_buckets``), recorded for observability, and pushed
        down as a partition filter. ``old=True`` reads the WAL-pinned
        pre-increment snapshot instead of the current one."""
        bks = (self._bucket_list(surfaces, col)
               if buckets is None else buckets)
        self.last_read_buckets.setdefault(table, [])
        self.last_read_buckets[table] = sorted(
            set(self.last_read_buckets[table]) | set(bks))
        df = (self._read_old(table) if old
              else self.store.read(self.spark, table))
        return df.filter(F.col("bucket").isin(bks))

    def _conv_bucket_list(self, conv_keys: DataFrame) -> list:
        """Distinct conv-bucket list of a conversation-key frame — the
        stage-1 analog of ``_bucket_list`` (one collect, bounded by
        ``partition_buckets``); the single place the conv partitioning
        expression lives."""
        n = self.config.partition_buckets
        return sorted(r[0] for r in conv_keys.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(n)).alias("b"))
            .distinct().collect())

    def _conv_pruned(self, table: str, conv_keys: DataFrame,
                     buckets: list | None = None,
                     old: bool = False) -> DataFrame:
        """Conv-bucket-pruned read of a stage-1 table, semi-joined to
        the given conversations. ``buckets`` short-circuits the bucket
        collect when the caller already probed the same key frame;
        ``old=True`` reads the WAL-pinned pre-increment snapshot."""
        bks = (self._conv_bucket_list(conv_keys)
               if buckets is None else buckets)
        df = (self._read_old(table) if old
              else self.store.read(self.spark, table))
        df = df.filter(F.col("bucket").isin(bks))
        return df.join(conv_keys, "conv_id", "left_semi")

    @staticmethod
    def _norm_subj(df: DataFrame) -> DataFrame:
        from softcite_kb_spark.functions.text import norm_name

        return df.withColumn("norm_surface", norm_name(F.col("subj")))

    @staticmethod
    def _norm_obj(df: DataFrame) -> DataFrame:
        from softcite_kb_spark.functions.text import norm_name

        return df.withColumn("norm_obj", norm_name(F.col("obj")))

    def _accepted_for(self, stats: DataFrame,
                      triples: DataFrame | None) -> DataFrame:
        """Stage-2 decision for exactly the surfaces in ``stats`` —
        voting is surface-pure, so a subset computes the subset's
        decisions exactly (pinned against the batch path by tests).
        ``triples`` feeds the language post-validation (J6) and must
        cover every triple whose SUBJECT surface is in ``stats`` (the
        per-surface language sets are aggregates over exactly those
        rows — the surface-pruned ``triples_by_subj`` slice provides
        them completely)."""
        auth = self.store.read(self.spark, "authority_entities")
        ids = (self.store.read(self.spark, "authority_ids")
               if self.store.exists("authority_ids") else None)
        cands = lk.generate_surface_candidates(
            stats.select("norm_surface", "surface_mentions"), auth, ids,
            triples=triples, broadcast=self._authority_fits())
        return lk.vote_links_surface(
            cands, min_total=self.config.min_vote_total).select(
            "norm_surface", "entity_id",
            F.col("method").alias("link_method"),
            F.col("score").alias("link_score"))

    def _stats_for(self, folded_slice: DataFrame) -> DataFrame:
        """surface_stats row recompute (+ the per-surface min node id
        ``srep``, the canonical fallback)."""
        node = cz.mention_node_id(F.col("conv_id"), F.col("norm_surface"))
        return (folded_slice
                .withColumn("__node", node)
                .groupBy("norm_surface")
                .agg(F.sum("n_mentions").alias("surface_mentions"),
                     F.count("*").cast("long").alias("n_groups"),
                     F.min("__node").alias("srep")))

    def _surface_canon_from_state(self, accepted: DataFrame,
                                  stats: DataFrame) -> DataFrame:
        """(norm_surface, canonical_id) for EVERY surface of ``stats`` —
        ``cz.surface_canonical_map`` (the surface collapse
        ``cz.canonical_map`` runs, recomputed globally: O(accepted
        surfaces)) over each surface's ``srep`` and accepted entity:
        built on the driver below ``cz.CC_LOCAL_EDGE_LIMIT`` surfaces
        with the default barrier, else CC runs distributed."""
        surfaces = stats.select("norm_surface", "srep").join(
            accepted.select("norm_surface", "entity_id"), "norm_surface",
            "left")
        return cz.surface_canonical_map(surfaces,
                                        materializer=self.materializer)

    def _node_columns(self) -> list[str]:
        return [f.name for f in
                self.store.read(self.spark, "nodes").schema.fields]

    @staticmethod
    def _canon_rows(folded: DataFrame, accepted: DataFrame,
                    scanon: DataFrame) -> DataFrame:
        """Reconstruct canonical_map rows (linked_mentions columns +
        node_id + canonical_id — the schema the batch stage writes) for
        the given folded slice: the accepted entity and the canonical
        id are both SURFACE-pure, so two surface-keyed joins recover
        the per-group rows exactly."""
        return (folded
                .withColumn("node_id", cz.mention_node_id(
                    F.col("conv_id"), F.col("norm_surface")))
                .join(accepted, "norm_surface", "left")
                .join(scanon, "norm_surface", "left")
                .withColumn("canonical_id",
                            F.coalesce("canonical_id", "node_id")))

    # -- bootstrap --------------------------------------------------------
    def bootstrap(self, resume: bool = True) -> dict:
        """Batch run + build every state table and re-commit the output
        tables in their merge-ready (bucketed) layouts."""
        report = self.run(resume=resume)
        mat = self._mat()

        folded = self.store.read(self.spark, "folded_mentions") \
            .drop("bucket")
        triples = self.store.read(self.spark, "triples").drop("bucket")
        self.store.write(self._with_sbucket(folded), "folded_by_surface",
                         partition_by=["bucket"])
        self.store.write(self._with_sbucket(self._norm_subj(triples)),
                         "triples_by_subj", partition_by=["bucket"])
        self.store.write(
            self._with_sbucket(self._norm_obj(triples), col="norm_obj"),
            "triples_by_obj", partition_by=["bucket"])

        stats = mat(self._stats_for(folded))
        self.store.write(self._with_sbucket(stats), "surface_stats",
                         partition_by=["bucket"])
        accepted = mat(self._accepted_for(stats, triples))
        self.store.write(self._with_sbucket(accepted), "accepted_links",
                         partition_by=["bucket"])
        scanon = self._surface_canon_from_state(accepted, stats)
        self.store.write(self._with_sbucket(scanon), "surface_canon",
                         partition_by=["bucket"])

        # outputs, re-laid-out for pruned merges (same rows the batch
        # stages committed — the canonical map is recomputed from state
        # to guarantee byte-identity with what increments will maintain)
        canon = self._canon_rows(folded, accepted, scanon)
        self.store.write(self._with_sbucket(canon), "canonical_map",
                         partition_by=["bucket"])
        for t in ("statements", "nodes", "edges"):
            df = self.store.read(self.spark, t)
            key = "canonical_id" if t != "edges" else "src_id"
            self.store.write(
                self._with_sbucket(df, col=key), t,
                partition_by=["bucket"])
        edges = self.store.read(self.spark, "edges")
        refs = (edges.filter(F.col("dst_id").startswith("e:"))
                .select(F.expr("substring(dst_id, 3)").alias("entity_id"))
                .groupBy("entity_id")
                .agg(F.count("*").cast("long").alias("nrefs")))
        self.store.write(refs, "auth_refs")
        m = self._load_manifest()
        m["_ingest23"] = {"bootstrapped_at": time.time(),
                          "surface_buckets": self.surface_buckets,
                          "config": self.config.fingerprint()}
        self._save_manifest(m)
        return report

    # -- crash-safe wrapper ----------------------------------------------
    def _batch_signature(self, batch: DataFrame) -> dict:
        """Content signature of an increment batch — how a crash REPLAY
        proves it carries the same batch the WAL entry was written for.
        Order-insensitive bit_xor of per-row hashes (never overflows —
        ANSI sum would) + row/conversation counts."""
        r = batch.select(
            F.count("*").alias("n"),
            F.countDistinct("conv_id").alias("nc"),
            F.expr("bit_xor(xxhash64(conv_id, turn_idx, "
                   "md5(coalesce(text, ''))))").alias("h")).collect()[0]
        return {"n": r["n"], "nc": r["nc"], "h": int(r["h"] or 0)}

    def ingest_increment(self, new_transcripts: DataFrame) -> dict:
        """Crash-safe incremental ingest (WAL + snapshot pins).

        An increment is ~15 sequential snapshot commits; a crash
        between any two leaves the store mid-increment — and the OLD
        rows of replaced conversations are then no longer discoverable
        from current state (stage-1 already replaced them), so a naive
        re-run would orphan their derived rows forever. Instead, before
        the first commit, every table whose PRE-increment state the
        body reads (:data:`PIN_TABLES`) is snapshot-PINNED (the Iceberg
        tag analog — expiry skips pins) and a WAL entry {batch
        signature, pinned ids} lands in the stage manifest. The body
        reads all old state through the pins, so re-calling
        ``ingest_increment`` with the SAME batch after a crash replays
        deterministically from exactly the state the first attempt saw:
        every commit is a keyed replacement whose inputs are functions
        of (pinned old state, the batch, deterministically re-merged
        tables), hence idempotent. On success the WAL entry is cleared
        and the pins dropped. A different batch while a WAL entry is
        pending raises — the caller (or the streaming checkpoint, see
        ``streaming.ingest.run_kg_maintain_stream``) must roll the
        interrupted increment forward first."""
        m = self._load_manifest()
        if "_ingest23" not in m:
            raise RuntimeError(
                "incremental stage-2/3 state missing — call bootstrap() "
                "once after the initial load (or use the batch "
                "KGPipeline)")
        if m["_ingest23"].get("config") != self.config.fingerprint():
            raise RuntimeError(
                "pipeline config changed since bootstrap — stage-2/3 "
                "state was built under a different config; re-run "
                "bootstrap()")
        sig = self._batch_signature(new_transcripts)
        wal = m["_ingest23"].get("wal")
        if wal is not None:
            if wal["sig"] != sig:
                raise RuntimeError(
                    "a previous ingest_increment did not complete (WAL "
                    "entry pending) and this call carries a DIFFERENT "
                    "batch — re-call ingest_increment with the "
                    "interrupted batch first to roll it forward")
            self._wal_pins = {t: int(s) for t, s in wal["pins"].items()}
        else:
            # pin FIRST, then persist the WAL entry: a crash between
            # the two leaves only a re-pinnable tag behind (the fixed
            # pin name is moved by the next increment), never a WAL
            # entry whose pinned snapshots could expire
            self._wal_pins = {t: self.store.pin_snapshot(t, self._WAL_PIN)
                              for t in self.PIN_TABLES}
            m["_ingest23"]["wal"] = {"sig": sig, "pins": self._wal_pins,
                                     "started_at": time.time()}
            self._save_manifest(m)
        try:
            out = self._apply_increment(new_transcripts)
        except BaseException:
            # a failure mid-increment must not leave a FLOATING background
            # commit racing a subsequent replay's merge of the same table
            # (two concurrent merges could contend for one snapshot dir) —
            # join any in-flight background commits before surfacing
            for f in getattr(self, "_bg_futures", []):
                try:
                    f.result()
                except Exception:
                    pass
            self._bg_futures = []
            raise
        m = self._load_manifest()
        m["_ingest23"].pop("wal", None)
        self._save_manifest(m)
        for t in self.PIN_TABLES:
            self.store.unpin_snapshot(t, self._WAL_PIN)
        self._wal_pins = {}
        return out

    # -- the incremental ingest body -------------------------------------
    def _apply_increment(self, new_transcripts: DataFrame) -> dict:
        t0 = time.time()
        self.last_read_buckets = {}
        mat = self._mat()
        spark = self.spark
        batch_keys = mat(new_transcripts.select("conv_id").distinct())
        # one conv-bucket probe serves all four stage-1 pruned reads
        conv_bks = self._conv_bucket_list(batch_keys)

        # ---- the OLD touched slice, from the WAL-pinned snapshots ----
        # (crash-replays re-read the identical pre-increment state even
        # though stage-1 has already replaced these rows)
        old_folded_pairs = mat(self._norm_pairs(
            self._conv_pruned("folded_mentions", batch_keys,
                              buckets=conv_bks, old=True)
            .select("norm_surface", "conv_id")))
        old_triples = mat(
            self._conv_pruned("triples", batch_keys, buckets=conv_bks,
                              old=True)
            .select("conv_id", "turn_idx", "subj", "pred", "obj"))

        # ---- stage 1 (conv-layout, inherited) ----
        self.ingest_stage1(new_transcripts)

        # ---- maintain the surface-layout projections ----
        new_slice = mat(
            self._conv_pruned("folded_mentions", batch_keys,
                              buckets=conv_bks)
            .drop("bucket"))
        new_triples = mat(
            self._conv_pruned("triples", batch_keys,
                              buckets=conv_bks).drop("bucket"))
        # the three surface-layout projections are INDEPENDENT tables fed
        # by the same materialized batch frames — overlap their merge
        # commits from driver threads (each commit is mostly fixed cost:
        # affected-partition probe + write + hardlink carry-over), same
        # pattern as stage_canonicalize's statements/edges overlap
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(
                    self._merge_surface_projection,
                    "folded_by_surface", self._with_sbucket(new_slice),
                    old_folded_pairs, "norm_surface"),
                pool.submit(
                    self._merge_surface_projection,
                    "triples_by_subj",
                    self._with_sbucket(self._norm_subj(new_triples)),
                    self._norm_pairs(self._norm_subj(old_triples)
                                     .select("norm_surface", "conv_id")),
                    "norm_surface"),
                pool.submit(
                    self._merge_surface_projection,
                    "triples_by_obj",
                    self._with_sbucket(self._norm_obj(new_triples),
                                       col="norm_obj"),
                    self._norm_pairs(
                        self._norm_obj(old_triples)
                        .select(F.col("norm_obj").alias("norm_surface"),
                                "conv_id")),
                    "norm_obj"),
            ]
            for f in futs:
                f.result()

        # ---- T: touched surfaces ----
        T = mat(new_slice.select("norm_surface").distinct().unionByName(
            old_folded_pairs.select("norm_surface").distinct())
            .distinct())

        # ---- stage-2 decisions for T only ----
        t_bks = self._bucket_list(T)
        new_stats_T = mat(self._stats_for(
            self._pruned_read("folded_by_surface", T, buckets=t_bks)
            .join(T, "norm_surface", "left_semi")))
        vanished_T = T.join(new_stats_T, "norm_surface", "left_anti")
        self.store.merge(self._with_sbucket(new_stats_T),
                         "surface_stats",
                         key_cols=["bucket", "norm_surface"],
                         delete_keys=self._with_sbucket(vanished_T,
                                                        shuffle=False))
        old_accepted_T = mat(self._pruned_read("accepted_links", T,
                                               buckets=t_bks, old=True)
                             .join(T, "norm_surface", "left_semi")
                             .drop("bucket"))
        triples_T = (self._pruned_read("triples_by_subj", T,
                                       buckets=t_bks)
                     .join(T, "norm_surface", "left_semi")
                     .drop("bucket", "norm_surface"))
        new_accepted_T = mat(self._accepted_for(new_stats_T, triples_T))
        self.store.merge(self._with_sbucket(new_accepted_T),
                         "accepted_links",
                         key_cols=["bucket", "norm_surface"],
                         delete_keys=self._with_sbucket(
                             T.join(new_accepted_T, "norm_surface",
                                    "left_anti"), shuffle=False))
        D = self._changed_keys(
            old_accepted_T.select("norm_surface", "entity_id"),
            new_accepted_T.select("norm_surface", "entity_id"))

        # ---- global surface canon (O(distinct surfaces)) ----
        old_canon = mat(self._read_old("surface_canon")
                        .drop("bucket"))
        stats_full = self.store.read(spark, "surface_stats") \
            .drop("bucket")
        accepted_full = self.store.read(spark, "accepted_links") \
            .drop("bucket")
        new_canon = mat(self._surface_canon_from_state(
            accepted_full, stats_full))
        C = self._changed_keys(old_canon, new_canon)
        # surface_canon is a SINK within the increment (every later step
        # reads new_canon / the pinned old_canon, never the table), so its
        # merge floats on a background thread and is joined before the
        # manifest write — overlapping the whole K/S*/slice phase
        bg_pool = ThreadPoolExecutor(max_workers=2)
        self._bg_futures = []
        sc_future = bg_pool.submit(
            self.store.merge,
            self._with_sbucket(new_canon.join(
                mat(C.unionByName(T).distinct()), "norm_surface",
                "left_semi")),
            "surface_canon", ["bucket", "norm_surface"], None,
            self._with_sbucket(
                old_canon.select("norm_surface")
                .join(new_canon, "norm_surface", "left_anti"),
                shuffle=False))
        self._bg_futures.append(sc_future)

        # ---- affected canonicals K and the surface closure S* ----
        A = mat(T.unionByName(D).unionByName(C).distinct())
        obj_hits = (self._pruned_read("triples_by_obj", A,
                                      col="norm_surface")
                    .withColumnRenamed("norm_obj", "__obj")
                    .join(A.withColumnRenamed("norm_surface", "__obj"),
                          "__obj", "left_semi"))
        obj_src_surfaces = self._norm_subj(obj_hits) \
            .select("norm_surface").distinct()
        a_surfaces = mat(A.unionByName(obj_src_surfaces).distinct())
        K = mat(
            new_canon.join(a_surfaces, "norm_surface", "left_semi")
            .select("canonical_id")
            .unionByName(
                old_canon.join(A, "norm_surface", "left_semi")
                .select("canonical_id"))
            .distinct())
        S_star = mat(new_canon.join(K, "canonical_id", "left_semi")
                     .select("norm_surface").distinct())
        # every canonical whose group is recomputed (slice output keys)
        K_slice = mat(new_canon.join(S_star, "norm_surface", "left_semi")
                      .select("canonical_id").distinct())
        K_all = mat(K.unionByName(K_slice).distinct())

        # ---- slice inputs ----
        s_bks = self._bucket_list(S_star)
        folded_slice = mat(
            self._pruned_read("folded_by_surface", S_star,
                              buckets=s_bks)
            .join(S_star, "norm_surface", "left_semi").drop("bucket"))
        triples_slice = mat(
            self._pruned_read("triples_by_subj", S_star, buckets=s_bks)
            .join(S_star, "norm_surface", "left_semi")
            .drop("bucket", "norm_surface"))
        accepted_now = self.store.read(spark, "accepted_links") \
            .drop("bucket")
        canon_slice = mat(self._canon_rows(
            folded_slice, accepted_now, new_canon))

        # ---- canonical_map rows for changed/touched surfaces ----
        # also a background commit: the only in-increment reader of the
        # canonical_map TABLE is the dst-resolution read below, which is
        # restricted to surfaces OUTSIDE S* — rows the merge carries over
        # byte-identically — so pre-/post-merge reads are equivalent and
        # the commit overlaps the edges/nodes build
        tc = mat(T.unionByName(C).distinct())
        cm_future = bg_pool.submit(
            self.store.merge,
            self._with_sbucket(
                canon_slice.join(tc, "norm_surface", "left_semi")),
            "canonical_map", ["bucket", "norm_surface"], None,
            self._with_sbucket(
                tc.join(canon_slice, "norm_surface", "left_anti"),
                shuffle=False))
        self._bg_futures.append(cm_future)

        # ---- statements / nodes / edges slices via batch operators ----
        auth = self.store.read(spark, "authority_entities")
        bc = self._authority_fits()
        k_del = self._with_sbucket(K_all, col="canonical_id",
                                   shuffle=False)

        stmts = cz.fold_statements(triples_slice, canon_slice,
                                   source=self.config.source_name)
        # statements merge is submitted with the edges/nodes commits at
        # the end of this method — the three output tables are disjoint
        # and their merge jobs overlap (fixed commit cost dominates)

        # old edge rows of the affected canonicals (pre-merge) for the
        # authority-reference refcount delta
        old_edges_k = mat(
            self._pruned_read("edges", K_all, col="canonical_id",
                              old=True)
            .join(K_all.withColumnRenamed("canonical_id", "src_id"),
                  "src_id", "left_semi").drop("bucket"))
        # dst resolution needs canon rows for the slice's OBJECT
        # surfaces too — one more pruned read over their buckets.
        # Two exact restrictions collapse that read (round-5 verdict #2:
        # it previously touched 63/64 buckets):
        #   * surfaces already in S* are fully covered by canon_slice
        #     (folded_slice holds every group of every S* surface), so
        #     only OUT-of-slice object surfaces need the stored rows;
        #   * a surface with no new_canon row has no folded group
        #     anywhere, hence no canonical_map row — reading its bucket
        #     can contribute nothing (the dst join misses and falls to
        #     the authority/v-hash path exactly as before).
        obj_surfaces = (self._norm_obj(triples_slice)
                        .select(F.col("norm_obj").alias("norm_surface"))
                        .distinct()
                        .join(S_star, "norm_surface", "left_anti")
                        .join(new_canon, "norm_surface", "left_semi"))
        canon_for_dst = (self._pruned_read("canonical_map", obj_surfaces)
                         .drop("bucket")
                         .select("conv_id", "norm_surface",
                                 "canonical_id"))
        canon_for_edges = canon_slice.select(
            "conv_id", "norm_surface", "canonical_id") \
            .unionByName(canon_for_dst).distinct()
        edges_slice = mat(cz.build_edges(
            triples_slice, canon_for_edges,
            authority_keys=lk.authority_block_keys(auth), broadcast=bc))

        # ---- auth refcounts + authority-extra node rows ----
        def _ref_counts(e):
            return (e.filter(F.col("dst_id").startswith("e:"))
                    .select(F.expr("substring(dst_id, 3)")
                            .alias("entity_id"))
                    .groupBy("entity_id")
                    .agg(F.count("*").cast("long").alias("n")))

        delta = (_ref_counts(edges_slice)
                 .withColumnRenamed("n", "n_new")
                 .join(_ref_counts(old_edges_k)
                       .withColumnRenamed("n", "n_old"),
                       "entity_id", "full")
                 .select("entity_id",
                         (F.coalesce("n_new", F.lit(0))
                          - F.coalesce("n_old", F.lit(0))).alias("d"))
                 .filter(F.col("d") != 0))
        refs_old = self._read_old("auth_refs")
        refs_new = mat(
            refs_old.join(delta, "entity_id", "full")
            .select("entity_id",
                    (F.coalesce("nrefs", F.lit(0))
                     + F.coalesce("d", F.lit(0))).alias("nrefs"))
            .filter(F.col("nrefs") > 0))

        nodes_slice = cz.build_nodes(canon_slice,
                                     authority_entities=auth,
                                     broadcast=bc)
        # authority-extra rows: entities whose refcount changed or whose
        # e:-canonical membership was recomputed; present iff referenced
        # and NOT a mention-derived canonical
        e_aff = mat(
            delta.select("entity_id")
            .unionByName(K_all.filter(
                F.col("canonical_id").startswith("e:"))
                .select(F.expr("substring(canonical_id, 3)")
                        .alias("entity_id")))
            .distinct())
        mention_e = new_canon.filter(
            F.col("canonical_id").startswith("e:")) \
            .select(F.expr("substring(canonical_id, 3)")
                    .alias("entity_id")).distinct()
        extras_present = (e_aff
                          .join(refs_new, "entity_id", "left_semi")
                          .join(mention_e, "entity_id", "left_anti"))
        extra_rows = (extras_present
                      .join(lk._hint(auth, bc), "entity_id", "inner")
                      .select(
                          "entity_id",
                          F.concat(F.lit("e:"), F.col("entity_id"))
                          .alias("canonical_id"),
                          F.col("label"), F.col("aliases"),
                          F.lit(0).cast("long").alias("n_mentions"),
                          F.lit(0).cast("long").alias("n_surfaces"),
                          F.col("entity_type")))
        node_cols = [c for c in self._node_columns() if c != "bucket"]
        for c in node_cols:
            if c not in extra_rows.columns:
                t = dict((f.name, f.dataType) for f in
                         self.store.read(spark, "nodes").schema.fields)
                extra_rows = extra_rows.withColumn(
                    c, F.lit(None).cast(t[c]))
            if c not in nodes_slice.columns:
                t = dict((f.name, f.dataType) for f in
                         self.store.read(spark, "nodes").schema.fields)
                nodes_slice = nodes_slice.withColumn(
                    c, F.lit(None).cast(t[c]))
        nodes_in = nodes_slice.select(*node_cols).unionByName(
            extra_rows.select(*node_cols))
        e_aff_canon = e_aff.select(
            F.concat(F.lit("e:"), F.col("entity_id"))
            .alias("canonical_id"))

        # ---- the three disjoint output commits, overlapped ----
        # statements / edges / (auth_refs + nodes) touch different tables
        # and read only pinned snapshots or materialized slice frames, so
        # their commit jobs overlap safely; auth_refs precedes nodes in
        # its thread only because both are consumers of refs_new (a lazy
        # checkpoint the block manager computes once)
        def _commit_statements():
            self.store.merge(
                self._with_sbucket(stmts, col="canonical_id"),
                "statements", key_cols=["bucket", "canonical_id"],
                delete_keys=k_del)

        def _commit_edges():
            self.store.merge(
                self._with_sbucket(edges_slice, col="src_id"),
                "edges", key_cols=["bucket", "src_id"],
                delete_keys=self._with_sbucket(
                    K_all.withColumnRenamed("canonical_id", "src_id"),
                    col="src_id", shuffle=False))

        def _commit_refs_nodes():
            self.store.write(refs_new, "auth_refs")
            self.store.merge(
                self._with_sbucket(nodes_in, col="canonical_id"), "nodes",
                key_cols=["bucket", "canonical_id"],
                delete_keys=self._with_sbucket(
                    K_all.unionByName(e_aff_canon).distinct(),
                    col="canonical_id", shuffle=False))

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(_commit_statements),
                    pool.submit(_commit_edges),
                    pool.submit(_commit_refs_nodes)]
            for f in futs:
                f.result()
        # join the floating surface_canon / canonical_map commits before
        # the WAL entry clears (every commit must be durable first)
        sc_future.result()
        cm_future.result()
        bg_pool.shutdown()
        self._bg_futures = []

        # ---- manifest ----
        m = self._load_manifest()
        m["_ingest23"].update({
            "last_increment_at": time.time(),
            "seconds": round(time.time() - t0, 3),
            "read_buckets": {k: v for k, v in
                             self.last_read_buckets.items()},
        })
        self._save_manifest(m)
        return {"extract": "skipped", "link": "incremental",
                "canonicalize": "incremental"}

    # -- small helpers ----------------------------------------------------
    @staticmethod
    def _norm_pairs(df: DataFrame) -> DataFrame:
        return df.distinct()

    @staticmethod
    def _changed_keys(old: DataFrame, new: DataFrame) -> DataFrame:
        """Surfaces whose row CHANGED between two keyed frames: the true
        symmetric difference (exceptAll both ways, then project the
        key). NOT ``union.exceptAll(intersect)`` — under bag semantics
        a row present on both sides appears twice in the union and is
        subtracted only once by the intersect, so every UNCHANGED row
        would leak into the diff and inflate the affected slice to the
        corpus (caught by the round-5 review pass; the strengthened
        pruning test now pins it)."""
        return (old.exceptAll(new).select("norm_surface")
                .unionByName(new.exceptAll(old).select("norm_surface"))
                .distinct())

    def _merge_surface_projection(self, table: str, incoming: DataFrame,
                                  old_keys: DataFrame,
                                  key_col: str) -> None:
        """Group-replacement merge of a surface-layout projection keyed
        (bucket, surface, conv): incoming rows replace the touched
        (surface, conv) groups; ``old_keys`` evicts groups that
        vanished from the re-imported conversations."""
        kc = incoming.columns
        key = key_col if key_col in kc else "norm_surface"
        dk = self._with_sbucket(
            old_keys.withColumnRenamed("norm_surface", key)
            if key != "norm_surface" else old_keys, col=key,
            shuffle=False)
        self.store.merge(incoming, table,
                         key_cols=["bucket", key, "conv_id"],
                         delete_keys=dk)

"""The three benchmark workloads, all closed loops (the next operation
starts when the previous one returns).

Each workload has a set-up, one operation the timed loop repeats, a
verification pass (the correctness gates, untimed) and, for the traced
run, the per-layer numbers. The system is driven only through its public
entry points: ``KGPipeline``, ``IncrementalKGPipeline``, ``TableStore``,
``operators.*``, ``queries.api_queries`` and ``kb.indexing``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gates, inputs
from perfbench.tracing import Tracer, duration
from softcite_kb_spark import datagen
from softcite_kb_spark.kb import indexing as ix
from softcite_kb_spark.materialize import local_checkpoint_materializer
from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import extraction as ex
from softcite_kb_spark.operators import linking as lk
from softcite_kb_spark.plans.incremental import IncrementalKGPipeline
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.queries import api_queries as aq
from softcite_kb_spark.storage import TableStore

#: input sizes per scale; "full" is the benchmark size, "tiny" is the
#: smoke-test size
SCALES = {
    "full": {
        "build_convs": 2000,
        "query_convs": 2000,
        "builds": 2,
        "request_rounds": 30,
        "warmup_requests": 14,
        "trace_requests": 42,
        "incremental": inputs.IncrementalSpec(
            n_base=1500, n_new=40, n_tail=40, tail_turns=2,
            batch_new=5, batch_tail=5),
    },
    "tiny": {
        "build_convs": 40,
        "query_convs": 40,
        "builds": 1,
        "request_rounds": 2,
        "warmup_requests": 7,
        "trace_requests": 7,
        "incremental": inputs.IncrementalSpec(
            n_base=40, n_new=4, n_tail=4, tail_turns=2,
            batch_new=2, batch_tail=2),
    },
}

PARTITION_BUCKETS = 8
SURFACE_BUCKETS = 16
SOURCE_PRIORITY = ["transcripts"]
TRIPLE_PREDS_SRC = "transcripts"


def build_config(partition_buckets: int = 0) -> PipelineConfig:
    return PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                          min_vote_total=1,
                          partition_buckets=partition_buckets)


@dataclass
class Context:
    spark: object
    work: str           # root directory for the stores a run writes
    seed: int
    scale: dict
    cache_dir: str = inputs.CACHE_DIR
    out: str = ""       # where traces go


@dataclass
class Op:
    seconds: float
    items: int                      # work units (triples, turns, requests)
    ok: bool = True
    cpu_s: float = 0.0              # CPU time of the process tree
    info: dict = field(default_factory=dict)


# -- shared helpers --------------------------------------------------------
def fresh_store(root: str) -> TableStore:
    shutil.rmtree(root, ignore_errors=True)
    return TableStore(root)


def noop(df) -> None:
    """Force a frame's full computation without materializing it."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and its live descendants: the driver JVM and the Python
    workers it forks."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # fields after the command name: state, ppid, ...,
                    # utime, stime, cutime, cstime at 11..14
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited meanwhile
                continue
            procs[int(d)] = (int(fields[1]),
                             sum(int(x) for x in fields[11:15]))
    children = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / _CLK_TCK


def _measured(fn) -> tuple[float, float]:
    """(wall seconds, CPU seconds of the process tree) of ``fn()``."""
    c = tree_cpu_s()
    s = _timed(fn)
    return s, tree_cpu_s() - c


def _store_tables(store: TableStore) -> list[str]:
    return [t for t in os.listdir(store.root)
            if os.path.exists(os.path.join(store.root, t, "_meta.json"))]


def _snapshot_ids(store: TableStore) -> dict[str, int]:
    return {t: store.current_snapshot(t).snapshot_id
            for t in _store_tables(store)
            if store.current_snapshot(t) is not None}


def _inodes(root: str) -> dict[int, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


class StorageProbe:
    """Storage-side counters of one traced operation: snapshots committed
    and bytes of newly written files (hardlinked carry-over excluded)."""

    def __init__(self, store: TableStore) -> None:
        self.store = store
        self.snaps0 = _snapshot_ids(store)
        self.inodes0 = _inodes(store.root)

    def finish(self) -> dict:
        snaps = _snapshot_ids(self.store)
        inodes = _inodes(self.store.root)
        return {
            "snapshots": sum(s - self.snaps0.get(t, 0)
                             for t, s in snaps.items()),
            "bytes_written": sum(sz for ino, sz in inodes.items()
                                 if ino not in self.inodes0),
        }


def trace_store(tracer: Tracer, store: TableStore) -> None:
    def merge_mode(rec, args, kwargs, snap):
        rec["merge_mode"] = (snap.properties or {}).get("merge_mode")
        rec["fallback"] = (snap.properties or {}).get(
            "merge_fallback_reason")

    for m in ("write", "append", "read"):
        tracer.wrap(store, m, "storage")
    tracer.wrap(store, "merge", "storage", on_return=merge_mode)


def trace_pipeline(tracer: Tracer, pipe: KGPipeline) -> None:
    for m in ("stage_extract", "stage_link", "stage_canonicalize"):
        tracer.wrap(pipe, m, "plans.pipeline")
    if isinstance(pipe, IncrementalKGPipeline):
        for m in ("ingest_increment", "ingest_stage1"):
            tracer.wrap(pipe, m, "plans.incremental")


class CountingMaterializer:
    """``local_checkpoint_materializer`` plus a call counter."""

    def __init__(self) -> None:
        self.calls = 0

    def __call__(self, df):
        self.calls += 1
        return local_checkpoint_materializer(df)


def storage_layer(tracer: Tracer, probe: dict, input_bytes: int) -> dict:
    commits = tracer.outermost("storage", {"write", "append", "merge"})
    merges = tracer.of("storage", "merge")
    pruned = sum(1 for r in merges if r.get("merge_mode") == "pruned")
    return {
        "write_calls": len(tracer.of("storage", "write")),
        "append_calls": len(tracer.of("storage", "append")),
        "merge_calls": len(merges),
        "read_calls": len(tracer.of("storage", "read")),
        "commit_s": sum(duration(r) for r in commits),
        "snapshots": probe["snapshots"],
        "bytes_written": probe["bytes_written"],
        "write_amp": probe["bytes_written"] / max(input_bytes, 1),
        "merge_pruned_frac": pruned / len(merges) if merges else 0.0,
    }


def quality(store: TableStore, spark, expected_triples: pd.DataFrame,
            expected_mentions: pd.DataFrame, linked_table: str) -> dict:
    triples = store.read(spark, "triples").select(*gates.TRIPLE_COLS) \
        .toPandas()
    linked = store.read(spark, linked_table).select(
        "conv_id", "norm_surface", "entity_id").toPandas()
    p, r = gates.triple_pr(triples, expected_triples)
    acc = gates.link_accuracy(linked, expected_mentions)
    return {"triple_precision": p, "triple_recall": r, "link_accuracy": acc}


def quality_ok(q: dict) -> bool:
    return all(q[k] >= gates.MIN_QUALITY for k in
               ("triple_precision", "triple_recall", "link_accuracy"))


# -- operator drill (traced run only) -------------------------------------
def drill_extraction(tracer: Tracer, spark, transcripts) -> dict:
    """Re-run stage-1 operators over ``transcripts`` into noop sinks."""
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    par = spark.sparkContext.defaultParallelism
    with tracer.span("extract_triples", "operators.extraction"):
        t = transcripts.repartition(par, "conv_id")
        triples = ex.extract_triples(t, bl).localCheckpoint(eager=False)
        mentions = ex.mentions_from_triples(triples)
        folded = ex.fold_mentions(mentions)
        s = _timed(lambda: noop(triples)) + _timed(lambda: noop(mentions)) \
            + _timed(lambda: noop(folded))
        out = {"exec_s": s, "turns_in": transcripts.count(),
               "triples_out": triples.count(),
               "mentions_out": mentions.count(),
               "folded_out": folded.count()}
    return out


def drill_linking(tracer: Tracer, spark, store: TableStore) -> dict:
    folded = store.read(spark, "folded_mentions").drop("bucket")
    auth = store.read(spark, "authority_entities")
    ids = store.read(spark, "authority_ids")
    triples = store.read(spark, "triples").drop("bucket")
    with tracer.span("link_mentions", "operators.linking"):
        bc = lk.authority_fits_broadcast(auth, ids)
        s = _timed(lambda: noop(lk.link_mentions(
            folded, auth, ids, triples, min_total=1, broadcast=bc)))
        stats = lk.surface_stats(folded).localCheckpoint(eager=True)
        cands = lk.generate_surface_candidates(
            stats, auth, ids, triples, broadcast=bc
        ).localCheckpoint(eager=True)
        n_c = cands.count()
        n_a = lk.vote_links_surface(cands, min_total=1).count()
        out = {"exec_s": s, "surfaces": stats.count(), "candidates": n_c,
               "accepted": n_a, "link_yield": n_a / n_c if n_c else 0.0,
               "broadcast": int(bc)}
    return out


def manifest(store: TableStore) -> dict:
    """The pipeline's stage manifest (``_manifest.json`` in the store)."""
    with open(os.path.join(store.root, "_manifest.json")) as f:
        return json.load(f)


def committed_counts(store: TableStore) -> dict:
    return {t: (store.current_snapshot(t).row_count
                if store.exists(t) else 0)
            for t in ("nodes", "edges", "statements")}


def drill_canonicalize(tracer: Tracer, spark, store: TableStore) -> dict:
    """CC + folds over the committed stage-2 output. ``cc_s`` times the
    default barrier (what the pipeline runs); ``cc_rounds`` counts the
    barrier calls of a second pass with a counting materializer — an
    explicit materializer makes ``connected_components`` run its
    distributed rounds even where the default would take the
    single-partition fast path, so it reports the rounds the graph
    needs."""
    linked = store.read(spark, "linked_mentions")
    triples = store.read(spark, "triples").drop("bucket")
    auth = store.read(spark, "authority_entities")
    with tracer.span("canonical_map", "operators.canonicalize"):
        bc = lk.authority_fits_broadcast(auth)
        canon = cz.canonical_map(linked).localCheckpoint(eager=False)
        cc_s = _timed(lambda: noop(canon))
        counter = CountingMaterializer()
        noop(cz.canonical_map(linked, materializer=counter))
        fold_s = _timed(lambda: (
            noop(cz.fold_statements(triples, canon,
                                    source=TRIPLE_PREDS_SRC)),
            noop(cz.build_edges(triples, canon,
                                authority_keys=lk.authority_block_keys(auth),
                                broadcast=bc)),
            noop(cz.build_nodes(canon, authority_entities=auth,
                                broadcast=bc))))
        out = {"cc_s": cc_s, "cc_rounds": counter.calls, "fold_s": fold_s,
               "components": canon.select("canonical_id").distinct()
               .count(), **committed_counts(store)}
    return out


def drill_surface_cc(tracer: Tracer, spark, store: TableStore) -> dict:
    """The canonicalisation an increment runs: CC over the accepted
    surface-entity edges (global, O(distinct surfaces))."""
    acc = store.read(spark, "accepted_links")
    sedges = acc.select(
        F.concat(F.lit("s:"), F.col("norm_surface")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"))
    with tracer.span("connected_components", "operators.canonicalize"):
        cc = cz.connected_components(sedges).localCheckpoint(eager=False)
        cc_s = _timed(lambda: noop(cc))
        counter = CountingMaterializer()
        noop(cz.connected_components(sedges, materializer=counter))
        out = {"cc_s": cc_s, "cc_rounds": counter.calls, "fold_s": 0.0,
               "components": cc.select("component_id").distinct().count(),
               **committed_counts(store)}
    return out


# -- workloads -------------------------------------------------------------
class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self) -> None:
        """Fill the input caches (untimed; a no-op once they are warm)."""

    def setup(self) -> None:
        """Per-run set-up (timed, repeatable)."""

    def warm(self) -> None:
        """Untimed warm-up once the set-up is done, so the timed operations
        run on a warm JVM (JIT, codegen, Python workers)."""

    def op(self, i: int, tracer: Tracer | None) -> Op: ...

    def pass_ops(self) -> int:
        """The timed loop runs whole passes of this many operations."""
        return 1

    def max_ops(self) -> float:
        return math.inf

    def trace_ops(self) -> int:
        """Operations in each pass of the traced run."""
        return self.pass_ops()

    def verify(self, ops: list[Op]) -> dict:
        """Run the gates; mark failing ops; return quality metrics."""
        return {}

    def layers(self, tracer: Tracer, ops: list[Op]) -> dict:
        return {}

    def named_metrics(self, ops: list[Op]) -> dict:
        return {}

    def close(self) -> None:
        shutil.rmtree(os.path.join(self.ctx.work, self.name),
                      ignore_errors=True)


class FullBuild(Workload):
    """A fresh store gets the input tables, then
    ``KGPipeline(...).run(resume=False)``."""

    name = "full_build"

    def prepare(self) -> None:
        self.paths = inputs.corpus(self.ctx.scale["build_convs"],
                                   self.ctx.seed, self.ctx.cache_dir)
        self.root = os.path.join(self.ctx.work, self.name)
        self.builds = 0
        self.expected_triples = pd.read_parquet(
            self.paths["expected_triples"])
        self.expected_mentions = pd.read_parquet(
            self.paths["expected_mentions"])
        self.text_bytes = inputs.text_bytes(pd.read_parquet(
            self.paths["transcripts"], columns=["text"]))

    def setup(self) -> None:
        """Read the input tables and load them into a fresh store."""
        spark = self.spark
        auth_pd, ids_pd = inputs.authority(self.ctx.seed)
        self.auth = spark.createDataFrame(auth_pd).localCheckpoint()
        self.ids = spark.createDataFrame(ids_pd).localCheckpoint()
        self.transcripts = spark.read.parquet(self.paths["transcripts"])
        self._load(os.path.join(self.root, "setup"), self.transcripts)

    def warm(self) -> None:
        """One discarded build of the same input."""
        self._build(os.path.join(self.root, "warmup"), self.transcripts)

    def _load(self, root: str, transcripts) -> TableStore:
        store = fresh_store(root)
        store.write(transcripts, "transcripts")
        store.write(self.auth, "authority_entities")
        store.write(self.ids, "authority_ids")
        return store

    def _build(self, root: str, transcripts) -> None:
        store = self._load(root, transcripts)
        KGPipeline(self.spark, store, build_config()).run(resume=False)

    def op(self, i: int, tracer: Tracer | None) -> Op:
        # a store per build: the traced run repeats the indices
        self.builds += 1
        store = self._load(os.path.join(self.root, f"build-{self.builds}"),
                           self.transcripts)
        pipe = KGPipeline(self.spark, store, build_config())
        probe = None
        if tracer is not None:
            trace_store(tracer, store)
            trace_pipeline(tracer, pipe)
            probe = StorageProbe(store)
        with (tracer.span("run", "plans.pipeline") if tracer
              else nullcontext()):
            s, cpu = _measured(lambda: pipe.run(resume=False))
        info = {"store": store,
                "manifest": manifest(store),
                "probe": probe.finish() if probe else None}
        return Op(s, store.current_snapshot("triples").row_count,
                  cpu_s=cpu, info=info)

    def pass_ops(self) -> int:
        # a fixed count keeps the run's median and p95 comparable across
        # runs and program versions
        return self.ctx.scale["builds"]

    def max_ops(self) -> int:
        return self.pass_ops()

    def trace_ops(self) -> int:
        return 1

    def verify(self, ops: list[Op]) -> dict:
        qs = []
        for op in ops:
            q = quality(op.info["store"], self.spark, self.expected_triples,
                        self.expected_mentions, "linked_mentions")
            op.info["quality"] = q
            op.ok = op.ok and quality_ok(q)
            qs.append(q)
        # every build of the same input commits the same KB
        counts = [committed_counts(op.info["store"]) for op in ops]
        for op, c in zip(ops, counts):
            op.ok = op.ok and c == counts[0]
        return {k: statistics.median(q[k] for q in qs) for k in qs[0]}

    def layers(self, tracer: Tracer, ops: list[Op]) -> dict:
        op = ops[-1]
        store = op.info["store"]
        man = op.info["manifest"]
        out = {}
        out["operators.extraction"] = drill_extraction(
            tracer, self.spark, store.read(self.spark, "transcripts"))
        out["operators.extraction"].update(
            {"triples_out": store.current_snapshot("triples").row_count,
             "mentions_out": store.current_snapshot("mentions").row_count,
             "folded_out": store.current_snapshot(
                 "folded_mentions").row_count})
        out["operators.linking"] = drill_linking(tracer, self.spark, store)
        out["operators.canonicalize"] = drill_canonicalize(
            tracer, self.spark, store)
        out["plans.pipeline"] = {
            "extract_s": man["extract"]["seconds"],
            "link_s": man["link"]["seconds"],
            "canonicalize_s": man["canonicalize"]["seconds"]}
        out["storage"] = storage_layer(tracer, op.info["probe"],
                                       self.text_bytes)
        out["plans.incremental"], ok = self.increment_drill()
        for o in ops:
            o.ok = o.ok and ok
        return out

    def increment_drill(self) -> tuple[dict, bool]:
        """One traced ``ingest_increment`` batch of the incremental_ingest
        workload (restored pristine store, gated against its batch
        rebuild), on its own tracer so the build's storage numbers stay
        the build's: the ``plans.incremental`` layer of this workload."""
        inc = IncrementalIngest(self.ctx)
        tracer = Tracer(self.spark.sparkContext)
        try:
            inc.prepare()
            inc.setup()
            op = inc.op(0, tracer)
            tracer.unwrap_all()
            inc.verify([op])
            layer = inc.incremental_layer(tracer, op)
        finally:
            inc.close()
        tracer.resolve_jobs()
        recs = tracer.of("plans.incremental")
        layer.update(jobs=sum(r["jobs"] for r in recs),
                     tasks=sum(r["tasks"] for r in recs))
        tracer.dump(os.path.join(self.ctx.out, f"trace-{self.name}-"
                                 f"s{self.ctx.seed}-increment.json"))
        return layer, op.ok

    def named_metrics(self, ops: list[Op]) -> dict:
        s = [op.seconds for op in ops]
        return {"build_s": (statistics.median(s), "s"),
                "build_triples_per_s": (sum(op.items for op in ops)
                                        / sum(s), "1/s")}


class IncrementalIngest(Workload):
    """Restore the pristine bootstrapped store, then feed batches back to
    back through ``IncrementalKGPipeline.ingest_increment``."""

    name = "incremental_ingest"

    def prepare(self) -> None:
        self.spec = self.ctx.scale["incremental"]
        self.split = inputs.incremental_split(self.spec, self.ctx.cache_dir)
        self.batches = inputs.incremental_batches(
            self.spec, self.split["pool_index"], self.ctx.seed)
        self.start = self.ctx.seed % self.spec.max_batches
        self.root = os.path.join(self.ctx.work, self.name)
        self.store_root = os.path.join(self.root, "store")
        self.key = (f"{inputs.source_key()}-{self.spec.key()}-"
                    f"p{PARTITION_BUCKETS}-s{SURFACE_BUCKETS}")
        # the bootstrapped store records its own (absolute) location, so
        # it is built at store_root and copied aside
        self.pristine = os.path.join(self.ctx.cache_dir,
                                     f"pristine-{self.key}")
        if not os.path.isdir(self.pristine):
            self.setup()
            self._bootstrap()
            tmp = f"{self.pristine}.tmp-{os.getpid()}"
            shutil.copytree(self.store_root, tmp)
            os.replace(tmp, self.pristine)

    def setup(self) -> None:
        spark = self.spark
        auth_pd, ids_pd = inputs.authority(inputs.INCREMENTAL_CORPUS_SEED)
        self.auth = spark.createDataFrame(auth_pd).localCheckpoint()
        self.ids = spark.createDataFrame(ids_pd).localCheckpoint()
        self.base = spark.read.parquet(self.split["base"])
        self.pool = spark.read.parquet(self.split["pool"])
        self.pool_pd = pd.read_parquet(self.split["pool"])

    def _pipeline(self, store: TableStore) -> IncrementalKGPipeline:
        return IncrementalKGPipeline(
            self.spark, store, build_config(PARTITION_BUCKETS),
            surface_buckets=SURFACE_BUCKETS)

    def _bootstrap(self) -> None:
        store = fresh_store(self.store_root)
        pipe = self._pipeline(store)
        pipe.write_transcripts(self.base)
        store.write(self.auth, "authority_entities")
        store.write(self.ids, "authority_ids")
        pipe.bootstrap(resume=False)

    def _restore(self) -> TableStore:
        shutil.rmtree(self.store_root, ignore_errors=True)
        shutil.copytree(self.pristine, self.store_root)
        return TableStore(self.store_root)

    def _final_turns(self, n_batches: int):
        convs = [c for k in range(n_batches) for c in self.batches[k]]
        return self.base.unionByName(
            self.pool.filter(F.col("conv_id").isin(convs)))

    def _reference(self, n_batches: int) -> TableStore:
        """Batch ``run`` over the base plus the first ``n_batches``
        batches, built once per program version and batch sequence (after
        the timed loop, so the timed batches always start from the same
        JVM state)."""
        def build(root: str) -> None:
            store = TableStore(root)
            store.write(self._final_turns(n_batches), "transcripts")
            store.write(self.auth, "authority_entities")
            store.write(self.ids, "authority_ids")
            KGPipeline(self.spark, store, build_config()).run(resume=False)

        return TableStore(inputs.built_store(os.path.join(
            self.ctx.cache_dir,
            f"ref-{self.key}-b{self.start}-n{n_batches}"), build))

    def max_ops(self) -> int:
        return self.spec.max_batches

    def op(self, i: int, tracer: Tracer | None) -> Op:
        if i == 0:  # every pass starts from a copy of the pristine store
            self.store = self._restore()
            self.pipe = self._pipeline(self.store)
            if tracer is not None:
                trace_store(tracer, self.store)
                trace_pipeline(tracer, self.pipe)
        convs = self.batches[i]
        batch = self.pool.filter(F.col("conv_id").isin(convs))
        b_pd = self.pool_pd[self.pool_pd.conv_id.isin(convs)]
        probe = StorageProbe(self.store) if tracer is not None else None
        s, cpu = _measured(lambda: self.pipe.ingest_increment(batch))
        return Op(s, len(b_pd), cpu_s=cpu, info={
            "batch": i, "text_bytes": inputs.text_bytes(b_pd),
            "read_buckets": dict(self.pipe.last_read_buckets),
            "probe": probe.finish() if probe else None})

    def verify(self, ops: list[Op]) -> dict:
        n = len(ops)
        ref = self._reference(n)
        mism = gates.kb_mismatch_rows(self.spark, self.store, ref)
        self.mismatch = sum(mism.values())
        self.mismatch_by_table = mism
        convs = [c for k in range(n) for c in self.batches[k]]
        final = pd.concat([
            pd.read_parquet(self.split["base"],
                            columns=["conv_id", "turn_idx"]),
            self.pool_pd[self.pool_pd.conv_id.isin(convs)][
                ["conv_id", "turn_idx"]]])
        exp_t = gates.restrict_to_turns(
            pd.read_parquet(self.split["expected_triples"]), final)
        exp_m = gates.restrict_to_turns(
            pd.read_parquet(self.split["expected_mentions"]), final)
        q = quality(self.store, self.spark, exp_t, exp_m, "canonical_map")
        ok = self.mismatch == 0 and quality_ok(q)
        for op in ops:
            op.ok = op.ok and ok
        return q

    def layers(self, tracer: Tracer, ops: list[Op]) -> dict:
        op = ops[-1]
        out = {}
        convs = self.batches[op.info["batch"]]
        out["operators.extraction"] = drill_extraction(
            tracer, self.spark,
            self.pool.filter(F.col("conv_id").isin(convs)))
        out["operators.canonicalize"] = drill_surface_cc(
            tracer, self.spark, self.store)
        out["plans.incremental"] = self.incremental_layer(tracer, op)
        out["storage"] = storage_layer(tracer, op.info["probe"],
                                       op.info["text_bytes"])
        return out

    def incremental_layer(self, tracer: Tracer, op: Op) -> dict:
        """``plans.incremental`` numbers of the traced batch ``op``."""
        inc = tracer.of("plans.incremental", "ingest_increment")[-1]
        st1 = sum(duration(r) for r in
                  tracer.of("plans.incremental", "ingest_stage1"))
        rb = op.info["read_buckets"]
        commits = tracer.outermost("storage", {"write", "append", "merge"})
        storage = storage_layer(tracer, op.info["probe"],
                                op.info["text_bytes"])
        return {
            "stage1_s": st1,
            "stage23_s": duration(inc) - st1,
            "read_bucket_frac": (float(np.mean(
                [len(v) / SURFACE_BUCKETS for v in rb.values()]))
                if rb else 0.0),
            "commits_per_batch": len(commits),
            "kb_mismatch_rows": self.mismatch,
            # the batch's storage numbers, also reported where the
            # incremental_ingest workload itself is not run
            **{k: storage[k] for k in ("merge_calls", "merge_pruned_frac",
                                       "write_amp")}}

    def named_metrics(self, ops: list[Op]) -> dict:
        s = [op.seconds for op in ops]
        return {"increment_s": (statistics.median(s), "s"),
                "ingest_turns_per_s": (sum(op.items for op in ops) / sum(s),
                                       "1/s"),
                "kb_mismatch_rows": (self.mismatch, "rows")}


class KBQueries(Workload):
    """Single-client read requests against a built KB."""

    name = "kb_queries"
    oracle: gates.QueryOracle | None = None

    def prepare(self) -> None:
        spark = self.spark
        n = self.ctx.scale["query_convs"]
        self.paths = inputs.corpus(n, inputs.KB_CORPUS_SEED,
                                   self.ctx.cache_dir)

        def build(root: str) -> None:
            auth_pd, ids_pd = inputs.authority(inputs.KB_CORPUS_SEED)
            store = TableStore(root)
            store.write(spark.read.parquet(self.paths["transcripts"]),
                        "transcripts")
            store.write(spark.createDataFrame(auth_pd), "authority_entities")
            store.write(spark.createDataFrame(ids_pd), "authority_ids")
            KGPipeline(spark, store, build_config()).run(resume=False)

        # the KB depends only on the program: built once per version
        self.store = TableStore(inputs.built_store(os.path.join(
            self.ctx.cache_dir, f"kb-{inputs.source_key()}-n{n}"), build))
        nodes = self.store.read(spark, "nodes").select(
            "canonical_id", "label", "n_mentions").toPandas()
        nodes = nodes.sort_values(["n_mentions", "canonical_id"],
                                  ascending=[False, True])
        self.node_ids = nodes["canonical_id"].tolist()
        self.labels = nodes["label"].fillna("").tolist()
        self.requests = [self._resolve(r) for r in inputs.request_sequence(
            self.ctx.seed, self.ctx.scale["request_rounds"],
            cache_dir=self.ctx.cache_dir)]
        self.feed_root = os.path.join(self.ctx.work, self.name, "feed")

    def setup(self) -> None:
        """Open the KB and build its search feed into a fresh store."""
        spark, store = self.spark, self.store
        self.edges = store.read(spark, "edges")
        self.statements = store.read(spark, "statements")
        feed_store = fresh_store(self.feed_root)
        feed_store.write(ix.flatten_for_search(
            store.read(spark, "nodes"), self.edges, self.statements),
            "search_feed")
        self.feed = feed_store.read(spark, "search_feed")

    def warm(self) -> None:
        """The first requests of the sequence, untimed."""
        for req in self.requests[:self.ctx.scale["warmup_requests"]]:
            self._execute(req, None)

    def _resolve(self, r: dict) -> tuple[str, str | None]:
        kind = r["kind"]
        i = r["rank"] % len(self.node_ids)
        if kind in ("neighbors", "two_hop", "best_value_per_property"):
            return kind, self.node_ids[i]
        if kind == "rank_bm25":
            toks = [t for t in gates._TOKEN.split(self.labels[i].lower())
                    if t]
            return kind, toks[0] if toks else "data"
        return kind, None

    def _execute(self, req, tracer: Tracer | None):
        kind, arg = req
        e, s, feed = self.edges, self.statements, self.feed
        layer = ("kb.indexing" if kind in ("rank_bm25", "facets")
                 else "queries.api_queries")
        if kind == "top_entities_by_count":
            df = aq.top_entities_by_count(e, n=10)
        elif kind == "group_into_lists":
            df = aq.group_into_lists(e, "src_id", "dst_id", n=10)
        elif kind == "neighbors":
            df = aq.neighbors(e, arg, "out")
        elif kind == "two_hop":
            df = aq.two_hop(aq.neighbors(e, arg, "out"), e)
        elif kind == "best_value_per_property":
            df = aq.best_value_per_property(
                s.filter(F.col("canonical_id") == arg), SOURCE_PRIORITY)
        elif kind == "rank_bm25":
            df = ix.rank_bm25(feed, arg, k=10)
        else:
            df = ix.facets(feed, ["entity_type", "langs"], k=20)
        if tracer is None:
            return df.columns, df.collect()
        with tracer.span(kind, layer):
            return df.columns, df.collect()

    def pass_ops(self) -> int:
        # whole passes over the sequence: every run times the same requests
        return len(self.requests)

    def trace_ops(self) -> int:
        return self.ctx.scale["trace_requests"]

    def op(self, i: int, tracer: Tracer | None) -> Op:
        req = self.requests[i % len(self.requests)]
        c = tree_cpu_s()
        t = time.perf_counter()
        try:
            cols, rows = self._execute(req, tracer)
        except Exception as e:  # a failed request is a failed operation
            return Op(time.perf_counter() - t, 1, ok=False,
                      info={"req": req, "error": repr(e)})
        s = time.perf_counter() - t
        return Op(s, 1, cpu_s=tree_cpu_s() - c,
                  info={"req": req, "cols": cols, "rows": rows})

    def verify(self, ops: list[Op]) -> dict:
        # oracle copies of the same committed tables
        self.oracle = gates.QueryOracle(
            self.edges.toPandas(), self.statements.toPandas(),
            self.feed.select("canonical_id", "all", "entity_type", "langs")
            .toPandas())
        answers = {}  # requests repeat: each distinct one is evaluated once
        for op in ops:
            if not op.ok:
                continue
            kind, arg = op.info["req"]
            key = (kind, arg, tuple(op.info["cols"]))
            if key not in answers:
                answers[key] = self.oracle.answer(kind, arg, op.info["cols"])
            want, ordered = answers[key]
            op.ok = gates.answers_match(kind, op.info["rows"], want, ordered)
        q = quality(self.store, self.spark,
                    pd.read_parquet(self.paths["expected_triples"]),
                    pd.read_parquet(self.paths["expected_mentions"]),
                    "linked_mentions")
        if not quality_ok(q):  # every answer came from a faulty KB
            for op in ops:
                op.ok = False
        return q

    def layers(self, tracer: Tracer, ops: list[Op]) -> dict:
        out = {"operators.canonicalize": committed_counts(self.store)}
        for layer, kinds in (
                ("queries.api_queries", inputs.REQUEST_KINDS[:5]),
                ("kb.indexing", inputs.REQUEST_KINDS[5:])):
            d = {}
            for kind in kinds:
                ms = [duration(r) * 1000 for r in tracer.of(layer, kind)]
                d[f"{kind}_p50_ms"] = statistics.median(ms) if ms else 0.0
            out[layer] = d
        return out

    def named_metrics(self, ops: list[Op]) -> dict:
        ms = [op.seconds * 1000 for op in ops]
        return {"query_p50_ms": (float(np.percentile(ms, 50)), "ms"),
                "query_p95_ms": (float(np.percentile(ms, 95)), "ms"),
                "queries_per_s": (len(ops) / sum(op.seconds for op in ops),
                                  "1/s")}

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()
        super().close()


WORKLOADS = {w.name: w for w in (FullBuild, IncrementalIngest, KBQueries)}

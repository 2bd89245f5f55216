"""Incremental ingest: absorbing a new transcript batch via
per-conversation MERGE must produce the IDENTICAL knowledge base as a
from-scratch batch run over the union — and must not re-extract the
existing corpus."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from softcite_kb_spark import datagen
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.storage import TableStore


def _cfg():
    return PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                          min_vote_total=1, partition_buckets=8)


@pytest.fixture(scope="module")
def corpus_tables(spark):
    return datagen.build_corpus(n_conversations=60)


def _load(spark, tables):
    out = {}
    for name in ("transcripts", "authority_entities", "authority_ids"):
        out[name] = spark.createDataFrame(tables[name])
    return out


def _assert_tables_equal(spark, store_a, store_b, name):
    """EXACT multiset equality (exceptAll both ways + counts) — an
    order-insensitive hash sum could false-pass on offsetting row
    differences."""
    a = store_a.read(spark, name)
    b = store_b.read(spark, name)
    if "bucket" in a.columns:
        a = a.drop("bucket")
    if "bucket" in b.columns:
        b = b.drop("bucket")
    assert a.count() == b.count(), name
    assert a.exceptAll(b).isEmpty(), name
    assert b.exceptAll(a).isEmpty(), name


def test_incremental_equals_batch(spark, corpus_tables, tmp_path):
    dfs = _load(spark, corpus_tables)
    convs = [r.conv_id for r in
             dfs["transcripts"].select("conv_id").distinct().collect()]
    first = set(convs[: int(len(convs) * 0.8)])
    t_a = dfs["transcripts"].filter(F.col("conv_id").isin(first))
    t_b = dfs["transcripts"].filter(~F.col("conv_id").isin(first))
    assert t_b.count() > 0

    # batch reference: one run over the full corpus
    st_full = TableStore(str(tmp_path / "full"))
    pipe_full = KGPipeline(spark, st_full, _cfg())
    pipe_full.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st_full.write(dfs[n], n)
    pipe_full.run(resume=False)

    # incremental: run on A, then absorb B as an increment
    st_inc = TableStore(str(tmp_path / "inc"))
    pipe_inc = KGPipeline(spark, st_inc, _cfg())
    pipe_inc.write_transcripts(t_a)
    for n in ("authority_entities", "authority_ids"):
        st_inc.write(dfs[n], n)
    pipe_inc.run(resume=False)
    report = pipe_inc.ingest_increment(t_b)

    # the increment did NOT re-extract the corpus...
    assert report["extract"] == "skipped"
    assert report["link"] == "ran" and report["canonicalize"] == "ran"
    # ...and an all-new-conversations batch took the fast-APPEND path
    # (O(batch) I/O — prior files hardlinked, nothing rewritten)
    for t in ("transcripts", "triples", "mentions", "folded_mentions"):
        props = st_inc.current_snapshot(t).properties
        assert props["operation"] == "append", (t, props)
    # every stage record describes the committed snapshots; the extract
    # record shows the increment's append commits
    man = pipe_inc._load_manifest()
    for stage in KGPipeline.STAGES:
        for t, entry in man[stage]["tables"].items():
            snap = st_inc.current_snapshot(t)
            assert man[stage]["outputs"][t] == snap.snapshot_id, (stage, t)
            assert entry == KGPipeline._table_record(snap), (stage, t)
    assert {e["commit_mode"] for e in man["extract"]["tables"].values()} \
        == {"append"}

    # identical KB, table by table (exact multiset equality)
    for t in ("triples", "mentions", "folded_mentions",
              "statements", "nodes", "edges"):
        _assert_tables_equal(spark, st_full, st_inc, t)


def test_increment_replaces_conversations(spark, corpus_tables, tmp_path):
    """A batch containing EXISTING conv_ids takes the merge path: those
    conversations' rows are replaced wholesale, and the resulting KB
    equals a from-scratch batch run over the modified corpus."""
    dfs = _load(spark, corpus_tables)
    some = [r.conv_id for r in dfs["transcripts"].select("conv_id")
            .distinct().orderBy("conv_id").limit(5).collect()]
    modified = dfs["transcripts"].withColumn(
        "text",
        F.when(F.col("conv_id").isin(some),
               F.lit("We ran Statlib v9.9 on the cluster."))
        .otherwise(F.col("text")))

    st_ref = TableStore(str(tmp_path / "ref"))
    pipe_ref = KGPipeline(spark, st_ref, _cfg())
    pipe_ref.write_transcripts(modified)
    for n in ("authority_entities", "authority_ids"):
        st_ref.write(dfs[n], n)
    pipe_ref.run(resume=False)

    st = TableStore(str(tmp_path / "inc"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    rep = pipe.ingest_increment(modified.filter(F.col("conv_id").isin(some)))
    assert rep["extract"] == "skipped"
    for t in ("transcripts", "triples", "mentions", "folded_mentions"):
        props = st.current_snapshot(t).properties
        assert props["operation"] == "merge", (t, props)
    for t in ("triples", "mentions", "folded_mentions",
              "statements", "nodes", "edges"):
        _assert_tables_equal(spark, st_ref, st, t)


def test_increment_idempotent(spark, corpus_tables, tmp_path):
    """Re-ingesting the same batch is a fixpoint: per-conversation
    replacement merges rewrite identical rows, the KB is unchanged."""
    dfs = _load(spark, corpus_tables)
    st = TableStore(str(tmp_path / "kb"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    some = dfs["transcripts"].filter(
        F.col("conv_id").isin([r.conv_id for r in dfs["transcripts"]
                               .select("conv_id").distinct().limit(5)
                               .collect()]))
    import shutil as _sh
    ref_root = str(tmp_path / "kb_before")
    _sh.copytree(str(tmp_path / "kb"), ref_root)
    st_before = TableStore(ref_root)
    pipe.ingest_increment(some)
    for t in ("triples", "nodes", "edges", "statements"):
        _assert_tables_equal(spark, st_before, st, t)


def test_replacement_with_zero_yield_evicts_derived_rows(
        spark, corpus_tables, tmp_path):
    """A re-imported conversation whose NEW text extracts nothing must
    evict its OLD derived rows (merge delete_keys) — otherwise phantom
    triples survive and the KB diverges from a batch run."""
    dfs = _load(spark, corpus_tables)
    some = [r.conv_id for r in dfs["transcripts"].select("conv_id")
            .distinct().orderBy("conv_id").limit(3).collect()]
    # new text matches NO trigger pattern -> zero triples for these convs
    modified = dfs["transcripts"].withColumn(
        "text",
        F.when(F.col("conv_id").isin(some), F.lit("hello plain world"))
        .otherwise(F.col("text")))

    st_ref = TableStore(str(tmp_path / "ref"))
    pipe_ref = KGPipeline(spark, st_ref, _cfg())
    pipe_ref.write_transcripts(modified)
    for n in ("authority_entities", "authority_ids"):
        st_ref.write(dfs[n], n)
    pipe_ref.run(resume=False)

    st = TableStore(str(tmp_path / "inc"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    pipe.ingest_increment(modified.filter(F.col("conv_id").isin(some)))

    # no phantom rows for the gutted conversations anywhere
    for t in ("triples", "mentions", "folded_mentions"):
        n = st.read(spark, t).filter(F.col("conv_id").isin(some)).count()
        assert n == 0, (t, n)
    for t in ("triples", "mentions", "folded_mentions",
              "statements", "nodes", "edges"):
        _assert_tables_equal(spark, st_ref, st, t)


def test_split_conversation_accumulates_across_increments(
        spark, corpus_tables, tmp_path):
    """A conversation whose turns arrive across TWO increments must
    accumulate (turn-level transcript upsert + derived recompute from
    the full post-merge conversation) — not lose its earlier turns."""
    dfs = _load(spark, corpus_tables)
    st = TableStore(str(tmp_path / "kb"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)

    import datetime as _dt
    rows = [("cx9", 0, "user", "Alpha depends on Beta.", None,
             _dt.datetime(2024, 1, 1, 0, 0, 0)),
            ("cx9", 1, "assistant", "Gamma depends on Delta.", None,
             _dt.datetime(2024, 1, 1, 0, 0, 10))]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    part1 = spark.createDataFrame([rows[0]], schema)
    part2 = spark.createDataFrame([rows[1]], schema)
    pipe.ingest_increment(part1)
    pipe.ingest_increment(part2)

    got_turns = st.read(spark, "transcripts").filter(
        F.col("conv_id") == "cx9")
    assert got_turns.count() == 2                 # both turns survive
    subj = {r.subj for r in st.read(spark, "triples")
            .filter(F.col("conv_id") == "cx9").collect()}
    assert subj == {"Alpha", "Gamma"}             # derived from BOTH turns


def test_increment_into_unextracted_store_refuses(
        spark, corpus_tables, tmp_path):
    """Ingesting into a store whose existing transcripts were never
    extracted must raise, not silently stamp the extract stage fresh
    and skip the whole pre-loaded corpus."""
    dfs = _load(spark, corpus_tables)
    st = TableStore(str(tmp_path / "kb"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(dfs["transcripts"])   # loaded, NOT extracted
    batch = dfs["transcripts"].limit(4)
    with pytest.raises(RuntimeError, match="never extracted"):
        pipe.ingest_increment(batch)


def test_bucket_guard_skips_when_layout_metadata_absent(
        spark, corpus_tables, tmp_path):
    """ADVICE r04 (medium): the bucket-layout guard reads
    ``partition_by`` from snapshot properties, but an Iceberg-backed
    store's snapshots carry only {operation, **summary} — the layout
    lives in the table's partition SPEC. A store whose metadata does
    not RECORD layout must not be spuriously rejected; the guard only
    fires when the key is present and wrong."""

    class _LayoutlessMetaStore:
        """Delegating store whose snapshot properties omit
        ``partition_by`` (the Iceberg metadata shape)."""

        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def current_snapshot(self, table):
            s = self._inner.current_snapshot(table)
            if s is not None:
                s.properties = {k: v for k, v in (s.properties or {}).items()
                                if k != "partition_by"}
            return s

    dfs = _load(spark, corpus_tables)
    convs = sorted(r.conv_id for r in
                   dfs["transcripts"].select("conv_id").distinct().collect())
    first = set(convs[:50])
    inner = TableStore(str(tmp_path / "kb"))
    pipe = KGPipeline(spark, _LayoutlessMetaStore(inner), _cfg())
    pipe.write_transcripts(
        dfs["transcripts"].filter(F.col("conv_id").isin(first)))
    for n in ("authority_entities", "authority_ids"):
        inner.write(dfs[n], n)
    pipe.run(resume=False)
    batch = dfs["transcripts"].filter(~F.col("conv_id").isin(first))
    # correctly bucket-partitioned table + metadata that simply doesn't
    # record it -> must NOT raise (before the fix: spurious RuntimeError)
    pipe.ingest_stage1(batch)
    assert (inner.read(spark, "transcripts").select("conv_id").distinct()
            .count() == len(convs))
    # the guard still fires when the table structurally LACKS the
    # layout (plain write: no partition_by property, no bucket column)
    bad = TableStore(str(tmp_path / "bad"))
    badpipe = KGPipeline(spark, bad, _cfg())
    bad.write(dfs["transcripts"].filter(F.col("conv_id").isin(first)),
              "transcripts")
    for n in ("authority_entities", "authority_ids"):
        bad.write(dfs[n], n)
    with pytest.raises(RuntimeError, match="not bucket-partitioned"):
        badpipe.ingest_stage1(batch)


def test_mixed_batch_splits_append_and_merge(spark, corpus_tables, tmp_path):
    """One replaced conversation must NOT drag a mostly-new batch through
    the merge path: the new slice appends, only the replaced slice
    merges (two commits per table), and the KB equals a batch run."""
    dfs = _load(spark, corpus_tables)
    convs = sorted(r.conv_id for r in
                   dfs["transcripts"].select("conv_id").distinct().collect())
    first = set(convs[:50])
    t_a = dfs["transcripts"].filter(F.col("conv_id").isin(first))
    replaced_id = convs[0]
    batch = dfs["transcripts"].filter(
        ~F.col("conv_id").isin(first)
        | (F.col("conv_id") == replaced_id))

    st_ref = TableStore(str(tmp_path / "ref"))
    pr = KGPipeline(spark, st_ref, _cfg())
    pr.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st_ref.write(dfs[n], n)
    pr.run(resume=False)

    st = TableStore(str(tmp_path / "inc"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(t_a)
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    pipe.ingest_increment(batch)

    # snapshot history: the increment committed an APPEND (new slice)
    # and then a MERGE (replaced slice) on each stage-1 table
    meta = st._load_meta("triples")
    ops = [s["properties"].get("operation", "write")
           for s in meta["snapshots"]]
    assert ops[-2:] == ["append", "merge"], ops
    for t in ("triples", "mentions", "folded_mentions",
              "statements", "nodes", "edges"):
        _assert_tables_equal(spark, st_ref, st, t)


def test_zero_yield_eviction_when_conv_is_buckets_sole_occupant(
        spark, corpus_tables, tmp_path):
    """ADVICE r03 (high): the zero-yield eviction where the gutted
    conversation is the ONLY occupant of its bucket — the merged bucket
    content is zero rows, Spark writes no leaf, and before the fix the
    old leaf was hardlinked back (phantom rows resurrected). 128 buckets
    over 60 conversations guarantees sole-occupant buckets exist."""
    dfs = _load(spark, corpus_tables)
    cfg = PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                         min_vote_total=1, partition_buckets=128)
    counts = (dfs["transcripts"].select("conv_id").distinct()
              .withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(128)))
              .groupBy("b").agg(F.count("*").alias("n"),
                                F.min("conv_id").alias("conv_id")))
    solo = [r.conv_id for r in counts.filter("n = 1")
            .orderBy("conv_id").limit(2).collect()]
    assert solo, "corpus has no sole-occupant bucket at 128 buckets"
    modified = dfs["transcripts"].withColumn(
        "text",
        F.when(F.col("conv_id").isin(solo), F.lit("hello plain world"))
        .otherwise(F.col("text")))

    st = TableStore(str(tmp_path / "inc"))
    pipe = KGPipeline(spark, st, cfg)
    pipe.write_transcripts(dfs["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    pipe.ingest_increment(modified.filter(F.col("conv_id").isin(solo)))

    for t in ("triples", "mentions", "folded_mentions"):
        n = st.read(spark, t).filter(F.col("conv_id").isin(solo)).count()
        assert n == 0, (t, n)
    # and the merge actually took the pruned path (the bug's precondition)
    snap = st.current_snapshot("triples")
    assert snap.properties.get("merge_mode") == "pruned"


@pytest.mark.parametrize("seed", [11, 47])
def test_random_increment_sequences_equal_batch(spark, corpus_tables,
                                                tmp_path, seed):
    """Metamorphic stress: a SEEDED random sequence of increments —
    new conversations, text-modified replacements, zero-yield
    replacements, and an exact replay — must land on the identical KB
    a single batch run over the final corpus produces. This drives the
    append/merge/delete_keys/probe machinery through orderings the
    hand-written tests don't."""
    import random

    rng = random.Random(seed)
    dfs = _load(spark, corpus_tables)
    convs = [r.conv_id for r in dfs["transcripts"].select("conv_id")
             .distinct().orderBy("conv_id").collect()]
    rng.shuffle(convs)
    initial, rest = convs[:20], convs[20:]

    # script of operations over the remaining conversations
    gutted, modified = set(), set()
    batches = []
    pool = list(rest)
    for step in range(4):
        ops = []
        # a few brand-new conversations
        for _ in range(rng.randint(2, 5)):
            if pool:
                ops.append(("new", pool.pop()))
        # replace some already-ingested conversation
        seen = initial + [c for b in batches for _op, c in b]
        chosen = set()
        for _ in range(rng.randint(1, 3)):
            c = rng.choice(seen)
            if c in chosen:  # one op per conv per batch — a second op
                continue      # would race the when-clause ordering
            chosen.add(c)
            kind = rng.choice(["gut", "modify", "resend"])
            ops.append((kind, c))
            if kind == "gut":
                gutted.add(c)
                modified.discard(c)
            elif kind == "modify":
                modified.add(c)
                gutted.discard(c)
            else:  # resend = original text; last writer wins
                gutted.discard(c)
                modified.discard(c)
        batches.append(ops)

    def final_text(col_conv, col_text):
        t = F.when(col_conv.isin(list(gutted)), F.lit("plain words only"))
        t = t.when(col_conv.isin(list(modified)),
                   F.concat(col_text, F.lit(" Zeta depends on Alpha.")))
        return t.otherwise(col_text)

    all_t = dfs["transcripts"]
    final_corpus_convs = set(initial) | {c for b in batches
                                         for _op, c in b}
    final_t = (all_t.filter(F.col("conv_id").isin(list(final_corpus_convs)))
               .withColumn("text", final_text(F.col("conv_id"),
                                              F.col("text"))))

    # batch reference over the FINAL corpus
    st_ref = TableStore(str(tmp_path / "ref"))
    pipe_ref = KGPipeline(spark, st_ref, _cfg())
    pipe_ref.write_transcripts(final_t)
    for n in ("authority_entities", "authority_ids"):
        st_ref.write(dfs[n], n)
    pipe_ref.run(resume=False)

    # incremental: initial load + the scripted increments
    st = TableStore(str(tmp_path / "inc"))
    pipe = KGPipeline(spark, st, _cfg())
    pipe.write_transcripts(
        all_t.filter(F.col("conv_id").isin(initial)))
    for n in ("authority_entities", "authority_ids"):
        st.write(dfs[n], n)
    pipe.run(resume=False)
    for ops in batches:
        cids = [c for _op, c in ops]
        batch = all_t.filter(F.col("conv_id").isin(cids))
        gut_now = [c for op, c in ops if op == "gut"]
        mod_now = [c for op, c in ops if op == "modify"]
        batch = batch.withColumn(
            "text",
            F.when(F.col("conv_id").isin(gut_now),
                   F.lit("plain words only"))
            .when(F.col("conv_id").isin(mod_now),
                  F.concat(F.col("text"),
                           F.lit(" Zeta depends on Alpha.")))
            .otherwise(F.col("text")))
        pipe.ingest_increment(batch)

    for t in ("triples", "mentions", "folded_mentions",
              "statements", "nodes", "edges"):
        _assert_tables_equal(spark, st_ref, st, t)

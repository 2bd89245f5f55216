"""End-to-end pipeline tests: full run, resume skip, crash/resume
equivalence, idempotence (fixpoint), stage-record metrics."""

import pytest
from pyspark.sql import functions as F

from softcite_kb_spark import datagen
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.storage import TableStore


@pytest.fixture()
def store(spark, corpus, tmp_path):
    st = TableStore(str(tmp_path / "kb"))
    for name in ("transcripts", "authority_entities", "authority_ids"):
        st.write(corpus[name], name)
    return st


def _cfg():
    return PipelineConfig(blacklist=tuple(datagen.BLACKLIST), min_vote_total=1)


def _table_hash(spark, store, name):
    df = store.read(spark, name)
    cols = sorted(df.columns)
    proj = [F.col(c).cast("string") for c in cols]
    return (
        df.select(F.sha2(F.concat_ws("\x1f", *proj), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


def test_full_run_and_resume(spark, store):
    pipe = KGPipeline(spark, store, _cfg())
    r1 = pipe.run()
    assert all(v == "ran" for v in r1.values())
    for t in ("triples", "linked_mentions", "canonical_map",
              "statements", "nodes", "edges"):
        assert store.exists(t), t
        assert store.current_snapshot(t).row_count > 0

    # second run: all stages skip (manifest matches)
    r2 = pipe.run()
    assert all(v == "skipped" for v in r2.values())

    # input change invalidates downstream stage 1 but resume still works
    nodes_before = _table_hash(spark, store, "nodes")
    r3 = pipe.run(resume=False)
    assert all(v == "ran" for v in r3.values())
    assert _table_hash(spark, store, "nodes") == nodes_before  # fixpoint


def test_crash_resume_equivalence(spark, corpus, tmp_path):
    # run A: straight through; run B: "crash" after each stage, resume
    stores = {}
    for mode in ("straight", "crashy"):
        st = TableStore(str(tmp_path / mode))
        for name in ("transcripts", "authority_entities", "authority_ids"):
            st.write(corpus[name], name)
        pipe = KGPipeline(spark, st, _cfg())
        if mode == "straight":
            pipe.run()
        else:
            pipe.run(stop_after="extract")
            pipe.run(stop_after="link")
            r = pipe.run()
            assert r["extract"] == "skipped" and r["link"] == "skipped"
            assert r["canonicalize"] == "ran"
        stores[mode] = st
    for t in ("triples", "statements", "nodes", "edges"):
        ha = _table_hash(spark, stores["straight"], t)
        hb = _table_hash(spark, stores["crashy"], t)
        assert ha == hb, f"{t} differs between straight and crash/resume runs"


def _assert_records_match_snapshots(pipe, store, stages):
    """Every stage record's ``tables`` entry describes the snapshot its
    ``outputs`` pins, which is the committed one."""
    man = pipe._load_manifest()
    for stage in stages:
        rec = man[stage]
        assert set(rec["tables"]) == set(rec["outputs"]), stage
        for t, entry in rec["tables"].items():
            snap = store.current_snapshot(t)
            assert rec["outputs"][t] == snap.snapshot_id, (stage, t)
            assert entry == KGPipeline._table_record(snap), (stage, t)


def test_metrics_lineage_rows(spark, store):
    # a _metrics table left by an older library version is ignored
    store.write(spark.createDataFrame([("extract", 5)], "stage string, "
                                      "n_rows long"), "_metrics")
    pipe = KGPipeline(spark, store, _cfg())
    pipe.run()
    man = pipe._load_manifest()
    for stage in KGPipeline.STAGES:
        tables = man[stage]["tables"]
        assert set(tables) == set(KGPipeline._STAGE_IO[stage][1]), stage
        for t, e in tables.items():
            assert e["rows"] == store.current_snapshot(t).row_count, t
            assert e["files"] >= 1 and e["bytes"] > 0, t
            assert e["max_file_rows"] >= e["rows"] / e["files"], t
            # merge_mode when the commit was a merge — the scale-
            # monitoring signal for silent full-rewrite merges
            assert e["commit_mode"] == "write", t  # plain runs write()
    _assert_records_match_snapshots(pipe, store, KGPipeline.STAGES)
    assert store.current_snapshot("_metrics").snapshot_id == 1


def test_crash_inside_stage_keeps_record_consistent(spark, store):
    """A commit that fails mid-stage leaves the stage unrecorded (its
    sibling commits may land, the record does not), and the resumed run
    reruns the stage and records exactly the committed snapshots."""
    pipe = KGPipeline(spark, store, _cfg())
    orig = store.write

    def failing_write(df, table, *a, **kw):
        if table == "nodes":
            raise RuntimeError("injected crash writing nodes")
        return orig(df, table, *a, **kw)

    store.write = failing_write
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            pipe.run()
    finally:
        store.write = orig
    man = pipe._load_manifest()
    assert "canonicalize" not in man
    assert {"extract", "link"} <= set(man)
    r = pipe.run(resume=True)
    assert r == {"extract": "skipped", "link": "skipped",
                 "canonicalize": "ran"}
    _assert_records_match_snapshots(pipe, store, KGPipeline.STAGES)


def test_config_change_invalidates(spark, store):
    pipe = KGPipeline(spark, store, _cfg())
    pipe.run()
    pipe2 = KGPipeline(spark, store,
                       PipelineConfig(blacklist=("OTHER",), min_vote_total=1))
    r = pipe2.run()
    assert all(v == "ran" for v in r.values())


def test_compact_table_preserves_resume(spark, store):
    """Maintenance compaction through the pipeline must not invalidate
    the resume manifest: after compact_table, every stage still skips."""
    pipe = KGPipeline(spark, store, _cfg())
    pipe.run()
    snap = pipe.compact_table("triples")
    assert snap.properties["operation"] == "compact"
    # metrics must not misreport the maintenance commit as a merge
    assert "merge_mode" not in snap.properties
    entry = pipe._load_manifest()["extract"]["tables"]["triples"]
    assert entry == KGPipeline._table_record(snap)
    assert entry["commit_mode"] == "compact"
    r = pipe.run()
    assert all(v == "skipped" for v in r.values()), r
    assert store.read(spark, "triples").count() == \
        store.current_snapshot("triples").row_count


def test_ingest_rejects_unbucketed_transcripts_table(spark, corpus,
                                                    tmp_path):
    """ADVICE r03: a store whose transcripts were committed with a
    plain store.write (no bucket layout) + partition_buckets>0 must
    fail ingest_stage1 with a CLEAR error pointing at
    write_transcripts, not an opaque AnalysisException downstream."""
    st = TableStore(str(tmp_path / "kb"))
    st.write(corpus["transcripts"], "transcripts")  # NOT write_transcripts
    for n in ("authority_entities", "authority_ids"):
        st.write(corpus[n], n)
    cfg = PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                         min_vote_total=1, partition_buckets=8)
    pipe = KGPipeline(spark, st, cfg)
    pipe.run(resume=False)  # batch run works fine unbucketed
    batch = corpus["transcripts"].limit(10)
    with pytest.raises(RuntimeError, match="write_transcripts"):
        pipe.ingest_stage1(batch)


def test_ingest_flags_merge_fallback(spark, corpus, tmp_path,
                                     monkeypatch):
    """VERDICT r03 #8: when an increment's replacement merge falls back
    to a full rewrite on a partitioned table, the pipeline warns and
    flags the manifest — a silent O(table) increment is the 100 TB
    failure mode to monitor for."""
    from softcite_kb_spark.storage import TableStore as TS

    st = TableStore(str(tmp_path / "kb"))
    cfg = PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                         min_vote_total=1, partition_buckets=8)
    pipe = KGPipeline(spark, st, cfg)
    pipe.write_transcripts(corpus["transcripts"])
    for n in ("authority_entities", "authority_ids"):
        st.write(corpus[n], n)
    pipe.run(resume=False)
    # force every prunable merge over the prune-width limit
    monkeypatch.setattr(TS, "_MAX_PRUNED_PARTITIONS", 0)
    convs = [r.conv_id for r in corpus["transcripts"].select("conv_id")
             .distinct().limit(2).collect()]
    batch = corpus["transcripts"].filter(F.col("conv_id").isin(convs))
    pipe.ingest_stage1(batch)
    man = pipe._load_manifest()
    flags = man["_ingest"]["merge_fallbacks"]
    assert "triples" in flags and "prune limit" in flags["triples"]
    # the extract record shows the merge mode of each flagged table
    for t in flags:
        if t in man["extract"]["tables"]:
            assert man["extract"]["tables"][t]["commit_mode"] == \
                "full-rewrite", t
    _assert_records_match_snapshots(pipe, st, ["extract"])

"""Authority-broadcast size gate (VERDICT r04 #1): the stage-2/3 joins
must not hint ``F.broadcast`` unconditionally — a Wikidata-scale
authority would OOM — and the gated shuffle fallback must produce the
IDENTICAL accepted set. The pipeline decides the gate once from the
authority snapshots' recorded row counts, with no probe job."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from softcite_kb_spark import datagen
from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import extraction as ex
from softcite_kb_spark.operators import linking as lk
from softcite_kb_spark.plans.pipeline import KGPipeline, PipelineConfig
from softcite_kb_spark.storage import TableStore


@pytest.fixture(scope="module")
def linked_inputs(spark, corpus, tmp_path_factory):
    """folded_mentions + triples materialized to parquet (so plans show
    clean FileScans), plus the authority tables."""
    d = tmp_path_factory.mktemp("bcgate")
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    fp, tp = str(d / "folded"), str(d / "triples")
    folded.write.parquet(fp)
    triples.write.parquet(tp)
    return {
        "folded": spark.read.parquet(fp),
        "triples": spark.read.parquet(tp),
        "auth": corpus["authority_entities"],
        "ids": corpus["authority_ids"],
    }


def _multiset_equal(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    assert a.count() == b.count()
    assert a.select(*cols).exceptAll(b.select(*cols)).isEmpty()
    assert b.select(*cols).exceptAll(a.select(*cols)).isEmpty()


def test_authority_fits_broadcast_probe(spark, corpus):
    """The probe passes a curated-sized authority and fails a
    (simulated) web-scale one — the same tables, a tiny threshold."""
    assert lk.authority_fits_broadcast(
        corpus["authority_entities"], corpus["authority_ids"])
    assert not lk.authority_fits_broadcast(
        corpus["authority_entities"], corpus["authority_ids"], max_rows=1)


def test_shuffle_fallback_identical_accepted_set(spark, linked_inputs):
    """broadcast=False (the big-authority path) must produce EXACTLY the
    accepted set of the hinted path, and its static plan must contain
    no broadcast exchange once auto-broadcast is disabled — proving the
    fallback really is a shuffle join, not a re-derived hint."""
    li = linked_inputs
    hinted = lk.link_mentions(li["folded"], li["auth"], li["ids"],
                              li["triples"], min_total=1, broadcast=True)
    gated = lk.link_mentions(li["folded"], li["auth"], li["ids"],
                             li["triples"], min_total=1, broadcast=False)
    _multiset_equal(hinted, gated)
    # the gate actually linked something — the equality is not vacuous
    assert hinted.filter(F.col("entity_id").isNotNull()).count() > 0

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = lk.link_mentions(
            li["folded"], li["auth"], li["ids"], li["triples"],
            min_total=1, broadcast=False) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                           old_aqe)


def test_canonicalize_gated_broadcast_identical(spark, linked_inputs):
    """Stage-3's gated joins (build_nodes / build_edges /
    augment_nodes_with_authority) produce identical tables with the
    hint on and off."""
    li = linked_inputs
    linked = lk.link_mentions(li["folded"], li["auth"], li["ids"],
                              li["triples"], min_total=1)
    canon = cz.canonical_map(linked)
    keys = lk.authority_block_keys(li["auth"])
    for bc in (True, False):
        nodes = cz.build_nodes(canon, authority_entities=li["auth"],
                               broadcast=bc)
        edges = cz.build_edges(li["triples"], canon, authority_keys=keys,
                               broadcast=bc)
        aug = cz.augment_nodes_with_authority(nodes, edges, li["auth"],
                                              broadcast=bc)
        if bc:
            ref_nodes, ref_edges, ref_aug = nodes, edges, aug
        else:
            _multiset_equal(ref_nodes, nodes)
            _multiset_equal(ref_edges, edges)
            _multiset_equal(ref_aug, aug)


def _authority_store(spark, root, auth, ids):
    st = TableStore(root)
    st.write(auth, "authority_entities")
    st.write(ids, "authority_ids")
    return st


def _recorded_rows(st):
    return sum(st.current_snapshot(t).row_count
               for t in ("authority_entities", "authority_ids"))


def _fixture_authorities(spark, corpus):
    """The conftest corpus's authority and a differently seeded and
    sized datagen one."""
    auth, ids = datagen.build_authority(n_software=200, seed=3)
    return [
        (corpus["authority_entities"], corpus["authority_ids"]),
        (spark.createDataFrame(auth), spark.createDataFrame(ids)),
    ]


def test_run_and_ingest_make_no_probe(spark, tmp_path, monkeypatch):
    """A full run() and an ingest_increment decide the gate from
    snapshot metadata: the count-job probe never runs."""
    calls = {"n": 0}
    real = lk.authority_fits_broadcast

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(lk, "authority_fits_broadcast", counting)
    tables = datagen.build_corpus(n_conversations=20)
    t = tables["transcripts"]
    first = t.conv_id.isin(sorted(t.conv_id.unique())[:15])
    st = TableStore(str(tmp_path / "kb"))
    for n in ("authority_entities", "authority_ids"):
        st.write(spark.createDataFrame(tables[n]), n)
    st.write(spark.createDataFrame(t[first]), "transcripts")
    pipe = KGPipeline(spark, st, PipelineConfig(
        blacklist=tuple(datagen.BLACKLIST), min_vote_total=1))
    assert pipe.run(resume=False)["link"] == "ran"
    report = pipe.ingest_increment(spark.createDataFrame(t[~first]))
    assert report == {"extract": "skipped", "link": "ran",
                      "canonicalize": "ran"}
    assert calls["n"] == 0
    # non-vacuous: the gated stages linked something
    assert st.read(spark, "linked_mentions").filter(
        F.col("entity_id").isNotNull()).count() > 0


def test_decision_equals_probe_on_fixtures(spark, corpus, tmp_path):
    """On every fixture authority the snapshot-stats decision equals
    the exploded-key probe at the production threshold."""
    for i, (auth, ids) in enumerate(_fixture_authorities(spark, corpus)):
        st = _authority_store(spark, str(tmp_path / str(i)), auth, ids)
        got = KGPipeline(spark, st)._authority_fits()
        assert got == lk.authority_fits_broadcast(auth, ids)
        assert got


def test_decision_flips_over_threshold(spark, corpus, tmp_path,
                                       monkeypatch):
    """An authority over the threshold decides "no hint", like the
    probe does; at the threshold it fits. The recorded rows (one per
    entity and id) never exceed the probe's exploded-key count."""
    for i, (auth, ids) in enumerate(_fixture_authorities(spark, corpus)):
        st = _authority_store(spark, str(tmp_path / str(i)), auth, ids)
        pipe = KGPipeline(spark, st)
        rows = _recorded_rows(st)
        keys = lk.authority_block_keys(auth).count() + ids.count()
        assert 0 < rows <= keys
        monkeypatch.setattr(lk, "AUTHORITY_BROADCAST_MAX_ROWS", rows - 1)
        assert not pipe._authority_fits()
        assert not lk.authority_fits_broadcast(auth, ids, max_rows=rows - 1)
        monkeypatch.setattr(lk, "AUTHORITY_BROADCAST_MAX_ROWS", rows)
        assert pipe._authority_fits()


def test_new_authority_snapshot_is_reread(spark, corpus, tmp_path,
                                          monkeypatch):
    """The decision follows the current authority snapshot: committing a
    smaller one flips an over-threshold authority to fitting, on the
    same pipeline object."""
    auth, ids = corpus["authority_entities"], corpus["authority_ids"]
    st = _authority_store(spark, str(tmp_path / "kb"), auth, ids)
    pipe = KGPipeline(spark, st)
    monkeypatch.setattr(lk, "AUTHORITY_BROADCAST_MAX_ROWS",
                        _recorded_rows(st) - 1)
    assert not pipe._authority_fits()
    st.write(auth.orderBy("entity_id").limit(10), "authority_entities")
    assert pipe._authority_fits()


def test_stage2_stage3_same_decision_in_either_order(
        spark, tmp_path, monkeypatch):
    """Stage 2 (authority_entities + authority_ids) and stage 3 get the
    same decision whichever runs first in a fresh process — e.g. a
    resume that skips stage 2. Thresholds sit between the entity-only
    and the entity + id counts: the recorded rows, and the probe's
    exploded keys."""
    tables = datagen.build_corpus(n_conversations=20)
    st = TableStore(str(tmp_path / "kb"))
    for n in ("transcripts", "authority_entities", "authority_ids"):
        st.write(spark.createDataFrame(tables[n]), n)
    cfg = PipelineConfig(blacklist=tuple(datagen.BLACKLIST),
                         min_vote_total=1)
    KGPipeline(spark, st, cfg).run(resume=False)

    seen = []
    real_link, real_nodes = lk.link_mentions, cz.build_nodes

    def link_spy(*a, **k):
        seen.append(("link", k["broadcast"]))
        return real_link(*a, **k)

    def nodes_spy(*a, **k):
        seen.append(("canonicalize", k["broadcast"]))
        return real_nodes(*a, **k)

    monkeypatch.setattr(lk, "link_mentions", link_spy)
    monkeypatch.setattr(cz, "build_nodes", nodes_spy)
    auth = st.read(spark, "authority_entities")
    rows = _recorded_rows(st)
    n_auth = st.current_snapshot("authority_entities").row_count
    n_keys = lk.authority_block_keys(auth).count()
    assert n_auth < rows
    for threshold in (n_auth, n_keys):
        monkeypatch.setattr(lk, "AUTHORITY_BROADCAST_MAX_ROWS", threshold)
        fits = rows <= threshold
        for order in (("stage_link", "stage_canonicalize"),
                      ("stage_canonicalize", "stage_link")):
            seen.clear()
            pipe = KGPipeline(spark, st, cfg)
            for stage in order:
                getattr(pipe, stage)()
            assert sorted(seen) == [("canonicalize", fits), ("link", fits)]

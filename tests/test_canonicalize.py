"""Stage-3 tests: CC vs union-find oracle, canonical map determinism,
statement count-summing, node/edge materialization."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from softcite_kb_spark import datagen
from softcite_kb_spark.materialize import local_checkpoint_materializer
from softcite_kb_spark.operators import canonicalize as cz
from softcite_kb_spark.operators import extraction as ex
from softcite_kb_spark.operators import linking as lk


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _match_pairs(linked_mentions):
    """Group-level match-pair edges (oracle): every mention group links
    to its entity hub "e:<entity_id>" and to its surface's min group
    node id — stars, which CC closes transitively."""
    nodes = linked_mentions.withColumn(
        "node_id", cz.mention_node_id(F.col("conv_id"), F.col("norm_surface")))
    by_entity = (
        nodes.filter(F.col("entity_id").isNotNull())
        .select("node_id", F.concat(F.lit("e:"), F.col("entity_id")).alias("hub"))
    )
    reps = nodes.groupBy("norm_surface").agg(F.min("node_id").alias("hub"))
    by_surface = (
        nodes.join(reps, "norm_surface")
        .filter(F.col("hub") != F.col("node_id"))
        .select("node_id", "hub")
    )
    return (
        by_entity.unionByName(by_surface)
        .select(F.col("node_id").alias("src"), F.col("hub").alias("dst"))
    )


def _canonical_map_group_level(linked_mentions):
    """Oracle for cz.canonical_map: CC over the full GROUP-level match
    graph (one node per conversation mention group, O(corpus) nodes),
    entity hub preferred, else the component's min node id."""
    nodes = linked_mentions.withColumn(
        "node_id", cz.mention_node_id(F.col("conv_id"), F.col("norm_surface")))
    cc = cz.connected_components(_match_pairs(linked_mentions))
    hubs = (
        cc.filter(F.col("member_id").startswith("e:"))
        .groupBy("component_id")
        .agg(F.min("member_id").alias("entity_hub"))
    )
    cc = (
        cc.join(hubs, "component_id", "left")
        .select("member_id",
                F.coalesce("entity_hub", "component_id").alias("canonical_id"))
    )
    return (
        nodes.join(cc, nodes.node_id == cc.member_id, "left")
        .drop("member_id")
        .withColumn("canonical_id", F.coalesce("canonical_id", "node_id"))
    )


def _plan_node(df):
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _assert_same_rows(a, b, msg=""):
    assert a.schema == b.schema, msg
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), msg


def test_cc_matches_union_find_oracle(spark):
    # chain + star + singleton-pair graph
    pairs = [("a", "b"), ("b", "c"), ("c", "d"),          # chain
             ("h", "x1"), ("h", "x2"), ("h", "x3"),        # star
             ("p", "q"),                                   # pair
             ("z1", "z2"), ("z2", "z3"), ("z1", "z3")]     # triangle
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    got = {r.member_id: r.component_id
           for r in cz.connected_components(df).collect()}
    want = _union_find(pairs)
    assert got == want


def test_cc_long_chain_converges(spark):
    n = 12
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    got = cz.connected_components(df, max_iter=30)
    comps = {r.component_id for r in got.collect()}
    assert comps == {"n000"}


def test_cc_distributed_equals_union_find_md5_graph(spark):
    """The distributed label-propagation rounds (explicit barrier, so the
    driver path cannot serve the call) equal the union-find oracle on a
    pseudo-random graph (md5-derived edges, deterministic)."""
    import hashlib

    def h(i, salt):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:6], 16)

    pairs = [(f"v{h(i, 'a') % 80:02d}", f"v{h(i, 'b') % 80:02d}")
             for i in range(120)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    lp = {r.member_id: r.component_id
          for r in cz.connected_components(
              df, max_iter=40,
              materializer=local_checkpoint_materializer).collect()}
    assert lp == _union_find(pairs)


@st.composite
def edge_lists(draw):
    n = draw(st.integers(2, 12))
    m = draw(st.integers(1, 20))
    return [
        (f"v{draw(st.integers(0, n - 1))}", f"v{draw(st.integers(0, n - 1))}")
        for _ in range(m)
    ]


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(edge_lists())
def test_cc_random_graphs_match_union_find(spark, pairs):
    """Random small graphs: the driver union-find path and the
    distributed rounds both equal the oracle."""
    pairs = [p for p in pairs if p[0] != p[1]]
    if not pairs:
        return
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    want = _union_find(pairs)
    for mat in (None, local_checkpoint_materializer):
        got = {r.member_id: r.component_id
               for r in cz.connected_components(
                   df, max_iter=40, materializer=mat).collect()}
        assert got == want, mat


def _pipeline_frames(spark, corpus):
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    linked = lk.link_mentions(
        folded, corpus["authority_entities"], corpus["authority_ids"],
        triples, min_total=1)
    return triples, linked


def test_canonical_map_groups_variants(spark, corpus):
    triples, linked = _pipeline_frames(spark, corpus)
    canon = cz.canonical_map(linked)
    # every linked mention-group of the same entity shares one canonical id
    per_entity = (
        canon.filter(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(F.countDistinct("canonical_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert per_entity == 0
    # canonical anchors on the entity hub when linked
    anchored = canon.filter(
        F.col("entity_id").isNotNull()
        & (F.col("canonical_id") == F.concat(F.lit("e:"), F.col("entity_id")))
    ).count()
    assert anchored == canon.filter(F.col("entity_id").isNotNull()).count()


def test_canonical_map_deterministic(spark, corpus):
    triples, linked = _pipeline_frames(spark, corpus)
    a = sorted(map(tuple, cz.canonical_map(linked)
                   .select("node_id", "canonical_id").collect()))
    b = sorted(map(tuple, cz.canonical_map(linked.orderBy(F.rand(seed=3)))
                   .select("node_id", "canonical_id").collect()))
    assert a == b


def test_statement_count_summing(spark):
    # A5 semantics: identical (prop, value) statements merge, counts sum;
    # A6: values equal after "- " removal merge, first raw kept
    triples = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c1", "c1", "c2", "c2"],
        "turn_idx": pd.array([0, 1, 0, 1], dtype="int32"),
        "subj": ["Statlib", "Statlib", "STATLIB", "Statlib"],
        "pred": ["written_in"] * 4,
        "obj": ["Python", "Python", "Py- thon", "Python"],
    }))
    canon = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c1", "c2"],
        "norm_surface": ["statlib", "statlib"],
        "canonical_id": ["e:Q1", "e:Q1"],
    }))
    got = cz.fold_statements(triples, canon).collect()
    assert len(got) == 1
    r = got[0]
    assert r.canonical_id == "e:Q1" and r.prop == "written_in"
    assert r["count"] == 4       # 2 + 1 (dehyphenated) + 1  (Row.count is
    # shadowed by tuple.count — use item access)
    assert r.value == "Py- thon" or r.value == "Python"
    # deterministic: min raw form — "Py- thon" < "Python" lexicographically
    assert r.value == "Py- thon"
    # qualifiers: turn-position provenance (P2677 analog), sorted, capped
    assert [(q.prop, q.value) for q in r.qualifiers] == [
        ("P2677", "c1:0"), ("P2677", "c1:1"), ("P2677", "c2:0"),
        ("P2677", "c2:1")]
    assert all(q.datatype == "string" for q in r.qualifiers)


def test_statement_qualifiers_capped(spark):
    """The qualifier list is bounded by max_qualifiers (window cap BEFORE
    collect) while count still reflects every occurrence."""
    n = 20
    triples = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(n)],
        "turn_idx": pd.array([0] * n, dtype="int32"),
        "subj": ["Statlib"] * n,
        "pred": ["written_in"] * n,
        "obj": ["Python"] * n,
    }))
    canon = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(n)],
        "norm_surface": ["statlib"] * n,
        "canonical_id": ["e:Q1"] * n,
    }))
    got = cz.fold_statements(triples, canon, max_qualifiers=3).collect()
    assert len(got) == 1
    r = got[0]
    assert r["count"] == n and len(r.qualifiers) == 3
    assert [q.value for q in r.qualifiers] == ["c0:0", "c1:0", "c10:0"]


def test_edges_resolve_objects_via_authority(spark, corpus):
    triples, linked = _pipeline_frames(spark, corpus)
    canon = cz.canonical_map(linked)
    keys = lk.authority_block_keys(corpus["authority_entities"])
    edges = cz.build_edges(triples, canon, authority_keys=keys)
    wi = edges.filter(F.col("rel") == "written_in")
    assert wi.count() > 0
    # languages are authority entities -> typed e: vertices, not hashes
    assert wi.filter(~F.col("dst_id").startswith("e:")).count() == 0
    stmts = cz.fold_statements(triples, canon)
    nodes = cz.build_nodes(canon, corpus["authority_entities"])
    aug = cz.augment_nodes_with_authority(
        nodes, edges, corpus["authority_entities"])
    nid = aug.select(F.col("canonical_id").alias("id"))
    dangling = (edges.filter(F.col("dst_id").startswith("e:"))
                .join(nid, edges.dst_id == nid.id, "left_anti").count())
    assert dangling == 0
    # idempotent
    assert cz.augment_nodes_with_authority(
        aug, edges, corpus["authority_entities"]).count() == aug.count()


def test_nodes_and_edges_materialize(spark, corpus):
    triples, linked = _pipeline_frames(spark, corpus)
    canon = cz.canonical_map(linked)
    stmts = cz.fold_statements(triples, canon)
    nodes = cz.build_nodes(canon, corpus["authority_entities"])
    edges = cz.build_edges(triples, canon)
    assert nodes.filter(F.col("label").isNull()).count() == 0
    # node ids unique
    assert nodes.count() == nodes.select("canonical_id").distinct().count()
    # every edge endpoint that is canonical exists in nodes
    nid = nodes.select(F.col("canonical_id").alias("id"))
    dangling = (edges.join(nid, edges.src_id == nid.id, "left_anti").count())
    assert dangling == 0
    assert edges.filter(F.col("rel") == "has_version").count() == 0
    assert edges.filter(F.col("count") <= 0).count() == 0


def test_cc_refuses_nonconverged(spark):
    """Exhausting the round budget raises instead of returning a
    silently-fragmented labeling."""
    import pytest

    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    # an explicit materializer pins the DISTRIBUTED rounds — the driver
    # path would close this small chain without ever hitting the round
    # budget (its own equivalence is pinned separately below)
    with pytest.raises(RuntimeError, match="did not converge"):
        cz.connected_components(
            df, max_iter=2, materializer=local_checkpoint_materializer)


def test_cc_local_fast_path_equals_distributed(spark):
    """The size-gated driver-side union-find returns the identical
    labeling as the distributed rounds, and the gate's bounded probe
    falls through to the distributed path when the edge set exceeds the
    threshold."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"),
             ("h", "x1"), ("h", "x2"), ("h", "x3"),
             ("p", "q"),
             ("z1", "z2"), ("z2", "z3"), ("z1", "z3")]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    local = {r.member_id: r.component_id
             for r in cz.connected_components(df).collect()}
    dist = {r.member_id: r.component_id
            for r in cz.connected_components(
                df, materializer=local_checkpoint_materializer).collect()}
    assert local == dist == _union_find(pairs)
    # the driver result is an Arrow LocalRelation (broadcast needs no
    # job), not a parallelized LogicalRDD
    assert _plan_node(cz.connected_components(df)) == "LocalRelation"
    # threshold smaller than the edge count -> distributed path taken
    # (observable: same labeling, and _cc_local itself returns None)
    e = df.selectExpr("src as a", "dst as b").distinct()
    assert cz._cc_local(e, 3) is None


def test_build_nodes_label_most_frequent_raw(spark):
    """A single fringe ALL-CAPS mention must not steal the label from the
    dominant raw spelling (conversation-frequency pick, not lexicographic)."""
    canon = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(4)],
        "norm_surface": ["statlib"] * 4,
        "canonical_id": ["m:x"] * 4,
        "node_id": ["m:x"] * 4,
        "entity_id": [None] * 4,
        "n_mentions": [1, 1, 1, 1],
        "surfaces": [["Statlib"], ["Statlib"], ["Statlib"], ["STATLIB"]],
        "versions": [[]] * 4,
        "first_turn_idx": pd.array([0] * 4, dtype="int32"),
    }))
    nodes = cz.build_nodes(canon).collect()
    assert len(nodes) == 1
    assert nodes[0].label == "Statlib"           # 3 convs vs 1, not "STATLIB"
    assert sorted(nodes[0].aliases) == ["STATLIB", "Statlib"]


def test_canonical_map_surface_collapse_equals_group_level(spark, corpus):
    """The surface-granularity canonical_map must equal the group-level
    oracle EXACTLY — same canonical for every mention group — on the
    driver path and on the distributed path (an explicit materializer),
    with unlinked surfaces present."""
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    linked = lk.link_mentions(
        folded, corpus["authority_entities"], corpus["authority_ids"],
        triples, min_total=1).localCheckpoint()
    assert linked.filter(F.col("entity_id").isNull()).count() > 0
    ref = _canonical_map_group_level(linked)
    cols = sorted(ref.columns)
    for mat in (None, local_checkpoint_materializer):
        got = cz.canonical_map(linked, materializer=mat)
        assert sorted(got.columns) == cols
        assert got.count() == ref.count()
        a, b = got.select(*cols), ref.select(*cols)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), mat


#: hand-built linked mentions (conv_id, norm_surface, entity_id) covering
#: the canonical-selection cases
_EDGE_CASES = [
    # one surface linked to two entities bridges their components
    ("c1", "alpha", "Q1"), ("c2", "alpha", "Q2"),
    ("c3", "beta", "Q2"), ("c1", "gamma", "Q1"),
    # one entity shared by several surfaces, each in several convs
    ("c1", "delta", "Q3"), ("c2", "delta", "Q3"),
    ("c3", "epsilon", "Q3"), ("c4", "zeta", "Q3"), ("c5", "zeta", "Q3"),
    # unlinked surfaces (null entity_id), one of them in two convs
    ("c1", "eta", None), ("c2", "eta", None), ("c4", "theta", None),
    # a surface linked in one conv and unlinked in another
    ("c1", "iota", "Q4"), ("c7", "iota", None),
    # null norm_surface; linking joins on the surface, so it never
    # carries an entity
    ("c5", None, None), ("c6", None, None),
    # non-ASCII: the hub is the min in code-point order (Python) ==
    # UTF-8 byte order (Spark); UTF-16 order would put U+1F600 (a
    # surrogate pair) before U+FF31
    ("c1", "naïve", "\U0001F600x"), ("c2", "naïve", "\uFF31x"),
    ("c3", "zürich", "Qé"), ("c4", "zürich", "Qz"),
    ("c5", "日本語", None), ("c6", "ßtest", None),
]


def _edge_case_linked(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("norm_surface", T.StringType()),
        T.StructField("entity_id", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])
    return spark.createDataFrame(
        [(c, s, e, 1) for c, s, e in _EDGE_CASES], schema)


def test_canonical_map_paths_equal_on_edge_cases(spark):
    """canonical_map's driver path, its distributed path (explicit
    materializer) and the group-level oracle agree row for row, schema
    included, on bridging, shared-entity, unlinked, null and non-ASCII
    cases; the driver path's surface map is a LocalRelation that the
    join back broadcasts."""
    linked = _edge_case_linked(spark)
    drv = cz.canonical_map(linked)
    dist = cz.canonical_map(linked, materializer=local_checkpoint_materializer)
    _assert_same_rows(drv, dist)
    ref = _canonical_map_group_level(linked)
    _assert_same_rows(drv, ref.select(*drv.columns))
    got = {(r.conv_id, r.norm_surface): r.canonical_id for r in drv.collect()}
    assert got[("c2", "alpha")] == got[("c3", "beta")] == "e:Q1"
    assert got[("c4", "zeta")] == got[("c1", "delta")] == "e:Q3"
    assert got[("c7", "iota")] == "e:Q4"
    assert got[("c1", "naïve")] == "e:\uFF31x"
    assert got[("c3", "zürich")] == "e:Qz"
    assert got[("c1", "eta")] == got[("c2", "eta")] != got[("c4", "theta")]
    assert got[("c5", None)] != got[("c6", None)]
    assert "BroadcastHashJoin" in \
        drv._jdf.queryExecution().executedPlan().toString()


def test_surface_canon_from_state_paths_equal(spark, tmp_path):
    """The incremental pipeline's state call goes through the same
    surface map: driver path == distributed path (explicit
    materializer) for every surface, null included, and both equal the
    group-level oracle's per-surface canonical."""
    from softcite_kb_spark.plans.incremental import IncrementalKGPipeline
    from softcite_kb_spark.plans.pipeline import PipelineConfig
    from softcite_kb_spark.storage import TableStore

    linked = _edge_case_linked(spark)
    cfg = PipelineConfig(partition_buckets=4)
    store = TableStore(str(tmp_path / "kb"))
    drv_pipe = IncrementalKGPipeline(spark, store, cfg)
    dist_pipe = IncrementalKGPipeline(
        spark, store, cfg, materializer=local_checkpoint_materializer)
    stats = drv_pipe._stats_for(linked)
    accepted = linked.filter(F.col("entity_id").isNotNull()) \
        .select("norm_surface", "entity_id").distinct()
    drv = drv_pipe._surface_canon_from_state(accepted, stats)
    assert _plan_node(drv) == "LocalRelation"
    dist = dist_pipe._surface_canon_from_state(accepted, stats)
    _assert_same_rows(drv, dist)
    ref = (_canonical_map_group_level(linked)
           .filter(F.col("norm_surface").isNotNull())
           .select("norm_surface", "canonical_id").distinct())
    assert ref.count() == ref.select("norm_surface").distinct().count()
    _assert_same_rows(drv.filter(F.col("norm_surface").isNotNull()), ref)
    null_canon = [r.canonical_id for r in drv.collect()
                  if r.norm_surface is None]
    assert null_canon == [stats.filter(F.col("norm_surface").isNull())
                          .first().srep]


def test_surface_canonical_map_gate_falls_back_to_distributed(
        spark, monkeypatch):
    """With CC_LOCAL_EDGE_LIMIT below the surface row count the bounded
    collect bails and the distributed path runs, with identical rows."""
    linked = _edge_case_linked(spark)
    drv = cz.canonical_map(linked)
    calls = []
    real_cc = cz.connected_components

    def spy(*args, **kwargs):
        calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(cz, "connected_components", spy)
    monkeypatch.setattr(cz, "CC_LOCAL_EDGE_LIMIT", 3)
    nodes = linked.withColumn("node_id", cz.mention_node_id(
        F.col("conv_id"), F.col("norm_surface")))
    surfaces = nodes.groupBy("norm_surface", "entity_id").agg(
        F.min("node_id").alias("srep"))
    sc = cz.surface_canonical_map(surfaces)
    assert calls and _plan_node(sc) != "LocalRelation"
    gated = cz.canonical_map(linked)
    assert len(calls) == 2
    _assert_same_rows(gated, drv)

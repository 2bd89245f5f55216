"""Stage 3 — canonicalization: connected components, statement fold,
node/edge materialization.

Reference analog:

  * union-find over pairwise match decisions (register_merging,
    populate_staging_area.py:899-1030; decisions recorded by merge.py) ->
    here an iterative min-label-propagation connected components over a
    match-pair edge DataFrame. The reference's "first element of the
    merging list is the host" rank-0 rule (knowledge_base.py:292-306)
    becomes the deterministic "canonical id = min member id".
  * statement aggregation with provenance-count summing
    (aggregate_with_merge, common/arango_common.py:203-252; counts summed in
    add_ref_if_not_present :391-424) -> native
    groupBy(canonical, prop, value).agg(sum(count)).
  * fuzzy value normalization — values equal after removing "- " merge,
    counts summed, first raw value kept (normalize_entity,
    arango_common.py:347-388) -> groupBy on de-hyphenated value + ordered
    first().
  * edge re-pointing to canonical vertices + dedup (set_up_relations,
    knowledge_base.py:344-402) -> two canonical-map joins + dropDuplicates.

Scale notes: CC runs on the surface-entity graph (O(distinct surfaces)
nodes). Below ``CC_LOCAL_EDGE_LIMIT`` per-surface rows the surface ->
canonical map is built on the driver from one bounded collect and
returned as an Arrow ``LocalRelation``; the join back broadcasts it with
no Spark job. Above the gate, or with an explicit ``materializer``, the
one distributed rule runs: min-label propagation, which shuffles once
per iteration on the edge table; iterations = graph diameter (stage 2
accepts at most one entity per surface, so the graph is a forest of
stars and closes in 2). Each round ends at a materialization barrier
so plans don't grow exponentially — the barrier is INJECTABLE
(``materializer`` param, see softcite_kb_spark.materialize):
localCheckpoint by default (single JVM), a scratch-table persist on a
cluster (localCheckpoint blocks are executor-local — a lost executor
would kill a 10-round CC job at round 9).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W
from pyspark.sql.pandas.types import to_arrow_schema

from softcite_kb_spark.functions.text import norm_name
from softcite_kb_spark.materialize import (
    Materializer, local_checkpoint_materializer)


#: default gate for the driver-side fast paths: below this many
#: (normalized, distinct) CC edges, or collected per-surface rows in
#: :func:`surface_canonical_map`, the distributed rounds are pure fixed
#: cost — ~10 jobs for a graph union-find closes in microseconds. 100k
#: rows collect to a few MB on the driver.
CC_LOCAL_EDGE_LIMIT = 100_000


def _local_frame(spark, schema: T.StructType, cols: dict) -> DataFrame:
    """Driver-side columns as a DataFrame through the Arrow path: the
    plan is a ``LocalRelation``, so broadcasting it needs no Spark job
    (a parallelized Python list is a ``LogicalRDD``, whose broadcast
    runs one)."""
    table = pa.Table.from_pydict(cols, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _union_find(pairs) -> dict:
    """vertex -> root of its component, over an iterable of (a, b)
    edges."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[rb] = ra
    return {v: find(v) for v in parent}


def _cc_local(e: DataFrame, limit: int) -> DataFrame | None:
    """Driver-side union-find over a SMALL normalized edge set.

    The distributed rounds cost several shuffles regardless of
    input size (measured ~3.6 s on a 5k-edge match graph, all fixed
    overhead); below ``limit`` edges the exact same labeling — every
    edge-endpoint vertex mapped to the MIN member id of its component —
    is computed from one bounded collect (``limit(n+1)``, so an
    unexpectedly huge graph can never flood the driver: the probe bails
    to the distributed path). Ordering note: Python's value comparison
    agrees with Spark's for the types CC runs on (UTF-8 binary order ==
    code-point order for strings; numerics trivially).

    Returns ``None`` when the edge set exceeds ``limit`` (caller falls
    through to the distributed rounds).
    """
    if not limit or limit <= 0:
        return None
    rows = e.limit(limit + 1).collect()
    if len(rows) > limit:
        return None
    roots = _union_find(rows)
    comp_min: dict = {}
    for v, r in roots.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    schema = T.StructType([
        T.StructField("member_id", e.schema[0].dataType),
        T.StructField("component_id", e.schema[1].dataType),
    ])
    return _local_frame(e.sparkSession, schema, {
        "member_id": list(roots),
        "component_id": [comp_min[r] for r in roots.values()]})


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Min-label propagation CC on an undirected edge DataFrame.

    Returns (member_id, component_id) with component_id = min member id of
    the component (deterministic canonical selection, W2 analog).

    Each iteration: every vertex adopts min(own label, neighbors' labels).
    Converges in O(diameter) rounds; each round is one shuffle on edges +
    one on labels. Stage 2 accepts at most one entity per surface, so the
    surface-entity graph stage 3 passes in is a forest of stars (diameter
    <= 2) and closes in two rounds; a longer chain is bounded by
    ``max_iter``, and exhausting it raises rather than returning a
    fragmented labeling.

    ``materializer``: the per-round lineage barrier — localCheckpoint by
    default; pass ``ScratchTableMaterializer(store)`` on a cluster for a
    fault-tolerant barrier (see softcite_kb_spark.materialize).
    """
    mat = materializer or local_checkpoint_materializer
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # fast path only under the DEFAULT barrier: an explicitly injected
    # materializer (scratch tables on a cluster) is the caller opting
    # into the durable distributed rounds — honor it
    local = _cc_local(e, CC_LOCAL_EDGE_LIMIT) if materializer is None else None
    if local is not None:
        return local
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = mat(sym)

    labels = mat(
        sym.select(F.col("a").alias("member_id"))
        .distinct()
        .withColumn("component_id", F.col("member_id"))
    )

    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.a == labels.member_id, "inner")
            .groupBy(F.col("b").alias("member_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "member_id", "left")
            .select(
                "member_id",
                F.least(F.col("component_id"), F.coalesce("nbr_min", "component_id"))
                .alias("component_id"),
                (F.col("nbr_min") < F.col("component_id")).alias("changed"),
            )
        )
        # the barrier is the round's materialization (cuts lineage);
        # the probe below then reads materialized output only
        new_labels = mat(new_labels)
        # convergence probe: take(1) short-circuits at the first changed row
        # instead of scanning everything for a full count
        converged = len(new_labels.filter(F.col("changed")).take(1)) == 0
        labels = new_labels.drop("changed")
        if converged:
            break
    if not converged:
        # a partially-propagated labeling splits one true component across
        # several ids — silent wrong winners. Refuse.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} (graph diameter exceeds the budget); raise "
            f"max_iter")
    return labels


def mention_node_id(conv_id, norm_surface) -> F.Column:
    """Deterministic content-hash id for a per-conversation mention group
    (F10: deterministic ids instead of uuid4, SURVEY.md 7.0). The
    unit-separator prevents ("ab","c") / ("a","bc") collisions."""
    return F.concat(F.lit("m:"), F.sha2(F.concat_ws("\x1f", conv_id, norm_surface), 256).substr(1, 24))


def _surface_canon_local(surfaces: DataFrame, limit: int,
                         schema: T.StructType) -> DataFrame | None:
    """Driver path of :func:`surface_canonical_map` (``None`` past
    ``limit`` rows): the same rule on the same "s:"/"e:" string ids,
    so every ``min`` compares exactly as Spark's does."""
    rows = surfaces.select("norm_surface", "srep", "entity_id") \
        .limit(limit + 1).collect()
    if len(rows) > limit:
        return None
    srep: dict = {}
    edges = []
    for s, r, e in rows:
        cur = srep.get(s)
        srep[s] = r if cur is None or (r is not None and r < cur) else cur
        if s is not None and e is not None:
            edges.append(("s:" + s, "e:" + e))
    roots = _union_find(edges)
    hub: dict = {}
    comp_min: dict = {}
    for v, root in roots.items():
        if v.startswith("e:"):
            hub[root] = min(hub.get(root, v), v)
        elif srep[v[2:]] is not None:
            r = srep[v[2:]]
            comp_min[root] = min(comp_min.get(root, r), r)
    canon = []
    for s, r in srep.items():
        root = roots.get("s:" + s) if s is not None else None
        canon.append(next((v for v in (hub.get(root), comp_min.get(root), r)
                           if v is not None), None))
    return _local_frame(surfaces.sparkSession, schema, {
        "norm_surface": list(srep), "canonical_id": canon})


def surface_canonical_map(surfaces: DataFrame,
                          materializer: Materializer | None = None
                          ) -> DataFrame:
    """(norm_surface, canonical_id) for every surface of ``surfaces``,
    a (norm_surface, srep, entity_id) frame: one row per surface and
    linked entity, ``srep`` = the surface's min mention-group node id
    (the min over its rows is used), ``entity_id`` null when unlinked.

    CC runs over the "s:<surface>" — "e:<entity>" edges; a surface's
    canonical id is its component's entity hub (min "e:<entity>"),
    else the component's min ``srep``, else its own ``srep``.

    Below ``CC_LOCAL_EDGE_LIMIT`` rows under the default barrier the
    map is built on the driver from one bounded collect (``limit(n+1)``)
    and returned as a ``LocalRelation`` (no Spark job to broadcast it).
    Above the gate, or with an explicit ``materializer``, the distributed
    :func:`connected_components` rounds run.
    """
    schema = T.StructType([
        T.StructField("norm_surface", surfaces.schema["norm_surface"].dataType),
        T.StructField("canonical_id", T.StringType()),
    ])
    if materializer is None and CC_LOCAL_EDGE_LIMIT > 0:
        local = _surface_canon_local(surfaces, CC_LOCAL_EDGE_LIMIT, schema)
        if local is not None:
            return local
    sreps = surfaces.groupBy("norm_surface").agg(F.min("srep").alias("srep"))
    sedges = (
        surfaces.filter(F.col("entity_id").isNotNull())
        .select(F.concat(F.lit("s:"), F.col("norm_surface")).alias("src"),
                F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"))
        .distinct()
    )
    cc = connected_components(sedges, materializer=materializer)
    scomp = (
        cc.filter(F.col("member_id").startswith("s:"))
        .select(F.expr("substring(member_id, 3)").alias("norm_surface"),
                "component_id")
    )
    hubs = (
        cc.filter(F.col("member_id").startswith("e:"))
        .groupBy("component_id")
        .agg(F.min("member_id").alias("entity_hub"))
    )
    # min srep per component (fallback canonical when a component
    # somehow has no entity hub — possible if CC input edges are
    # extended with surface<->surface pairs later)
    comp_min = (
        sreps.join(scomp, "norm_surface")
        .groupBy("component_id")
        .agg(F.min("srep").alias("comp_min"))
    )
    return (
        sreps.join(scomp, "norm_surface", "left")
        .join(hubs, "component_id", "left")
        .join(comp_min, "component_id", "left")
        .select(
            "norm_surface",
            F.coalesce("entity_hub", "comp_min", "srep")
            .alias("canonical_id"))
    )


def canonical_map(linked_mentions: DataFrame,
                  materializer: Materializer | None = None) -> DataFrame:
    """(node_id, conv_id, norm_surface, entity_id, canonical_id).

    canonical_id prefers a component's authority-entity hub ("e:Qxx") if the
    component contains one — matching the reference's rule that merges
    anchor on the curated entity — else the min mention node id.
    Singleton mention-groups (no pairs) are their own canonical.

    Scale collapse (same observation that factorized the stage-2 vote):
    in the group-level match graph every conversation group of surface s
    hangs as a LEAF off its surface representative, and all of s's
    groups share one accepted entity — so component structure is fully
    determined by the SURFACE <-> entity graph. CC therefore runs on
    "s:<surface>" / "e:<entity>" nodes — O(distinct surfaces), not
    O(mention groups) — in :func:`surface_canonical_map`, and canonical
    ids propagate back to groups by a single join on norm_surface.
    Canonical selection is exact: the entity hub if the component has
    one, else the min group node id across the component's surfaces
    (per-surface min via map-side groupBy — the hot-surface "R" skew
    never funnels a window); tests pin it equal to a group-level oracle.

    Below ``CC_LOCAL_EDGE_LIMIT`` (surface, entity) rows under the
    default barrier the surface map is built on the driver and the join
    back broadcasts it; above that gate, or with an explicit
    ``materializer``, :func:`connected_components` runs distributed, with
    ``materializer`` as its per-round lineage barrier (scratch tables on
    a cluster).
    """
    nodes = linked_mentions.withColumn(
        "node_id", mention_node_id(F.col("conv_id"), F.col("norm_surface")))
    surfaces = nodes.groupBy("norm_surface", "entity_id").agg(
        F.min("node_id").alias("srep"))
    surface_canon = surface_canonical_map(surfaces, materializer=materializer)
    return nodes.join(surface_canon, "norm_surface", "left") \
        .withColumn("canonical_id", F.coalesce("canonical_id",
                                               F.col("node_id")))


def fold_statements(
    triples: DataFrame,
    canon: DataFrame,
    source: str = "transcripts",
    max_qualifiers: int = 8,
) -> DataFrame:
    """A5/A6: statements per canonical entity with count-summed provenance.

    triples (conv_id, turn_idx, subj, pred, obj) are keyed to canonical
    subjects via (conv_id, norm(subj)); identical (prop, normalized value)
    statements merge with count summing; the kept raw value is the
    lexicographically-first raw form (deterministic analog of the
    reference's insertion-order first-wins, arango_common.py:280-287).

    Each statement also carries ``qualifiers`` — up to ``max_qualifiers``
    turn-position provenance entries ("conv_id:turn_idx" under P2677, the
    positional qualifier the reference attaches per claim value,
    populate_from_mentions.py:288-297). Capped BEFORE the collect (window
    row_number, same partitioning as the fold so no extra shuffle): a hot
    statement with 10^6 occurrences must not buffer 10^6 structs in one
    aggregation group.
    """
    t = triples.withColumn("norm_surface", norm_name(F.col("subj")))
    keyed = t.join(
        canon.select("conv_id", "norm_surface", "canonical_id"),
        ["conv_id", "norm_surface"], "inner")
    # fuzzy value normalization: dehyphenation rule of arango_common.py:426-430
    keyed = keyed.withColumn(
        "norm_value", F.replace(F.col("obj"), F.lit("- "), F.lit("")))
    keyed = keyed.withColumn("prop", F.col("pred"))
    gkeys = ["canonical_id", "prop", "norm_value"]
    w = W.partitionBy(*gkeys)
    wo = w.orderBy("conv_id", "turn_idx", "obj")
    ranked = (
        keyed
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("count", F.count("*").over(w).cast("long"))
        .withColumn("value", F.min("obj").over(w))
    )
    folded = (
        ranked.filter(F.col("rn") <= max_qualifiers)
        .groupBy(*gkeys)
        .agg(
            F.max("value").alias("value"),
            F.max("count").alias("count"),
            F.sort_array(F.collect_list(
                F.struct("conv_id", "turn_idx"))).alias("prov"),
        )
    )
    qualifiers = F.transform(
        "prov",
        lambda p: F.struct(
            F.lit("P2677").alias("prop"),
            F.concat_ws(":", p["conv_id"], p["turn_idx"]).alias("value"),
            F.lit("string").alias("datatype")))
    return folded.select(
        "canonical_id", "prop", "value",
        F.lit("string").alias("datatype"),
        F.lit(source).alias("source"), "count",
        qualifiers.alias("qualifiers"))


def build_nodes(
    canon: DataFrame,
    authority_entities: DataFrame | None = None,
    broadcast: bool | None = None,
) -> DataFrame:
    """Materialize the deduplicated node table.

    label = the conversation-wise most frequent RAW FORM of the
    most-mentioned normalized surface (A10 best-value selection: both
    levels are count-desc windows with deterministic tiebreaks — a single
    fringe ALL-CAPS mention can no longer steal the label from the
    dominant spelling); aliases = every other observed surface;
    entity_id = authority link when the component anchored on one.

    ``broadcast`` size-gates the authority-dimension hint (None =
    probe; a Wikidata-scale authority must not be force-broadcast —
    VERDICT r04 #1). Ungated the join runs as a plain shuffle join
    keyed on entity_id, unskewed by construction (one node row per
    canonical).
    """
    # collect_list order is shuffle-dependent — sort_array after flatten
    # makes label/alias selection deterministic across runs/partitionings
    # (the repo's determinism + resume-idempotence rule)
    per_surface = (
        canon.groupBy("canonical_id", "norm_surface")
        .agg(F.sum("n_mentions").alias("cnt"),
             F.array_distinct(F.sort_array(
                 F.flatten(F.collect_list("surfaces")))).alias("surfs"),
             F.max("entity_id").alias("entity_id"))
    )
    # conversation-frequency of each raw form (one canon row = one
    # conversation's mention group): the label should be the raw spelling
    # most conversations actually used, not the lexicographic first
    raw_freq = (
        canon.select("canonical_id", "norm_surface",
                     F.explode("surfaces").alias("raw"))
        .groupBy("canonical_id", "norm_surface", "raw")
        .agg(F.count("*").cast("long").alias("raw_cnt"))
    )
    wr = W.partitionBy("canonical_id", "norm_surface").orderBy(
        F.desc("raw_cnt"), F.asc("raw"))
    best_raw = (
        raw_freq.withColumn("__rr", F.row_number().over(wr))
        .filter(F.col("__rr") == 1)
        .select("canonical_id", "norm_surface",
                F.col("raw").alias("best_raw"))
    )
    per_surface = per_surface.join(
        best_raw, ["canonical_id", "norm_surface"], "left")
    w = W.partitionBy("canonical_id").orderBy(F.desc("cnt"), F.asc("norm_surface"))
    best = (
        per_surface.withColumn("rn", F.row_number().over(w))
        .groupBy("canonical_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.coalesce(
                F.col("best_raw"), F.element_at("surfs", 1)))).alias("label"),
            F.array_distinct(F.sort_array(
                F.flatten(F.collect_list("surfs")))).alias("aliases"),
            F.sum("cnt").cast("long").alias("n_mentions"),
            F.max("entity_id").alias("entity_id"),
            F.count("*").cast("long").alias("n_surfaces"),
        )
    )
    if authority_entities is not None:
        from softcite_kb_spark.operators.linking import (
            _hint, authority_fits_broadcast)

        if broadcast is None:
            broadcast = authority_fits_broadcast(authority_entities)
        auth = authority_entities.select(
            F.col("entity_id"), F.col("label").alias("authority_label"),
            F.col("entity_type"))
        best = best.join(_hint(auth, broadcast), "entity_id", "left")
        best = best.withColumn("label", F.coalesce("authority_label", "label")) \
                   .drop("authority_label")
    return best


def build_edges(triples: DataFrame, canon: DataFrame,
                authority_keys: DataFrame | None = None,
                broadcast: bool | None = None) -> DataFrame:
    """J9 edge re-pointing: software-software triples become canonical edges.

    Both endpoints map through the canonical map (two joins — the map is a
    classic broadcast candidate but can be huge at web scale; AQE decides).
    Objects that are not mention subjects (languages, persons, licenses)
    resolve through the authority blocking-key dimension — hint
    size-gated by ``broadcast`` (None = row-count probe of the keys
    table against the linking module's threshold; VERDICT r04 #1) —
    giving typed authority vertices like the reference's persons/licenses
    collections; truly unresolvable objects keep a surface-hash id so the
    edge survives with provenance.
    """
    cmap = canon.select("conv_id", "norm_surface", "canonical_id")
    t = (
        # has_version is a claim (P348 analog), not a relation — it lives in
        # the statement table, not the edge table
        triples.filter(F.col("pred") != "has_version")
        .withColumn("subj_key", norm_name(F.col("subj")))
        .withColumn("obj_key", norm_name(F.col("obj")))
    )
    src = cmap.withColumnRenamed("norm_surface", "subj_key") \
              .withColumnRenamed("canonical_id", "src_id")
    dst = cmap.withColumnRenamed("norm_surface", "obj_key") \
              .withColumnRenamed("canonical_id", "dst_id")
    edges = (
        t.join(src, ["conv_id", "subj_key"], "inner")
        .join(dst, ["conv_id", "obj_key"], "left")
    )
    if authority_keys is not None:
        from softcite_kb_spark.operators.linking import (
            AUTHORITY_BROADCAST_MAX_ROWS, _hint)

        if broadcast is None:
            broadcast = (authority_keys.count()
                         <= AUTHORITY_BROADCAST_MAX_ROWS)
        auth = (
            authority_keys
            .filter(F.col("method").isin("label", "alias"))
            .groupBy(F.col("block_key").alias("obj_key"))
            .agg(F.min("entity_id").alias("auth_entity"))
        )
        edges = edges.join(_hint(auth, broadcast), "obj_key", "left") \
            .withColumn("dst_id", F.coalesce(
                "dst_id", F.concat(F.lit("e:"), F.col("auth_entity")))) \
            .drop("auth_entity")
    edges = edges.withColumn(
        "dst_id",
        F.coalesce("dst_id",
                   F.concat(F.lit("v:"), F.sha2(F.col("obj_key"), 256).substr(1, 24))))
    return (
        edges.groupBy(F.col("src_id"), F.col("dst_id"), F.col("pred").alias("rel"))
        .agg(F.count("*").cast("long").alias("count"),
             F.min("obj").alias("dst_surface"))
    )


def augment_nodes_with_authority(
    nodes: DataFrame, edges: DataFrame, authority_entities: DataFrame,
    broadcast: bool | None = None, node_ids: DataFrame | None = None,
) -> DataFrame:
    """Add authority-entity vertices referenced by edges but absent from the
    mention-derived node table (languages/persons/licenses — the analog of
    the reference's non-software vertex collections). Left-anti against
    existing ids keeps the operation idempotent. ``broadcast``
    size-gates the authority hint (None = probe; VERDICT r04 #1) —
    ungated, the equi-join on entity_id shuffles both sides, and the
    ``referenced`` side is already distinct (unskewed).

    ``node_ids`` is a frame holding ``nodes``' ``canonical_id`` set, for
    callers with a cheaper source of it than ``nodes``' own plan (the
    pipeline passes the materialized canonical map: :func:`build_nodes`
    emits one row per distinct canonical id, so the anti-join does not
    re-run its aggregate chain). Default: ``nodes`` itself."""
    from softcite_kb_spark.operators.linking import (
        _hint, authority_fits_broadcast)

    if broadcast is None:
        broadcast = authority_fits_broadcast(authority_entities)
    ids = (nodes.select("canonical_id") if node_ids is None
           else node_ids.select("canonical_id").distinct())
    referenced = (
        edges.filter(F.col("dst_id").startswith("e:"))
        .select(F.expr("substring(dst_id, 3)").alias("entity_id"))
        .distinct()
    )
    extra = (
        referenced.join(_hint(authority_entities, broadcast),
                        "entity_id", "inner")
        .select(
            "entity_id",
            F.concat(F.lit("e:"), F.col("entity_id")).alias("canonical_id"),
            F.col("label"),
            F.col("aliases"),
            F.lit(0).cast("long").alias("n_mentions"),
            F.lit(0).cast("long").alias("n_surfaces"),
            F.col("entity_type"),
        )
        .join(ids, "canonical_id", "left_anti")
    )
    return nodes.unionByName(extra, allowMissingColumns=True)

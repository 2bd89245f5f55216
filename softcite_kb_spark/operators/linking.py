"""Stage 2 — entity linking / disambiguation against curated authority tables.

Reference analog: the merge stage's candidate lookups + validation + voting:

  * strong-identifier fast path — exact DOI/ORCID/package-name conflation
    (populate_from_wikidata.py:155-169, merge.py:40-73)
  * name/alias disjunctive lookup with capitalization + hyphen variants
    (merge.py:180-226, variants merge.py:299-335) — here a *blocking-key
    table*: authority labels, aliases and generated variants exploded to
    normalized keys, joined against folded mentions on the key. The authority side is a
    curated dimension (small relative to mentions), so the join broadcasts —
    mention-side skew (hot "R"-like names) never shuffles.
  * post-validation — programming-language claim sets must overlap or one
    side be empty (merge.py:268-297) -> arrays_overlap join-filter.
  * disambiguation voting — accept an entity for a surface iff its summed
    mention count wins an absolute majority and total evidence passes a
    floor (knowledge_base.py:404-494: count>1, total>=10, count>total/2).

Output: ``links(conv_id, norm_surface, entity_id, method, score)`` plus the
unlinked remainder (OOV mentions stay unlinked by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from softcite_kb_spark.functions.text import norm_name

METHOD_STRONG_ID = "strong_id"
METHOD_LABEL = "label"
METHOD_ALIAS = "alias"
METHOD_VARIANT = "variant"

_METHOD_SCORE = {
    METHOD_STRONG_ID: 1.0,
    METHOD_LABEL: 1.0,
    METHOD_ALIAS: 0.9,
    METHOD_VARIANT: 0.8,
}

# Above this many blocking-key rows the authority dimension stops being
# a safe broadcast: ~2M exploded label/alias keys is O(100s of MB)
# serialized per executor — a Wikidata-scale authority (the reference's
# own source, Wikidata_import.py:120-160, ~100M labels+aliases) would
# OOM the driver. Past the threshold the joins fall back to plain
# shuffle joins (AQE still free to broadcast genuinely small probe
# sides at runtime).
AUTHORITY_BROADCAST_MAX_ROWS = 2_000_000


def _hint(df: DataFrame, broadcast: bool) -> DataFrame:
    """Apply the explicit broadcast hint only when the size gate allows
    it; un-hinted, AQE decides from actual runtime sizes."""
    return F.broadcast(df) if broadcast else df


def authority_fits_broadcast(
    authority_entities: DataFrame,
    authority_ids: DataFrame | None = None,
    max_rows: int = AUTHORITY_BROADCAST_MAX_ROWS,
) -> bool:
    """Row-count probe for the broadcast size gate (VERDICT r04 #1).

    Counts the EXPLODED blocking-key table (labels + aliases + strong
    ids) — the widest frame any stage-2/3 join broadcasts — with one
    column-pruned count job. The probe costs one scan of the authority
    dimension per pipeline stage; the thing it prevents (an
    unconditional ``F.broadcast`` of a 100M-row authority) costs the
    cluster. Callers that know their authority (curated, small) can
    skip the probe by passing an explicit ``broadcast=`` bool to the
    stage functions.
    """
    n = authority_block_keys(authority_entities).count()
    if authority_ids is not None:
        n += authority_ids.count()
    return n <= max_rows


def authority_block_keys(authority_entities: DataFrame) -> DataFrame:
    """Explode authority labels + aliases + generated variants to a
    normalized blocking-key table: (block_key, entity_id, method).

    The reference's lookup disjunction (merge.py:180-226) spans label,
    every alias, the ALL-CAPS->Title variant and the hyphen<->space
    variant. Under :func:`norm_name` blocking, the two generated variants
    PROVABLY collapse onto the label's own key (norm_name lower-cases and
    maps '-' to ' '), so emitting them would only duplicate candidate rows
    for the voting window to dedupe — the variant coverage is a property
    of the key normalization, not extra rows (tests pin the equivalence).
    """
    ent = authority_entities.select("entity_id", "label", "aliases")
    label = ent.select(
        "entity_id", norm_name(F.col("label")).alias("block_key"),
        F.lit(METHOD_LABEL).alias("method"))
    alias = (
        ent.select("entity_id", F.explode("aliases").alias("a"))
        .select("entity_id", norm_name(F.col("a")).alias("block_key"),
                F.lit(METHOD_ALIAS).alias("method"))
    )
    keys = label.unionByName(alias)
    return keys.filter(F.col("block_key").isNotNull() & (F.col("block_key") != ""))


def entity_langs(authority_entities: DataFrame) -> DataFrame:
    """(entity_id, langs array) from P277 claims — post-validation dimension."""
    return (
        authority_entities
        .select(
            "entity_id",
            F.filter("claims", lambda c: c["prop"] == F.lit("P277")).alias("lc"))
        .select(
            "entity_id",
            F.transform("lc", lambda c: c["value"]).alias("langs"))
    )


def mention_langs(triples: DataFrame) -> DataFrame:
    """(norm_surface, langs) observed via written_in triples — the mention
    side of the language post-validation (merge.py:268-297)."""
    return (
        triples.filter(F.col("pred") == "written_in")
        .select(norm_name(F.col("subj")).alias("norm_surface"),
                F.col("obj").alias("lang"))
        .groupBy("norm_surface")
        .agg(F.array_distinct(F.sort_array(F.collect_list("lang"))).alias("mention_langs"))
    )


def surface_stats(folded_mentions: DataFrame) -> DataFrame:
    """(norm_surface, total n_mentions) — the only
    conversation-dependent input the voting decision needs (see
    :func:`vote_links_surface`). One map-side-combined groupBy whose
    key space is DISTINCT SURFACES, not mention groups."""
    return folded_mentions.groupBy("norm_surface").agg(
        F.sum("n_mentions").alias("surface_mentions"))


def generate_surface_candidates(
    stats: DataFrame,
    authority_entities: DataFrame,
    authority_ids: DataFrame | None = None,
    triples: DataFrame | None = None,
    broadcast: bool | None = None,
) -> DataFrame:
    """Candidate (surface, entity, method, score) rows at SURFACE
    granularity — the blocking join keyed on norm_surface makes the
    candidate set, the method prior, and the language post-validation
    all pure functions of the surface, so expanding them per
    conversation group multiplies identical rows by the number of
    conversations for no information.
    ``stats`` is :func:`surface_stats` output; ``surface_mentions``
    rides along for the voting stage.

    ``broadcast`` size-gates the authority-side hints (None = probe
    via :func:`authority_fits_broadcast`); past the gate, plain
    shuffle joins — and because ``stats`` has ONE row per distinct
    surface, the shuffle key is unskewed by construction (the hot "R"
    surface is a single row here)."""
    if broadcast is None:
        broadcast = authority_fits_broadcast(authority_entities,
                                             authority_ids)
    keys = authority_block_keys(authority_entities)
    if authority_ids is not None:
        pkg = (
            authority_ids.filter(F.col("id_kind") == "pkg")
            .select(norm_name(F.col("id_value")).alias("block_key"),
                    "entity_id",
                    F.lit(METHOD_STRONG_ID).alias("method"))
        )
        keys = keys.unionByName(pkg)
    cands = (
        stats.join(_hint(keys, broadcast),
                   stats.norm_surface == keys.block_key, "inner")
        .drop("block_key")
    )
    score_map = F.create_map(
        *[x for kv in _METHOD_SCORE.items()
          for x in (F.lit(kv[0]), F.lit(kv[1]))])
    cands = cands.withColumn("score", score_map[F.col("method")])
    if triples is not None:
        ml = mention_langs(triples)
        el = entity_langs(authority_entities)
        cands = (
            cands
            .join(ml, "norm_surface", "left")
            .join(_hint(el, broadcast), "entity_id", "left")
            .filter(
                F.col("mention_langs").isNull()
                | F.col("langs").isNull()
                | (F.size("mention_langs") == 0)
                | (F.size("langs") == 0)
                | F.arrays_overlap("mention_langs", "langs")
            )
            .drop("mention_langs", "langs")
        )
    return cands


def vote_links_surface(
    candidates: DataFrame,
    min_total: int = 2,
    majority: float = 0.5,
) -> DataFrame:
    """Disambiguation voting (A8, knowledge_base.py:404-494) at surface
    granularity — EXACTLY the accepted set of voting per conversation
    group, derived from the observation that candidate sets are
    surface-pure:

    for a surface s, every conversation group carries the SAME candidate
    entities with the SAME scores (the blocking join keys on s alone),
    so the per-group best-score filter selects one best set B(s) shared
    by all groups, and the per-(s, e) vote sum factorizes to
    ``votes(s, e) = M(s)`` for every e in B(s), where M(s) is the
    surface's total mention count. total_votes = |B(s)| * M(s); the
    majority rule reduces to |B(s)| < 1/majority and the tie-break to
    min entity id within B(s).

    Plan consequence at 10^12 turns: the voting shuffle's input drops
    from O(mention groups x candidates) rows to O(distinct surfaces x
    candidates) — and every window here partitions over surface-level
    rows (a handful of candidates each), so the hot-surface skew that
    motivated the group-level plan's groupBy-based rep selection cannot
    funnel a reducer. Equality with group-level voting (the oracle in
    tests/test_linking.py) is pinned by tests on every fixture corpus.
    """
    per = (
        candidates
        .groupBy("norm_surface", "entity_id")
        .agg(F.max(F.struct("score", "method")).alias("best"),
             F.first("surface_mentions").alias("votes"))
    )
    wg = W.partitionBy("norm_surface")
    per = (
        per.withColumn("__mx", F.max(F.col("best.score")).over(wg))
        .filter(F.col("best.score") == F.col("__mx"))
        .withColumn("__b", F.count("*").over(wg))
        .withColumn("total_votes", F.col("__b") * F.col("votes"))
    )
    rank = W.partitionBy("norm_surface").orderBy(F.asc("entity_id"))
    return (
        per.withColumn("rn", F.row_number().over(rank))
        .filter(
            (F.col("rn") == 1)
            & (F.col("total_votes") >= min_total)
            & (F.col("votes") > F.col("total_votes") * majority)
        )
        .select("norm_surface", "entity_id", "votes", "total_votes",
                F.col("best.score").alias("score"),
                F.col("best.method").alias("method"))
    )


def link_mentions(
    folded_mentions: DataFrame,
    authority_entities: DataFrame,
    authority_ids: DataFrame | None = None,
    triples: DataFrame | None = None,
    min_total: int = 2,
    broadcast: bool | None = None,
) -> DataFrame:
    """Full stage-2: surface-level candidates -> voting -> per-group links.

    Returns folded_mentions columns + (entity_id, link_method, link_score);
    entity_id NULL = unlinked (OOV or below voting thresholds).

    The decision runs at surface granularity (:func:`vote_links_surface`
    — provably identical to group-level voting, which tests keep as the
    oracle): the 10^12-row
    mention table is touched exactly twice, once by the
    map-side-combined surface stats and once by the final accepted-map
    join. A hot surface (the "R" problem, merge.py:186-189) is one row
    of the stats and of the accepted map; AQE's skew-join (on in
    ``session.ENGINE_SQL_DEFAULTS``) splits it in the final join when
    that join shuffles.

    ``broadcast`` size-gates every authority-side hint (None = one
    :func:`authority_fits_broadcast` probe shared by all of them).
    """
    if broadcast is None:
        broadcast = authority_fits_broadcast(authority_entities,
                                             authority_ids)
    stats = surface_stats(folded_mentions)
    cands = generate_surface_candidates(
        stats, authority_entities, authority_ids, triples,
        broadcast=broadcast)
    accepted = vote_links_surface(cands, min_total=min_total).select(
        "norm_surface",
        F.col("entity_id"),
        F.col("method").alias("link_method"),
        F.col("score").alias("link_score"),
    )
    # surface->entity map size is bounded by distinct surfaces, typically
    # broadcastable, but can reach GBs at web scale — let AQE decide.
    return folded_mentions.join(accepted, "norm_surface", "left")

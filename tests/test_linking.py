"""Stage-2 tests: blocking keys, language post-validation, voting, link accuracy."""

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from softcite_kb_spark import datagen
from softcite_kb_spark.functions.text import norm_name
from softcite_kb_spark.operators import extraction as ex
from softcite_kb_spark.operators import linking as lk


def _norm(s: str) -> str:
    return " ".join(s.lower().replace("-", " ").split())


def _generate_candidates(
    folded_mentions: DataFrame,
    authority_entities: DataFrame,
    authority_ids: DataFrame | None = None,
    triples: DataFrame | None = None,
) -> DataFrame:
    """Oracle: blocked candidate generation at GROUP granularity, one row
    per (mention-group, entity). The authority hint is size-gated by
    :func:`lk.authority_fits_broadcast`. Candidates carry a method +
    score; the strong-id path wins ties via score then method ordering.
    """
    broadcast = lk.authority_fits_broadcast(authority_entities,
                                            authority_ids)
    m = folded_mentions.select("conv_id", "norm_surface", "n_mentions")

    # union the (tiny) key dimensions FIRST so the 10^12-row mention side
    # is scanned exactly once — a per-method join would re-scan it per path
    keys = lk.authority_block_keys(authority_entities)
    if authority_ids is not None:
        pkg = (
            authority_ids.filter(F.col("id_kind") == "pkg")
            .select(norm_name(F.col("id_value")).alias("block_key"),
                    "entity_id",
                    F.lit(lk.METHOD_STRONG_ID).alias("method"))
        )
        keys = keys.unionByName(pkg)

    cands = (
        m.join(lk._hint(keys, broadcast),
               m.norm_surface == keys.block_key, "inner")
        .drop("block_key")
    )

    score_map = F.create_map(
        *[x for kv in lk._METHOD_SCORE.items()
          for x in (F.lit(kv[0]), F.lit(kv[1]))])
    cands = cands.withColumn("score", score_map[F.col("method")])

    # language post-validation (J6): candidate survives iff language claim
    # sets overlap or either side is empty/unknown
    if triples is not None:
        ml = lk.mention_langs(triples)
        el = lk.entity_langs(authority_entities)
        cands = (
            cands
            .join(ml, "norm_surface", "left")
            .join(lk._hint(el, broadcast), "entity_id", "left")
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


def _vote_links(
    candidates: DataFrame,
    min_total: int = 2,
    majority: float = 0.5,
) -> DataFrame:
    """Oracle: disambiguation voting (A8, knowledge_base.py:404-494) per
    mention group, which ``lk.vote_links_surface`` must match exactly.

    Votes are mention counts summed per (norm_surface, entity_id) across the
    whole corpus. A surface's winning entity is accepted iff
    total_votes >= min_total and winner_votes > majority * total_votes.
    Window `row_number()=1` with a deterministic tiebreak picks the winner.
    """
    # a mention-group may match one entity through several methods — count
    # its votes once (max score), attribute the best-scoring method
    per_group = (
        candidates
        .groupBy("conv_id", "norm_surface", "entity_id")
        .agg(F.max("n_mentions").alias("n_mentions"),
             F.max(F.struct("score", "method")).alias("best"))
    )
    # a group votes only for its best-scoring candidate(s): scoring decides
    # within a group, voting decides across groups (reference order: score
    # then count, knowledge_base.py:404-494). Exact ties keep both rows —
    # the majority rule then correctly refuses genuinely ambiguous names.
    wg = W.partitionBy("conv_id", "norm_surface")
    per_group = (
        per_group
        .withColumn("__mx", F.max(F.col("best.score")).over(wg))
        .filter(F.col("best.score") == F.col("__mx"))
        .drop("__mx")
    )
    votes = (
        per_group
        .groupBy("norm_surface", "entity_id")
        .agg(F.sum("n_mentions").alias("votes"),
             F.max("best").alias("best"))
        .select("norm_surface", "entity_id", "votes",
                F.col("best.score").alias("score"),
                F.col("best.method").alias("method"))
    )
    w = W.partitionBy("norm_surface")
    votes = votes.withColumn("total_votes", F.sum("votes").over(w))
    rank = W.partitionBy("norm_surface").orderBy(
        F.desc("votes"), F.desc("score"), F.asc("entity_id"))
    return (
        votes.withColumn("rn", F.row_number().over(rank))
        .filter(
            (F.col("rn") == 1)
            & (F.col("total_votes") >= min_total)
            & (F.col("votes") > F.col("total_votes") * majority)
        )
        .select("norm_surface", "entity_id", "votes", "total_votes",
                "score", "method")
    )




def _linked(spark, corpus, min_total=1):
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    return lk.link_mentions(
        folded, corpus["authority_entities"], corpus["authority_ids"],
        triples, min_total=min_total)


def test_block_keys_cover_variants(spark, corpus):
    keys = lk.authority_block_keys(corpus["authority_entities"])
    # pick an actual hyphenated software label from the corpus
    lab = (corpus["authority_entities"]
           .filter((F.col("entity_type") == "software")
                   & F.col("label").contains("-"))
           .select("label").first().label)
    rows = keys.filter(F.col("block_key") == _norm(lab)).collect()
    # the label and its surface aliases normalize onto the same blocking
    # key; the generated case/hyphen variants provably collapse onto it
    # too, which is WHY authority_block_keys emits no separate variant rows
    assert {r.method for r in rows} >= {"label", "alias"}
    assert len({r.entity_id for r in rows}) == 1
    from softcite_kb_spark.functions.text import (capitalized_variant,
                                                  hyphen_variant, norm_name)
    variant_norms = (corpus["authority_entities"]
        .select(norm_name(F.col("label")).alias("n"),
                norm_name(capitalized_variant(F.upper("label"))).alias("nc"),
                norm_name(hyphen_variant(F.col("label"))).alias("nh"))
        .filter((F.col("nc").isNotNull() & (F.col("nc") != F.col("n")))
                | (F.col("nh").isNotNull() & (F.col("nh") != F.col("n")))))
    assert variant_norms.count() == 0
    # no empty/null keys anywhere
    assert keys.filter(F.col("block_key") == "").count() == 0


def test_link_accuracy_vs_ground_truth(spark, corpus):
    linked = _linked(spark, corpus).select(
        "conv_id", "norm_surface", "entity_id")
    truth = (
        corpus["expected_mentions"]
        .select("conv_id",
                F.col("surface"),
                F.col("entity_id").alias("true_entity"))
        .withColumn("norm_surface",
                    F.regexp_replace(F.lower(F.translate("surface", "-", " ")),
                                     r"\s+", " "))
        .select("conv_id", "norm_surface", "true_entity")
        .distinct()
    )
    j = linked.join(truth, ["conv_id", "norm_surface"], "inner")
    total = j.count()
    ok = j.filter(
        (F.col("entity_id") == F.col("true_entity"))
        | (F.col("entity_id").isNull() & F.col("true_entity").isNull())
    ).count()
    assert total > 0
    acc = ok / total
    assert acc >= 0.95, f"link accuracy {acc}"
    # OOV mentions must remain unlinked
    oov_bad = j.filter(
        F.col("true_entity").isNull() & F.col("entity_id").isNotNull()).count()
    assert oov_bad == 0


def test_voting_majority_rule(spark):
    # surface seen 10x as entity A and 9x as entity B -> no absolute
    # majority is false (10 > 19*0.5), A wins; a 50/50 split links nothing
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c2", "c3", "c4"],
        "norm_surface": ["tool", "tool", "even", "even"],
        "n_mentions": [10, 9, 5, 5],
        "entity_id": ["QA", "QB", "QC", "QD"],
        "method": ["label", "alias", "label", "label"],
        "score": [1.0, 0.9, 1.0, 1.0],
    })
    votes = _vote_links(spark.createDataFrame(pdf), min_total=2)
    got = {r.norm_surface: r.entity_id for r in votes.collect()}
    assert got == {"tool": "QA"}  # "even" is ambiguous -> dropped


def test_voting_min_total(spark):
    pdf = pd.DataFrame({
        "conv_id": ["c1"],
        "norm_surface": ["rare"],
        "n_mentions": [1],
        "entity_id": ["QA"],
        "method": ["label"],
        "score": [1.0],
    })
    df = spark.createDataFrame(pdf)
    assert _vote_links(df, min_total=2).count() == 0
    assert _vote_links(df, min_total=1).count() == 1


def _surface_candidates(spark, rows):
    """Candidate rows as ``generate_surface_candidates`` emits them:
    (norm_surface, entity_id, method, score, surface_mentions)."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=[
        "norm_surface", "entity_id", "method", "score", "surface_mentions"]))


def test_surface_voting_rejects_two_best_candidates(spark):
    # "tool": two best-score candidates, |B(s)| = 2, so each holds half
    # the votes and fails the strict majority; "kit": the lower-scored
    # alias candidate leaves one best candidate, which wins
    cands = _surface_candidates(spark, [
        ("tool", "QA", "label", 1.0, 10),
        ("tool", "QB", "label", 1.0, 10),
        ("kit", "QC", "label", 1.0, 10),
        ("kit", "QD", "alias", 0.9, 10),
    ])
    got = {r.norm_surface: (r.entity_id, r.votes, r.total_votes)
           for r in lk.vote_links_surface(cands, min_total=2,
                                          majority=0.5).collect()}
    assert got == {"kit": ("QC", 10, 10)}


def test_surface_voting_min_total(spark):
    cands = _surface_candidates(spark, [("rare", "QA", "label", 1.0, 1)])
    assert lk.vote_links_surface(cands, min_total=2).count() == 0
    assert lk.vote_links_surface(cands, min_total=1).count() == 1


def test_surface_voting_tie_breaks_on_min_entity_id(spark):
    # |B(s)| = 2 passes a 0.3 majority (10 > 20 * 0.3); the smaller
    # entity id wins whatever the row order
    cands = _surface_candidates(spark, [
        ("tool", "QB", "label", 1.0, 10),
        ("tool", "QA", "label", 1.0, 10),
    ])
    got = [(r.norm_surface, r.entity_id, r.votes, r.total_votes)
           for r in lk.vote_links_surface(cands, min_total=2,
                                          majority=0.3).collect()]
    assert got == [("tool", "QA", 10, 20)]


def test_language_post_validation(spark):
    # candidate whose authority language claims conflict with observed
    # written_in evidence is dropped (merge.py:268-297 semantics)
    auth = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["QA", "QB"],
        "label": ["Toolkit", "Toolkit"],
        "aliases": [[], []],
        "entity_type": ["software", "software"],
        "claims": [
            [{"prop": "P277", "value": "Python", "datatype": "wikibase-item"}],
            [{"prop": "P277", "value": "Rust", "datatype": "wikibase-item"}],
        ],
    }))
    folded = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c1"], "norm_surface": ["toolkit"], "n_mentions": [3]}))
    triples = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c1"], "turn_idx": pd.array([0], dtype="int32"),
        "subj": ["Toolkit"], "pred": ["written_in"], "obj": ["Python"]}))
    cands = _generate_candidates(folded, auth, None, triples)
    assert {r.entity_id for r in cands.collect()} == {"QA"}
    # the production surface-granularity path applies the same filter
    cands = lk.generate_surface_candidates(
        lk.surface_stats(folded), auth, None, triples)
    assert {r.entity_id for r in cands.collect()} == {"QA"}


def _linked_pergroup_reference(spark, corpus, min_total=1):
    """The GROUP-granularity stage-2 path (_generate_candidates +
    _vote_links + join) — the reference implementation that the
    surface-granularity production path must match exactly."""
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    cands = _generate_candidates(
        folded, corpus["authority_entities"], corpus["authority_ids"],
        triples)
    accepted = _vote_links(cands, min_total=min_total).select(
        "norm_surface", "entity_id",
        F.col("method").alias("link_method"),
        F.col("score").alias("link_score"))
    return folded.join(accepted, "norm_surface", "left"), folded, cands


def test_surface_voting_equals_group_voting(spark, corpus):
    """The factorized surface-granularity decision (vote_links_surface)
    must produce EXACTLY the group-granularity _vote_links result — the
    algebraic collapse (candidate sets are surface-pure) pinned on a
    real corpus, at two vote floors."""
    for min_total in (1, 3):
        ref, folded, _ = _linked_pergroup_reference(
            spark, corpus, min_total=min_total)
        got = _linked(spark, corpus, min_total=min_total)
        cols = sorted(ref.columns)
        assert got.count() == ref.count()
        assert got.select(*cols).exceptAll(ref.select(*cols)).isEmpty()
        assert ref.select(*cols).exceptAll(got.select(*cols)).isEmpty()
        # non-vacuous: some links accepted, some mentions unlinked
        assert got.filter(F.col("entity_id").isNotNull()).count() > 0
        assert got.filter(F.col("entity_id").isNull()).count() > 0


def test_link_mentions_plan_shape(spark, corpus, tmp_path):
    """Scale-property regression guard: stage-2's physical plan must
    (a) scan the mention table exactly twice (stats + final join),
    (b) contain NO sort-merge join (authority dims broadcast; the
    accepted map is small enough for AQE/broadcast at this scale), and
    (c) shuffle at most twice (surface stats + the tiny surface-level
    decision windows) — the surface-granularity collapse in plan form."""
    bl = spark.createDataFrame(pd.DataFrame({"term": datagen.BLACKLIST}))
    triples = ex.extract_triples(corpus["transcripts"], bl)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    fp = str(tmp_path / "folded")
    tp = str(tmp_path / "triples")
    folded.write.parquet(fp)
    triples.write.parquet(tp)
    out = lk.link_mentions(
        spark.read.parquet(fp), corpus["authority_entities"],
        corpus["authority_ids"], spark.read.parquet(tp), min_total=1)
    import re

    phys = out._jdf.queryExecution().executedPlan().toString()
    # the mention table appears once WIDE (final join probe side, carries
    # conv_id) and once COLUMN-PRUNED to exactly (norm_surface,
    # n_mentions) for the stats aggregate — pruning reached the scan
    assert len(re.findall(r"FileScan parquet \[conv_id#", phys)) == 1
    assert re.search(r"FileScan parquet \[norm_surface#\d+,n_mentions#\d+L\]",
                     phys), phys
    assert "SortMergeJoin" not in phys
    # stats groupBy + mention_langs groupBy; decision windows ride the
    # stats partitioning (ENSURE_REQUIREMENTS reuse)
    assert phys.count("Exchange hashpartitioning") <= 3
